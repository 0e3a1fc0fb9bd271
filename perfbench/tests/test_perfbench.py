"""The benchmark's own tests: deterministic inputs, metric names that
match BENCHMARK.json, and every workload end to end at the tiny size.

Run from the checkout root:  python -m pytest perfbench/tests -q
(the end-to-end cases start a Spark session per run, a few minutes in
all)."""

from __future__ import annotations

import filecmp
import itertools
import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import gen
from perfbench.run import ROOT, WORKLOADS

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _landing(root: str, seed: int) -> list:
    return list(itertools.islice(gen.landing_batches(root, seed, files_per_batch=30), 3))


def test_landing_files_are_a_function_of_the_seed(tmp_path):
    a = _landing(str(tmp_path / "a"), 7)
    b = _landing(str(tmp_path / "b"), 7)
    c = _landing(str(tmp_path / "c"), 8)
    for x, y in zip(a, b):
        names = sorted(os.listdir(x.path))
        assert names == sorted(os.listdir(y.path))
        match, mismatch, errors = filecmp.cmpfiles(x.path, y.path, names, shallow=False)
        assert not mismatch and not errors and len(match) == 30
    assert [x.valid for x in a] == [y.valid for y in b]
    assert [x.valid for x in a] != [z.valid for z in c]
    # Every batch plants corrupt files; later ones redeliver earlier ids.
    assert all(x.corrupt for x in a)
    assert a[1].redelivered and set(a[1].redelivered) <= set(a[0].valid)


def test_request_mix_is_a_function_of_the_seed():
    a = gen.search_requests(3, 200, 10_000)
    assert a == gen.search_requests(3, 200, 10_000)
    assert a != gen.search_requests(4, 200, 10_000)
    kinds = [r["kind"] for r in a]
    assert {"bbox", "cql", "ids", "pages"} == set(kinds)
    assert kinds.count("bbox") > kinds.count("cql") > 0


def test_analytics_tables_are_byte_identical(tmp_path):
    gen.tpch_tables(str(tmp_path / "a"), 42, 0.001)
    gen.tpch_tables(str(tmp_path / "b"), 42, 0.001)
    names = sorted(os.listdir(tmp_path / "a"))
    from recipes_spark.io import TABLES

    assert names == sorted(f"{t}.parquet" for t in TABLES)
    _, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", names, shallow=False)
    assert not mismatch and not errors


def test_benchmark_json_names_are_valid_and_unique():
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    assert "setup_s" in {m["name"] for m in SPEC["end_to_end"]}


def test_cpu_seconds_counts_the_python_workers():
    """The workers of a mapInPandas are grandchildren of this process,
    forked by the Python worker daemon the JVM starts; the CPU they
    burn must show in cpu_seconds()."""
    from pyspark.sql import SparkSession

    from perfbench.run import stop_session
    from perfbench.trace import cpu_seconds

    def burning(seconds):
        def burn(batches):
            import time

            t0 = time.process_time()
            while time.process_time() - t0 < seconds:
                pass
            for pdf in batches:
                yield pdf.assign(cpu=time.process_time() - t0)

        return burn

    spark = (
        SparkSession.builder.master("local[2]").appName("perfbench-test")
        .config("spark.ui.enabled", "false").getOrCreate()
    )
    try:
        # The first job's JIT and worker start-up cost the JVM more CPU
        # than the workers burn; time a second, warm one.
        df = spark.range(0, 4, 1, 4)
        df.mapInPandas(burning(0), "id long, cpu double").collect()
        c0 = cpu_seconds()
        rows = df.mapInPandas(burning(2.5), "id long, cpu double").collect()
        spent = cpu_seconds() - c0
    finally:
        stop_session(spark)
    workers = sum(r["cpu"] for r in rows)
    assert workers >= 4 * 2.5
    assert spent >= workers, (spent, workers)


def _run(args: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_end_to_end(workload, trace):
    proc = _run(
        ["--workload", workload, "--seed", "5", "--seconds", "1",
         "--trace", str(trace), "--size", "tiny"],
        ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stderr[-4000:]
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in wanted]
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work"))


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = _run(
        ["--workload", "ingest", "--seed", "1", "--seconds", "1", "--trace", "0"],
        str(tmp_path),
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
