"""`analytics` workload: the 16 headline queries of bench.py.

Set-up generates the analytics tables (fixed inputs: the seed only
orders the queries), stages the streaming landing directory and warms
the Python workers as bench.py does, then runs one untimed warm-up pass
that collects every query's output for the oracle check. The timed loop
runs whole passes — each query as ``fn(spark, dir)`` followed by a noop
write — in a seed-shuffled order per pass. The check compares each
warm-up output with the query's registered DuckDB oracle on the same
tables; oracle results are cached per (tables, oracle SQL) under
.perfbench_cache/ in the checkout, because one oracle alone takes
seconds.
"""

from __future__ import annotations

import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import gen
from perfbench.common import Ops, Workload, median

SIZES = {"full": {"sf": 0.01}, "tiny": {"sf": 0.001}}
#: Generator seed of the analytics tables: the inputs are fixed, so
#: every run answers the same queries over the same data.
TABLE_SEED = 42
#: Oracle results kept between runs in one checkout (see _oracle_frames).
CACHE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".perfbench_cache"
)


def query_key(name: str, fn) -> str:
    """Layer name of a headline query: its defining module under
    recipes_spark, then the query name."""
    return f"{fn.__module__.removeprefix('recipes_spark.')}.{name}"


class Analytics(Workload):
    def setup(self) -> None:
        import bench
        from recipes_spark.registry import all_queries
        from recipes_spark.streaming.core import stage_events

        self.tables = os.path.join(self.work, "tables")
        gen.tpch_tables(self.tables, TABLE_SEED, SIZES[self.size]["sf"])
        self.io_layers = self._time_loads() if self.traced else {}
        queries = all_queries()
        self.queries = {n: queries[n] for n in bench.HEADLINE}
        stage_events(self.spark, self.tables)
        n = int(self.spark.sparkContext.defaultParallelism)
        self.spark.range(0, 1024, 1, n).mapInPandas(
            lambda it: (pdf for pdf in it), "id long"
        ).write.format("noop").mode("overwrite").save()
        # The cold pass compiles every query's code paths once; queries
        # are independent, so it runs them side by side, one per core.
        with ThreadPoolExecutor(n) as pool:
            futures = {
                name: pool.submit(lambda fn=fn: fn(self.spark, self.tables).toPandas())
                for name, fn in self.queries.items()
            }
            self.outputs = {name: f.result() for name, f in futures.items()}
        self._order = random.Random(f"analytics-{self.seed}")

    def _time_loads(self) -> dict[str, tuple[float, str]]:
        """io.load of every table twice: cold (schema and footer reads)
        and cached (the per-session DataFrame cache)."""
        from recipes_spark.io import TABLES, load

        out = {}
        for t in TABLES:
            for kind in ("cold", "cached"):
                t0 = time.perf_counter()
                load(self.spark, self.tables, t)
                out[f"io.load_{kind}_ms.{t}"] = (1000 * (time.perf_counter() - t0), "ms")
        return out

    def loop(self, deadline: float, tracer=None) -> Ops:
        ops = Ops()
        while time.perf_counter() < deadline:
            names = list(self.queries)
            self._order.shuffle(names)
            for name in names:
                ops.timed(lambda name=name: self._run(name, tracer))
        return ops

    def _run(self, name: str, tracer) -> None:
        fn = self.queries[name]
        if tracer is None:
            fn(self.spark, self.tables).write.format("noop").mode("overwrite").save()
            return
        key = query_key(name, fn)
        with tracer.span(key):
            with tracer.span(f"{key}.build"):
                df = fn(self.spark, self.tables)
            with tracer.span(f"{key}.exec"):
                df.write.format("noop").mode("overwrite").save()

    # -- checks --------------------------------------------------------

    def checks_attempted(self) -> int:
        return len(self.outputs)

    def check(self) -> list[str]:
        from tests.oracle_harness import compare_frames

        problems = []
        for name, want in self._oracle_frames().items():
            got = self.outputs[name]
            if len(want) == 0:
                # An empty oracle result leaves nothing to type-match.
                if len(got) != 0:
                    problems.append(f"{name}: {len(got)} rows, oracle 0")
                continue
            diffs = compare_frames(got, want, name)
            if diffs:
                problems.append("; ".join(diffs))
        return problems

    def _oracle_frames(self) -> dict:
        """Each headline query's DuckDB oracle result over the tables,
        read from the cache when the same tables and SQL were answered
        before, else computed and stored."""
        import hashlib

        import pandas as pd

        from recipes_spark.io import TABLES
        from recipes_spark.registry import all_oracles
        from tests.oracle_harness import run_oracle

        oracles = all_oracles()
        digest = hashlib.sha256()
        for t in TABLES:
            with open(os.path.join(self.tables, f"{t}.parquet"), "rb") as fh:
                digest.update(hashlib.sha256(fh.read()).digest())
        cache = os.path.join(CACHE_ROOT, "oracles")
        os.makedirs(cache, exist_ok=True)
        out = {}
        for name in self.queries:
            key = digest.copy()
            key.update(oracles[name].encode())
            path = os.path.join(cache, f"{name}-{key.hexdigest()[:20]}.parquet")
            if os.path.exists(path):
                out[name] = pd.read_parquet(path)
            else:
                out[name] = run_oracle(oracles[name], self.tables)
                out[name].to_parquet(path + ".tmp")
                os.replace(path + ".tmp", path)
        return out

    def layers(self, tracer) -> dict[str, tuple[float, str]]:
        out = dict(self.io_layers)
        for name, fn in self.queries.items():
            key = query_key(name, fn)
            whole = tracer.spans[key]
            out[f"{key}.build_s"] = (median(tracer.walls(f"{key}.build")), "s")
            out[f"{key}.exec_s"] = (median(tracer.walls(f"{key}.exec")), "s")
            out[f"{key}.jobs"] = (median(sp.counters["jobs"] for sp in whole), "count")
            out[f"{key}.shuffle_bytes"] = (
                median(sp.counters["shuffle_write_bytes"] for sp in whole), "bytes")
        return out
