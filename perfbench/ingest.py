"""`ingest` workload: the catalog write path.

Set-up builds a base catalog (parquet store plus its sqlite mirror)
and ingests the first landing batches untimed, as the warm-up. The timed
loop runs one ``runner.run_pipeline`` call per landing batch, with the
sqlite database sink on, writing each next batch before its call (the
generator is endless, so the loop stops only at its deadline); a fifth
of each batch's files redeliver earlier ids with changed metadata, so
every batch also takes the update path. A traced run then compacts the
catalog with ``compact_catalog`` and sends the search request mix over
it (see search.py). The checks read the stores
back with DuckDB and sqlite, never through the engine.
"""

from __future__ import annotations

import functools
import os
import sqlite3
import time

import yaml

from perfbench import gen, search
from perfbench.common import Ops, Workload, median

SIZES = {
    "full": {"base_items": 5_000, "files_per_batch": 50, "warmup_batches": 3, "requests": 12},
    "tiny": {"base_items": 2_000, "files_per_batch": 24, "warmup_batches": 1, "requests": 6},
}


class _CountingConnection:
    """sqlite connection proxy that appends its total_changes to a log
    file on close — how the traced run counts rows the sink wrote from
    inside the executors' Python workers."""

    def __init__(self, conn, log_path: str):
        self._conn = conn
        self._log = log_path

    def cursor(self):
        return self._conn.cursor()

    def commit(self) -> None:
        self._conn.commit()

    def close(self) -> None:
        changes = self._conn.total_changes
        self._conn.close()
        with open(self._log, "a") as fh:
            fh.write(f"{changes}\n")


class CountingConnect:
    def __init__(self, connect, log_path: str):
        self.connect = connect
        self.log_path = log_path

    def __call__(self) -> _CountingConnection:
        return _CountingConnection(self.connect(), self.log_path)


class Ingest(Workload):
    def setup(self) -> None:
        from recipes_spark.plans.catalog import upsert_items
        from recipes_spark.plans.items import build_items
        from recipes_spark.runner import run_pipeline

        z = SIZES[self.size]
        self.collections_yaml = os.path.join(self.work, "collections.yaml")
        with open(self.collections_yaml, "w") as fh:
            yaml.safe_dump_all(
                [{"id": c, "title": c, "license": "proprietary", "keywords": ["sst"],
                  "extent": {"temporal": {"start": "2024-01-01T00:00:00Z", "end": ""}}}
                 for c in gen.COLLECTIONS],
                fh,
            )
        # The first batches are the untimed warm-up; the loop takes the rest.
        self.landing = gen.landing_batches(
            os.path.join(self.work, "landing"), self.seed,
            files_per_batch=z["files_per_batch"],
        )
        self.base_items = z["base_items"]
        self.catalog = os.path.join(self.work, "catalog")
        self.db = os.path.join(self.work, "catalog.db")
        base = build_items(gen.base_catalog_meta(self.spark, self.base_items, self.seed))
        upsert_items(self.spark, base, f"{self.catalog}/items")
        self._mirror_base_to_db()
        #: (batch, what run_pipeline returned, catalog size it must report)
        self.runs: list[tuple[gen.Batch, dict, int]] = []
        self._delivered: set[str] = set()
        # A batch's CPU cost (JIT compiler threads left out) falls by about
        # 40% over a session's first four batches, then holds; start the
        # loop on the plateau.
        for _ in range(z["warmup_batches"]):
            batch = next(self.landing)
            self._ingested(batch, run_pipeline(self.spark, self._config(batch)))
        self.search_results: list[tuple[dict, list]] = []
        self.traced_batches: list[gen.Batch] = []
        self.quarantined = 0

    def _mirror_base_to_db(self) -> None:
        """Seed the sqlite store with the base catalog's rows (id,
        collection, item JSON), read with DuckDB: set-up data for the
        sink, not a measured engine path."""
        import duckdb

        rows = duckdb.sql(
            "SELECT id, collection_id, to_json(t) FROM read_parquet("
            f"'{self.catalog}/items/*/*.parquet', hive_partitioning=true) t"
        ).fetchall()
        con = sqlite3.connect(self.db)
        con.execute(
            "CREATE TABLE items (id TEXT PRIMARY KEY, collection_id TEXT, content TEXT)"
        )
        con.executemany("INSERT INTO items VALUES (?, ?, ?)", rows)
        con.commit()
        con.close()

    def _config(self, batch: gen.Batch) -> dict:
        return {
            "catalog": {"path": self.catalog},
            "collections": self.collections_yaml,
            "granules": f"{batch.path}/*.nc",
            "database": {"kind": "sqlite", "path": self.db},
        }

    def loop(self, deadline: float, tracer=None) -> Ops:
        from recipes_spark.runner import run_pipeline

        ops = Ops()
        while time.perf_counter() < deadline:
            batch = next(self.landing)
            cfg = self._config(batch)
            if tracer is None:
                out = ops.timed(lambda: run_pipeline(self.spark, cfg), len(batch.valid))
            else:
                with tracer.span("runner"):
                    out = ops.timed(lambda: run_pipeline(self.spark, cfg), len(batch.valid))
            if out is None:
                continue
            self._ingested(batch, out)
            if tracer is not None:
                self.traced_batches.append(batch)
                self._trace_sources(tracer, batch)
        return ops

    def _ingested(self, batch: gen.Batch, out: dict) -> None:
        self._delivered.update(batch.valid)
        self.runs.append((batch, out, self.base_items + len(self._delivered)))

    def finish(self, tracer=None) -> None:
        from recipes_spark.plans.catalog import compact_catalog

        if tracer is None:
            return
        self.files_after_batch = len(parquet_files(f"{self.catalog}/items"))
        self.n_items = self.spark.read.parquet(f"{self.catalog}/items").count()
        with tracer.span("plans.catalog.compact"):
            compact_catalog(self.spark, f"{self.catalog}/items")
        requests = gen.search_requests(self.seed, SIZES[self.size]["requests"], self.base_items)
        self.search_results = search.run_requests(
            self.spark, f"{self.catalog}/items", requests, tracer
        )

    # -- checks --------------------------------------------------------

    def checks_attempted(self) -> int:
        return 4 + len(self.runs) + bool(self.traced_batches) + len(self.search_results)

    def check(self) -> list[str]:
        import duckdb

        problems = []
        con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")
        rows = con.sql(
            "SELECT id, bbox[1] AS w, bbox[2] AS s, CAST(start_datetime AS VARCHAR) AS t"
            f" FROM read_parquet('{self.catalog}/items/*/*.parquet', hive_partitioning=true)"
        ).fetchall()
        got = {r[0]: r for r in rows}
        expected: dict[str, dict] = {}
        for b, _, _ in self.runs:
            expected.update(b.valid)
        delivered = {i for i in got if not i.startswith("base_")}
        n_base = len(got) - len(delivered)
        if n_base != self.base_items:
            problems.append(f"ingest: {n_base} base items, expected {self.base_items}")
        if delivered != set(expected):
            problems.append(
                f"ingest: catalog holds {len(delivered)} delivered ids, expected "
                f"{len(expected)} ({len(delivered - set(expected))} unexpected, "
                f"{len(set(expected) - delivered)} missing)"
            )
        for batch, out, items in self.runs:
            if (out["files"], out["items"]) != (batch.files, items):
                problems.append(
                    f"ingest {os.path.basename(batch.path)}: run_pipeline reported "
                    f"{out['files']} files and {out['items']} items, expected "
                    f"{batch.files} and {items}"
                )
        if self.traced_batches:
            # Only the traced run counts the files the decoder dropped.
            planted = sum(len(b.corrupt) for b in self.traced_batches)
            if self.quarantined != planted:
                problems.append(
                    f"ingest: {self.quarantined} files quarantined, {planted} planted"
                )
        stale = [
            i for b, _, _ in self.runs for i in b.redelivered
            if i in got and (
                (got[i][1], got[i][2]) != (expected[i]["west"], expected[i]["south"])
                or not got[i][3].startswith(expected[i]["start_datetime"])
            )
        ]
        if stale:
            problems.append(f"ingest: {len(stale)} redelivered ids lack their new metadata")
        con_db = sqlite3.connect(self.db)
        n_db = con_db.execute("SELECT count(*) FROM items").fetchone()[0]
        con_db.close()
        if n_db != len(got):
            problems.append(f"ingest: sqlite holds {n_db} rows, parquet {len(got)}")
        problems += search.check(f"{self.catalog}/items", self.search_results)
        return problems

    # -- traced run ----------------------------------------------------

    def instrument(self, tracer) -> None:
        """Wrap the module entry points run_pipeline calls so each call
        is its own span (traced run only; the untimed loop is untouched)."""
        import recipes_spark.plans.db_sink as db_sink
        import recipes_spark.runner as runner

        def wrap(mod, attr, span_of):
            orig = getattr(mod, attr)

            @functools.wraps(orig)
            def traced(*args, **kwargs):
                with tracer.span(span_of(*args, **kwargs)):
                    return orig(*args, **kwargs)

            setattr(mod, attr, traced)

        wrap(runner, "build_items", lambda *a, **k: "plans.items.build")
        wrap(
            runner, "upsert_items",
            lambda spark, items, path: "plans.catalog.upsert"
            if path.endswith("/items") else "plans.catalog.upsert_collections",
        )
        orig_sink = db_sink.upsert_items_to_database
        self.sink_log = os.path.join(self.work, "sink_changes.log")
        log = self.sink_log

        def traced_sink(items, *, connect, **kwargs):
            with tracer.span("plans.db_sink.upsert"):
                return orig_sink(items, connect=CountingConnect(connect, log), **kwargs)

        db_sink.upsert_items_to_database = traced_sink

    def _trace_sources(self, tracer, batch: gen.Batch) -> None:
        """Traced-only materializations of the sources layer for one
        batch: the listing, and a noop write of the decoded metadata."""
        from recipes_spark.sources.granules import file_metadata
        from recipes_spark.sources.listing import glob_listing

        pattern = f"{batch.path}/*.nc"
        with tracer.span("sources.listing"):
            glob_listing(self.spark, [pattern]).count()
        with tracer.span("sources.decode") as sp:
            file_metadata(self.spark, pattern).write.format("noop").mode("overwrite").save()
        decoded = tracer.node_metrics(sp, "MapInPandas")["rows"]
        self.quarantined += batch.files - decoded

    def layers(self, tracer) -> dict[str, tuple[float, str]]:
        if not self.traced_batches:
            raise RuntimeError("the traced ingest loop committed no batch")
        runner = tracer.spans.get("runner", [])
        files = sum(b.files for b in self.traced_batches)
        scanned = sum(sp.counters.get("input_records.Scan binaryFile", 0) for sp in runner)
        batch_rows = sum(len(b.valid) for b in self.traced_batches)
        upserts = tracer.spans.get("plans.catalog.upsert", [])
        with open(self.sink_log) as fh:
            sink_rows = sum(int(x) for x in fh.read().split())
        compact = tracer.spans["plans.catalog.compact"][0]
        return {
            "runner.batch_s": (median(tracer.walls("runner")), "s"),
            "runner.jobs_per_batch": (median([sp.counters["jobs"] for sp in runner]), "count"),
            "sources.listing_s": (median(tracer.walls("sources.listing")), "s"),
            "sources.decode_s": (median(tracer.walls("sources.decode")), "s"),
            "sources.decode_passes": (scanned / files, "ratio"),
            "sources.files_quarantined": (self.quarantined, "count"),
            "plans.items.build_ms": (1000 * median(tracer.walls("plans.items.build")), "ms"),
            "plans.catalog.upsert_s": (median(tracer.walls("plans.catalog.upsert")), "s"),
            "plans.catalog.upsert_jobs": (median([sp.counters["jobs"] for sp in upserts]), "count"),
            "plans.catalog.upsert_write_amp": (
                sum(sp.counters["output_records"] for sp in upserts) / batch_rows, "ratio"),
            "plans.catalog.files_after_batch": (self.files_after_batch, "count"),
            "plans.catalog.compact_s": (compact.wall, "s"),
            "plans.catalog.compact_bytes_rewritten": (compact.counters["output_bytes"], "bytes"),
            "plans.catalog.bytes_per_item": (
                dir_bytes(f"{self.catalog}/items") / self.n_items, "bytes/item"),
            "plans.db_sink.upsert_s": (median(tracer.walls("plans.db_sink.upsert")), "s"),
            "plans.db_sink.rows_written": (sink_rows, "count"),
            **search.layers(tracer),
        }


def parquet_files(root: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    ]


def dir_bytes(root: str) -> int:
    return sum(os.path.getsize(p) for p in parquet_files(root))
