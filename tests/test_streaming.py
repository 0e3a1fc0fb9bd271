"""Streaming-surface properties (SURVEY.md §5.2 item 2): the checks the
DuckDB oracle can't express — watermark late-drop, dedup bounds, and
ingest idempotency."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from recipes_spark.io import load
from recipes_spark.streaming.core import run_to_memory, stream_events
from recipes_spark.plans.catalog import upsert_items
from recipes_spark.session import LATEST, scratch_dir
from recipes_spark.streaming.ingest import ingest_events

SF = "/root/testdata/sf0.001"


def test_t5_watermark_drops_replayed_rows(spark):
    """Second pass over the directory (copies=2, one file per trigger)
    replays every event after the watermark has advanced past most
    timestamps: dedup-by-id must keep exactly one row per id for rows
    that were on time, and drop the replays — so n_kept is between
    n_distinct/2 (first copy only, worst-case late drops) and
    n_distinct."""
    n_distinct = load(spark, SF, "events").select("event_id").distinct().count()
    ev = stream_events(spark, SF, files=4, copies=2, max_files_per_trigger=1)
    dedup = ev.withWatermark("ts", "30 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    sunk = run_to_memory(dedup, output_mode="append", name_hint="t5_test")
    kept = sunk.count()
    kept_ids = sunk.select("event_id").distinct().count()
    assert kept == kept_ids, "dedup emitted a duplicate id"
    assert kept <= n_distinct
    assert kept >= n_distinct // 2


def test_t6_single_batch_dedup_exact(spark):
    """Single micro-batch (no late rows): doubled input dedups to
    exactly the distinct id count."""
    n_distinct = load(spark, SF, "events").select("event_id").distinct().count()
    ev = stream_events(spark, SF, copies=2)
    dedup = ev.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    sunk = run_to_memory(dedup, output_mode="append", name_hint="t6_test")
    assert sunk.count() == n_distinct


def test_t2_complete_mode_batching_invariant(spark):
    """Complete-mode window aggregation must not depend on micro-batch
    boundaries: one-file-per-trigger == all-files-in-one-batch."""
    import pyspark.sql.functions as F

    def run(max_files):
        ev = stream_events(spark, SF, max_files_per_trigger=max_files)
        agg = (
            ev.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "event_type", "n")
        )
        out = run_to_memory(agg, output_mode="complete", name_hint="t2inv")
        return {(r.ws, r.event_type): r.n for r in out.collect()}

    assert run(None) == run(1)


def test_t1_ingest_idempotent(spark):
    """Running the full ingest twice into the same catalog leaves counts
    unchanged (ToPgStac re-run semantics, SURVEY §4.1)."""
    catalog = scratch_dir("test_catalog") + "/store"
    ingest_events(spark, SF, catalog)
    first = spark.read.parquet(catalog).count()
    ingest_events(spark, SF, catalog)
    second = spark.read.parquet(catalog).count()
    n_source = load(spark, SF, "events").select("event_id").distinct().count()
    assert first == second == n_source


def test_ingest_into_unreadable_store_raises_and_keeps_every_row(spark):
    """A store that exists but cannot be read is not a first write. A
    conflicting partition directory (stray=1/ beside event_type=…/)
    makes reading it fail: the ingest must raise and leave every
    original file and row in place, never overwrite partitions with the
    batch alone."""
    import glob
    import os
    import shutil

    import pytest

    catalog = scratch_dir("test_stray") + "/store"
    ingest_events(spark, SF, catalog)
    rows = sorted(spark.read.parquet(catalog).collect(), key=lambda r: r.event_id)
    files = {
        f: os.path.getsize(f) for f in glob.glob(f"{catalog}/event_type=*/*.parquet")
    }
    os.makedirs(f"{catalog}/stray=1")
    shutil.copy(min(files), f"{catalog}/stray=1/part-00000-stray.parquet")

    with pytest.raises(Exception):
        ingest_events(spark, SF, catalog)
    assert {
        f: os.path.getsize(f) for f in glob.glob(f"{catalog}/event_type=*/*.parquet")
    } == files
    after = spark.read.option("basePath", catalog).parquet(
        *glob.glob(f"{catalog}/event_type=*")
    )
    assert sorted(after.collect(), key=lambda r: r.event_id) == rows


def test_upsert_new_rows_win(spark):
    """Upserting a changed row with an existing key replaces the old
    row instead of duplicating it."""
    path = scratch_dir("test_upsert") + "/store"
    ev = load(spark, SF, "events").limit(100)
    upsert_items(spark, ev, path, key="event_id", partition_col="event_type")
    changed = ev.limit(10).withColumn("value", F.lit(-1.0))
    upsert_items(spark, changed, path, key="event_id", partition_col="event_type")
    store = spark.read.parquet(path)
    assert store.count() == 100
    assert store.filter(F.col("value") == -1.0).count() == 10


def test_crafted_late_row_dropped_after_eviction(spark):
    """SURVEY §5.2's crafted-micro-batch late-data check, pinned to what
    Spark GUARANTEES (watermark dropping is best-effort while window
    state is live — an immediately-following replay still merges,
    verified empirically; only post-eviction drops are contractual):

      f1 advances the watermark to 10:50 → f2's carrier row finalizes +
      EVICTS the four closed windows (batch-end eviction) → f3 replays
      10:05, whose window was already emitted. That row must vanish —
      no re-opened window, no duplicate append emission, 10:00 stays
      count=1. Files are forced into order via mtime +
      maxFilesPerTrigger=1."""
    import os

    from recipes_spark.streaming.core import run_to_memory

    root = scratch_dir("late")
    f1 = [
        (1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:10:00"),
        (3, "2024-01-01 10:20:00"), (4, "2024-01-01 10:30:00"),
        (5, "2024-01-01 11:00:00"),
    ]
    f2 = [(6, "2024-01-01 11:05:00")]  # carrier: triggers emission+eviction
    f3 = [(7, "2024-01-01 10:05:00"), (8, "2024-01-01 11:10:00")]  # late + carrier

    def write_one(rows, name, mtime):
        df = spark.createDataFrame(rows, "event_id long, ts_s string").select(
            "event_id", F.col("ts_s").cast("timestamp").alias("ts")
        )
        sub = os.path.join(root, name)
        df.coalesce(1).write.mode("overwrite").parquet(sub)
        for fn in os.listdir(sub):
            if fn.endswith(".parquet"):
                dst = os.path.join(root, f"{name}.parquet")
                os.rename(os.path.join(sub, fn), dst)
                os.utime(dst, (mtime, mtime))

    write_one(f1, "f1", 1_000_000)
    write_one(f2, "f2", 2_000_000)
    write_one(f3, "f3", 3_000_000)

    stream = (
        spark.readStream.schema("event_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(root + "/*.parquet")
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    out = run_to_memory(agg, output_mode="append", name_hint="late_crafted")
    emitted = [(r.ws.strftime("%H:%M"), r.n) for r in out.collect()]
    # Each closed window appears EXACTLY once (the late replay neither
    # re-opened 10:00 nor produced a duplicate emission) and counts 1.
    assert sorted(emitted) == [
        ("10:00", 1), ("10:10", 1), ("10:20", 1), ("10:30", 1)
    ], emitted


def test_stream_neardup_equals_batch(spark, sf_dir):
    """st12's union-of-batches pair output must EQUAL the batch
    near_dup_wordset answer — every pair is discovered exactly once, in
    the batch where its larger id arrives."""
    from recipes_spark.registry import all_queries

    q = all_queries()
    stream = {
        (r.id_a, r.id_b, r.jaccard)
        for r in q["st12_stream_neardup"](spark, sf_dir).collect()
    }
    batch = {
        (r.id_a, r.id_b, r.jaccard)
        for r in q["near_dup_wordset"](spark, sf_dir).collect()
    }
    assert stream == batch


def test_checkpoint_restart_processes_only_new_files(spark, tmp_path):
    """REAL checkpoint-recovery semantics — the property every st*
    harness relies on but none restarts across: a file-source stream
    run with availableNow over an initial landing set, STOPPED, then
    restarted with the SAME checkpoint dir after more files land, must
    process ONLY the new files (no reprocessing — the sink would
    double rows) and must not miss any (the sink would drop rows).
    This is the foundation of exactly-once ingest at 100 TB: the
    checkpoint's file log, not the sink, carries the progress state."""
    import pyspark.sql.functions as F

    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    schema = "id long"

    def land(ids, name):
        spark.createDataFrame([(i,) for i in ids], schema).coalesce(
            1
        ).write.mode("overwrite").parquet(f"{landing}/{name}")

    def run_once():
        q = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(landing)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()

    land(range(0, 10), "a")
    land(range(10, 20), "b")
    run_once()
    first = sorted(r["id"] for r in spark.read.parquet(out).collect())
    assert first == list(range(20))

    land(range(20, 30), "c")
    run_once()
    second = sorted(r["id"] for r in spark.read.parquet(out).collect())
    # No duplicates from reprocessing a/b; nothing missed from c.
    assert second == list(range(30))


def test_st4_stream_sessions_subset_of_batch(spark, sf_dir):
    """The production APPEND-mode session path (sessions emit once the
    watermark passes session end + gap; trailing sessions withheld at
    availableNow termination): every EMITTED streaming session must
    exactly equal the batch t4_session_window row for the same (user,
    session start) — the stream may only withhold trailing sessions,
    never invent or distort one. (The registered st4_session_stream
    runs COMPLETE mode since round 7 and carries the full oracle; this
    pins the append-mode leg the registered query no longer covers.)"""
    from recipes_spark.registry import all_queries
    from recipes_spark.streaming.core import run_to_memory, stream_events
    from recipes_spark.streaming.queries import session_agg

    q = all_queries()
    batch = {
        (r["user_id"], r["session_start"]): tuple(r)
        for r in q["t4_session_window"](spark, sf_dir).collect()
    }
    appended = run_to_memory(
        session_agg(stream_events(spark, sf_dir)),
        output_mode="append",
        name_hint="st4a",
    )
    streamed = [tuple(r) for r in appended.collect()]
    assert streamed, "stream emitted no closed sessions"
    for row in streamed:
        key = (row[0], row[1])
        assert key in batch, f"stream invented session {key}"
        assert row == batch[key], (row, batch[key])


def test_st4_complete_equals_batch(spark, sf_dir):
    """The registered complete-mode st4 equals the batch twin exactly —
    the property its DuckDB oracle attests at the driver."""
    from recipes_spark.registry import all_queries

    q = all_queries()
    batch = sorted(
        tuple(r) for r in q["t4_session_window"](spark, sf_dir).collect()
    )
    streamed = sorted(
        tuple(r) for r in q["st4_session_stream"](spark, sf_dir).collect()
    )
    assert streamed == batch


def test_sketch_state_batches_are_retry_idempotent(spark, sf_dir, tmp_path):
    """The batch-transactionality claim behind st13/st14, exercised by
    an ACTUAL re-invocation (not just documented): after running
    batches 0..2, re-running batch 1 — an at-least-once redelivery —
    must leave its emitted output, its persisted state, and the
    downstream batch-2 output byte-identical, because each batch
    rebuilds its prior from PRIOR batches' persisted state and
    overwrites its own."""
    import pyspark.sql.functions as F

    from recipes_spark.io import load
    from recipes_spark.streaming.ingest import (
        bloom_probe_then_absorb,
        cms_probe_then_absorb,
    )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    batches = [d.filter(F.pmod("doc_id", F.lit(3)) == i) for i in range(3)]

    def snapshot(out_dir, state_dir):
        out = {}
        for bid in range(3):
            p = os.path.join(out_dir, f"batch={bid}")
            out[bid] = sorted(
                tuple(r) for r in spark.read.parquet(p).collect()
            )
        state = {}
        for name in sorted(os.listdir(state_dir)):
            full = os.path.join(state_dir, name)
            if os.path.isfile(full):
                state[name] = open(full, "rb").read()
            else:
                state[name] = sorted(
                    tuple(r) for r in spark.read.parquet(full).collect()
                )
        return out, state

    import os

    for kind, factory in (
        (
            "bloom",
            lambda o, s: bloom_probe_then_absorb(o, s, m_bits=4096, k=2),
        ),
        (
            "cms",
            lambda o, s: cms_probe_then_absorb(
                spark, o, s, depth=4, width=1024, thresh=50
            ),
        ),
    ):
        out_dir = str(tmp_path / f"{kind}_out")
        state_dir = str(tmp_path / f"{kind}_state")
        os.makedirs(state_dir, exist_ok=True)
        fn = factory(out_dir, state_dir)
        for bid, bdf in enumerate(batches):
            fn(bdf, bid)
        before = snapshot(out_dir, state_dir)
        fn(batches[1], 1)  # redelivery of batch 1
        after = snapshot(out_dir, state_dir)
        assert after == before, f"{kind}: retry of batch 1 changed state/output"


def test_st24_hll_registers_telescope_and_retry(spark, sf_dir, tmp_path):
    """st24's two structural claims, exercised directly: (a) max-merge
    telescoping — the state after N ordered batches equals the one-pass
    register build over everything seen (the exactness the shared
    DuckDB oracle stands on); (b) the family retry contract — an
    at-least-once redelivery of a middle batch rewrites its persisted
    state byte-identically."""
    import os

    import pyspark.sql.functions as F

    from recipes_spark.io import load
    from recipes_spark.streaming.ingest import (
        hll_merge_then_persist,
        st24_batch_registers,
    )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    batches = [d.filter(F.pmod("doc_id", F.lit(3)) == i) for i in range(3)]
    state_dir = str(tmp_path / "st24_state")
    os.makedirs(state_dir, exist_ok=True)
    fn = hll_merge_then_persist(spark, state_dir)
    for bid, bdf in enumerate(batches):
        fn(bdf, bid)

    def state(bid):
        return sorted(
            tuple(r)
            for r in spark.read.parquet(
                os.path.join(state_dir, f"s_{bid}")
            ).collect()
        )

    one_pass = sorted(tuple(r) for r in st24_batch_registers(d).collect())
    assert state(2) == one_pass  # telescoping

    before = [state(b) for b in range(3)]
    fn(batches[1], 1)  # at-least-once redelivery
    assert [state(b) for b in range(3)] == before


def test_st24_estimate_within_tolerance(spark, sf_dir):
    """The register table st24 maintains must actually estimate: the
    harmonic-mean readout lands within 15% of the exact distinct text
    count (p=10 → ~3.25% rse; 15% leaves >4 sigma for the testdata's
    small-range regime where linear counting takes over)."""
    import pyspark.sql.functions as F

    from recipes_spark.io import load
    from recipes_spark.streaming.ingest import (
        st24_batch_registers,
        st24_estimate,
    )

    d = load(spark, sf_dir, "documents").select("text")
    exact = d.select(F.countDistinct("text")).first()[0]
    regs = [
        (r["bucket"], r["reg"]) for r in st24_batch_registers(d).collect()
    ]
    est = st24_estimate(regs)
    assert abs(est - exact) / exact < 0.15, (est, exact)


def test_st25_twap_seam_exact_and_retry(spark, sf_dir, tmp_path):
    """st25's seam claim, exercised directly: the accumulated weighted
    sum over 3 time-ordered batches equals the one-pass batch
    computation (boundary holding intervals priced exactly once), and
    a redelivery of a middle batch rewrites its state byte-identically."""
    import os

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from recipes_spark.io import load
    from recipes_spark.streaming.ingest import twap_advance_factory

    ev = load(spark, sf_dir, "events")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo) / 3
    batches = [
        ev.filter(
            (F.col("ts") >= lo + i * span)
            & (F.col("ts") < (lo + (i + 1) * span if i < 2 else hi))
        )
        for i in range(3)
    ]
    batches[2] = batches[2].unionByName(ev.filter(F.col("ts") == hi))
    state_dir = str(tmp_path / "st25_state")
    os.makedirs(state_dir, exist_ok=True)
    fn = twap_advance_factory(spark, state_dir)
    for bid, bdf in enumerate(batches):
        fn(bdf, bid)

    def state(bid):
        return sorted(
            tuple(r)
            for r in spark.read.parquet(
                os.path.join(state_dir, f"s_{bid}")
            ).collect()
        )

    # seam exactness: streamed totals == one-pass lead-window totals
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    s = ev.select(
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.lead(F.unix_micros("ts")).over(w).alias("nxt"),
    )
    want = {
        r["event_type"]: (r["ws"], r["n"])
        for r in s.groupBy("event_type")
        .agg(
            F.sum(
                F.when(
                    F.col("nxt").isNotNull(),
                    F.col("cents") * (F.col("nxt") - F.col("us")),
                )
            )
            .cast("long")
            .alias("ws"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .collect()
    }
    got = {
        r[0]: (r[4], r[5])
        for r in state(2)  # event_type, ..., wsum at idx 4, n at idx 5
    }
    assert got == want

    before = [state(b) for b in range(3)]
    fn(batches[1], 1)  # at-least-once redelivery
    assert [state(b) for b in range(3)] == before


def test_st26_ohlc_merge_exact_and_retry(spark, sf_dir, tmp_path):
    """st26's mergeable-aggregate claim, exercised directly: OHLC state
    accumulated over 3 time-ordered batches equals the one-pass batch
    aggregate (endpoint struct-max/min and extrema combine
    associatively — no seam pricing exists to get wrong, which is the
    contrast with st25), and a redelivery of a middle batch rewrites
    its state byte-identically."""
    import os

    import pyspark.sql.functions as F

    from recipes_spark.io import load
    from recipes_spark.registry import all_queries
    from recipes_spark.streaming.ingest import ohlc_advance_factory

    ev = load(spark, sf_dir, "events")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo) / 3
    batches = [
        ev.filter(
            (F.col("ts") >= lo + i * span)
            & (F.col("ts") < (lo + (i + 1) * span if i < 2 else hi))
        )
        for i in range(3)
    ]
    batches[2] = batches[2].unionByName(ev.filter(F.col("ts") == hi))
    state_dir = str(tmp_path / "st26_state")
    os.makedirs(state_dir, exist_ok=True)
    fn = ohlc_advance_factory(spark, state_dir)
    for bid, bdf in enumerate(batches):
        fn(bdf, bid)

    def state(bid):
        return sorted(
            tuple(r)
            for r in spark.read.parquet(
                os.path.join(state_dir, f"s_{bid}")
            ).collect()
        )

    want = sorted(
        (
            r["event_type"], r["bucket"], r["n_events"],
            r["open_cents"], r["high_cents"], r["low_cents"],
            r["close_cents"],
        )
        for r in all_queries()["window_ohlc"](spark, sf_dir).collect()
    )
    got = sorted(
        (r[0], r[1], r[2], r[5], r[6], r[7], r[10]) for r in state(2)
    )
    assert got == want

    before = [state(b) for b in range(3)]
    fn(batches[1], 1)  # at-least-once redelivery
    assert [state(b) for b in range(3)] == before


def test_st28_matches_batch_composition_and_telescopes(spark, sf_dir):
    """st28's whole claim: incremental arrival cannot change a digest —
    the stream twin's 16-shard manifest must equal
    x6_corpus_pipeline_e2e's bit-for-bit, and the carried per-source
    count state must telescope to the whole-corpus cleaned-doc counts."""
    import os

    from recipes_spark.io import load
    from recipes_spark.queries.corpus_ops import pipeline_clean_lines
    from recipes_spark.registry import all_queries

    q = all_queries()
    got = sorted(
        tuple(r) for r in q["st28_stream_corpus_pipeline"](spark, sf_dir).collect()
    )
    want = sorted(
        tuple(r) for r in q["x6_corpus_pipeline_e2e"](spark, sf_dir).collect()
    )
    assert got == want and len(got) > 0

    # The scratch hook, not an mtime-glob over the global tempdir
    # (ADVICE r11: the glob is racy under parallel runs / leftovers).
    state_dir = LATEST.get("st28_state")
    assert state_dir is not None
    src = {
        r["source"]: r["n_docs"]
        for r in spark.read.parquet(os.path.join(state_dir, "src_3")).collect()
    }
    d = load(spark, sf_dir, "documents")
    expect = {
        r["source"]: r["n"]
        for r in pipeline_clean_lines(d)
        .select("doc_id", "source")
        .distinct()
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert src == expect


def test_st28_cross_batch_scrub_and_retry(spark, tmp_path):
    """The incremental property a per-batch-local pipeline cannot
    have: a boilerplate opening line planted ONCE per batch (batches
    see count 1; only the accumulated state reaches C4's >= 3) must be
    scrubbed from every surviving doc — visible as identical kept
    texts that then COLLAPSE to one survivor in the manifest — and
    redelivering a middle batch rewrites all three state families
    byte-identically."""
    import os

    from recipes_spark.streaming.ingest import (
        corpus_pipeline_advance_factory,
        st28_final_report,
    )

    from recipes_spark.queries.corpus_ops import pipeline_reassemble

    boiler = "cookie banner text"  # 3 tokens = one segmented line
    # Each doc: the boiler OPENING line + 9 doc-UNIQUE lines (30 words,
    # >= 100 chars, each body line count 1 corpus-wide).
    def doc(bid):
        body = " ".join(
            f"w{bid}x{k} filler{bid}y{k} tail{bid}z{k}" for k in range(9)
        )
        return (bid * 10, "s0", f"{boiler} {body}", 200)

    batches = [
        spark.createDataFrame(
            [doc(bid)], "doc_id long, source string, text string, n_chars long"
        )
        for bid in range(4)
    ]
    state_dir = str(tmp_path / "st28_state")
    os.makedirs(state_dir, exist_ok=True)
    fn = corpus_pipeline_advance_factory(spark, state_dir)
    for bid, bdf in enumerate(batches):
        fn(bdf, bid)

    counts = {
        r["line"]: r["c"]
        for r in spark.read.parquet(os.path.join(state_dir, "s_3")).collect()
    }
    assert counts[boiler] == 4  # spread 1-per-batch, caught only merged

    all_lines = spark.read.parquet(
        *[os.path.join(state_dir, f"l_{b}") for b in range(4)]
    )
    freq = spark.read.parquet(os.path.join(state_dir, "s_3"))
    kept = {
        r["doc_id"]: r["kept"]
        for r in pipeline_reassemble(all_lines, freq).collect()
    }
    for bid in range(4):  # boiler gone from EVERY doc, unique body kept
        assert boiler not in kept[bid * 10]
        assert f"w{bid}x0" in kept[bid * 10]
    # All four scrubbed docs survive the serve phase (distinct bodies).
    out = st28_final_report(spark, state_dir).collect()
    assert sum(r["n_docs"] for r in out) == 4

    def state(prefix, bid):
        return sorted(
            tuple(r)
            for r in spark.read.parquet(
                os.path.join(state_dir, f"{prefix}_{bid}")
            ).collect()
        )

    before = [
        (state("s", b), state("src", b), state("l", b)) for b in range(4)
    ]
    fn(batches[2], 2)  # at-least-once redelivery
    after = [
        (state("s", b), state("src", b), state("l", b)) for b in range(4)
    ]
    assert after == before


def test_st27_cross_batch_threshold_and_retry(spark, tmp_path):
    """st27's incremental property, exercised directly: a boilerplate
    line with ONE copy per batch (never >= 3 within any single batch)
    crosses the C4 threshold only in the ACCUMULATED state and is
    dropped from every hosting doc in the final report; a line with
    two copies total survives; and redelivering a middle batch
    rewrites its state byte-identically."""
    import os

    from recipes_spark.queries.corpus_ops import doc_lines, line_dedup_report
    from recipes_spark.streaming.ingest import line_count_advance_factory

    boiler = "cookie banner text"      # one 3-token line
    rare = "rare header line"
    batches = [
        spark.createDataFrame(
            [(bid * 10, f"{boiler} unique{bid} u{bid} v{bid}")],
            "doc_id long, text string",
        )
        for bid in range(3)
    ]
    batches[1] = batches[1].unionByName(
        spark.createDataFrame(
            [(11, f"{rare} only here once"), (12, f"{rare} second copy x")],
            "doc_id long, text string",
        )
    )
    state_dir = str(tmp_path / "st27_state")
    os.makedirs(state_dir, exist_ok=True)
    fn = line_count_advance_factory(spark, state_dir)
    for bid, bdf in enumerate(batches):
        fn(bdf, bid)

    freq = spark.read.parquet(os.path.join(state_dir, "s_2"))
    counts = {r["line"]: r["c"] for r in freq.collect()}
    assert counts[boiler] == 3 and counts[rare] == 2

    full = batches[0]
    for b in batches[1:]:
        full = full.unionByName(b)
    out = {
        r["doc_id"]: r
        for r in line_dedup_report(doc_lines(full), freq).collect()
    }
    for bid in range(3):  # boiler dropped from every hosting doc
        assert out[bid * 10]["n_dropped"] == 1
        assert boiler not in out[bid * 10]["kept_text"]
    assert rare in out[11]["kept_text"]  # 2 < 3 survives

    def state(bid):
        return sorted(
            tuple(r)
            for r in spark.read.parquet(
                os.path.join(state_dir, f"s_{bid}")
            ).collect()
        )

    before = [state(b) for b in range(3)]
    fn(batches[1], 1)  # at-least-once redelivery
    assert [state(b) for b in range(3)] == before


def test_run_foreach_batch_in_order_cleans_up_and_propagates(spark, monkeypatch):
    """The one foreachBatch driver: three staged chunks arrive as three
    in-order micro-batches, its temp checkpoint is gone once the query
    stops, and an error in the body propagates with no query left
    running (and no checkpoint left behind)."""
    import os

    import pytest

    from recipes_spark.streaming import core
    from recipes_spark.streaming.core import (
        read_staged,
        run_foreach_batch,
        stage_ordered,
    )

    chunks = [spark.range(10 * i, 10 * i + n) for i, n in enumerate((3, 1, 2))]
    staged = stage_ordered(chunks, name="test_driver")
    made = []

    def recording_scratch_dir(name):
        made.append(scratch_dir(name))
        return made[-1]

    monkeypatch.setattr(core, "scratch_dir", recording_scratch_dir)
    seen = []

    def record(bdf, bid):
        seen.append((bid, sorted(r.id for r in bdf.collect())))

    run_foreach_batch(
        read_staged(spark, staged, "id long", max_files_per_trigger=1), record
    )
    assert seen == [(0, [0, 1, 2]), (1, [10]), (2, [20, 21])]
    assert len(made) == 1 and not os.path.exists(made[0])

    def fail(bdf, bid):
        raise ValueError("body failed on purpose")

    with pytest.raises(Exception, match="body failed on purpose"):
        run_foreach_batch(
            read_staged(spark, staged, "id long", max_files_per_trigger=1), fail
        )
    assert spark.streams.active == []
    assert len(made) == 2 and not os.path.exists(made[1])


def _gens(spark, root, family, values):
    """Write one single-row generation `<family><j>` holding `j` for
    each j in `values`."""
    from recipes_spark.streaming.core import save_gen

    for j in values:
        save_gen(spark.createDataFrame([(j,)], "g long"), root, family, j)


def test_read_latest_reads_the_highest_generation(spark):
    """read_latest picks the highest generation of its own family, and
    raises when the root holds none."""
    from recipes_spark.streaming.core import read_latest

    root = scratch_dir("test_state_latest")
    _gens(spark, root, "s_", range(5))
    _gens(spark, root, "src_", [9])
    assert read_latest(spark, root, "s_", "g long").collect() == [(4,)]
    with pytest.raises(FileNotFoundError):
        read_latest(spark, scratch_dir("test_state_empty"), "s_", "g long")


def test_read_all_prior_ignores_own_and_later_generations(spark):
    """A retry of batch 2 after batch 3 has run: read_all_prior sees
    generations 0 and 1 only, never s_2 or s_3."""
    from recipes_spark.streaming.core import read_all_prior

    root = scratch_dir("test_state_all_prior")
    _gens(spark, root, "s_", range(4))
    got = read_all_prior(spark, root, "s_", 2, "g long").collect()
    assert sorted(r.g for r in got) == [0, 1]


def test_read_prior_at_batch_zero_is_empty_with_the_schema(spark):
    """At batch 0 there is no prior generation: both prior reads return
    no rows, typed exactly as the family's schema."""
    from recipes_spark.streaming.core import read_all_prior, read_prior

    root = scratch_dir("test_state_batch0")
    for read in (read_prior, read_all_prior):
        df = read(spark, root, "s_", 0, "a long, b string, c array<int>")
        assert df.count() == 0
        assert [(f.name, f.dataType.simpleString()) for f in df.schema] == [
            ("a", "bigint"), ("b", "string"), ("c", "array<int>"),
        ]


def test_missing_prior_generation_raises(spark):
    """Lost state is never taken for empty: a read at batch N>0 whose
    generation < N is missing raises."""
    from pyspark.errors import AnalysisException

    from recipes_spark.streaming.core import read_all_prior, read_prior

    root = scratch_dir("test_state_missing")
    _gens(spark, root, "s_", [0, 2])
    with pytest.raises(AnalysisException):
        read_prior(spark, root, "s_", 2, "g long")
    with pytest.raises(AnalysisException):
        read_all_prior(spark, root, "s_", 3, "g long")
    with pytest.raises(AnalysisException):
        read_prior(spark, scratch_dir("test_state_none"), "s_", 1, "g long")


_CARRY_STATE_BODIES = {
    "st20": ("pattern_advance_factory", None, "_ST20_STATE_SCHEMA"),
    "st21": ("moments_probe_then_absorb", "_ST21_OUT_SCHEMA", "_ST21_STATE_SCHEMA"),
    "st22": ("cusum_advance_factory", "_ST22_OUT_SCHEMA", "_ST22_STATE_SCHEMA"),
    "st23": ("attribution_advance_factory", "_ST23_OUT_SCHEMA", "_ST23_STATE_SCHEMA"),
}


@pytest.mark.parametrize("kind", sorted(_CARRY_STATE_BODIES))
def test_carry_state_batches_are_retry_idempotent(spark, sf_dir, kind):
    """st20-st23 under the retry contract: after batches 0..2, a
    redelivery of batch 1 leaves every state generation and every
    emitted output byte-identical. The batches are time-ordered and
    split on hour buckets, the arrival order st20/st23 and st22
    assume."""
    import os

    from recipes_spark.streaming import ingest

    factory, out_schema, state_schema = (
        getattr(ingest, name) if name else None
        for name in _CARRY_STATE_BODIES[kind]
    )
    ev = load(spark, sf_dir, "events")
    b = F.expr("unix_micros(ts) div 3600000000")
    lo, hi = ev.agg(F.min(b), F.max(b)).first()
    width = -(-(hi - lo + 1) // 3)
    batches = [
        ev.filter((b >= lo + i * width) & (b < lo + (i + 1) * width))
        for i in range(3)
    ]
    out_dir = scratch_dir(f"test_{kind}_out")
    state_dir = scratch_dir(f"test_{kind}_state")
    if out_schema is None:
        fn = factory(spark, state_dir)
    else:
        fn = factory(spark, out_dir, state_dir)

    def snapshot():
        found = {}
        for root, schema in ((state_dir, state_schema), (out_dir, out_schema)):
            for name in sorted(os.listdir(root)):
                df = spark.read.schema(schema).parquet(os.path.join(root, name))
                found[name] = sorted(tuple(r) for r in df.collect())
        return found

    for bid, bdf in enumerate(batches):
        fn(bdf, bid)
    before = snapshot()
    assert len(os.listdir(state_dir)) == 3
    fn(batches[1], 1)  # at-least-once redelivery
    assert snapshot() == before
