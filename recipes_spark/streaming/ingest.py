"""T1: incremental file ingest with an idempotent upsert sink.

The reference's incremental story is "re-run the pipeline, pgstac
upserts by id" (ToPgStac, avhrr…/recipe.py:85,137 — SURVEY §2.10 T1,
§4.1). Streaming-native form: a file-source stream over the landing
directory, foreachBatch → upsert-by-key into a partitioned parquet
catalog. Every micro-batch is a transactional-enough unit: re-delivery
of a batch (at-least-once file source) cannot duplicate rows because
the upsert anti-joins on the key.

Every stream here is read by streaming/core.read_staged from a staged
landing zone (st* queries: one file per micro-batch) and driven by
core.run_foreach_batch. Only the per-batch bodies differ; from st13 on
they are module-level factories (`*_probe_then_absorb`,
`*_merge_then_*`, `*_advance_factory`) so each one's retry
idempotence is testable batch by batch. Every state and output
generation a body writes or reads goes through core's state store
(`save_gen`, `read_prior`, `read_all_prior`, `read_latest`), whose
module docstring states the retry contract.

Scale notes: the per-batch rewrite (plans/catalog.upsert_items) reads
and replaces only the store files holding a batch key, appending first
and deleting after; at 100 TB the store would be Delta/Iceberg MERGE,
but the capability — idempotent incremental load — is identical.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from recipes_spark.queries.events import (
    TWAP_ORACLE,
    ATTRIBUTION_ORACLE,
    OHLC_ORACLE,
    PATTERN_FUNNEL_ORACLE,
)
from recipes_spark.queries.corpus_ops import (
    CORPUS_PIPELINE_E2E_ORACLE,
    LINE_DEDUP_ORACLE,
    _PACKING_SHARDS_ORACLE as PACKING_SHARDS_ORACLE,
    _QTA_ORACLE as QTA_ORACLE,
    doc_lines,
    line_dedup_report,
    pipeline_clean_lines,
    pipeline_line_freq,
    pipeline_reassemble,
    pipeline_serve,
)
from recipes_spark.queries.dataops import (
    _index_commit_oracle_sql as _index_commit_oracle,
)
from recipes_spark.io import load
from recipes_spark.plans.catalog import upsert_items
from recipes_spark.registry import query
from recipes_spark.session import scratch_dir
from recipes_spark.streaming.core import (
    latest_gen,
    read_all_prior,
    read_latest,
    read_prior,
    read_staged,
    run_foreach_batch,
    save_gen,
    stage_events_ordered,
    stage_ordered,
    stream_events,
)

#: st31's oracle — x3_index_commit's chain without the file-equality
#: literals (the stream twin's state report has no file side).
INDEX_COMMIT_NOFLAGS_ORACLE = _index_commit_oracle(flags=False)


def ingest_events(
    spark: SparkSession,
    sf_dir: str,
    catalog_path: str,
    *,
    max_files_per_trigger: int | None = 2,
) -> None:
    """Run the landing-zone stream to completion, upserting each
    micro-batch into `catalog_path` keyed by event_id."""
    ev = stream_events(
        spark, sf_dir, max_files_per_trigger=max_files_per_trigger
    )
    run_foreach_batch(
        ev,
        lambda bdf, _bid: upsert_items(
            bdf.sparkSession, bdf, catalog_path,
            key="event_id", partition_col="event_type",
        ),
    )


@query(
    "st10_cdc_merge",
    oracle="""
WITH ranked AS (
  SELECT user_id, ts, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_type AS last_event_type, ts AS last_ts,
       value AS last_value
FROM ranked WHERE rn = 1
""",
)
def st10_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply: a change stream (events in commit order,
    chunked into in-order micro-batches) merged into a keyed store via
    foreachBatch → MERGE INTO (plans/merge.py) — the plain-Parquet
    analog of a Delta/Iceberg streaming MERGE. Each batch reduces to
    its last change per key (row_number over ts desc, event_id desc)
    before merging, so re-delivery of a batch is idempotent and the
    final store is the last-writer-wins state per user — which is the
    oracle: latest event per user over the whole table. In-order
    delivery is the standard CDC-apply contract; the chunking preserves
    global (ts, event_id) order across batch boundaries.

    Scale shape: per batch, one narrow (key, partition) scan of the
    target + a rewrite of touched partitions only (user_id hash-bucket
    partitioning spreads rewrites evenly); the store never rescans the
    stream history."""
    from pyspark.sql import Window

    from recipes_spark.plans.merge import merge_into

    staged = stage_events_ordered(spark, sf_dir, chunks=4)
    store = scratch_dir("cdc_store") + "/store"
    schema = load(spark, sf_dir, "events").schema

    def apply_cdc(bdf: DataFrame, _bid: int) -> None:
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        latest = (
            bdf.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(
                "user_id",
                "ts",
                "event_type",
                "value",
                F.pmod("user_id", F.lit(8)).cast("int").alias("bucket"),
            )
        )
        merge_into(
            spark, store, latest, on="user_id", partition_col="bucket",
            when_matched="update", when_not_matched="insert",
        )

    run_foreach_batch(
        read_staged(spark, staged, schema, max_files_per_trigger=1),
        apply_cdc,
    )
    return spark.read.parquet(store).select(
        "user_id",
        F.col("event_type").alias("last_event_type"),
        F.col("ts").alias("last_ts"),
        F.col("value").alias("last_value"),
    )


@query(
    "st1_incremental_ingest",
    oracle="""
SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def st1_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1+S12: multi-batch incremental ingest (2 files per trigger) into
    a fresh catalog, then aggregate the catalog. Upsert-by-key makes the
    result independent of batch boundaries — it must equal a plain
    per-type aggregate of the source, which is the oracle."""
    catalog = scratch_dir("ingest_catalog") + "/store"
    ingest_events(spark, sf_dir, catalog)
    return (
        spark.read.parquet(catalog)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


@query(
    "st11_stream_incremental_dedup",
    oracle="""
WITH corpus AS (
  SELECT sha256(text) AS h FROM documents
), batch AS (
  SELECT doc_id + 2000000 AS doc_id, text
  FROM documents WHERE doc_id % 10 = 3
  UNION ALL
  SELECT doc_id + 3000000, text || ' fresh'
  FROM documents WHERE doc_id % 10 = 7
), in_batch AS (
  SELECT doc_id, text,
         row_number() OVER (PARTITION BY sha256(text)
                            ORDER BY doc_id) AS rn
  FROM batch
)
SELECT b.doc_id FROM in_batch b
WHERE b.rn = 1
  AND NOT EXISTS (SELECT 1 FROM corpus c WHERE c.h = sha256(b.text))
""",
)
def st11_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming form of x2_incremental_dedup — the SAME contract
    (batch dedupes against itself and the corpus digest index; output =
    genuinely new docs) executed as a Structured Streaming pipeline:

      landing files → withWatermark(ingest_ts)
                    → dropDuplicatesWithinWatermark(digest)   [stream state]
                    → foreachBatch: anti-join corpus index → append sink

    The staged landing zone replays the batch TWICE (copies, mtime-
    ordered), so every digest arrives again and must be dropped by the
    dedup state, not by luck — re-delivery idempotence is the property
    under test. The oracle is x2_incremental_dedup's: batch boundaries
    and the replay must not change the answer.

    Scale shape: dedup state holds one digest per in-watermark doc
    (32 bytes/row); the corpus index is only ever touched as a narrow
    digest column anti-joined per micro-batch — batch-sized shuffles,
    corpus-sized scans, never corpus-sized shuffles."""
    v1 = load(spark, sf_dir, "documents").select("doc_id", "text")
    corpus_idx = v1.select(F.sha2("text", 256).alias("h"))
    batch = (
        v1.filter(F.col("doc_id") % 10 == 3)
        .select((F.col("doc_id") + 2000000).alias("doc_id"), "text")
        .unionByName(
            v1.filter(F.col("doc_id") % 10 == 7).select(
                (F.col("doc_id") + 3000000).alias("doc_id"),
                F.concat("text", F.lit(" fresh")).alias("text"),
            )
        )
        .withColumn("h", F.sha2("text", 256))
        # Synthetic arrival time derived from doc_id: deterministic, and
        # distinct per row (the two derivation arms use disjoint source
        # ids), so watermark progression is reproducible.
        .withColumn(
            "ingest_ts",
            F.timestamp_seconds(
                F.lit(1_600_000_000) + F.pmod("doc_id", F.lit(1_000_000))
            ),
        )
    )
    # Within-batch digest ties resolve to min doc_id AT THE PRODUCER
    # (same keep-min window as the batch twin x2_incremental_dedup and
    # the oracle's rn=1): dropDuplicatesWithinWatermark keeps the
    # first-ARRIVING row per key, which for same-file duplicates is
    # shuffle-order-dependent — the stream state's job here is
    # cross-batch/replay re-delivery, not intra-batch tie-breaking.
    from pyspark.sql import Window

    w = Window.partitionBy("h").orderBy("doc_id")
    batch = (
        batch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

    # Two chunks (split by derivation arm → ascending doc_id across
    # chunk boundaries) × two copies (full replay) in forced mtime order.
    chunks = [
        batch.filter(F.col("doc_id") < 3_000_000),
        batch.filter(F.col("doc_id") >= 3_000_000),
    ]
    staged = stage_ordered(chunks * 2, name="st11_landing")

    out_dir = scratch_dir("st11_out") + "/kept"

    def dedup_against_corpus(bdf: DataFrame, bid: int) -> None:
        # A retried batch re-emits the same rows (the dedup state it
        # reads is the checkpointed pre-batch version): overwrite its
        # generation, never append.
        save_gen(
            bdf.join(corpus_idx, "h", "left_anti").select("doc_id"),
            out_dir, "batch=", bid,
        )

    stream = (
        read_staged(spark, staged, batch.schema, max_files_per_trigger=1)
        # 30-day delay >> the data's time span: nothing is ever late, so
        # every replayed digest is dropped by STATE (the property under
        # test), not by watermark lateness.
        .withWatermark("ingest_ts", "30 days")
        .dropDuplicatesWithinWatermark(["h"])
    )
    run_foreach_batch(stream, dedup_against_corpus)
    return spark.read.parquet(out_dir).select("doc_id")


#: st12's band-hash index rows, as band_hashes writes them.
_ST12_BANDS_SCHEMA = "doc_id long, lang string, source string, bhash long"


@query(
    "st12_stream_neardup",
    oracle="""
WITH d AS (
  SELECT doc_id, lang, source,
         list_sort(list_distinct(string_split(text, ' '))) AS s
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.s, b.s)) * 1.0 /
             len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
FROM d a JOIN d b
  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.s, b.s)) * 1.0 /
      len(list_distinct(list_concat(a.s, b.s))) >= 0.8
""",
)
def st12_stream_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-dup: documents arrive in doc_id-ordered
    micro-batches; each batch MinHash-bands its docs, probes the
    accumulated band-hash index (all earlier docs) PLUS itself for
    candidates, verifies exact word-set Jaccard >= 0.8, then appends
    its own bands to the index — the incremental form of
    near_dup_wordset. Every (a, b) pair is discovered exactly once, in
    b's batch, so the union of per-batch pair outputs EQUALS the batch
    query's all-pairs answer — which is the oracle.

    Scale shape (the production ingest-dedup loop): the index holds
    (id, blocking keys, bhash) — 24 bytes + keys per doc per band,
    never text; per batch the band join shuffles batch-sized band rows
    against an index partitioned by bhash; verify re-joins word sets
    from the corpus store for surviving candidates only. Index growth
    is linear in corpus size but only ever equi-joined, never scanned
    quadratically."""
    from recipes_spark.operators.dedup import band_hashes, jaccard_verify

    # Same word-set tokenization as near_dup_wordset / its oracle;
    # materialized ONCE — the bounds scan, chunk staging, and every
    # micro-batch's set joins all read the checkpoint instead of
    # re-tokenizing the corpus per reference.
    d = (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "lang",
            "source",
            F.array_sort(F.array_distinct(F.split("text", " "))).alias("s"),
        )
        .localCheckpoint(eager=True)
    )

    chunks = 3
    bounds = d.select(
        F.percentile_approx("doc_id", [i / chunks for i in range(1, chunks)], 10000)
    ).first()[0]
    lo = [None, *bounds]
    hi = [*bounds, None]
    chunk_dfs = []
    for i in range(chunks):
        c = d
        if lo[i] is not None:
            c = c.filter(F.col("doc_id") > lo[i])
        if hi[i] is not None:
            c = c.filter(F.col("doc_id") <= hi[i])
        chunk_dfs.append(c.select("doc_id", "lang", "source"))
    staged = stage_ordered(chunk_dfs, name="st12_landing")

    index_dir = scratch_dir("st12_index") + "/bands"
    pairs_dir = scratch_dir("st12_pairs") + "/pairs"

    def neardup_batch(bdf: DataFrame, bid: int) -> None:
        ids = bdf.select("doc_id", "lang", "source")
        batch_sets = ids.join(d, ["doc_id", "lang", "source"])
        # band_hashes materializes its output itself (eager checkpoint
        # at the operator tail) — no caller-side checkpoint on top, or
        # every micro-batch copies the banding rows twice.
        bands = band_hashes(
            batch_sets,
            id_col="doc_id",
            set_col="s",
            carry_cols=("lang", "source"),
        )
        # A missing index generation at batch N>0 raises: taking it for
        # empty would drop every cross-batch pair.
        probe = read_all_prior(
            spark, index_dir, "batch=", bid, _ST12_BANDS_SCHEMA
        ).unionByName(bands)
        cand = (
            bands.withColumnRenamed("doc_id", "id_b")
            .join(
                probe.withColumnRenamed("doc_id", "id_a"),
                ["bhash", "lang", "source"],
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
        save_gen(
            jaccard_verify(cand, d, id_col="doc_id", set_col="s"),
            pairs_dir, "batch=", bid,
        )
        save_gen(bands, index_dir, "batch=", bid)

    schema = "doc_id long, lang string, source string"
    run_foreach_batch(
        read_staged(spark, staged, schema, max_files_per_trigger=1),
        neardup_batch,
    )
    return spark.read.parquet(pairs_dir).select("id_a", "id_b", "jaccard")


def bloom_probe_then_absorb(
    out_dir: str, state_dir: str, *, m_bits: int, k: int
):
    """st13's per-micro-batch body as a module-level factory so the
    retry contract (streaming/core.py) is testable: prior state is the
    OR of all PRIOR batches' persisted bitmaps — pinned by
    tests/test_streaming.py::test_sketch_state_batches_are_retry_idempotent.
    The bitmaps are raw bytes, not DataFrames, so they keep their own
    `bloom_<bid>.bin` files."""
    import numpy as np

    from recipes_spark.operators.dedup import bloom_build, bloom_members

    def bitmap(j: int) -> str:
        return os.path.join(state_dir, f"bloom_{j}.bin")

    def probe_then_absorb(bdf: DataFrame, bid: int) -> None:
        prior = np.zeros(m_bits // 8, dtype=np.uint8)
        for j in range(bid):
            with open(bitmap(j), "rb") as fh:
                prior |= np.frombuffer(fh.read(), dtype=np.uint8)
        cand = bloom_members(bdf, "text", prior.tobytes(), m_bits=m_bits, k=k)
        save_gen(cand.select("doc_id"), out_dir, "batch=", bid)
        with open(bitmap(bid), "wb") as fh:
            fh.write(bloom_build(bdf, "text", m_bits=m_bits, k=k))

    return probe_then_absorb


@query(
    "st13_stream_bloom_probe",
    oracle="""
WITH offs AS (SELECT * FROM (VALUES (1), (9)) t(off)),
b AS (SELECT doc_id, doc_id % 4 AS bid, sha256(text) AS h FROM documents),
pos AS (
  SELECT DISTINCT bid, CAST('0x' || substr(h, off, 8) AS BIGINT) % 4096 AS p
  FROM b CROSS JOIN offs
)
SELECT doc_id
FROM (
  SELECT b.doc_id, count(DISTINCT o.off) AS nhit
  FROM b
  CROSS JOIN offs o
  JOIN pos pp
    ON pp.p = CAST('0x' || substr(b.h, o.off, 8) AS BIGINT) % 4096
   AND pp.bid < b.bid
  GROUP BY b.doc_id
  HAVING count(DISTINCT o.off) = 2
)
ORDER BY doc_id
""",
)
def st13_stream_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming bloom-probed dedup: the corpus arrives as four ordered
    micro-batches (bid = doc_id % 4); each batch is bloom-TESTED against
    the bitmap accumulated from all PRIOR batches, then its own bit
    positions are OR-ed in. Output = every doc the sketch flags as a
    candidate duplicate of earlier data — st11's exact-index probe with
    the index replaced by m/8 bytes of mergeable bloom state, the shape
    an ingest keeps when the corpus digest index no longer fits a join.

    The DuckDB oracle replays the exact bit positions (portable
    sha256-slice hash) with the same prior-batch visibility rule —
    bit-for-bit, not statistical (m deliberately undersized at 4096 so
    the candidate path is exercised at every test SF)."""
    m_bits, k = 4096, 2
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = [d.filter(F.pmod("doc_id", F.lit(4)) == i) for i in range(4)]

    staged = stage_ordered(chunks, name="st13_landing")
    out_dir = scratch_dir("st13_out") + "/cand"
    state_dir = scratch_dir("st13_state")
    probe_then_absorb = bloom_probe_then_absorb(
        out_dir, state_dir, m_bits=m_bits, k=k
    )

    stream = read_staged(spark, staged, d.schema, max_files_per_trigger=1)
    run_foreach_batch(stream, probe_then_absorb)
    return spark.read.parquet(out_dir).select("doc_id").orderBy("doc_id")


#: st14's output schema — ONE definition shared by the factory's
#: batch-0 empty frame and the query's schema'd read-back, so the two
#: cannot drift.
_ST14_OUT_SCHEMA = "bid int, term string, prior_est long"

#: st14's per-batch counter table, as cms_counters writes it.
_ST14_STATE_SCHEMA = "dep int, b long, c long"


def st14_term_counts(bdf: DataFrame) -> DataFrame:
    """st14's per-batch term-count agg — module-level so the batch-side
    plan is fingerprintable (tools/plan_fingerprints.json
    st14_batch_side) with exactly the expression tree the foreachBatch
    body executes."""
    return (
        bdf.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def st14_hot_terms(
    tc: DataFrame,
    prior: DataFrame,
    bid: int,
    *,
    depth: int,
    width: int,
    thresh: int,
) -> DataFrame:
    """st14's probe leg: estimate each term's frequency across the
    merged PRIOR counters, keep the already-hot ones. Shared by the
    foreachBatch body and the plan-fingerprint twin."""
    from recipes_spark.operators.sketches import cms_estimate

    return (
        cms_estimate(tc.select("term"), prior, depth=depth, width=width)
        .filter(F.col("est") >= thresh)
        .select(
            F.lit(bid).cast("int").alias("bid"),
            "term",
            F.col("est").alias("prior_est"),
        )
    )


def cms_probe_then_absorb(
    spark: SparkSession,
    out_dir: str,
    state_dir: str,
    *,
    depth: int,
    width: int,
    thresh: int,
):
    """st14's per-micro-batch body as a module-level factory (see
    bloom_probe_then_absorb): prior state is the SUM-merge of all
    PRIOR batches' persisted counter tables. Batch 0 has no prior and
    emits nothing. Pinned by
    tests/test_streaming.py::test_sketch_state_batches_are_retry_idempotent."""
    from recipes_spark.operators.sketches import cms_counters, cms_merge

    def probe_then_absorb(bdf: DataFrame, bid: int) -> None:
        tc = st14_term_counts(bdf)
        if bid > 0:
            prior = cms_merge(
                read_all_prior(spark, state_dir, "c_", bid, _ST14_STATE_SCHEMA)
            )
            hot = st14_hot_terms(
                tc, prior, bid, depth=depth, width=width, thresh=thresh
            )
        else:
            hot = spark.createDataFrame([], _ST14_OUT_SCHEMA)
        save_gen(hot, out_dir, "batch=", bid)
        counters = cms_counters(tc, depth=depth, width=width)
        save_gen(counters, state_dir, "c_", bid)

    return probe_then_absorb


@query(
    "st14_stream_cms",
    oracle="""
WITH docs AS (SELECT doc_id, doc_id % 4 AS bid, text FROM documents),
tc AS (
  SELECT bid, term, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT bid, unnest(string_split(text, ' ')) AS term FROM docs)
  GROUP BY bid, term
),
deps AS (SELECT unnest(range(0, 4)) AS dep),
counters AS (
  SELECT bid, dep,
         CAST('0x' || substr(sha256(CAST(dep AS VARCHAR) || ':' || term), 1, 8)
              AS BIGINT) % 1024 AS b,
         CAST(sum(cnt) AS BIGINT) AS c
  FROM tc CROSS JOIN deps
  GROUP BY 1, 2, 3
),
probe AS (SELECT DISTINCT bid, term FROM tc WHERE bid > 0),
pb AS (
  SELECT p.bid, p.term, d.dep,
         CAST('0x' || substr(sha256(CAST(d.dep AS VARCHAR) || ':' || p.term), 1, 8)
              AS BIGINT) % 1024 AS b
  FROM probe p CROSS JOIN deps d
),
prior AS (
  SELECT pb.bid, pb.term, pb.dep, COALESCE(SUM(c.c), 0) AS cc
  FROM pb LEFT JOIN counters c
    ON c.dep = pb.dep AND c.b = pb.b AND c.bid < pb.bid
  GROUP BY 1, 2, 3
)
SELECT CAST(bid AS INT) AS bid, term, CAST(min(cc) AS BIGINT) AS prior_est
FROM prior
GROUP BY bid, term
HAVING min(cc) >= 200
ORDER BY bid, term
""",
)
def st14_stream_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min heavy-hitter probe — st13's bloom pattern
    with the FREQUENCY sketch (operators/sketches.py): the corpus
    arrives as four ordered micro-batches; each batch estimates its
    terms' frequency across all PRIOR batches from the merged prior
    counter tables (flagging already-hot terms, prior_est >= 200),
    then persists its OWN batch's counters. The incremental form of
    "which tokens are boilerplate": per-batch work = one batch-sized
    hash agg + a broadcast estimate join; accumulated state = one
    depth*width counter table per batch, merged by SUM — never a
    term dictionary.

    The sha256-slice buckets are portable,
    so the DuckDB oracle replays every counter and estimate — including
    the left-join zero for a bucket no prior term mapped to —
    bit-for-bit with the same prior-batch visibility rule."""
    depth, width, thresh = 4, 1024, 200
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = [d.filter(F.pmod("doc_id", F.lit(4)) == i) for i in range(4)]
    staged = stage_ordered(chunks, name="st14_landing")
    out_dir = scratch_dir("st14_out") + "/hot"
    state_dir = scratch_dir("st14_state")
    probe_then_absorb = cms_probe_then_absorb(
        spark, out_dir, state_dir, depth=depth, width=width, thresh=thresh
    )

    run_foreach_batch(
        read_staged(spark, staged, d.schema, max_files_per_trigger=1),
        probe_then_absorb,
    )
    return (
        spark.read.schema(_ST14_OUT_SCHEMA)
        .parquet(out_dir)
        .select("bid", "term", "prior_est")
        .orderBy("bid", "term")
    )


#: st17's output schema — shared by the factory's batch-0 empty frame
#: and the schema'd read-back (the st14 convention).
_ST17_OUT_SCHEMA = "bid int, n_prior long, p50_cents long, p90_cents long"

#: st17's per-batch histogram table, as st17_value_hist writes it.
_ST17_STATE_SCHEMA = "bucket long, c long"

#: One histogram bucket = $10 of event value, in cents.
_ST17_WIDTH = 1000


def st17_value_hist(bdf: DataFrame) -> DataFrame:
    """st17's per-batch histogram agg — module-level so the batch-side
    plan is fingerprintable with exactly the expression tree the
    foreachBatch body executes: bucket = value-cents div $10, exact
    integer counts. This IS the mergeable quantile-sketch state (the
    streaming twin of agg_histogram_quantile's batch histogram)."""
    return (
        bdf.select(
            F.expr(
                f"cast(floor(value * 100) as bigint) div {_ST17_WIDTH}"
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


def st17_prior_quantiles(prior: DataFrame, bid: int) -> DataFrame:
    """st17's probe leg: p50/p90 of everything seen in PRIOR batches,
    from the SUM-merged histogram alone — integer interpolation inside
    the bucket holding rank ceil(q*n/100), identical to
    agg_histogram_quantile. The window is global but runs over
    #buckets rows (sketch-sized, not event-sized)."""
    from pyspark.sql import Window

    cum = prior.select(
        "bucket",
        "c",
        F.sum("c")
        .over(
            Window.orderBy("bucket").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cum"),
        F.sum("c").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )

    def pick(q: int):
        need = f"((n * {q} + 99) div 100)"
        est = (
            f"(bucket * {_ST17_WIDTH}) + "
            f"(({need} - (cum - c)) * {_ST17_WIDTH}) div c"
        )
        return F.max(
            F.expr(f"CASE WHEN cum >= {need} AND cum - c < {need} THEN {est} END")
        ).cast("long")

    return cum.agg(
        F.lit(bid).cast("int").alias("bid"),
        F.max("n").cast("long").alias("n_prior"),
        pick(50).alias("p50_cents"),
        pick(90).alias("p90_cents"),
    )


def hist_probe_then_absorb(spark: SparkSession, out_dir: str, state_dir: str):
    """st17's per-micro-batch body (the st13/st14 sketch-state shape):
    prior state = SUM-merge of all PRIOR batches' persisted histogram
    tables. Batch 0 has no prior and emits nothing."""

    def probe_then_absorb(bdf: DataFrame, bid: int) -> None:
        if bid > 0:
            prior = (
                read_all_prior(spark, state_dir, "h_", bid, _ST17_STATE_SCHEMA)
                .groupBy("bucket")
                .agg(F.sum("c").cast("long").alias("c"))
            )
            out = st17_prior_quantiles(prior, bid)
        else:
            out = spark.createDataFrame([], _ST17_OUT_SCHEMA)
        save_gen(out, out_dir, "batch=", bid)
        save_gen(st17_value_hist(bdf), state_dir, "h_", bid)

    return probe_then_absorb


@query(
    "st17_stream_hist_quantile",
    oracle="""
WITH ev AS (
  SELECT event_id % 4 AS bid,
         CAST(floor(value * 100) AS BIGINT) // 1000 AS bucket
  FROM events
), h AS (
  SELECT bid, bucket, CAST(count(*) AS BIGINT) AS c
  FROM ev GROUP BY 1, 2
), prior AS (
  SELECT p.bid, h.bucket, CAST(sum(h.c) AS BIGINT) AS c
  FROM (SELECT DISTINCT bid FROM ev WHERE bid > 0) p
  JOIN h ON h.bid < p.bid
  GROUP BY 1, 2
), cum AS (
  SELECT bid, bucket, c,
         sum(c) OVER (PARTITION BY bid ORDER BY bucket
                      ROWS UNBOUNDED PRECEDING) AS cum,
         sum(c) OVER (PARTITION BY bid) AS n
  FROM prior
)
SELECT CAST(bid AS INT) AS bid,
       CAST(max(n) AS BIGINT) AS n_prior,
       CAST(max(CASE WHEN cum >= ((n * 50 + 99) // 100)
                      AND cum - c < ((n * 50 + 99) // 100)
                     THEN (bucket * 1000)
                          + ((((n * 50 + 99) // 100) - (cum - c)) * 1000) // c
                END) AS BIGINT) AS p50_cents,
       CAST(max(CASE WHEN cum >= ((n * 90 + 99) // 100)
                      AND cum - c < ((n * 90 + 99) // 100)
                     THEN (bucket * 1000)
                          + ((((n * 90 + 99) // 100) - (cum - c)) * 1000) // c
                END) AS BIGINT) AS p90_cents
FROM cum
GROUP BY bid
ORDER BY bid
""",
)
def st17_stream_hist_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming QUANTILE tracking from mergeable histogram state —
    the third member of the sketch-state ingest family (st13 bloom =
    membership, st14 count-min = frequency, st17 histogram =
    DISTRIBUTION): events arrive as four ordered micro-batches; each
    batch reports the p50/p90 of everything seen in PRIOR batches from
    the SUM-merge of their persisted bucket tables, then persists its
    own histogram. The live latency-dashboard shape ("p90 so far"),
    with per-batch state that is O(#buckets) rows regardless of event
    volume — the value stream itself is never retained.

    Every operation is integer (floor cents, truncating div on
    positive values), so the DuckDB oracle replays each batch's merged
    prior histogram and interpolated quantile estimate bit-for-bit."""
    ev = load(spark, sf_dir, "events").select("event_id", "value")
    chunks = [ev.filter(F.pmod("event_id", F.lit(4)) == i) for i in range(4)]
    staged = stage_ordered(chunks, name="st17_landing")
    out_dir = scratch_dir("st17_out") + "/quantiles"
    state_dir = scratch_dir("st17_state")
    probe_then_absorb = hist_probe_then_absorb(spark, out_dir, state_dir)

    run_foreach_batch(
        read_staged(spark, staged, ev.schema, max_files_per_trigger=1),
        probe_then_absorb,
    )
    return (
        spark.read.schema(_ST17_OUT_SCHEMA)
        .parquet(out_dir)
        .select("bid", "n_prior", "p50_cents", "p90_cents")
        .orderBy("bid")
    )


#: st18's output schema (st14 convention: shared by batch-0 empty frame
#: and schema'd read-back).
_ST18_OUT_SCHEMA = "bid int, source string, doc_id long, priority long"

#: st18's per-batch candidate table, as st18_batch_candidates writes it.
_ST18_STATE_SCHEMA = "source string, doc_id long, priority long"


def st18_batch_candidates(bdf: DataFrame) -> DataFrame:
    """st18's per-batch candidate selection: each batch's own top-5
    priorities per source. Truncating per batch is LOSSLESS for the
    running sample — any member of the merged top-5 is necessarily in
    its own batch's top-5 (the classic mergeable-top-k argument) — so
    the persisted state is k rows per (batch, source), never the
    corpus."""
    from pyspark.sql import Window

    from recipes_spark.functions.portable_hash import weighted_priority

    prio = bdf.filter(F.col("n_chars") > 0).select(
        "source",
        "doc_id",
        weighted_priority("doc_id", "n_chars").alias("priority"),
    )
    w = Window.partitionBy("source").orderBy("priority", "doc_id")
    return (
        prio.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )


def sample_merge_then_emit(spark: SparkSession, out_dir: str, state_dir: str):
    """st18's per-micro-batch body: merge own candidates with all PRIOR
    batches' persisted candidate tables, emit the RUNNING top-5 per
    source (batches 0..bid inclusive — a live sample, so batch 0 emits
    too), persist own candidates."""
    from pyspark.sql import Window

    def merge_then_emit(bdf: DataFrame, bid: int) -> None:
        own = st18_batch_candidates(bdf)
        pool = own.unionByName(
            read_all_prior(spark, state_dir, "s_", bid, _ST18_STATE_SCHEMA)
        )
        w = Window.partitionBy("source").orderBy("priority", "doc_id")
        out = (
            pool.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 5)
            .select(
                F.lit(bid).cast("int").alias("bid"),
                "source",
                "doc_id",
                "priority",
            )
        )
        save_gen(out, out_dir, "batch=", bid)
        save_gen(own, state_dir, "s_", bid)

    return merge_then_emit


@query(
    "st18_stream_weighted_sample",
    oracle="""
WITH docs AS (
  SELECT doc_id, source, n_chars, doc_id % 4 AS bid
  FROM documents WHERE n_chars > 0
), pr AS (
  SELECT doc_id, source, bid,
         CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) // n_chars AS priority
  FROM docs
), bids AS (
  SELECT unnest(range(0, 4)) AS obid
), ranked AS (
  SELECT b.obid, p.source, p.doc_id, p.priority,
         row_number() OVER (PARTITION BY b.obid, p.source
                            ORDER BY p.priority, p.doc_id) AS rn
  FROM bids b JOIN pr p ON p.bid <= b.obid
)
SELECT CAST(obid AS INT) AS bid, source, doc_id, priority
FROM ranked WHERE rn <= 5
ORDER BY bid, source, doc_id
""",
)
def st18_stream_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming WEIGHTED RESERVOIR — the sampling member of the
    sketch-state ingest family (st13 membership, st14 frequency, st17
    distribution, st18 SAMPLE): the corpus arrives as four ordered
    micro-batches; after each, the engine emits the running top-5
    hash-priority sample per source over everything seen so far.
    Deterministic priorities (weighted_priority, the exact same
    expression x6_weighted_sample uses) make the streaming sample
    EQUAL to the batch sample over the same prefix — the property
    rand()-based reservoirs cannot have and the DuckDB oracle checks
    per prefix. State per batch = its own top-5 per source (mergeable
    top-k: truncation is lossless for the union's top-5), so state
    size is k x sources x batches rows — never the corpus.
    Retry-idempotent by the state contract of streaming/core.py."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    chunks = [d.filter(F.pmod("doc_id", F.lit(4)) == i) for i in range(4)]
    staged = stage_ordered(chunks, name="st18_landing")
    out_dir = scratch_dir("st18_out") + "/sample"
    state_dir = scratch_dir("st18_state")
    merge_then_emit = sample_merge_then_emit(spark, out_dir, state_dir)

    run_foreach_batch(
        read_staged(spark, staged, d.schema, max_files_per_trigger=1),
        merge_then_emit,
    )
    return (
        spark.read.schema(_ST18_OUT_SCHEMA)
        .parquet(out_dir)
        .select("bid", "source", "doc_id", "priority")
        .orderBy("bid", "source", "doc_id")
    )


#: st19's output schema (family convention).
_ST19_OUT_SCHEMA = "bid int, node long, component long"

#: st19's label table, as connected_components writes it.
_ST19_STATE_SCHEMA = "node long, component long"


def _chain_edges(nodes: DataFrame) -> DataFrame:
    """st19's deterministic near-dup graph over the PRESENT node set:
    i — i+1 within runs of 7 (components therefore span ingest-batch
    boundaries), an edge existing only when both endpoints are
    present."""
    return (
        nodes.filter((F.col("node") % 7) != 6)
        .select(
            F.col("node").alias("src"), (F.col("node") + 1).alias("dst")
        )
        .join(nodes.select(F.col("node").alias("dst")), "dst")
    )


def cc_merge_then_emit(spark: SparkSession, out_dir: str, state_dir: str):
    """st19's per-micro-batch body: read the PRIOR batch's label table,
    run connected_components over the now-present node set SEEDED with
    those labels (new nodes default to themselves; confluence
    guarantees the result equals a full recompute), persist the new
    label table under this bid, emit the full running labeling.
    Batch 0 has no labels to seed with."""
    from recipes_spark.operators.dedup import connected_components

    def merge_then_emit(bdf: DataFrame, bid: int) -> None:
        new_nodes = bdf.select(F.col("doc_id").alias("node"))
        if bid > 0:
            prior = read_prior(spark, state_dir, "l_", bid, _ST19_STATE_SCHEMA)
            nodes = prior.select("node").unionByName(new_nodes).distinct()
            labels = connected_components(
                nodes, _chain_edges(nodes), initial_labels=prior
            )
        else:
            labels = connected_components(
                new_nodes, _chain_edges(new_nodes)
            )
        labels = labels.localCheckpoint(eager=True)
        save_gen(labels, state_dir, "l_", bid)
        save_gen(
            labels.select(
                F.lit(bid).cast("int").alias("bid"), "node", "component"
            ),
            out_dir, "batch=", bid,
        )

    return merge_then_emit


@query(
    "st19_stream_incremental_cc",
    oracle="""
WITH params AS (
  SELECT CAST(ceil(count(*) / 4.0) AS BIGINT) AS chunk FROM documents
), bids AS (
  SELECT unnest(range(0, 4)) AS bid
)
SELECT CAST(b.bid AS INT) AS bid,
       d.doc_id AS node,
       CAST(d.doc_id - (d.doc_id % 7) AS BIGINT) AS component
FROM bids b, params p, documents d
WHERE d.doc_id < (b.bid + 1) * p.chunk
ORDER BY bid, node
""",
)
def st19_stream_incremental_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DEDUP-CLUSTER MAINTENANCE — the state of the
    sketch-state family is now a LABELING: documents arrive as four
    ordered id-range batches over a chain graph whose components (runs
    of 7) span batch boundaries; each batch runs
    connected_components SEEDED with the previous batch's persisted
    labels (x2_incremental_cc's operator) and emits the full running
    labeling. Seeding makes the per-batch cost proportional to the NEW
    structure — old components are already collapsed — while
    confluence keeps every emitted labeling EXACTLY equal to a full
    recompute over everything seen, which is what the closed-form
    oracle checks per prefix (id-prefix arrival truncates runs, so the
    component id is the run minimum at every prefix).

    Each batch reads only bid-1's label table (the retry contract of
    streaming/core.py). At 100 TB
    the label table is a partitioned parquet keyed by node — the same
    store the catalog upsert maintains — and per-night work is the
    attachment structure, not the corpus."""
    d = load(spark, sf_dir, "documents").select("doc_id")
    n = d.count()
    chunk = -(-n // 4)
    chunks = [
        d.filter(
            (F.col("doc_id") >= i * chunk) & (F.col("doc_id") < (i + 1) * chunk)
        )
        for i in range(4)
    ]
    staged = stage_ordered(chunks, name="st19_landing")
    out_dir = scratch_dir("st19_out") + "/labels"
    state_dir = scratch_dir("st19_state")
    merge_then_emit = cc_merge_then_emit(spark, out_dir, state_dir)

    run_foreach_batch(
        read_staged(spark, staged, d.schema, max_files_per_trigger=1),
        merge_then_emit,
    )
    return (
        spark.read.schema(_ST19_OUT_SCHEMA)
        .parquet(out_dir)
        .select("bid", "node", "component")
        .orderBy("bid", "node")
    )


#: st20's carry-state / output schema (family convention). lv = latest
#: view micros, lqc = latest qualified-click micros, np/nc = running
#: purchase / conversion counts.
_ST20_STATE_SCHEMA = "user_id long, lv long, lqc long, np long, nc long"

#: view->click->purchase hop window, micros — MUST equal the batch
#: twin's (queries/events.event_pattern_match).
_ST20_HOP = 86_400_000_000


def pattern_advance_factory(spark: SparkSession, state_dir: str):
    """st20's per-micro-batch body: load the prior batch's per-user
    funnel state (latest view, latest qualified click, running
    counts), advance it through this batch's events with the SAME two
    stacked strictly-preceding running maxes as the batch twin —
    each seeded by the carried value via greatest() — and persist the
    new state under this bid. Because batches are time-ordered
    prefixes (stage_events_ordered's CDC contract), the carried
    maxima are always <= every in-batch timestamp, so the seeded
    running max telescopes exactly like one global pass: the final
    state IS the batch answer."""

    def pattern_advance(bdf: DataFrame, bid: int) -> None:
        e = bdf.select(
            "user_id", "event_type", "event_id",
            F.unix_micros("ts").alias("us"),
        )
        st = read_prior(spark, state_dir, "s_", bid, _ST20_STATE_SCHEMA)
        j = e.join(st, "user_id", "left")
        w = (
            Window.partitionBy("user_id")
            .orderBy("us", "event_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        is_view = F.col("event_type") == "view"
        s1 = j.withColumn(
            "lv_eff",
            F.greatest(
                F.max(F.when(is_view, F.col("us"))).over(w), F.col("lv")
            ),
        )
        s1a = s1.withColumn(
            "qc_us",
            F.when(
                (F.col("event_type") == "click")
                & (F.col("us") - F.col("lv_eff") <= _ST20_HOP),
                F.col("us"),
            ),
        )
        s2 = s1a.withColumn(
            "lqc_eff", F.greatest(F.max("qc_us").over(w), F.col("lqc"))
        )
        is_purchase = F.col("event_type") == "purchase"
        converted = is_purchase & (
            F.col("us") - F.col("lqc_eff") <= _ST20_HOP
        )
        advanced = s2.groupBy("user_id").agg(
            F.greatest(
                F.max(F.when(is_view, F.col("us"))), F.max("lv")
            ).alias("lv"),
            F.greatest(F.max("qc_us"), F.max("lqc")).alias("lqc"),
            (F.coalesce(F.max("np"), F.lit(0)) + F.count_if(is_purchase))
            .cast("long").alias("np"),
            (F.coalesce(F.max("nc"), F.lit(0)) + F.count_if(converted))
            .cast("long").alias("nc"),
        )
        carried = st.join(e.select("user_id").distinct(), "user_id", "left_anti")
        save_gen(advanced.unionByName(carried), state_dir, "s_", bid)

    return pattern_advance


@query("st20_stream_pattern_match", oracle=PATTERN_FUNNEL_ORACLE)
def st20_stream_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SEQUENCE DETECTION — the funnel state machine as
    streaming state: view -> click -> purchase with 24h hops, over
    four time-ordered micro-batches (the CDC in-order contract). The
    per-user state is three integers (latest view, latest qualified
    click, counts) — O(users), never the event stream — advanced each
    batch by the exact expression tree of the batch twin seeded with
    the carried maxima, so the final state equals
    event_pattern_match over the whole stream and shares its full
    DuckDB oracle verbatim. The production always-on form keeps the
    same state in applyInPandasWithState / a keyed store; the
    telescoping argument (carried max <= all later timestamps) is
    what makes per-batch advancement exact rather than approximate.
    Batch N reads only state N-1 (streaming/core.py's retry
    contract)."""
    staged = stage_events_ordered(spark, sf_dir, chunks=4)
    schema = load(spark, sf_dir, "events").schema
    state_dir = scratch_dir("st20_state")
    pattern_advance = pattern_advance_factory(spark, state_dir)

    run_foreach_batch(
        read_staged(spark, staged, schema, max_files_per_trigger=1),
        pattern_advance,
    )
    return (
        read_latest(spark, state_dir, "s_", _ST20_STATE_SCHEMA)
        .select(
            "user_id",
            F.col("np").alias("n_purchase"),
            F.col("nc").alias("n_converted"),
        )
        .orderBy("user_id")
    )


#: st21's output schema (family convention).
_ST21_OUT_SCHEMA = "bid int, event_id long, event_type string, z_micro long"

#: st21's state schema: three exact integers per type — the whole
#: sufficient statistic for the running mean/sd.
_ST21_STATE_SCHEMA = "event_type string, n long, sc long, sq long"


def st21_batch_moments(bdf: DataFrame) -> DataFrame:
    """st21's per-batch moment agg — count / sum / sum-of-squares of
    integer cents per type. This IS the mergeable anomaly state (three
    int64 per key; SUM-merge = exact pooled moments)."""
    cents = F.floor(F.col("value") * 100).cast("long")
    return (
        bdf.select("event_type", cents.alias("c"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("c").cast("long").alias("sc"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("sq"),
        )
    )


def moments_probe_then_absorb(spark: SparkSession, out_dir: str, state_dir: str):
    """st21's per-micro-batch body (the sketch-state shape): score this
    batch's events against the SUM-merge of all PRIOR batches' moment
    tables (z = (x - mean_prior) / sd_prior, the fixed-expression
    discipline over exact integers), emit the >= 3-sigma outliers,
    persist own moments. Batch 0 has no prior — it emits nothing and
    only absorbs (the cold-start rule the oracle replays)."""

    def probe_then_absorb(bdf: DataFrame, bid: int) -> None:
        if bid > 0:
            prior = (
                read_all_prior(spark, state_dir, "m_", bid, _ST21_STATE_SCHEMA)
                .groupBy("event_type")
                .agg(
                    F.sum("n").cast("long").alias("n"),
                    F.sum("sc").cast("long").alias("sc"),
                    F.sum("sq").cast("long").alias("sq"),
                )
            )
            cents = F.floor(F.col("value") * 100).cast("long")
            scored = bdf.select(
                "event_id", "event_type", cents.alias("c")
            ).join(prior.filter(F.col("n") >= 2), "event_type")
            z = (F.col("c") - F.col("sc") / F.col("n")) / F.sqrt(
                (F.col("sq") - F.col("sc") * F.col("sc") / F.col("n"))
                / F.col("n")
            )
            out = scored.filter(z >= 3.0).select(
                F.lit(bid).cast("int").alias("bid"),
                "event_id",
                "event_type",
                F.floor(F.lit(1000000.0) * z).alias("z_micro"),
            )
        else:
            out = spark.createDataFrame([], _ST21_OUT_SCHEMA)
        save_gen(out, out_dir, "batch=", bid)
        save_gen(st21_batch_moments(bdf), state_dir, "m_", bid)

    return probe_then_absorb


@query(
    "st21_stream_anomaly",
    oracle="""
WITH ev AS (
  SELECT event_id, event_type, event_id % 4 AS bid,
         CAST(floor(value * 100) AS BIGINT) AS c
  FROM events
), moments AS (
  SELECT bid, event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS sc,
         CAST(sum(c * c) AS BIGINT) AS sq
  FROM ev GROUP BY 1, 2
), prior AS (
  SELECT b.bid, m.event_type,
         CAST(sum(m.n) AS BIGINT) AS n,
         CAST(sum(m.sc) AS BIGINT) AS sc,
         CAST(sum(m.sq) AS BIGINT) AS sq
  FROM (SELECT DISTINCT bid FROM ev WHERE bid > 0) b
  JOIN moments m ON m.bid < b.bid
  GROUP BY 1, 2
)
SELECT CAST(e.bid AS INT) AS bid, e.event_id, e.event_type,
       CAST(floor(1000000.0 * (e.c - p.sc / p.n)
            / sqrt((p.sq - CAST(p.sc AS DOUBLE) * p.sc / p.n) / p.n))
            AS BIGINT) AS z_micro
FROM ev e JOIN prior p ON p.bid = e.bid AND p.event_type = e.event_type
WHERE p.n >= 2
  AND (e.c - p.sc / p.n)
      / sqrt((p.sq - CAST(p.sc AS DOUBLE) * p.sc / p.n) / p.n) >= 3.0
ORDER BY bid, event_id
""",
)
def st21_stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OUTLIER detection — the sixth sketch-state family
    member (bloom membership, count-min frequency, histogram
    distribution, top-k sample, CC labeling, now MOMENTS): each
    micro-batch scores its events against the running mean/sd of
    everything seen in PRIOR batches and emits the >= 3-sigma
    spenders. The state is THREE exact int64 per event type (count,
    sum-cents, sum-of-squares) — SUM-mergeable, so pooled moments are
    exact whatever the batch boundaries, and the z expression is the
    fixed-shape double form over exact integers (the corr
    discipline) that the DuckDB oracle replays per batch bit-for-bit.
    Batch 0 only absorbs (no prior to score against); types need
    n >= 2 prior observations before scoring (sd undefined below).

    100 TB: per-batch work is one map-side-combining moment agg plus
    a broadcast join of the tiny state onto the batch — the stream
    never buffers, the state never grows past #types rows."""
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    chunks = [ev.filter(F.pmod("event_id", F.lit(4)) == i) for i in range(4)]
    staged = stage_ordered(chunks, name="st21_landing")
    out_dir = scratch_dir("st21_out") + "/anomalies"
    state_dir = scratch_dir("st21_state")
    probe_then_absorb = moments_probe_then_absorb(spark, out_dir, state_dir)

    run_foreach_batch(
        read_staged(spark, staged, ev.schema, max_files_per_trigger=1),
        probe_then_absorb,
    )
    return (
        spark.read.schema(_ST21_OUT_SCHEMA)
        .parquet(out_dir)
        .select("bid", "event_id", "event_type", "z_micro")
        .orderBy("bid", "event_id")
    )


#: st22's carry-state: per type, the last processed bucket, the running
#: drift sum cs, and the prefix minimum of cs.
_ST22_STATE_SCHEMA = "event_type string, last_b long, cs long, minp long"

_ST22_OUT_SCHEMA = "event_type string, bucket long, x long, cusum long"

#: Fixed drift slack (events/hour above which excess accumulates) and
#: alarm threshold — SPEC constants shared with the oracle; a streaming
#: CUSUM cannot derive k from a global mean it has not seen.
_ST22_K = 3
_ST22_H = 10


def cusum_advance_factory(spark: SparkSession, out_dir: str, state_dir: str):
    """st22's per-micro-batch body: per event type, zero-fill the
    hourly buckets from the carried last bucket through this batch's
    per-type maximum (batches are BUCKET-ALIGNED prefixes, so only
    past buckets ever arrive), advance the closed-form CUSUM with the
    carried (cs, prefix-min) seeds — cs_t = carried_cs + local cumsum
    of (x − k); prefix-min telescopes through least(carried, local
    running min) — and emit buckets whose cusum = cs − min(0,
    prefix_min) crosses the alarm threshold. Types absent from a
    batch stay frozen (their grid extends when they next appear, so
    trailing zeros past a type's final observation are never
    fabricated — exactly the batch twin's per-type span)."""

    def cusum_advance(bdf: DataFrame, bid: int) -> None:
        c = (
            bdf.select(
                "event_type",
                F.expr("unix_micros(ts) div 3600000000").alias("b"),
            )
            .groupBy("event_type", "b")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        st = read_prior(spark, state_dir, "s_", bid, _ST22_STATE_SCHEMA)
        spans = c.groupBy("event_type").agg(
            F.min("b").alias("bmn"), F.max("b").alias("bmx")
        )
        bounds = spans.join(st, "event_type", "left").select(
            "event_type",
            F.coalesce(F.col("last_b") + 1, F.col("bmn")).alias("start"),
            F.col("bmx").alias("end"),
            F.coalesce("cs", F.lit(0)).alias("cs0"),
            "minp",
        )
        grid = bounds.select(
            "event_type", "cs0", "minp",
            F.explode(F.sequence("start", "end")).alias("b"),
        )
        filled = grid.join(c, ["event_type", "b"], "left").select(
            "event_type", "b", "cs0", "minp",
            F.coalesce("n", F.lit(0)).alias("x"),
        )
        w = (
            Window.partitionBy("event_type")
            .orderBy("b")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cs_t = F.col("cs0") + F.sum(F.col("x") - F.lit(_ST22_K)).over(w)
        stepped = filled.select(
            "event_type", "b", "x", "minp", cs_t.alias("cs")
        ).select(
            "event_type", "b", "x", "cs",
            F.least(F.min("cs").over(w), F.col("minp")).alias("minp"),
        ).localCheckpoint(eager=True)
        cusum = F.col("cs") - F.least(F.col("minp"), F.lit(0))
        alarms = stepped.filter(cusum >= _ST22_H).select(
            "event_type",
            F.col("b").alias("bucket"),
            "x",
            cusum.cast("long").alias("cusum"),
        )
        save_gen(alarms, out_dir, "batch=", bid)
        advanced = stepped.groupBy("event_type").agg(
            F.max("b").alias("last_b"),
            F.max_by("cs", "b").alias("cs"),
            F.min("minp").alias("minp"),
        )
        frozen = st.join(
            advanced.select("event_type"), "event_type", "left_anti"
        )
        save_gen(advanced.unionByName(frozen), state_dir, "s_", bid)

    return cusum_advance


@query(
    "st22_stream_cusum",
    oracle="""
WITH c AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS b,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), grid AS (
  SELECT event_type, unnest(range(min(b), max(b) + 1)) AS b
  FROM c GROUP BY event_type
), filled AS (
  SELECT g.event_type, g.b, coalesce(c.n, 0) AS x
  FROM grid g LEFT JOIN c ON c.event_type = g.event_type AND c.b = g.b
), cs AS (
  SELECT event_type, b, x,
         sum(x - 3) OVER (PARTITION BY event_type ORDER BY b
                          ROWS UNBOUNDED PRECEDING) AS cs
  FROM filled
), s AS (
  SELECT event_type, b, x, cs,
         min(cs) OVER (PARTITION BY event_type ORDER BY b
                       ROWS UNBOUNDED PRECEDING) AS low_water
  FROM cs
)
SELECT event_type, b AS bucket, x,
       CAST(cs - least(low_water, 0) AS BIGINT) AS cusum
FROM s
WHERE cs - least(low_water, 0) >= 10
ORDER BY event_type, bucket
""",
)
def st22_stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CUSUM drift detection — the seventh sketch-state
    family member: the per-type state is THREE integers (last bucket,
    running drift sum, its prefix minimum), advanced per bucket-
    aligned micro-batch by the same closed form as the batch
    window_cusum, with fixed spec constants k=3, h=10 (a stream
    cannot derive the slack from a mean it has not seen). The union
    of all batches' alarm emissions must equal the one-pass batch
    computation over the whole span — which is the DuckDB oracle —
    because the cumulative sum and its prefix minimum both telescope
    through the carried seeds, and per-type grids only extend when a
    type reappears (no fabricated trailing zeros).

    Batches split on hour-bucket boundaries (the checkpoint-at-window-
    boundary contract every streaming aggregator keeps)."""
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "ts")
    bcol = F.expr("unix_micros(ts) div 3600000000")
    lo, hi = (
        ev.agg(F.min(bcol).alias("lo"), F.max(bcol).alias("hi"))
        .collect()[0]
    )
    width = -(-(hi - lo + 1) // 4)
    chunks = [
        ev.filter(
            (bcol >= lo + i * width) & (bcol < lo + (i + 1) * width)
        )
        for i in range(4)
    ]
    staged = stage_ordered(chunks, name="st22_landing")
    out_dir = scratch_dir("st22_out") + "/alarms"
    state_dir = scratch_dir("st22_state")
    cusum_advance = cusum_advance_factory(spark, out_dir, state_dir)

    run_foreach_batch(
        read_staged(spark, staged, ev.schema, max_files_per_trigger=1),
        cusum_advance,
    )
    return (
        spark.read.schema(_ST22_OUT_SCHEMA)
        .parquet(out_dir)
        .select("event_type", "bucket", "x", "cusum")
        .orderBy("event_type", "bucket")
    )


#: st23's carry-state: per user, the latest click seen (ts micros,
#: event id for same-instant tiebreak, campaign).
_ST23_STATE_SCHEMA = "user_id long, cus long, ceid long, campaign long"

_ST23_OUT_SCHEMA = "bid int, campaign string, n long, cents long"

_ST23_WINDOW = 604_800_000_000  # 7 days, micros — the batch twin's


def attribution_advance_factory(spark: SparkSession, out_dir: str,
                                state_dir: str):
    """st23's per-micro-batch body: union the carried latest-click row
    per user with this batch's clicks, resolve the batch's purchases
    against that union with the SAME backward as-of + 7-day tolerance
    as the batch twin (in-order batches mean the carried click is <=
    every in-batch timestamp, so the union IS the full click history
    as far as any in-batch purchase can see), emit this batch's
    credited (campaign, n, cents) rows, and carry forward each user's
    new latest click by (ts, event_id) struct-max."""
    from recipes_spark.operators.joins import asof_join

    def attribution_advance(bdf: DataFrame, bid: int) -> None:
        e = bdf.select(
            "event_id", "user_id", "event_type",
            F.unix_micros("ts").alias("us"),
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
            F.expr("cast(get_json_object(props, '$.k') as bigint) div 20")
            .alias("campaign"),
        )
        st = read_prior(spark, state_dir, "s_", bid, _ST23_STATE_SCHEMA)
        clicks = e.filter(F.col("event_type") == "click").select(
            "user_id", F.col("us").alias("cus"),
            F.col("event_id").alias("ceid"), "campaign",
        ).unionByName(st)
        wtie = Window.partitionBy("user_id", "cus").orderBy(F.desc("ceid"))
        c = (
            clicks.withColumn("rn", F.row_number().over(wtie))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        probes = e.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "us", "cents"
        )
        looked = asof_join(
            probes, c.withColumnRenamed("campaign", "ccamp"),
            left_ts="us", right_ts="cus", by="user_id",
            value_cols=["ccamp", "cus"], tiebreak="ceid",
        )
        fresh = F.col("ccamp").isNotNull() & (
            F.col("us") - F.col("cus") <= _ST23_WINDOW
        )
        credits = looked.select(
            F.lit(bid).cast("int").alias("bid"),
            F.when(fresh, F.col("ccamp").cast("string"))
            .otherwise("~organic").alias("campaign"),
            "cents",
        ).groupBy("bid", "campaign").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cents"),
        )
        save_gen(credits, out_dir, "batch=", bid)
        new_state = (
            clicks.groupBy("user_id")
            .agg(F.max(F.struct("cus", "ceid", "campaign")).alias("m"))
            .select(
                "user_id",
                F.col("m.cus").alias("cus"),
                F.col("m.ceid").alias("ceid"),
                F.col("m.campaign").alias("campaign"),
            )
        )
        save_gen(new_state, state_dir, "s_", bid)

    return attribution_advance


@query("st23_stream_attribution", oracle=ATTRIBUTION_ORACLE)
def st23_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming LAST-TOUCH ATTRIBUTION: the revenue-credit table
    maintained incrementally — per-user state is ONE row (latest
    click's instant, id, campaign), each time-ordered micro-batch
    resolves its own purchases against carried-state ∪ in-batch
    clicks with the exact batch as-of + tolerance, and the summed
    per-batch credits equal event_attribution_lasttouch over the
    whole stream — the oracle is shared verbatim. The live marketing
    dashboard shape: credits append, state stays O(users), purchases
    are never re-resolved.

    The carried click is <= every in-batch timestamp (in-order
    contract), so the one-row state is sufficient history — the same
    telescoping argument as st20's funnel maxima, applied to an
    argmax instead."""
    staged = stage_events_ordered(spark, sf_dir, chunks=4)
    schema = load(spark, sf_dir, "events").schema
    out_dir = scratch_dir("st23_out") + "/credits"
    state_dir = scratch_dir("st23_state")
    advance = attribution_advance_factory(spark, out_dir, state_dir)

    run_foreach_batch(
        read_staged(spark, staged, schema, max_files_per_trigger=1),
        advance,
    )
    return (
        spark.read.schema(_ST23_OUT_SCHEMA)
        .parquet(out_dir)
        .groupBy("campaign")
        .agg(
            F.sum("n").cast("long").alias("n_purchases"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
        .orderBy("campaign")
    )


#: st24's HLL geometry: p=10 → 1024 registers; the rank lives in the
#: 52-bit hash remainder, so register values span 1..53.
_ST24_P_BUCKETS = 1024
_ST24_STATE_SCHEMA = "bucket long, reg long"


def st24_batch_registers(bdf: DataFrame) -> DataFrame:
    """st24's per-batch HLL register build — the mergeable cardinality
    state, computed with the PORTABLE sha256-slice hash so the oracle
    replays every register exactly (the same cross-engine trick as
    st13's bloom positions): bucket = first-8-hex slice mod 1024, rank
    = leading-zero count of the 52-bit remainder + 1, computed in
    exact integers as 53 - bitlength (length(bin(x)) — identical in
    Spark and DuckDB, verified down to bin(0)). One map-side-combining
    MAX agg; the state is ≤1024 rows per batch regardless of corpus
    size."""
    bucket = F.expr(
        "pmod(cast(conv(substring(sha2(text, 256), 1, 8), 16, 10)"
        " as bigint), 1024)"
    )
    rest = F.expr(
        "cast(conv(substring(sha2(text, 256), 9, 13), 16, 10) as bigint)"
    )
    rank = F.when(rest == 0, F.lit(53)).otherwise(
        53 - F.length(F.expr("bin(cast(conv(substring(sha2(text, 256),"
                             " 9, 13), 16, 10) as bigint))"))
    )
    return (
        bdf.select(bucket.alias("bucket"), rank.cast("long").alias("rank"))
        .groupBy("bucket")
        .agg(F.max("rank").alias("reg"))
    )


def hll_merge_then_persist(spark: SparkSession, state_dir: str):
    """st24's per-micro-batch body: MAX-merge this batch's registers
    into the carried register table and persist per bid — the HLL
    union is register-wise max, associative and commutative, so the
    final state telescopes to the whole-corpus build no matter how the
    stream was batched."""

    def merge_then_persist(bdf: DataFrame, bid: int) -> None:
        regs = read_prior(
            spark, state_dir, "s_", bid, _ST24_STATE_SCHEMA
        ).unionByName(st24_batch_registers(bdf))
        save_gen(
            regs.groupBy("bucket").agg(F.max("reg").alias("reg")),
            state_dir, "s_", bid,
        )

    return merge_then_persist


@query(
    "st24_stream_hll",
    oracle="""
WITH r AS (
  SELECT CAST('0x' || substr(sha256(text), 1, 8) AS BIGINT) % 1024 AS bucket,
         CAST('0x' || substr(sha256(text), 9, 13) AS BIGINT) AS rest
  FROM documents
)
SELECT bucket,
       CAST(max(CASE WHEN rest = 0 THEN 53
                     ELSE 53 - length(bin(rest)) END) AS BIGINT) AS reg
FROM r
GROUP BY bucket
ORDER BY bucket
""",
)
def st24_stream_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CARDINALITY sketch — the eighth sketch-state family
    member (bloom st13, count-min st14, histogram st17, sample st18,
    CC labels st19, funnel st20, moments st21, cusum st22,
    attribution st23): an HLL register table maintained across four
    ordered micro-batches by register-wise MAX merge. Unlike the
    rows-only DataSketches estimate (x2_hll_mergeable_distinct), the
    REGISTERS here are exact integers under the portable sha256-slice
    hash, so the final streamed state is verified BIT-FOR-BIT against
    a one-pass DuckDB build over the whole corpus — max-merge
    associativity is the telescoping argument, the same one st20's
    maxima and st22's prefix minima ride. The estimate itself stays a
    driver-side double (harmonic mean over ≤1024 registers — never
    shuffled, summation-order-dependent, hence excluded from the
    hash).

    100 TB: per-batch state is ≤1024 rows regardless of corpus size;
    per-source or per-day register tables union the same way, which
    is what makes global distinct queries a kilobyte-merge instead of
    a corpus re-shuffle."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = [d.filter(F.pmod("doc_id", F.lit(4)) == i) for i in range(4)]
    staged = stage_ordered(chunks, name="st24_landing")
    state_dir = scratch_dir("st24_state")
    merge_then_persist = hll_merge_then_persist(spark, state_dir)

    run_foreach_batch(
        read_staged(spark, staged, d.schema, max_files_per_trigger=1),
        merge_then_persist,
    )
    return read_latest(spark, state_dir, "s_", _ST24_STATE_SCHEMA).orderBy(
        "bucket"
    )


def st24_estimate(registers: list[tuple[int, int]], p: int = 10) -> float:
    """Driver-side HLL estimate from st24's register table (≤2^p rows —
    the ONLY place doubles appear in the family member; the registers
    themselves stay exact integers): standard bias-corrected harmonic
    mean with the linear-counting small-range correction. Absent
    buckets are empty registers (rank 0)."""
    import math

    m = 1 << p
    regs = dict(registers)
    s = sum(2.0 ** -regs.get(j, 0) for j in range(m))
    alpha = 0.7213 / (1 + 1.079 / m)
    est = alpha * m * m / s
    zeros = m - len(regs)
    if est <= 2.5 * m and zeros:
        est = m * math.log(m / zeros)
    return est


_ST25_STATE_SCHEMA = (
    "event_type string, last_us long, last_eid long, last_cents long,"
    " wsum long, n long, min_us long"
)


def twap_advance_factory(spark: SparkSession, state_dir: str):
    """st25's per-micro-batch body: union the carried LAST event per
    type with this batch, accumulate the step-interpolated weighted
    sum over that union (the carried event is <= every in-batch
    timestamp under the in-order contract, so the boundary holding
    interval is priced exactly), and carry forward the new last event
    by (ts, event_id) struct-max plus the running totals."""

    def twap_advance(bdf: DataFrame, bid: int) -> None:
        e = bdf.select(
            "event_type",
            F.unix_micros("ts").alias("us"),
            F.col("event_id").cast("long").alias("eid"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        st = read_prior(spark, state_dir, "s_", bid, _ST25_STATE_SCHEMA)
        carried = st.select(
            "event_type",
            F.col("last_us").alias("us"),
            F.col("last_eid").alias("eid"),
            F.col("last_cents").alias("cents"),
        )
        u = carried.unionByName(e)
        w = Window.partitionBy("event_type").orderBy("us", "eid")
        stepped = u.withColumn("nxt", F.lead("us").over(w))
        inc = stepped.groupBy("event_type").agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("nxt").isNotNull(),
                        F.col("cents") * (F.col("nxt") - F.col("us")),
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("inc_wsum"),
            F.max(F.struct("us", "eid", "cents")).alias("last"),
        )
        own = e.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n_b"),
            F.min("us").alias("mn_b"),
        )
        merged = (
            st.join(inc, "event_type", "full")
            .join(own, "event_type", "full")
            .select(
                "event_type",
                F.col("last.us").alias("last_us"),
                F.col("last.eid").alias("last_eid"),
                F.col("last.cents").alias("last_cents"),
                (
                    F.coalesce("wsum", F.lit(0))
                    + F.coalesce("inc_wsum", F.lit(0))
                )
                .cast("long")
                .alias("wsum"),
                (F.coalesce("n", F.lit(0)) + F.coalesce("n_b", F.lit(0)))
                .cast("long")
                .alias("n"),
                F.least(
                    F.coalesce("min_us", F.lit(None)),
                    F.coalesce("mn_b", F.lit(None)),
                ).alias("min_us"),
            )
        )
        save_gen(merged, state_dir, "s_", bid)

    return twap_advance


@query("st25_stream_twap", oracle=TWAP_ORACLE)
def st25_stream_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming TIME-WEIGHTED average — the ninth sketch-state family
    member: per-type state is one carried event plus three running
    integers (weighted sum, count, earliest instant), advanced per
    time-ordered micro-batch by pricing each holding interval exactly
    once (the carried last event joins the batch's lead window, so the
    batch-boundary interval is neither dropped nor double-counted).
    The final state's readout equals window_twap over the whole
    stream — the oracle is shared verbatim, the same telescoping
    argument as st20's maxima and st23's argmax carried one step
    further to a window function over the seam.

    100 TB: state is one row per type; each batch does one
    event_type-clustered window + two aggregates."""
    staged = stage_events_ordered(spark, sf_dir, chunks=4)
    schema = load(spark, sf_dir, "events").schema
    state_dir = scratch_dir("st25_state")
    twap_advance = twap_advance_factory(spark, state_dir)

    run_foreach_batch(
        read_staged(spark, staged, schema, max_files_per_trigger=1),
        twap_advance,
    )
    st = read_latest(spark, state_dir, "s_", _ST25_STATE_SCHEMA)
    return st.select(
        "event_type",
        F.col("n").alias("n_events"),
        F.col("wsum").alias("weighted_sum"),
        (F.col("last_us") - F.col("min_us")).cast("long").alias("span_us"),
        F.floor(
            F.lit(1000000.0)
            * F.col("wsum")
            / (F.col("last_us") - F.col("min_us"))
        )
        .cast("long")
        .alias("twap_micro_cents"),
    ).orderBy("event_type")


_ST26_STATE_SCHEMA = (
    "event_type string, bucket long, n long,"
    " open_us long, open_eid long, open_cents long,"
    " high_cents long, low_cents long,"
    " close_us long, close_eid long, close_cents long"
)


def ohlc_advance_factory(spark: SparkSession, state_dir: str):
    """st26's per-micro-batch body: aggregate the batch to per-(type,
    hour-bucket) OHLC rows (min_by/max_by on the (us, eid) struct —
    window_ohlc's exact aggregate), then merge into the carried state
    by full outer join: counts add, extrema take greatest/least, and
    open/close resolve by comparing the carried endpoint STRUCT
    against the batch endpoint struct under the same total order — the
    associative-merge property that makes OHLC a CUBE-maintainable
    aggregate."""

    def ohlc_advance(bdf: DataFrame, bid: int) -> None:
        e = bdf.select(
            "event_type",
            F.expr("unix_micros(ts) div 3600000000").alias("bucket"),
            F.unix_micros("ts").alias("us"),
            F.col("event_id").cast("long").alias("eid"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        inc = e.groupBy("event_type", "bucket").agg(
            F.count(F.lit(1)).cast("long").alias("b_n"),
            F.min(F.struct("us", "eid", "cents")).alias("b_open"),
            F.max("cents").cast("long").alias("b_high"),
            F.min("cents").cast("long").alias("b_low"),
            F.max(F.struct("us", "eid", "cents")).alias("b_close"),
        )
        st = read_prior(spark, state_dir, "s_", bid, _ST26_STATE_SCHEMA)
        s_open = F.struct(
            F.col("open_us").alias("us"),
            F.col("open_eid").alias("eid"),
            F.col("open_cents").alias("cents"),
        )
        s_close = F.struct(
            F.col("close_us").alias("us"),
            F.col("close_eid").alias("eid"),
            F.col("close_cents").alias("cents"),
        )
        opn = F.when(
            F.col("n").isNull(), F.col("b_open")
        ).when(F.col("b_n").isNull(), s_open).otherwise(
            F.least(s_open, F.col("b_open"))
        )
        cls = F.when(
            F.col("n").isNull(), F.col("b_close")
        ).when(F.col("b_n").isNull(), s_close).otherwise(
            F.greatest(s_close, F.col("b_close"))
        )
        merged = (
            st.join(inc, ["event_type", "bucket"], "full")
            .select(
                "event_type",
                "bucket",
                (F.coalesce("n", F.lit(0)) + F.coalesce("b_n", F.lit(0)))
                .cast("long")
                .alias("n"),
                opn["us"].alias("open_us"),
                opn["eid"].alias("open_eid"),
                opn["cents"].alias("open_cents"),
                F.greatest(
                    F.coalesce("high_cents", F.col("b_high")),
                    F.coalesce("b_high", F.col("high_cents")),
                )
                .cast("long")
                .alias("high_cents"),
                F.least(
                    F.coalesce("low_cents", F.col("b_low")),
                    F.coalesce("b_low", F.col("low_cents")),
                )
                .cast("long")
                .alias("low_cents"),
                cls["us"].alias("close_us"),
                cls["eid"].alias("close_eid"),
                cls["cents"].alias("close_cents"),
            )
        )
        save_gen(merged, state_dir, "s_", bid)

    return ohlc_advance


@query("st26_stream_ohlc", oracle=OHLC_ORACLE)
def st26_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC bars — the tenth sketch-state family member:
    per-(type, hour) state is the OHLC row itself, advanced per
    micro-batch by the associative merge (counts add, extrema combine,
    endpoints struct-compare), so the final state equals window_ohlc
    over the whole stream — the oracle is shared verbatim, the same
    telescoping argument as st25's weighted sums but over a
    MERGEABLE aggregate with no seam at all (OHLC needs no
    cross-batch interval pricing; that contrast is the point of
    keeping both).

    100 TB: state is one row per (type, hour) — grid-sized; each
    batch does one map-side-combining aggregate + a grid-sized outer
    join."""
    staged = stage_events_ordered(spark, sf_dir, chunks=4)
    schema = load(spark, sf_dir, "events").schema
    state_dir = scratch_dir("st26_state")
    ohlc_advance = ohlc_advance_factory(spark, state_dir)

    run_foreach_batch(
        read_staged(spark, staged, schema, max_files_per_trigger=1),
        ohlc_advance,
    )
    st = read_latest(spark, state_dir, "s_", _ST26_STATE_SCHEMA)
    return st.select(
        "event_type",
        "bucket",
        F.col("n").alias("n_events"),
        "open_cents",
        "high_cents",
        "low_cents",
        "close_cents",
    ).orderBy("event_type", "bucket")


# ---------------------------------------------------------------------------
# st27: streaming corpus line dedup (the C4 rule as accumulated state).
# ---------------------------------------------------------------------------

_ST27_STATE_SCHEMA = "line string, c long"


def line_count_advance_factory(spark: SparkSession, state_dir: str):
    """st27's per-micro-batch body: segment the batch's documents into
    the deterministic 3-token lines (queries.corpus_ops.doc_lines —
    the exact batch segmentation), count them batch-locally
    (map-side combining), and SUM-merge into the carried (line, c)
    state by full outer join. Counts are the textbook mergeable
    aggregate, so the state after batch k telescopes to the one-pass
    counts over chunks 1..k with no seam logic at all."""

    def advance(bdf: DataFrame, bid: int) -> None:
        inc = doc_lines(bdf.select("doc_id", "text")).groupBy("line").agg(
            F.count(F.lit(1)).cast("long").alias("b_c")
        )
        st = read_prior(spark, state_dir, "s_", bid, _ST27_STATE_SCHEMA)
        merged = st.join(inc, "line", "full").select(
            "line",
            (F.coalesce("c", F.lit(0)) + F.coalesce("b_c", F.lit(0)))
            .cast("long")
            .alias("c"),
        )
        save_gen(merged, state_dir, "s_", bid)

    return advance


@query("st27_stream_line_dedup", oracle=LINE_DEDUP_ORACLE)
def st27_stream_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus-global LINE DEDUP (C4's >= 3-occurrence rule) —
    the eleventh sketch-state family member and x4_line_dedup's stream
    twin: the corpus arrives as four ordered micro-batches, each batch
    SUM-merges its line counts into the carried (line, c) state, and
    the final report applies the threshold to the accumulated counts —
    so a boilerplate line whose copies are SPREAD across batches (one
    per ingest day, never >= 3 within any single batch) is still
    caught, the incremental property a per-batch filter cannot have
    (pinned by the cross-batch intent test). The oracle is
    x4_line_dedup's verbatim: SUM-merged state telescopes to the
    whole-corpus counts, the same argument as st26's mergeable OHLC —
    line counting needs no seam logic at all.

    100 TB: per-batch work = one batch-sized map-side-combining count
    + a state-sized outer join; the carried state is the distinct-line
    table (vocabulary-scaled, never corpus-scaled — at production
    scale key it on sha2(line), exactly as the batch docstring says)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = [d.filter(F.pmod("doc_id", F.lit(4)) == i) for i in range(4)]
    staged = stage_ordered(chunks, name="st27_landing")
    state_dir = scratch_dir("st27_state")
    advance = line_count_advance_factory(spark, state_dir)

    run_foreach_batch(
        read_staged(spark, staged, d.schema, max_files_per_trigger=1),
        advance,
    )
    freq = read_latest(spark, state_dir, "s_", _ST27_STATE_SCHEMA)
    return line_dedup_report(doc_lines(d), freq)


# ---------------------------------------------------------------------------
# st28: the corpus pipeline's clean→dedup stages over incremental arrival.
# ---------------------------------------------------------------------------

_ST28_LINES_SCHEMA = "doc_id bigint, source string, idx int, line string"
_ST28_SRC_SCHEMA = "source string, n_docs long"


def corpus_pipeline_advance_factory(spark: SparkSession, state_dir: str):
    """st28's per-micro-batch body, three state families per batch:
    (1) the batch's CLEAN LINES (pipeline_clean_lines — row-local, so
    the union over batches equals the batch pipeline's segmentation of
    the whole corpus), written once per bid and read back so the two
    downstream aggregates share the materialization; (2) the (line, c)
    C4 count state, SUM-merged by full outer join (st27's telescoping
    — counts after batch k ARE the one-pass counts over batches 1..k);
    (3) per-source cleaned-doc counts, SUM-merged the same way (the
    ingest-monitoring state a production pipeline alarms on)."""

    def advance(bdf: DataFrame, bid: int) -> None:
        save_gen(
            pipeline_clean_lines(
                bdf.select("doc_id", "source", "text", "n_chars")
            ),
            state_dir, "l_", bid,
        )
        # Generation bid itself: the line store just written.
        lines = read_prior(spark, state_dir, "l_", bid + 1, _ST28_LINES_SCHEMA)
        inc = pipeline_line_freq(lines).withColumnRenamed("c", "b_c")
        src_inc = (
            lines.select("doc_id", "source")
            .distinct()
            .groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("b_n"))
        )
        st = read_prior(spark, state_dir, "s_", bid, _ST27_STATE_SCHEMA)
        src_st = read_prior(spark, state_dir, "src_", bid, _ST28_SRC_SCHEMA)
        counts = st.join(inc, "line", "full").select(
            "line",
            (F.coalesce("c", F.lit(0)) + F.coalesce("b_c", F.lit(0)))
            .cast("long")
            .alias("c"),
        )
        save_gen(counts, state_dir, "s_", bid)
        sources = src_st.join(src_inc, "source", "full").select(
            "source",
            (F.coalesce("n_docs", F.lit(0)) + F.coalesce("b_n", F.lit(0)))
            .cast("long")
            .alias("n_docs"),
        )
        save_gen(sources, state_dir, "src_", bid)

    return advance


def st28_final_report(spark: SparkSession, state_dir: str) -> DataFrame:
    """Serve phase over the ACCUMULATED state: reassemble every doc
    from the unioned clean-line store against the final C4 counts,
    then run pipeline_serve VERBATIM — floor, survivor pick, mixture,
    shard, token-budget pack, manifest. The final generation is the
    latest one present, so the registered 4-batch query and the
    8-batch probe share this one code path; it is cross-checked
    against the line store's latest generation."""
    final_bid = latest_gen(state_dir, "s_")
    lines_bid = latest_gen(state_dir, "l_")
    if final_bid != lines_bid:
        raise ValueError(
            f"st28 state families disagree: max s_* bid {final_bid} != "
            f"max l_* bid {lines_bid} — a partial batch advance; "
            "stale counts must not pair with a fuller line store"
        )
    all_lines = read_all_prior(
        spark, state_dir, "l_", final_bid + 1, _ST28_LINES_SCHEMA
    )
    freq = read_latest(spark, state_dir, "s_", _ST27_STATE_SCHEMA)
    return pipeline_serve(pipeline_reassemble(all_lines, freq))


@query("st28_stream_corpus_pipeline", oracle=CORPUS_PIPELINE_E2E_ORACLE)
def st28_stream_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus pipeline's clean→dedup→mixture stages over
    INCREMENTAL arrival — x6_corpus_pipeline_e2e's stream twin and the
    shape a 100 TB ingest actually runs (data lands daily; the C4
    counts, the digest-keyed survivor pick and the mixture all depend
    on the WHOLE corpus so far): four ordered micro-batches each
    segment their documents row-locally and SUM-merge line counts +
    per-source counts into carried state, and the final report serves
    the accumulated corpus through pipeline_serve. Shares the batch
    composition's oracle VERBATIM — the telescoping argument: clean
    segmentation is row-local (commutes with batching), counts
    SUM-merge exactly, and the serve phase is the same code over equal
    inputs, so incremental arrival provably cannot change a digest. A
    boilerplate line whose copies are SPREAD one-per-batch (never
    >= 3 within any batch) is still scrubbed — the property a
    per-batch-local pipeline cannot have (cross-batch intent test).

    100 TB: per-batch work = batch-sized row-local segmentation + one
    map-side-combining count + a state-sized outer join (the state is
    the distinct-line table — vocabulary-scaled); the corpus-sized
    serve phase runs ONCE at the end, not per batch."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "text", "n_chars"
    )
    chunks = [d.filter(F.pmod("doc_id", F.lit(4)) == i) for i in range(4)]
    staged = stage_ordered(chunks, name="st28_landing")
    state_dir = scratch_dir("st28_state")
    advance = corpus_pipeline_advance_factory(spark, state_dir)

    run_foreach_batch(
        read_staged(spark, staged, d.schema, max_files_per_trigger=1),
        advance,
    )
    return st28_final_report(spark, state_dir)


# ---------------------------------------------------------------------------
# st29: streaming classifier training (bucket→(pos, tot) as accumulated
# state).
# ---------------------------------------------------------------------------

_ST29_STATE_SCHEMA = "b long, pos long, tot long"


def classifier_stats_advance_factory(spark: SparkSession, state_dir: str):
    """st29's per-micro-batch body: label the batch's documents with
    the Gopher-rule weak supervision (_gopher_keep_expr — identical
    arithmetic to the batch trainer), explode tokens into portable
    sha-slice buckets, count (pos, tot) per bucket batch-locally
    (map-side combining), and SUM-merge into the carried
    (b, pos, tot) state by full outer join. Both counters are
    textbook mergeable aggregates, so the state after batch k
    telescopes to the one-pass training aggregate over chunks 1..k —
    the same argument as st27's line counts, applied to a MODEL's
    training state."""
    from recipes_spark.queries.corpus_ops import (
        _QTA_DIM,
        _bucket,
        _gopher_keep_expr,
    )

    def advance(bdf: DataFrame, bid: int) -> None:
        inc = (
            bdf.select("doc_id", "text", _gopher_keep_expr().alias("lbl"))
            .select("lbl", F.explode(F.split("text", " ")).alias("tok"))
            .select(
                "lbl",
                _bucket(
                    F.concat(F.lit("qf:"), F.col("tok")), _QTA_DIM
                ).alias("b"),
            )
            .groupBy("b")
            .agg(
                F.sum(F.when(F.col("lbl"), 1).otherwise(0))
                .cast("long")
                .alias("b_pos"),
                F.count(F.lit(1)).cast("long").alias("b_tot"),
            )
        )
        st = read_prior(spark, state_dir, "s_", bid, _ST29_STATE_SCHEMA)
        merged = st.join(inc, "b", "full").select(
            "b",
            (F.coalesce("pos", F.lit(0)) + F.coalesce("b_pos", F.lit(0)))
            .cast("long")
            .alias("pos"),
            (F.coalesce("tot", F.lit(0)) + F.coalesce("b_tot", F.lit(0)))
            .cast("long")
            .alias("tot"),
        )
        save_gen(merged, state_dir, "s_", bid)

    return advance


@query("st29_stream_classifier", oracle=QTA_ORACLE)
def st29_stream_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CLASSIFIER TRAINING — the thirteenth sketch-state
    family member and x4_quality_classifier_train_apply's stream twin
    (r13 verdict task 6): the training corpus arrives as four ordered
    micro-batches, each SUM-merging its per-bucket (pos, tot) label
    counts into the carried state; when the stream drains, the
    threshold model is SERVED from the accumulated state — prior,
    shrinkage, and centering computed from the final state's ≤dim-row
    collect exactly as the batch trainer computes them from its one
    aggregate, then the unchanged Arrow scoring kernel classifies the
    corpus. The oracle is the batch trainer's verbatim: SUM-merged
    training state telescopes to the whole-corpus aggregate, so
    incremental arrival provably cannot change the model — the
    property a production continuous-training loop relies on when it
    resumes from yesterday's counts instead of rescanning the corpus.

    100 TB: per-batch work = one batch-sized map-side-combining agg +
    a dim-bounded outer join (state is ≤50k rows of two int64
    counters — model-sized, never corpus-sized); serving cost is
    unchanged from the batch query. Retry idempotence is gated in
    tests/test_intent_round14.py."""
    from recipes_spark.io import load, scale_partitions
    from recipes_spark.queries.corpus_ops import (
        _QTA_BASE_MICRO,
        _QTA_DIM,
        _QTA_THRESHOLD_MICRO,
        _qta_weights_from_stats,
        quality_score_kernel,
    )
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = [d.filter(F.pmod("doc_id", F.lit(4)) == i) for i in range(4)]
    staged = stage_ordered(chunks, name="st29_landing")
    state_dir = scratch_dir("st29_state")
    advance = classifier_stats_advance_factory(spark, state_dir)

    run_foreach_batch(
        read_staged(spark, staged, d.schema, max_files_per_trigger=1),
        advance,
    )
    stats = read_latest(spark, state_dir, "s_", _ST29_STATE_SCHEMA).collect()
    weights = _qta_weights_from_stats(stats)
    gen = quality_score_kernel(
        weights, _QTA_DIM, _QTA_BASE_MICRO, _QTA_THRESHOLD_MICRO
    )
    return scale_partitions(d).mapInPandas(
        gen,
        schema="doc_id bigint, n_tok bigint, score_micro bigint, keep int",
    )


# ---------------------------------------------------------------------------
# st30: streaming sequence packing (token-prefix carry + per-sequence
# partials as accumulated state).
# ---------------------------------------------------------------------------

_ST30_SEQ_SCHEMA = "seq_id long, n_tokens long, ids array<int>"
_ST30_CARRY_SCHEMA = "cum_tokens long"


def packing_advance_factory(spark: SparkSession, state_dir: str):
    """st30's per-micro-batch body. Two state families:

    - the CARRY (one row): total tokens seen before this batch — the
      scalar that makes the batch-local inclusive prefix sum equal
      the GLOBAL one (batches arrive in doc_id order, so global
      cumsum = carry + local cumsum, exactly);
    - the per-sequence PARTIALS (seq_id, n_tokens, ids): each batch
      emits its sequences from carry-offset seq ids and merges by
      full outer join — n_tokens SUM, ids CONCAT state-first (state
      rows precede the batch in doc order). Only the sequence
      STRADDLING the batch boundary ever collides, but the merge is
      total, so no seam logic exists to get wrong.

    Both merges are associative with the ordered-arrival contract the
    family already has (st14's ordered staging), so the state after
    batch k telescopes to the one-pass packing of chunks 1..k —
    sequence packing is NOT embarrassingly parallel (every sequence
    id depends on every prior token count), which is exactly why the
    carry is the state."""
    from recipes_spark.queries.corpus_ops import (
        _BPE_MERGES,
        _BPE_VOCAB,
        bpe_greedy_ids_kernel,
    )
    from recipes_spark.operators.prefix import partitioned_prefix_sum

    gen = bpe_greedy_ids_kernel(_BPE_MERGES, _BPE_VOCAB)

    def advance(bdf: DataFrame, bid: int) -> None:
        carried = read_prior(
            spark, state_dir, "carry_", bid, _ST30_CARRY_SCHEMA
        ).collect()
        carry = int(carried[0][0]) if bid > 0 else 0
        st = read_prior(spark, state_dir, "s_", bid, _ST30_SEQ_SCHEMA)
        toks = bdf.select("doc_id", "text").mapInPandas(
            gen, "doc_id bigint, n bigint, ids array<int>"
        )
        packed = partitioned_prefix_sum(
            toks, order_col="doc_id", value_col="n", out_col="cum",
            shards=8,
        )
        flat_ids = F.flatten(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("doc_id").alias("d"),
                            F.col("ids").alias("i"),
                        )
                    )
                ),
                lambda s: s["i"],
            )
        )
        bseqs = (
            packed.select(
                F.floor(
                    (F.lit(carry) + F.col("cum") - F.col("n")) / 512
                )
                .cast("long")
                .alias("seq_id"),
                "doc_id",
                "n",
                "ids",
            )
            .groupBy("seq_id")
            .agg(
                F.sum("n").cast("long").alias("b_n"),
                flat_ids.alias("b_ids"),
            )
        )
        empty = F.array().cast("array<int>")
        merged = st.join(bseqs, "seq_id", "full").select(
            "seq_id",
            (
                F.coalesce("n_tokens", F.lit(0))
                + F.coalesce("b_n", F.lit(0))
            )
            .cast("long")
            .alias("n_tokens"),
            F.concat(
                F.coalesce("ids", empty), F.coalesce("b_ids", empty)
            ).alias("ids"),
        )
        save_gen(merged, state_dir, "s_", bid)
        batch_total = toks.agg(F.sum("n")).collect()[0][0] or 0
        save_gen(
            spark.createDataFrame(
                [(carry + int(batch_total),)], _ST30_CARRY_SCHEMA
            ),
            state_dir, "carry_", bid,
        )

    return advance


@query("st30_stream_packing", oracle=PACKING_SHARDS_ORACLE)
def st30_stream_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING SEQUENCE PACKING — sketch-state member #14 and
    x6_packing_shards' stream twin: the corpus arrives as four
    ordered doc_id-contiguous micro-batches, each packing its tokens
    into 512-token training sequences CONTINUING the global token
    prefix (the carried scalar), with the boundary-straddling
    sequence's partials merged across batches; the final report
    assigns shards and recomputes the two-level Merkle manifest from
    the accumulated sequences. The oracle is x6_packing_shards'
    verbatim: carry + ordered arrival telescope the batch-local
    prefix sums into the global one, so incremental packing provably
    equals the one-pass packing — the property a production ingest
    pipeline needs to emit training shards continuously instead of
    re-packing the corpus per release.

    100 TB: per-batch work = the batch's own tokenize + prefix-sum
    exchanges plus a state-sized outer join; the carry is ONE row. At
    production scale the closed sequences append to a store and only
    the open boundary sequence carries (state = O(1)); here the full
    sequence table carries so the final manifest derives from state
    alone. Ordered arrival is the family's staging contract (one file
    per trigger, latestFirst=false); retry idempotence is gated in
    tests/test_intent_round14.py."""
    from recipes_spark.queries.corpus_ops import (
        _bucket,
        _ordered_sha,
    )
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    n = d.count()
    span = (n + 3) // 4
    chunks = [
        d.filter(F.floor(F.col("doc_id") / span) == i) for i in range(4)
    ]
    staged = stage_ordered(chunks, name="st30_landing")
    state_dir = scratch_dir("st30_state")
    advance = packing_advance_factory(spark, state_dir)

    run_foreach_batch(
        read_staged(spark, staged, d.schema, max_files_per_trigger=1),
        advance,
    )
    seqs = read_latest(spark, state_dir, "s_", _ST30_SEQ_SCHEMA)
    assigned = seqs.select(
        _bucket(F.col("seq_id").cast("string"), 8).alias("shard"),
        F.floor(F.col("seq_id") / 64).cast("long").alias("chunk"),
        "seq_id",
        "n_tokens",
        F.sha2(
            F.concat_ws(
                ",", F.transform(F.col("ids"), lambda x: x.cast("string"))
            ),
            256,
        ).alias("ids_sha"),
    )
    chunks_agg = assigned.groupBy("shard", "chunk").agg(
        F.count(F.lit(1)).alias("c_seqs"),
        F.sum("n_tokens").cast("long").alias("c_tokens"),
        _ordered_sha("seq_id", "ids_sha").alias("chunk_sha"),
    )
    return (
        chunks_agg.groupBy("shard")
        .agg(
            F.sum("c_seqs").cast("long").alias("n_seqs"),
            F.sum("c_tokens").cast("long").alias("n_tokens"),
            _ordered_sha("chunk", "chunk_sha").alias("shard_sha"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# st31: streaming ANN index append (per-batch encode against the committed
# books; the accumulated (vec_id, codes_packed, cell) rows ARE the index).
# ---------------------------------------------------------------------------

_ST31_STATE_SCHEMA = "vec_id long, codes_packed long, cell int"


def index_append_advance_factory(spark: SparkSession, state_dir: str,
                                 coarse, books):
    """st31's per-micro-batch body: encode the batch's vectors against
    the FIXED committed model (pq_encode_int — one Arrow pass fusing
    cell assignment + byte-packed codes; encoding is row-local, so
    batch order cannot change any row) and APPEND to the carried code
    rows. Unlike the counter families, the state here is data-sized by
    design — the index IS the state, exactly as the production store's
    codes substore grows by each delta commit (plans/ann_index.py's
    append, micro-batch grain). The frozen model is broadcast ONCE
    here and shared by every batch's encode (books_bc) — a per-batch
    broadcast would accrete one dead copy per micro-batch in every
    executor until the cleaner catches up."""
    from recipes_spark.operators.similarity import pq_encode_int

    books_bc = spark.sparkContext.broadcast((books, coarse))

    def advance(bdf: DataFrame, bid: int) -> None:
        inc = pq_encode_int(
            bdf.select("vec_id", "embedding"), books,
            coarse_milli=coarse, code_bits=8, books_bc=books_bc,
        ).select(
            "vec_id",
            "codes_packed",
            F.col("__list").cast("int").alias("cell"),
        )
        st = read_prior(spark, state_dir, "s_", bid, _ST31_STATE_SCHEMA)
        save_gen(st.unionByName(inc), state_dir, "s_", bid)

    return advance


@query("st31_stream_index_append", oracle=INDEX_COMMIT_NOFLAGS_ORACLE)
def st31_stream_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ANN INDEX APPEND — sketch-state member #15 and the
    micro-batch twin of x3_index_append (r14 verdict task 2): the
    model (distributed coarse book + sampled PQ books) is trained and
    frozen up front — the committed artifact's role — and the vector
    corpus then ARRIVES as four micro-batches, each encoding against
    the frozen books and appending its (vec_id, cell, packed-code)
    rows to the carried index state; when the stream drains, the
    final state reports the per-cell index manifest (counts + the
    vec_id-ordered code digest). The oracle is x3_index_commit's
    minus its file-equality literals: encoding is row-local against a
    FIXED model, so the accumulated state provably telescopes to the
    one-pass corpus encode — incremental arrival cannot change a
    single code, which is the property that lets a production ingest
    loop grow yesterday's index instead of rebuilding it. Telescoping
    and redelivery idempotency gated in tests/test_intent_round15.py.

    100 TB: per-batch work = one batch-sized Arrow encode + an
    append-shaped state write (at production scale the closed rows
    append to the snapshot store — plans/ann_index.py — and state
    reduces to the store pointer; here the rows carry in state so the
    final manifest derives from state alone)."""
    from recipes_spark.operators.similarity import (
        train_coarse_centroids_int,
        train_pq_codebooks_int,
    )
    from recipes_spark.queries.dataops import _cell_codes_digest

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    coarse = train_coarse_centroids_int(emb, k=16, iters=3, hash_tag="pq:0")
    books = train_pq_codebooks_int(emb, m=4, k=256)
    chunks = [emb.filter(F.pmod("vec_id", F.lit(4)) == i) for i in range(4)]
    staged = stage_ordered(chunks, name="st31_landing")
    state_dir = scratch_dir("st31_state")
    advance = index_append_advance_factory(spark, state_dir, coarse, books)

    run_foreach_batch(
        read_staged(spark, staged, emb.schema, max_files_per_trigger=1),
        advance,
    )
    final = read_latest(spark, state_dir, "s_", _ST31_STATE_SCHEMA)
    return (
        _cell_codes_digest(
            final.select(
                "vec_id", "codes_packed", F.col("cell").alias("__list")
            )
        )
        .orderBy("cell")
    )
