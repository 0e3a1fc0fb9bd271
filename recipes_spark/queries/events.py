"""Streaming-surface operators, batch-first (SURVEY.md §2.10 T2–T4):
tumbling/sliding/session window aggregation and gap detection on the
events table, each with a floor-arithmetic DuckDB oracle. The SAME
expressions run under Structured Streaming in recipes_spark.streaming
(with watermark T5 + dedup T6) — verified by rows-only tests there.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from recipes_spark.io import load
from recipes_spark.registry import query


@query(
    "t2_tumbling_window",
    oracle="""
SELECT make_timestamp(CAST(floor(epoch(ts) / 600) AS BIGINT) * 600 * 1000000)
         AS window_start,
       event_type,
       count(*) AS n,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def t2_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: 10-minute tumbling windows (F.window aligns to the epoch, as
    does the oracle's floor arithmetic). Streams unchanged under
    readStream + withWatermark."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "sum_value"
        )
    )


@query(
    "t3_sliding_window",
    oracle="""
SELECT make_timestamp((CAST(floor(epoch(ts) / 300) AS BIGINT) - k.k)
                      * 300 * 1000000) AS window_start,
       event_type,
       count(*) AS n,
       round(sum(value), 2) AS sum_value
FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) k
GROUP BY 1, 2
""",
)
def t3_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3: 10-minute windows sliding every 5 — each event lands in
    exactly 2 windows (oracle: explicit offset expansion)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "sum_value"
        )
    )


#: Gaps-and-islands derivation of 30-min-gap sessions — shared by the
#: batch t4 and streaming st4 oracles (SURVEY §5.2: a session's bounds
#: are SQL-derivable from ordered event gaps; new session when the gap
#: is ≥ 30 min, matching Spark's half-open session window).
SESSION_ORACLE = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events
FROM numbered
GROUP BY user_id, sid
"""


@query("t4_session_window", oracle=SESSION_ORACLE)
def t4_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4: native session_window (30-min gap) in batch mode. Session
    range is [first_ts, last_ts + gap) — the oracle reproduces it with
    gaps-and-islands (new session when gap ≥ 30 min, matching Spark's
    half-open window). Streams with applyInPandasWithState or
    session_window + watermark."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


#: Running-max gaps-and-islands derivation of DYNAMIC-gap sessions —
#: shared by the batch t4_session_dynamic_gap and streaming
#: st15_session_dynamic_stream oracles.
DYNAMIC_SESSION_ORACLE = """
WITH g AS (
  SELECT user_id, ts,
         ts + CASE WHEN event_type = 'error' THEN INTERVAL 10 MINUTE
                   ELSE INTERVAL 30 MINUTE END AS ev_end
  FROM events
), marked AS (
  SELECT user_id, ts, ev_end,
         CASE WHEN max(ev_end) OVER prev IS NULL
                OR ts >= max(ev_end) OVER prev
              THEN 1 ELSE 0 END AS new_session
  FROM g
  WINDOW prev AS (PARTITION BY user_id ORDER BY ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), numbered AS (
  SELECT user_id, ts, ev_end,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id,
       min(ts) AS session_start,
       max(ev_end) AS session_end,
       count(*) AS n_events
FROM numbered
GROUP BY user_id, sid
"""


def dynamic_gap_session_agg(ev: DataFrame) -> DataFrame:
    """The dynamic-gap session aggregation as a plain DF→DF function —
    shared by the batch query below and the streaming twin
    (streaming/queries.py st15), so both run the identical expression
    tree."""
    gap = F.when(
        F.col("event_type") == "error", F.lit("10 minutes")
    ).otherwise(F.lit("30 minutes"))
    return (
        ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


@query("t4_session_dynamic_gap", oracle=DYNAMIC_SESSION_ORACLE)
def t4_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 extension: session_window with a DYNAMIC per-event gap (a
    column expression — errors time out after 10 minutes, everything
    else after 30). Each event contributes a half-open window
    [ts, ts+gap(event)); overlapping windows merge into one session,
    so the plain lag-gap oracle is WRONG here (a long-gap event can
    bridge past a short-gap one) — the oracle is the running-max form:
    new session when ts >= max over all PRIOR events of (ts + gap),
    session end = max event end.

    100 TB: same single hash-shuffle on user_id as fixed-gap sessions;
    the merge is per-key local. Dynamic gaps are the production shape
    for mixed-activity sessionization (short timeouts for error
    bursts, long for browsing)."""
    return dynamic_gap_session_agg(load(spark, sf_dir, "events"))


@query(
    "event_max_concurrency",
    oracle="""
WITH deltas AS (
  SELECT event_type, ts AS t, 1 AS delta FROM events
  UNION ALL
  SELECT event_type, ts + INTERVAL 30 MINUTE, -1 FROM events
), running AS (
  SELECT event_type,
         sum(delta) OVER (PARTITION BY event_type
                          ORDER BY t, delta
                          ROWS UNBOUNDED PRECEDING) AS active
  FROM deltas
)
SELECT event_type, CAST(max(active) AS BIGINT) AS max_concurrent
FROM running
GROUP BY event_type
ORDER BY event_type
""",
)
def event_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap maximum via SWEEP LINE: each event is active
    for [ts, ts+30min); +1/-1 boundary deltas, a running sum ordered by
    (time, delta) — delta before +1 at equal instants, so an interval
    ending exactly when another starts does NOT overlap it
    (half-open semantics) — and the per-type max of the running count.
    The classic max-concurrent-sessions / peak-load query, impossible
    with plain aggregation (overlap is a cross-row property).

    Determinism under ties: equal (t, delta) rows are interchangeable —
    the running sum telescopes identically whatever their relative
    order, so the MAX is well-defined. 100 TB: one shuffle on
    event_type feeds both the window and the final max; boundary rows
    are 2× events but two narrow columns. A skewed single type would
    take per-key salting of the window (skew_salted_window's shape)."""
    ev = load(spark, sf_dir, "events")
    deltas = ev.select(
        "event_type", F.col("ts").alias("t"), F.lit(1).alias("delta")
    ).unionByName(
        ev.select(
            "event_type",
            (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("t"),
            F.lit(-1).alias("delta"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        deltas.select("event_type", F.sum("delta").over(w).alias("active"))
        .groupBy("event_type")
        .agg(F.max("active").alias("max_concurrent"))
        .orderBy("event_type")
    )


@query(
    "event_overlap_duration",
    oracle="""
WITH deltas AS (
  SELECT event_type, ts AS t, 1 AS delta FROM events
  UNION ALL
  SELECT event_type, ts + INTERVAL 30 MINUTE, -1 FROM events
), running AS (
  SELECT event_type, t, delta,
         sum(delta) OVER (PARTITION BY event_type
                          ORDER BY t, delta
                          ROWS UNBOUNDED PRECEDING) AS active,
         lead(t) OVER (PARTITION BY event_type
                       ORDER BY t, delta) AS nt
  FROM deltas
)
SELECT event_type,
       CAST(sum(CASE WHEN active >= 2 AND nt IS NOT NULL
                     THEN epoch_us(nt) - epoch_us(t) ELSE 0 END)
            AS BIGINT) AS overlap_micros
FROM running
GROUP BY event_type
ORDER BY event_type
""",
)
def event_overlap_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total CONTENDED time per event type — the sweep line of
    event_max_concurrency extended with segment durations: between each
    boundary and the next (lead over the same (t, delta) order), the
    running count is constant, so the total time with >= 2 intervals
    simultaneously active is the sum of segment lengths where
    active >= 2. Capacity-planning's other half: not just HOW HIGH the
    peak (max_concurrency) but HOW LONG the system spends overlapped.

    Determinism under ties: segments between equal-t boundaries have
    zero length, so their order-dependent intermediate `active` values
    contribute nothing; the boundary segment out of a tie group carries
    the full tie group's telescoped sum, which is order-invariant.
    Micros, not seconds, so sub-second boundary gaps are exact integers
    on both engines. 100 TB: identical shape to max_concurrency — one
    shuffle on event_type, window + final agg in the same exchange."""
    ev = load(spark, sf_dir, "events")
    deltas = ev.select(
        "event_type", F.col("ts").alias("t"), F.lit(1).alias("delta")
    ).unionByName(
        ev.select(
            "event_type",
            (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("t"),
            F.lit(-1).alias("delta"),
        )
    )
    order = Window.partitionBy("event_type").orderBy("t", "delta")
    run = deltas.select(
        "event_type",
        "t",
        F.sum("delta")
        .over(order.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("active"),
        F.lead("t").over(order).alias("nt"),
    )
    seg = F.when(
        (F.col("active") >= 2) & F.col("nt").isNotNull(),
        F.unix_micros("nt") - F.unix_micros("t"),
    ).otherwise(F.lit(0))
    return (
        run.groupBy("event_type")
        .agg(F.sum(seg).cast("long").alias("overlap_micros"))
        .orderBy("event_type")
    )


_INTERVAL_OVERLAP_ORACLE = """
WITH err AS (
  SELECT event_id, ts AS s, ts + INTERVAL 30 MINUTE AS e
  FROM events WHERE event_type = 'error'
), pur AS (
  SELECT event_id, ts AS s, ts + INTERVAL 30 MINUTE AS e
  FROM events WHERE event_type = 'purchase'
)
SELECT err.event_id AS error_id,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(sum(epoch_us(least(err.e, pur.e))
                - epoch_us(greatest(err.s, pur.s))) AS BIGINT)
         AS overlap_micros
FROM err JOIN pur
  ON err.s < pur.e AND pur.s < err.e
GROUP BY err.event_id
ORDER BY error_id
"""


@query("join_interval_overlap", oracle=_INTERVAL_OVERLAP_ORACLE)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval x interval OVERLAP JOIN with no equi key — the join
    class behind incident correlation ("which purchases ran during
    each error window"), ad attribution, and sensor alignment, which
    naive SQL evaluates as an O(n*m) theta join. Spark-first strategy:
    quantize time into fixed buckets (1800 s = the interval length, so
    each interval replicates to at most 2 buckets), equi-join on the
    bucket — a genuine partitioned hash join — then apply the exact
    overlap predicate (half-open: a.s < b.e AND b.s < a.e) inside the
    bucket. A pair whose intervals overlap shares the bucket of
    max(a.s, b.s) by construction, and the RESPONSIBILITY filter
    (bucket == that one) emits each pair exactly once with no
    distinct/dedup pass.

    100 TB: replication factor = len/bucket + 1 (= 2 here); the only
    shuffle is on the bucket key, which is time — append-mostly data
    arrives nearly bucket-sorted, and a hot bucket (event storm) salts
    like any hot join key. The oracle is the plain theta join; DuckDB's
    IEJoin evaluates it exactly — both sides must agree pair-for-pair."""
    from recipes_spark.operators.joins import interval_overlap_join

    ev = load(spark, sf_dir, "events")

    def side(event_type: str) -> DataFrame:
        return ev.filter(F.col("event_type") == event_type).select(
            F.col("event_id").alias("id"),
            F.unix_micros("ts").alias("s_us"),
            F.unix_micros(
                F.col("ts") + F.expr("INTERVAL 30 MINUTES")
            ).alias("e_us"),
        )

    pairs = interval_overlap_join(
        side("error"),
        side("purchase"),
        a_id="error_id",
        b_id="purchase_id",
        width_us=1800 * 1_000_000,  # bucket = the interval length
    )
    return (
        pairs.groupBy("error_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("overlap_us").cast("long").alias("overlap_micros"),
        )
        .orderBy("error_id")
    )


_FUNNEL_LATENCY_ORACLE = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), purchases AS (
  SELECT user_id, ts AS pts FROM events WHERE event_type = 'purchase'
), pairs AS (
  SELECT c.event_id, min(p.pts) AS npts, c.ts
  FROM clicks c JOIN purchases p
    ON p.user_id = c.user_id AND p.pts >= c.ts
  GROUP BY c.event_id, c.ts
), lat AS (
  SELECT (epoch_us(npts) - epoch_us(ts)) // 600000000 AS bucket
  FROM pairs
), h AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS c FROM lat GROUP BY bucket
), cum AS (
  SELECT bucket, c,
         sum(c) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cum,
         sum(c) OVER () AS n
  FROM h
)
SELECT CAST(max(n) AS BIGINT) AS n_pairs,
       CAST(max(CASE WHEN cum >= ((n * 50 + 99) // 100)
                      AND cum - c < ((n * 50 + 99) // 100)
                     THEN (bucket * 600000000)
                          + ((((n * 50 + 99) // 100) - (cum - c))
                             * 600000000) // c
                END) AS BIGINT) AS p50_latency_us,
       CAST(max(CASE WHEN cum >= ((n * 90 + 99) // 100)
                      AND cum - c < ((n * 90 + 99) // 100)
                     THEN (bucket * 600000000)
                          + ((((n * 90 + 99) // 100) - (cum - c))
                             * 600000000) // c
                END) AS BIGINT) AS p90_latency_us
FROM cum
"""


@query("funnel_latency_quantiles", oracle=_FUNNEL_LATENCY_ORACLE)
def funnel_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-TO-CONVERT distribution — p50/p90 of click→next-purchase
    latency per user — COMPOSING two of the engine's primitives:
    the forward as-of join (operators/joins.asof_join — one shuffle,
    no row blowup; the oracle's theta-join + min is exactly the
    encoding it avoids) feeding the mergeable histogram quantile
    (agg_histogram_quantile's integer interpolation over 10-minute
    buckets). The funnel question product analytics actually asks —
    not just HOW MANY convert (funnel_conversion) but HOW FAST — with
    a bit-identical cross-engine answer.

    100 TB: the as-of is one exchange on user_id; latencies collapse
    to bucket counts map-side, so the quantile's window reads
    bucket-count rows. The composition adds no new shuffle class."""
    from recipes_spark.operators.joins import asof_join

    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("rid"),
        "user_id",
        F.col("ts").alias("pts"),
    )
    width = 600 * 1_000_000
    joined = asof_join(
        clicks, purchases, left_ts="ts", right_ts="pts", by="user_id",
        value_cols=["pts"], direction="forward", tiebreak="rid",
    ).filter(F.col("pts").isNotNull())
    h = (
        joined.select(
            F.expr(
                f"(unix_micros(pts) - unix_micros(ts)) div {width}"
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cum = h.select(
        "bucket",
        "c",
        F.sum("c")
        .over(
            Window.orderBy("bucket").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cum"),
        F.sum("c")
        .over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("n"),
    )

    def pick(q: int):
        need = f"((n * {q} + 99) div 100)"
        est = (
            f"(bucket * {width}) + (({need} - (cum - c)) * {width}) div c"
        )
        return F.max(
            F.expr(f"CASE WHEN cum >= {need} AND cum - c < {need} THEN {est} END")
        ).cast("long")

    return cum.agg(
        F.max("n").cast("long").alias("n_pairs"),
        pick(50).alias("p50_latency_us"),
        pick(90).alias("p90_latency_us"),
    )


@query(
    "gap_detect",
    oracle="""
WITH g AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
  FROM events
)
SELECT user_id, prev_ts, ts,
       round(epoch(ts) - epoch(prev_ts), 2) AS gap_seconds
FROM g
WHERE epoch(ts) - epoch(prev_ts) > 3600
""",
)
def gap_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap detection (>1 h) — the lag(ts) query whose output
    is exactly the reference's hand-maintained missing-granule blacklist
    (avhrr…/recipe.py:93-115; SURVEY §2.5)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    prev = F.lag("ts").over(w)
    gap = F.col("ts").cast("double") - F.col("prev_ts").cast("double")
    return (
        ev.select("user_id", "ts", prev.alias("prev_ts"))
        .filter(gap > 3600)
        .select(
            "user_id", "prev_ts", "ts", F.round(gap, 2).alias("gap_seconds")
        )
    )


@query(
    "t6_dedup_batch",
    oracle="""
WITH doubled AS (
  SELECT event_id, ts, user_id, event_type, value FROM events
  UNION ALL
  SELECT event_id, ts, user_id, event_type, value FROM events
)
SELECT event_type, count(*) AS n, count(DISTINCT event_id) AS n_ids
FROM (SELECT DISTINCT event_id, ts, user_id, event_type, value FROM doubled)
GROUP BY event_type
ORDER BY event_type
""",
)
def t6_dedup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 batch form: dropDuplicates by event_id over a doubled input
    (streaming form = dropDuplicatesWithinWatermark, tested in
    tests/test_streaming.py)."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    doubled = ev.unionByName(ev)
    return (
        doubled.dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("event_id").alias("n_ids"),
        )
        .orderBy("event_type")
    )


@query(
    "funnel_conversion",
    oracle="""
WITH per_user AS (
  SELECT user_id, min(ts) FILTER (event_type = 'view') AS fv
  FROM events GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.ts) AS fc
  FROM events e JOIN per_user p USING (user_id)
  WHERE e.event_type = 'click' AND e.ts >= p.fv
  GROUP BY e.user_id
), pu AS (
  SELECT e.user_id, min(e.ts) AS fp
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts >= c.fc
  GROUP BY e.user_id
)
SELECT (SELECT count(*) FROM per_user WHERE fv IS NOT NULL) AS n_view,
       (SELECT count(*) FROM c) AS n_click,
       (SELECT count(*) FROM pu) AS n_purchase
""",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view→click→purchase: users counted at stage k only
    if stage k's event happens at-or-after their stage k-1 entry time.
    Plan: three chained window mins over the SAME user_id partitioning —
    one exchange feeds all three Window operators (plan-asserted in
    tests); the oracle's three joins would each re-shuffle. The final
    distinct-count agg shuffles only per-user rows, negligible at any
    SF. This is the funnel pattern to use at 100 TB."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    step1 = ev.withColumn(
        "fv",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    )
    step2 = step1.withColumn(
        "fc",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") >= F.col("fv")),
                F.col("ts"),
            )
        ).over(w),
    )
    step3 = step2.withColumn(
        "fp",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") >= F.col("fc")),
                F.col("ts"),
            )
        ).over(w),
    )
    return step3.agg(
        F.count_distinct(F.when(F.col("fv").isNotNull(), F.col("user_id"))).alias(
            "n_view"
        ),
        F.count_distinct(F.when(F.col("fc").isNotNull(), F.col("user_id"))).alias(
            "n_click"
        ),
        F.count_distinct(F.when(F.col("fp").isNotNull(), F.col("user_id"))).alias(
            "n_purchase"
        ),
    )


@query(
    "retention_cohorts",
    oracle="""
WITH first_seen AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events GROUP BY user_id
), act AS (
  SELECT DISTINCT e.user_id, f.cohort_week,
         CAST((epoch(date_trunc('week', e.ts)) - epoch(f.cohort_week))
              / 604800 AS BIGINT) AS week_offset
  FROM events e JOIN first_seen f USING (user_id)
)
SELECT cohort_week, week_offset, count(*) AS n_users
FROM act GROUP BY cohort_week, week_offset
""",
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users bucketed by first-seen week, counted in
    each later activity week. first-seen via window min (one shuffle on
    user_id), offsets by epoch arithmetic on week-truncated stamps (no
    calendar-diff ambiguity between engines)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    act = (
        ev.withColumn(
            "cohort_week", F.date_trunc("week", F.min("ts").over(w))
        )
        .select(
            "user_id",
            "cohort_week",
            (
                (
                    F.unix_timestamp(F.date_trunc("week", F.col("ts")))
                    - F.unix_timestamp("cohort_week")
                )
                / 604800
            )
            .cast("long")
            .alias("week_offset"),
        )
        .distinct()
    )
    return act.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_users")
    )


@query(
    "scd2_intervals",
    oracle="""
WITH o AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
), chg AS (
  SELECT user_id, event_type, ts, event_id FROM o
  WHERE prev_type IS NULL OR event_type <> prev_type
)
SELECT user_id, event_type, ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id) AS valid_to
FROM chg
""",
)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 build: collapse each user's
    event_type stream into validity intervals [valid_from, valid_to)
    (open interval = current). Change detection via lag(), interval
    close via lead() — both windows share ONE Exchange on user_id
    (same partitionBy), so the whole history rebuild is a single
    shuffle regardless of history depth. event_id tiebreaks equal
    timestamps so both engines pick identical interval boundaries."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
        .select("user_id", "event_type", "ts", "event_id")
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return chg.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
    )


@query(
    "event_transitions",
    oracle="""
WITH nxt AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
), pairs AS (
  SELECT event_type, next_type, count(*) AS n
  FROM nxt WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
)
SELECT event_type, next_type, n,
       CAST(floor(n * 10000.0 / sum(n) OVER (PARTITION BY event_type))
            AS BIGINT) AS prob_bp
FROM pairs
""",
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event paths
    (the path-analysis primitive behind funnels and next-action
    models). lead() pairs consecutive events (one shuffle on user_id),
    then a count per (from, to) and a row-probability in basis points.
    The probability is floor(n * 1e4 / total): identical IEEE multiply
    + floor on both engines, immune to round()'s last-digit divergence.
    The transition matrix is event_type² rows — tiny at any corpus
    scale, so the final window runs on a trivially small input."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "event_type", F.lead("event_type").over(w).alias("next_type")
        )
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = Window.partitionBy("event_type")
    return pairs.select(
        "event_type",
        "next_type",
        "n",
        F.floor(F.col("n") * 10000.0 / F.sum("n").over(tot))
        .cast("long")
        .alias("prob_bp"),
    )


@query(
    "x6_zorder_layout",
    oracle="""
WITH q AS (
  SELECT least(255, CAST(floor(value / 2) AS BIGINT)) AS vq,
         CAST(hour(ts) AS BIGINT) AS hq
  FROM events
), z AS (
  SELECT vq, hq,
         list_sum([(((vq >> i) & 1) << (2*i)) + (((hq >> i) & 1) << (2*i+1))
                   FOR i IN range(0, 8, 1)]) AS zval
  FROM q
)
SELECT CAST(floor(zval / 64) AS BIGINT) AS z_bucket,
       count(*) AS n,
       min(vq) AS min_vq, max(vq) AS max_vq,
       min(hq) AS min_hq, max(hq) AS max_hq
FROM z
GROUP BY z_bucket
""",
)
def x6_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout assignment — the multi-dimensional
    clustering behind file-level data skipping: interleave the bits of
    two quantized dimensions so rows close in (value, hour) land in the
    same z-range, then a write would repartitionByRange(zval) into
    files whose per-file min/max on BOTH dims stays tight (this query
    reports exactly those spans per z-bucket). The interleave is a
    statically-unrolled 8-bit shift/mask projection — row-local, no
    shuffle until the final tiny per-bucket rollup."""
    ev = load(spark, sf_dir, "events")
    vq = F.least(F.lit(255), F.floor(F.col("value") / 2)).cast("long")
    hq = F.hour("ts").cast("long")
    q = ev.select(vq.alias("vq"), hq.alias("hq"))
    zval = None
    for i in range(8):
        v_bit = F.shiftleft(F.shiftright(F.col("vq"), i).bitwiseAND(F.lit(1)), 2 * i)
        h_bit = F.shiftleft(
            F.shiftright(F.col("hq"), i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
        term = v_bit + h_bit
        zval = term if zval is None else zval + term
    return (
        q.withColumn("zval", zval)
        .select(
            F.floor(F.col("zval") / 64).cast("long").alias("z_bucket"),
            "vq",
            "hq",
        )
        .groupBy("z_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("vq").alias("min_vq"),
            F.max("vq").alias("max_vq"),
            F.min("hq").alias("min_hq"),
            F.max("hq").alias("max_hq"),
        )
    )


@query(
    "skew_salted_window",
    oracle="""
SELECT event_type, date_trunc('hour', ts) AS window_start,
       count(*) AS n,
       min(value) AS min_value, max(value) AS max_value,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
GROUP BY event_type, window_start
""",
)
def skew_salted_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key windowed rollup via two-phase salting
    (operators/skew.salted_windowed_agg): partial agg on
    (event_type, hour-window, salt), recombine on (event_type, window).
    event_type has single-digit cardinality, so an unsalted
    groupBy(type, window) funnels each type's rows per window through
    one reducer — the salt spreads them over 8 sub-partitions first.
    The result is bit-identical to the plain rollup (count/min/max are
    order-free; the sum is integer cents), which is exactly why salting
    is safe to apply mechanically under skew."""
    from recipes_spark.operators.skew import salted_windowed_agg

    ev = load(spark, sf_dir, "events").withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    out = salted_windowed_agg(
        ev,
        time_col="ts",
        window_duration="1 hour",
        key="event_type",
        aggs=[
            ("count", "cents", "n"),
            ("min", "value", "min_value"),
            ("max", "value", "max_value"),
            ("sum", "cents", "sum_cents"),
        ],
        salt=8,
        unique_col="event_id",
    )
    return out.select(
        "event_type",
        F.col("window_start"),
        F.col("n").cast("long").alias("n"),
        "min_value",
        "max_value",
        F.col("sum_cents").cast("long").alias("sum_cents"),
    )


@query(
    "ts_resample_ffill",
    oracle="""
WITH latest AS (
  SELECT user_id, ts, value,
         row_number() OVER (PARTITION BY user_id, ts
                            ORDER BY event_id DESC) AS rn
  FROM events
), obs AS (
  SELECT user_id, ts, value FROM latest WHERE rn = 1
), bounds AS (
  SELECT user_id, date_trunc('hour', min(ts)) AS mn,
         date_trunc('hour', max(ts)) AS mx
  FROM events GROUP BY user_id
), grid AS (
  SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS grid_ts
  FROM bounds
)
SELECT g.user_id, g.grid_ts, o.value
FROM grid g ASOF LEFT JOIN obs o
  ON g.user_id = o.user_id AND g.grid_ts >= o.ts
""",
)
def ts_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample to an hourly grid with forward-fill: per
    user, generate the hour grid spanning their history
    (sequence+explode — S1's grid pattern), then carry the most recent
    observation onto each grid point via the as-of join operator
    (operators/joins.asof_join: union + one window, a single shuffle on
    user_id, no range-join row blowup). Equal-timestamp observations
    dedupe to the max event_id first so both engines fill identical
    values; grid points before a user's first event stay NULL."""
    from recipes_spark.operators.joins import asof_join

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    obs = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", F.col("value").alias("obs_value"))
    )
    grid = (
        ev.groupBy("user_id")
        .agg(
            F.date_trunc("hour", F.min("ts")).alias("mn"),
            F.date_trunc("hour", F.max("ts")).alias("mx"),
        )
        .select(
            "user_id",
            F.explode(
                F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))
            ).alias("grid_ts"),
        )
    )
    out = asof_join(
        grid,
        obs,
        left_ts="grid_ts",
        right_ts="ts",
        by="user_id",
        value_cols=["obs_value"],
        direction="backward",
    )
    return out.select("user_id", "grid_ts", F.col("obs_value").alias("value"))


#: Shared by the batch query below and its streaming twin
#: (streaming/ingest.st20_stream_pattern_match): the stream's final
#: carry-state must equal the batch funnel exactly.
PATTERN_FUNNEL_ORACLE = """
WITH e AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS us FROM events
), s1 AS (
  SELECT user_id, event_type, event_id, us,
         max(CASE WHEN event_type = 'view' THEN us END)
           OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lv
  FROM e
), s2 AS (
  SELECT user_id, event_type, us,
         max(CASE WHEN event_type = 'click' AND lv IS NOT NULL
                   AND us - lv <= 86400000000 THEN us END)
           OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lqc
  FROM s1
)
SELECT user_id,
       CAST(count_if(event_type = 'purchase') AS BIGINT) AS n_purchase,
       CAST(count_if(event_type = 'purchase' AND lqc IS NOT NULL
                     AND us - lqc <= 86400000000) AS BIGINT) AS n_converted
FROM s2
GROUP BY user_id
ORDER BY user_id
"""


@query("event_pattern_match", oracle=PATTERN_FUNNEL_ORACLE)
def event_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered SEQUENCE detection per user — view -> click -> purchase
    with each hop within 24 hours — the MATCH_RECOGNIZE / funnel-path
    workload, solved without row explosion: two stacked running maxes
    over ONE user-ordered pass. `lv` carries the latest view seen
    strictly before each event; a click becomes QUALIFIED when a view
    precedes it within the hop window; `lqc` carries the latest
    qualified click; a purchase converts when a qualified click
    precedes it within the window. Strictly-preceding frames
    (UNBOUNDED..1 PRECEDING) plus the (us, event_id) total order make
    equal-timestamp behavior deterministic and identical across
    engines; all arithmetic is integer epoch-micros.

    100 TB: both windows and the final agg partition by user_id, so
    the whole query is ONE exchange (chained same-key window rule) +
    a per-user sort — no self-join, no per-hop shuffle, no candidate
    blow-up for longer patterns (each extra hop is one more running
    max over the same sort)."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", F.unix_micros("ts").alias("us")
    )
    hop = 86_400_000_000
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    s1 = ev.select(
        "user_id", "event_type", "event_id", "us",
        F.max(
            F.when(F.col("event_type") == "view", F.col("us"))
        ).over(w).alias("lv"),
    )
    s2 = s1.select(
        "user_id", "event_type", "us",
        F.max(
            F.when(
                (F.col("event_type") == "click")
                & F.col("lv").isNotNull()
                & (F.col("us") - F.col("lv") <= hop),
                F.col("us"),
            )
        ).over(w).alias("lqc"),
    )
    is_purchase = F.col("event_type") == "purchase"
    return (
        s2.groupBy("user_id")
        .agg(
            F.count_if(is_purchase).alias("n_purchase"),
            F.count_if(
                is_purchase
                & F.col("lqc").isNotNull()
                & (F.col("us") - F.col("lqc") <= hop)
            ).alias("n_converted"),
        )
        .orderBy("user_id")
    )


@query(
    "ts_linear_interp",
    oracle="""
WITH obs AS (
  SELECT event_type,
         epoch_us(ts) // 600000000 AS bucket,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT event_type, min(bucket) AS mn, max(bucket) AS mx
  FROM obs GROUP BY event_type
), grid AS (
  SELECT event_type, unnest(range(mn, mx + 1)) AS bucket FROM bounds
), j AS (
  SELECT g.event_type, g.bucket, o.v
  FROM grid g LEFT JOIN obs o
    ON o.event_type = g.event_type AND o.bucket = g.bucket
), f AS (
  SELECT event_type, bucket, v,
         last_value(v IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY bucket
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         last_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY bucket
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
         first_value(v IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY bucket
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         first_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY bucket
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
  FROM j
)
SELECT event_type, bucket,
       CAST(CASE WHEN v IS NOT NULL THEN v * 1000
                 ELSE pv * 1000
                      + (((nv - pv) * 1000 * (bucket - pt))
                         + 10000000000000 * (nt - pt)) // (nt - pt)
                      - 10000000000000
            END AS BIGINT) AS filled_milli,
       CAST(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END AS INT) AS observed
FROM f
ORDER BY event_type, bucket
""",
)
def ts_linear_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filling RESAMPLE with LINEAR INTERPOLATION — the harder
    sibling of ts_resample_ffill: per event type, 10-minute buckets of
    summed cents; unobserved grid buckets get the line between the
    nearest observed neighbors. EXACT cross-engine: neighbor lookups
    are last/first IGNORE NULLS over one ordered pass (pv/pt backward,
    nv/nt forward), and the interpolation is INTEGER —
    pv*1000 + ((nv-pv)*1000*dt + K*T) div T - K with K = 10^13
    shifting the numerator positive so Spark's truncating `div` and
    DuckDB's flooring `//` agree on every gap. The grid spans
    min..max observed per type, so both neighbors always exist and
    T >= 1 on every ELSE branch (observed rows short-circuit to their
    own value before the division).

    100 TB: grid explode, equi-join back, both windows, and the sort
    all cluster on event_type — one exchange end to end (the funnel
    pass's chained-window rule); the grid is bounded by time span /
    bucket width, independent of event volume."""
    ev = load(spark, sf_dir, "events")
    obs = (
        ev.select(
            "event_type",
            F.expr("unix_micros(ts) div 600000000").alias("bucket"),
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.sum("cents").cast("long").alias("v"))
    )
    grid = (
        obs.groupBy("event_type")
        .agg(F.min("bucket").alias("mn"), F.max("bucket").alias("mx"))
        .select(
            "event_type",
            F.explode(F.sequence("mn", "mx")).alias("bucket"),
        )
    )
    j = grid.join(obs, ["event_type", "bucket"], "left")
    back = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Forward neighbors via the REVERSED order with an incremental
    # frame: Spark's (currentRow, unboundedFollowing) frame re-scans
    # the tail per row — O(grid²) per event type, and the grid scales
    # with TIME SPAN, not event volume (measured 4.9 s warm at sf0.01;
    # 0.87 s with the reversed frame). Buckets are unique per type, so
    # "first non-null at or after me (asc)" == "last non-null at or
    # before me (desc)" exactly. Same single exchange on event_type.
    fwd = (
        Window.partitionBy("event_type")
        .orderBy(F.desc("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    obs_bucket = F.when(F.col("v").isNotNull(), F.col("bucket"))
    f = j.select(
        "event_type", "bucket", "v",
        F.last("v", ignorenulls=True).over(back).alias("pv"),
        F.last(obs_bucket, ignorenulls=True).over(back).alias("pt"),
        F.last("v", ignorenulls=True).over(fwd).alias("nv"),
        F.last(obs_bucket, ignorenulls=True).over(fwd).alias("nt"),
    )
    filled = F.when(F.col("v").isNotNull(), F.col("v") * 1000).otherwise(
        F.col("pv") * 1000
        + F.expr(
            "(((nv - pv) * 1000 * (bucket - pt))"
            " + 10000000000000 * (nt - pt)) div (nt - pt)"
        )
        - F.lit(10000000000000)
    )
    return f.select(
        "event_type", "bucket",
        filled.cast("long").alias("filled_milli"),
        F.when(F.col("v").isNotNull(), 1).otherwise(0).cast("int")
        .alias("observed"),
    ).orderBy("event_type", "bucket")


@query(
    "event_burstiness",
    oracle="""
WITH o AS (
  SELECT event_type, epoch_us(ts) // 1000000 AS s, event_id FROM events
), g AS (
  SELECT event_type,
         s - lag(s) OVER (PARTITION BY event_type
                          ORDER BY s, event_id) AS gap
  FROM o
), st AS (
  SELECT event_type,
         CAST(count(gap) AS BIGINT) AS n,
         CAST(sum(gap) AS DOUBLE) AS sg,
         CAST(sum(gap * gap) AS DOUBLE) AS sq
  FROM g WHERE gap IS NOT NULL GROUP BY event_type
), m AS (
  SELECT event_type, n, sg / n AS mean,
         sqrt((sq - sg * sg / n) / n) AS sd
  FROM st
)
SELECT event_type, n,
       CAST(floor(1000000.0 * sd / mean) AS BIGINT) AS cv_micro,
       CAST(floor(1000000.0 * (sd - mean) / (sd + mean)) AS BIGINT)
         AS burstiness_micro
FROM m ORDER BY event_type
""",
)
def event_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival BURSTINESS per event type — the Goh-Barabasi
    B = (sd - mean)/(sd + mean) of consecutive gaps (-1 = metronome,
    0 = Poisson, ->1 = heavy bursts) plus the coefficient of
    variation: the one-pass diagnostic that tells a capacity planner
    whether event_max_concurrency's peaks are rhythm or clumping.
    EXACT: gaps in integer SECONDS over the (ts, event_id) total
    order (second-granularity keeps sum(gap^2) in int64 to ~1e5x this
    volume; micro-gaps would overflow), co-moments exact, one fixed
    double expression, floor micros.

    100 TB: the lag window and the agg cluster on event_type — one
    exchange; the stats are O(groups)."""
    ev = load(spark, sf_dir, "events")
    o = ev.select(
        "event_type",
        F.expr("unix_micros(ts) div 1000000").alias("s"),
        "event_id",
    )
    g = o.select(
        "event_type",
        (
            F.col("s")
            - F.lag("s").over(
                Window.partitionBy("event_type").orderBy("s", "event_id")
            )
        ).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    st = g.groupBy("event_type").agg(
        F.count("gap").alias("n"),
        F.sum("gap").cast("double").alias("sg"),
        F.sum(F.col("gap") * F.col("gap")).cast("double").alias("sq"),
    )
    m = st.select(
        "event_type", "n",
        (F.col("sg") / F.col("n")).alias("mean"),
        F.sqrt(
            (F.col("sq") - F.col("sg") * F.col("sg") / F.col("n")) / F.col("n")
        ).alias("sd"),
    )
    micro = F.lit(1000000.0)
    return m.select(
        "event_type", "n",
        F.floor(micro * F.col("sd") / F.col("mean")).alias("cv_micro"),
        F.floor(
            micro * (F.col("sd") - F.col("mean"))
            / (F.col("sd") + F.col("mean"))
        ).alias("burstiness_micro"),
    ).orderBy("event_type")


@query(
    "event_anomaly_buckets",
    oracle="""
WITH c AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS b,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), grid AS (
  SELECT event_type, unnest(range(min(b), max(b) + 1)) AS b
  FROM c GROUP BY event_type
), filled AS (
  SELECT g.event_type, g.b, coalesce(c.n, 0) AS n
  FROM grid g LEFT JOIN c ON c.event_type = g.event_type AND c.b = g.b
), s AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS m,
         CAST(sum(n) AS DOUBLE) AS sn,
         CAST(sum(n * n) AS DOUBLE) AS sq
  FROM filled GROUP BY event_type
)
SELECT f.event_type, f.b AS bucket, f.n,
       CAST(floor(1000000.0 * (f.n - sn / m)
            / sqrt((sq - sn * sn / m) / m)) AS BIGINT) AS z_micro
FROM filled f JOIN s ON s.event_type = f.event_type
WHERE (f.n - sn / m) / sqrt((sq - sn * sn / m) / m) >= 3.0
ORDER BY f.event_type, f.b
""",
)
def event_anomaly_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume ANOMALY detection: hourly buckets whose event count sits
    >= 3 sigma above the type's mean rate — the alerting query behind
    every ops dashboard. The statistics run over the ZERO-FILLED grid
    (a sequence explode spanning each type's observed range), because
    omitting empty buckets inflates the mean and silently hides
    genuine spikes — the classic wrong version of this query. Counts
    are exact integers; mean/sd come from exact sums through one fixed
    double expression (the corr discipline), and the same expression
    evaluates both the filter and the reported z so the cut is
    bit-identical across engines.

    100 TB: grid explode, count join, stats agg, and the final filter
    all cluster on event_type — the ts_linear_interp shape; the grid
    is time-span-sized, not event-sized. Per-bucket counts map-side
    combine before the shuffle."""
    ev = load(spark, sf_dir, "events")
    c = (
        ev.select(
            "event_type",
            F.expr("unix_micros(ts) div 3600000000").alias("b"),
        )
        .groupBy("event_type", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        # Materialized ONCE (r17 aggregate-reuse sweep): the grid span,
        # the zero-fill join, the stats agg and the final join each
        # re-derive this base, and branch-specific column pruning
        # defeats ReuseExchange — the executed plan scanned events 6×
        # per run (executed-plan scan count, measured in r17). The base is
        # (type × hour)-sized metadata, so one barrier buys scans → 1.
        .localCheckpoint(eager=True)
    )
    grid = (
        c.groupBy("event_type")
        .agg(F.min("b").alias("mn"), F.max("b").alias("mx"))
        .select("event_type", F.explode(F.sequence("mn", "mx")).alias("b"))
    )
    filled = grid.join(c, ["event_type", "b"], "left").select(
        "event_type", "b", F.coalesce("n", F.lit(0)).alias("n")
    )
    s = filled.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("n").cast("double").alias("sn"),
        F.sum(F.col("n") * F.col("n")).cast("double").alias("sq"),
    )
    z = (F.col("n") - F.col("sn") / F.col("m")) / F.sqrt(
        (F.col("sq") - F.col("sn") * F.col("sn") / F.col("m")) / F.col("m")
    )
    return (
        filled.join(s, "event_type")
        .filter(z >= 3.0)
        .select(
            "event_type",
            F.col("b").alias("bucket"),
            "n",
            F.floor(F.lit(1000000.0) * z).alias("z_micro"),
        )
        .orderBy("event_type", "bucket")
    )


@query(
    "window_cusum",
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
), k AS (
  SELECT event_type, CAST((sum(x) + count(*) - 1) // count(*) AS BIGINT)
           AS drift_k
  FROM filled GROUP BY event_type
), cs AS (
  SELECT f.event_type, f.b, f.x,
         sum(f.x - k.drift_k) OVER (PARTITION BY f.event_type ORDER BY f.b
                                    ROWS UNBOUNDED PRECEDING) AS cs
  FROM filled f JOIN k ON k.event_type = f.event_type
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
def window_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection over hourly event rates — the
    sequential recurrence s_t = max(0, s_{t-1} + x_t - k) looks
    window-inexpressible, but it has the classic closed form
    cusum_t = S_t - min(0, min_{j<=t} S_j) with S the running sum of
    (x - k): one cumulative sum, one running min OF that sum, one
    subtraction — two stacked windows on the same key, no recursion,
    no UDF. Reference slack k = ceil(mean rate) in exact integers;
    buckets come zero-filled from the anomaly query's grid (a missing
    hour must DRAIN the cusum, not be skipped). Alarm rows are
    cusum >= 10 (ten hours' worth of one-above-slack excess — ~15% of
    this fixture's buckets; max observed is 20), the
    sustained-drift signal the single-bucket z-score anomaly cannot
    see.

    100 TB: grid join + both windows + filter all cluster on
    event_type — one exchange end to end; state per row is two
    integers."""
    ev = load(spark, sf_dir, "events")
    c = (
        ev.select(
            "event_type",
            F.expr("unix_micros(ts) div 3600000000").alias("b"),
        )
        .groupBy("event_type", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        # Materialized once — see event_anomaly_buckets (r17): the
        # executed plan re-scanned events per derived branch.
        .localCheckpoint(eager=True)
    )
    grid = (
        c.groupBy("event_type")
        .agg(F.min("b").alias("mn"), F.max("b").alias("mx"))
        .select("event_type", F.explode(F.sequence("mn", "mx")).alias("b"))
    )
    filled = grid.join(c, ["event_type", "b"], "left").select(
        "event_type", "b", F.coalesce("n", F.lit(0)).alias("x")
    )
    k = filled.groupBy("event_type").agg(
        F.expr("(sum(x) + count(1) - 1) div count(1)")
        .cast("long")
        .alias("drift_k")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = (
        filled.join(F.broadcast(k), "event_type")
        .select(
            "event_type", "b", "x",
            F.sum(F.col("x") - F.col("drift_k")).over(w).alias("cs"),
        )
        .select(
            "event_type", "b", "x", "cs",
            F.min("cs").over(w).alias("low_water"),
        )
    )
    cusum = F.col("cs") - F.least(F.col("low_water"), F.lit(0))
    return (
        s.filter(cusum >= 10)
        .select(
            "event_type",
            F.col("b").alias("bucket"),
            "x",
            cusum.cast("long").alias("cusum"),
        )
        .orderBy("event_type", "bucket")
    )


@query(
    "event_trigram_paths",
    oracle="""
WITH nxt AS (
  SELECT event_type AS a,
         lead(event_type) OVER w AS b,
         lead(event_type, 2) OVER w AS c
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), tri AS (
  SELECT a, b, c, CAST(count(*) AS BIGINT) AS n
  FROM nxt WHERE c IS NOT NULL
  GROUP BY a, b, c
), ranked AS (
  SELECT a, b, c, n,
         row_number() OVER (ORDER BY n DESC, a, b, c) AS rnk,
         CAST(floor(n * 10000.0 / sum(n) OVER ()) AS BIGINT) AS share_bp
  FROM tri
)
SELECT CAST(rnk AS BIGINT) AS rnk, a, b, c, n, share_bp
FROM ranked WHERE rnk <= 25
ORDER BY rnk
""",
)
def event_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SECOND-ORDER path analysis: the top 25 length-3 event paths per
    user order (the Sankey/flow diagram's data, and where first-order
    Markov assumptions visibly break — a trigram whose share deviates
    from p(a->b)·p(b->c) is memory in the process). Two lead()s over
    ONE user-ordered window pass (no self-joins — each extra path
    hop is one more lead over the same sort, the pattern-match
    economics), a trigram hash agg, and a deterministic
    (n desc, path) top-25 with each path's share of ALL trigrams in
    floored basis points.

    100 TB: one shuffle on user_id; the trigram space is |types|^3
    rows however large the stream; TakeOrderedAndProject bounds the
    driver payload."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type").over(w).alias("b"),
        F.lead("event_type", 2).over(w).alias("c"),
    ).filter(F.col("c").isNotNull())
    tri = nxt.groupBy("a", "b", "c").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    total = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = tri.select(
        "a", "b", "c", "n",
        F.row_number()
        .over(Window.orderBy(F.desc("n"), "a", "b", "c"))
        .alias("rnk"),
        F.floor(F.col("n") * 10000.0 / F.sum("n").over(total))
        .alias("share_bp"),
    )
    return (
        ranked.filter(F.col("rnk") <= 25)
        .select(
            F.col("rnk").cast("long").alias("rnk"),
            "a", "b", "c", "n", "share_bp",
        )
        .orderBy("rnk")
    )


@query(
    "scd2_point_lookup",
    oracle="""
WITH st AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events WHERE event_type <> 'purchase'
), chg0 AS (
  SELECT user_id, event_type AS state, ts AS valid_from, event_id
  FROM st WHERE prev_type IS NULL OR event_type <> prev_type
), chg AS (
  SELECT user_id, state, valid_from
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, valid_from
                                     ORDER BY event_id DESC) AS rn
        FROM chg0)
  WHERE rn = 1
), probes AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), looked AS (
  SELECT p.event_id, c.state
  FROM probes p ASOF LEFT JOIN chg c
    ON p.user_id = c.user_id AND p.ts >= c.valid_from
)
SELECT coalesce(state, '~none') AS state,
       CAST(count(*) AS BIGINT) AS n_purchases
FROM looked GROUP BY 1 ORDER BY 1
""",
)
def scd2_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL POINT LOOKUP against the SCD2 dimension — "what state
    was the user in when they purchased": the type-2 history
    (scd2_intervals' change detection over the non-purchase stream)
    probed at each purchase timestamp. Because SCD2 intervals tile
    each user's timeline, the point-in-interval join IS a backward
    as-of on valid_from — one union+window shuffle via
    operators/joins.asof_join, no interval range join, no row blowup;
    purchases before any state event roll up under '~none' instead of
    silently dropping (LEFT semantics); same-instant change rows
    dedup to the latest event_id first so the pick is deterministic.

    100 TB: the dimension build and the as-of probe both cluster on
    user_id; this is the dominant pattern for dimension-at-event-time
    enrichment (price at order time, config at failure time), and the
    reason the SCD2 build stores valid_from sorted per key."""
    from recipes_spark.operators.joins import asof_join

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    st = (
        ev.filter(F.col("event_type") != "purchase")
        .withColumn("prev_type", F.lag("event_type").over(w))
    )
    chg0 = st.filter(
        F.col("prev_type").isNull()
        | (F.col("event_type") != F.col("prev_type"))
    ).select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        "event_id",
    )
    # Same-instant change rows: latest event_id wins (the st10 CDC
    # convention) so the as-of pick is deterministic on both engines.
    wtie = Window.partitionBy("user_id", "valid_from").orderBy(
        F.desc("event_id")
    )
    chg = (
        chg0.withColumn("rn", F.row_number().over(wtie))
        .filter(F.col("rn") == 1)
        .select("user_id", "state", "valid_from")
    )
    probes = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    looked = asof_join(
        probes, chg,
        left_ts="ts", right_ts="valid_from", by="user_id",
        value_cols=["state"],
    )
    return (
        looked.select(F.coalesce("state", F.lit("~none")).alias("state"))
        .groupBy("state")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
        .orderBy("state")
    )


#: Shared with the streaming twin (streaming/ingest.
#: st23_stream_attribution): the stream's accumulated credit table
#: must equal the batch attribution exactly.
ATTRIBUTION_ORACLE = """
WITH clicks AS (
  SELECT user_id, ts AS click_ts, event_id,
         CAST(json_extract(props, '$.k') AS BIGINT) // 20 AS campaign
  FROM events WHERE event_type = 'click'
), c AS (
  SELECT user_id, click_ts, campaign
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, click_ts
                                     ORDER BY event_id DESC) AS rn
        FROM clicks)
  WHERE rn = 1
), probes AS (
  SELECT event_id, user_id, ts,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
), looked AS (
  SELECT p.event_id, p.cents, c.campaign, c.click_ts, p.ts
  FROM probes p ASOF LEFT JOIN c
    ON p.user_id = c.user_id AND p.ts >= c.click_ts
)
SELECT CASE WHEN campaign IS NOT NULL
             AND epoch_us(ts) - epoch_us(click_ts) <= 604800000000
            THEN CAST(campaign AS VARCHAR) ELSE '~organic' END AS campaign,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(sum(cents) AS BIGINT) AS revenue_cents
FROM looked GROUP BY 1 ORDER BY 1
"""


@query("event_attribution_lasttouch", oracle=ATTRIBUTION_ORACLE)
def event_attribution_lasttouch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAST-TOUCH marketing ATTRIBUTION: each purchase credits the
    campaign of the user's most recent prior click within a 7-day
    window, otherwise '~organic' — the revenue-allocation query every
    growth team runs, distinct from the funnel queries because it
    ASSIGNS each conversion's value to exactly one source (credit
    must sum to total revenue, which the oracle's hash enforces).
    Campaign = click-payload k div 20 (the JSON surface scalar_json
    pins); the lookup is the SCD2 backward as-of with the
    join_asof_tolerance window applied after resolution; same-instant
    clicks dedup to latest event_id first.

    100 TB: one as-of shuffle on user_id + one tiny campaign agg —
    multi-touch models (linear, time-decay) reuse the same resolved
    (purchase, clicks-within-window) relation with different weight
    expressions."""
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("click_ts"),
        "event_id",
        F.expr("cast(get_json_object(props, '$.k') as bigint) div 20")
        .alias("campaign"),
    )
    wtie = Window.partitionBy("user_id", "click_ts").orderBy(
        F.desc("event_id")
    )
    c = (
        clicks.withColumn("rn", F.row_number().over(wtie))
        .filter(F.col("rn") == 1)
        .select("user_id", "click_ts", "campaign")
    )
    probes = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    from recipes_spark.operators.joins import asof_join

    looked = asof_join(
        probes, c,
        left_ts="ts", right_ts="click_ts", by="user_id",
        value_cols=["campaign", "click_ts"],
    )
    fresh = F.col("campaign").isNotNull() & (
        F.unix_micros("ts") - F.unix_micros("click_ts") <= 604_800_000_000
    )
    return (
        looked.select(
            F.when(fresh, F.col("campaign").cast("string"))
            .otherwise("~organic").alias("campaign"),
            "cents",
        )
        .groupBy("campaign")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
        .orderBy("campaign")
    )


@query(
    "window_drawdown",
    oracle="""
WITH c AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS b,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), grid AS (
  SELECT event_type, unnest(range(min(b), max(b) + 1)) AS b
  FROM c GROUP BY event_type
), filled AS (
  SELECT g.event_type, g.b, coalesce(c.n, 0) AS x
  FROM grid g LEFT JOIN c ON c.event_type = g.event_type AND c.b = g.b
), tot AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(x) AS BIGINT) AS total
  FROM filled GROUP BY event_type
), eq AS (
  SELECT f.event_type, f.b, t.cnt,
         CAST(sum(f.x * t.cnt - t.total)
              OVER (PARTITION BY f.event_type ORDER BY f.b
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS equity
  FROM filled f JOIN tot t ON t.event_type = f.event_type
), dd AS (
  SELECT event_type, b, cnt,
         CAST(max(equity) OVER (PARTITION BY event_type ORDER BY b
                                ROWS UNBOUNDED PRECEDING)
              - equity AS BIGINT) AS dd
  FROM eq
), m AS (
  SELECT event_type, CAST(max(dd) AS BIGINT) AS md FROM dd GROUP BY 1
)
SELECT d.event_type,
       CAST(min(d.b) AS BIGINT) AS trough_bucket,
       CAST(max(m.md) AS BIGINT) AS dd_scaled,
       CAST(max(m.md) // max(d.cnt) AS BIGINT) AS dd_cents
FROM dd d JOIN m ON m.event_type = d.event_type
WHERE d.dd = m.md
GROUP BY d.event_type
ORDER BY d.event_type
""",
)
def window_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the hourly net-revenue curve per event type —
    the monitoring query behind "how far below its best hour-rate did
    this stream fall, and when": equity_t = running sum of the
    mean-centered hourly cents, drawdown_t = running-max(equity) -
    equity, answer = the max drawdown and its EARLIEST trough bucket.
    Mean-centering is kept exact by multiplying through by the bucket
    count (y = x*cnt - total), so equity, running max, and drawdown
    are all integers — the only division is the final presentation
    floor back to cents. Buckets come zero-filled from the shared
    grid: a silent hour IS a drawdown hour, skipping it would
    understate the dip.

    100 TB: grid join + both stacked windows + the argmax join all
    cluster on event_type — one exchange; the tie-broken trough join
    broadcasts the per-type maxima (rows = #types)."""
    ev = load(spark, sf_dir, "events")
    c = (
        ev.select(
            "event_type",
            F.expr("unix_micros(ts) div 3600000000").alias("b"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("event_type", "b")
        .agg(F.sum("cents").cast("long").alias("n"))
        # Materialized once — see event_anomaly_buckets (r17): the
        # executed plan re-scanned events per derived branch (up to
        # 10× for the drawdown's stacked-window chain).
        .localCheckpoint(eager=True)
    )
    grid = (
        c.groupBy("event_type")
        .agg(F.min("b").alias("mn"), F.max("b").alias("mx"))
        .select("event_type", F.explode(F.sequence("mn", "mx")).alias("b"))
    )
    filled = grid.join(c, ["event_type", "b"], "left").select(
        "event_type", "b", F.coalesce("n", F.lit(0)).alias("x")
    )
    tot = filled.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("x").cast("long").alias("total"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    eq = filled.join(F.broadcast(tot), "event_type").select(
        "event_type", "b", "cnt",
        F.sum(F.col("x") * F.col("cnt") - F.col("total")).over(w).alias("equity"),
    )
    dd = eq.select(
        "event_type", "b", "cnt",
        (F.max("equity").over(w) - F.col("equity")).alias("dd"),
    )
    m = dd.groupBy("event_type").agg(F.max("dd").alias("md"))
    return (
        dd.join(F.broadcast(m), "event_type")
        .filter(F.col("dd") == F.col("md"))
        .groupBy("event_type")
        .agg(
            F.min("b").cast("long").alias("trough_bucket"),
            F.max("md").cast("long").alias("dd_scaled"),
            F.expr("max(md) div max(cnt)").cast("long").alias("dd_cents"),
        )
        .orderBy("event_type")
    )


@query(
    "event_rfm_segments",
    oracle="""
WITH u AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS monetary_cents,
         max(epoch_us(ts)) AS umax
  FROM events GROUP BY user_id
), a AS (SELECT max(epoch_us(ts)) AS amax FROM events),
r AS (
  SELECT u.user_id, u.frequency, u.monetary_cents,
         CAST((a.amax - u.umax) // 86400000000 AS BIGINT) AS recency_days
  FROM u, a
), s AS (
  SELECT user_id, recency_days, frequency, monetary_cents,
         CAST(ntile(5) OVER (ORDER BY recency_days DESC, user_id)
              AS BIGINT) AS r_score,
         CAST(ntile(5) OVER (ORDER BY frequency ASC, user_id)
              AS BIGINT) AS f_score,
         CAST(ntile(5) OVER (ORDER BY monetary_cents ASC, user_id)
              AS BIGINT) AS m_score
  FROM r
)
SELECT user_id, recency_days, frequency, monetary_cents,
       r_score, f_score, m_score,
       CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
            WHEN r_score >= 4 THEN 'recent'
            WHEN f_score >= 4 THEN 'loyal'
            WHEN r_score <= 2 AND f_score <= 2 THEN 'at_risk'
            ELSE 'regular' END AS segment
FROM s
ORDER BY user_id
""",
)
def event_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — recency / frequency / monetary
    quintile scores and the classic rule-based segment names. Every
    metric is an exact integer (whole days since the corpus anchor,
    event count, cents), and every ntile is made deterministic under
    ties by appending user_id to its ORDER BY — without the tiebreak,
    equal-frequency users could swap quintiles between runs and
    engines.

    100 TB: the per-user reduce is one map-side-combining shuffle; the
    anchor is a broadcast scalar. Each quintile score is computed
    WITHOUT a global sort: a sharded global row number
    (operators/prefix.partitioned_row_number — range shuffle,
    shard-local window, S-row offset scan) feeds the exact ntile
    bucket arithmetic (first N mod 5 buckets hold ceil(N/5) rows), so
    there is no Exchange SinglePartition anywhere in the plan and the
    user dimension never funnels through one task. Output is
    bit-identical to the oracle's ntile(5)."""
    from recipes_spark.operators.prefix import partitioned_row_number

    ev = load(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("monetary_cents"),
        F.max(F.unix_micros("ts")).alias("umax"),
    )
    a = ev.agg(F.max(F.unix_micros("ts")).alias("amax"))
    r = u.crossJoin(F.broadcast(a)).select(
        "user_id", "frequency", "monetary_cents",
        F.expr("(amax - umax) div 86400000000")
        .cast("long")
        .alias("recency_days"),
    )
    def ntile5(rn_col: str, n_total: int):
        # Exact ntile(5) from a 1-based global rank: q = N div 5 rows
        # per bucket, the first r = N mod 5 buckets take one extra.
        q5, r5 = divmod(n_total, 5)
        p0 = F.col(rn_col) - F.lit(1)
        if q5 == 0:
            return (p0 + 1).cast("long")
        head = r5 * (q5 + 1)
        bucket = F.when(p0 < head, F.floor(p0 / (q5 + 1))).otherwise(
            r5 + F.floor((p0 - head) / q5)
        )
        return (bucket + 1).cast("long")

    s, n_users = partitioned_row_number(
        r,
        order_exprs=[F.col("recency_days").desc(), F.col("user_id")],
        out_col="__rn_r",
    )
    s, _ = partitioned_row_number(
        s,
        order_exprs=[F.col("frequency").asc(), F.col("user_id")],
        out_col="__rn_f",
    )
    s, _ = partitioned_row_number(
        s,
        order_exprs=[F.col("monetary_cents").asc(), F.col("user_id")],
        out_col="__rn_m",
    )
    s = s.select(
        "user_id", "recency_days", "frequency", "monetary_cents",
        ntile5("__rn_r", n_users).alias("r_score"),
        ntile5("__rn_f", n_users).alias("f_score"),
        ntile5("__rn_m", n_users).alias("m_score"),
    )
    seg = (
        F.when((F.col("r_score") >= 4) & (F.col("f_score") >= 4), "champion")
        .when(F.col("r_score") >= 4, "recent")
        .when(F.col("f_score") >= 4, "loyal")
        .when((F.col("r_score") <= 2) & (F.col("f_score") <= 2), "at_risk")
        .otherwise("regular")
    )
    return s.select(
        "user_id", "recency_days", "frequency", "monetary_cents",
        "r_score", "f_score", "m_score", seg.alias("segment"),
    ).orderBy("user_id")


@query(
    "ts_seasonal_decompose",
    oracle="""
WITH c AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS b,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), grid AS (
  SELECT event_type, unnest(range(min(b), max(b) + 1)) AS b
  FROM c GROUP BY event_type
), filled AS (
  SELECT g.event_type, g.b, g.b % 24 AS hod, coalesce(c.n, 0) AS x
  FROM grid g LEFT JOIN c ON c.event_type = g.event_type AND c.b = g.b
), season AS (
  SELECT event_type, hod,
         CAST(sum(x) AS BIGINT) AS seas_num,
         CAST(count(*) AS BIGINT) AS seas_den
  FROM filled GROUP BY event_type, hod
)
SELECT f.event_type, f.b AS bucket, f.hod, CAST(f.x AS BIGINT) AS x,
       CAST(floor(1000000.0 * s.seas_num
                  / CAST(s.seas_den AS DOUBLE)) AS BIGINT)
         AS seasonal_micro,
       CAST(floor(1000000.0 * (f.x - s.seas_num
                  / CAST(s.seas_den AS DOUBLE))) AS BIGINT)
         AS resid_micro
FROM filled f
JOIN season s ON s.event_type = f.event_type AND s.hod = f.hod
ORDER BY f.event_type, bucket
""",
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of the hourly revenue series —
    per event type, the hour-of-day seasonal profile (the mean over
    all buckets sharing that UTC hour slot) and the deseasonalized
    residual for every bucket. The profile is carried as an exact
    integer fraction (seas_num / seas_den); the only floats are the
    two fixed-shape presentation divisions, floor-scaled to micros on
    identical integers on both engines. Hour-of-day comes from epoch
    arithmetic (b % 24), immune to the session timezone. Buckets are
    zero-filled: a silent hour is seasonal evidence (that slot is
    quiet), not a gap — dropping it would bias every profile high.

    100 TB: the bucket agg, the grid join, and the profile join all
    cluster on event_type (the profile side is #types x 24 rows,
    broadcast); one exchange carries the series end to end."""
    ev = load(spark, sf_dir, "events")
    c = (
        ev.select(
            "event_type",
            F.expr("unix_micros(ts) div 3600000000").alias("b"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("event_type", "b")
        .agg(F.sum("cents").cast("long").alias("n"))
        # Materialized once — see event_anomaly_buckets (r17): the
        # executed plan re-scanned events per derived branch (up to
        # 10× for the drawdown's stacked-window chain).
        .localCheckpoint(eager=True)
    )
    grid = (
        c.groupBy("event_type")
        .agg(F.min("b").alias("mn"), F.max("b").alias("mx"))
        .select("event_type", F.explode(F.sequence("mn", "mx")).alias("b"))
    )
    filled = grid.join(c, ["event_type", "b"], "left").select(
        "event_type", "b", (F.col("b") % 24).alias("hod"),
        F.coalesce("n", F.lit(0)).alias("x"),
    )
    season = filled.groupBy("event_type", "hod").agg(
        F.sum("x").cast("long").alias("seas_num"),
        F.count(F.lit(1)).cast("long").alias("seas_den"),
    )
    mean = F.col("seas_num") / F.col("seas_den").cast("double")
    return (
        filled.join(F.broadcast(season), ["event_type", "hod"])
        .select(
            "event_type", F.col("b").alias("bucket"), "hod",
            F.col("x").cast("long").alias("x"),
            F.floor(F.lit(1000000.0) * mean).alias("seasonal_micro"),
            F.floor(F.lit(1000000.0) * (F.col("x") - mean))
            .alias("resid_micro"),
        )
        .orderBy("event_type", "bucket")
    )


@query(
    "agg_survival_km",
    oracle="""
WITH u AS (
  SELECT e.user_id, c.c_mktsegment AS segment,
         min(epoch_us(e.ts)) AS t0,
         max(epoch_us(e.ts)) AS tlast,
         min(CASE WHEN e.event_type = 'purchase'
                  THEN epoch_us(e.ts) END) AS tp
  FROM events e JOIN customer c ON c.c_custkey = e.user_id
  GROUP BY e.user_id, c.c_mktsegment
), d AS (
  SELECT segment,
         CAST((coalesce(tp, tlast) - t0) // 86400000000 AS BIGINT)
           AS t_days,
         CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM u
), g AS (
  SELECT segment, t_days,
         CAST(sum(ev) AS BIGINT) AS d_events,
         CAST(count(*) - sum(ev) AS BIGINT) AS c_censored
  FROM d GROUP BY segment, t_days
), risk AS (
  SELECT segment, t_days, d_events, c_censored,
         CAST(sum(d_events + c_censored) OVER (PARTITION BY segment)
              - coalesce(sum(d_events + c_censored) OVER (
                  PARTITION BY segment ORDER BY t_days
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS n_risk
  FROM g
), lg AS (
  SELECT segment, t_days, n_risk, d_events, c_censored,
         CAST(floor(1000000.0 * ln(
               CAST(n_risk - d_events AS DOUBLE) / n_risk)) AS BIGINT)
           AS logs_micro
  FROM risk WHERE d_events > 0 AND n_risk > d_events
)
SELECT segment, t_days, n_risk, d_events, c_censored, logs_micro,
       CAST(sum(logs_micro) OVER (PARTITION BY segment ORDER BY t_days
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS logs_cum
FROM lg
ORDER BY segment, t_days
""",
)
def agg_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit survival curve for time-to-first-
    purchase per market segment — the churn/conversion analysis: each
    user contributes a duration in whole days from their first event
    to their first purchase, CENSORED at their last observed event if
    they never purchased. At each event time t: d_t purchases among
    n_risk still-at-risk users (censored-at-t users count as at risk,
    the standard convention), and the survival product prod(1 - d/n)
    is carried in LOG space with the repo's per-term-floor discipline:
    each ln((n-d)/n) is floored to integer micros independently, then
    the cumulative log-survival is an exact integer sum — no
    order-dependent float accumulation crosses engines. Durations,
    risk sets, and event counts are pure integers; terminal times
    where the whole risk set converts (n == d, survival hits exact 0,
    log -inf) are excluded by construction and no later time can
    exist with anyone at risk.

    100 TB: the per-user reduce shuffles once on user_id (customer
    broadcast); the curve windows cluster on segment over
    distinct-duration-sized input (days, not users)."""
    ev = load(spark, sf_dir, "events")
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    u = (
        ev.join(F.broadcast(cust), "user_id")
        .groupBy("user_id", "segment")
        .agg(
            F.min(F.unix_micros("ts")).alias("t0"),
            F.max(F.unix_micros("ts")).alias("tlast"),
            F.min(
                F.when(
                    F.col("event_type") == "purchase", F.unix_micros("ts")
                )
            ).alias("tp"),
        )
    )
    d = u.select(
        "segment",
        F.expr("(coalesce(tp, tlast) - t0) div 86400000000")
        .cast("long")
        .alias("t_days"),
        F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    g = d.groupBy("segment", "t_days").agg(
        F.sum("ev").cast("long").alias("d_events"),
        (F.count(F.lit(1)) - F.sum("ev")).cast("long").alias("c_censored"),
    )
    whole = Window.partitionBy("segment")
    prior = (
        Window.partitionBy("segment")
        .orderBy("t_days")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    leaving = F.col("d_events") + F.col("c_censored")
    risk = g.select(
        "segment", "t_days", "d_events", "c_censored",
        (
            F.sum(leaving).over(whole)
            - F.coalesce(F.sum(leaving).over(prior), F.lit(0))
        )
        .cast("long")
        .alias("n_risk"),
    )
    lg = risk.filter(
        (F.col("d_events") > 0) & (F.col("n_risk") > F.col("d_events"))
    ).select(
        "segment", "t_days", "n_risk", "d_events", "c_censored",
        F.floor(
            F.lit(1000000.0)
            * F.log(
                (F.col("n_risk") - F.col("d_events")).cast("double")
                / F.col("n_risk")
            )
        ).alias("logs_micro"),
    )
    cum = (
        Window.partitionBy("segment")
        .orderBy("t_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return lg.select(
        "segment", "t_days", "n_risk", "d_events", "c_censored",
        "logs_micro",
        F.sum("logs_micro").over(cum).cast("long").alias("logs_cum"),
    ).orderBy("segment", "t_days")


@query(
    "ts_changepoint",
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
), s AS (
  SELECT event_type, b,
         CAST(row_number() OVER w AS BIGINT) AS k,
         CAST(sum(x) OVER w AS BIGINT)       AS cx,
         CAST(sum(x * x) OVER w AS BIGINT)   AS cx2,
         CAST(count(*) OVER wa AS BIGINT)    AS t,
         CAST(sum(x) OVER wa AS BIGINT)      AS sx,
         CAST(sum(x * x) OVER wa AS BIGINT)  AS sx2
  FROM filled
  WINDOW w  AS (PARTITION BY event_type ORDER BY b ROWS UNBOUNDED PRECEDING),
         wa AS (PARTITION BY event_type)
), cand AS (
  SELECT event_type, b,
         CAST(floor(1000000.0 * ((cx2 - cx * cx / CAST(k AS DOUBLE))
              + ((sx2 - cx2) - (sx - cx) * (sx - cx)
                 / CAST(t - k AS DOUBLE)))) AS BIGINT) AS cost_micro,
         CAST(floor(1000000.0 * cx / k) AS BIGINT) AS left_mean_micro,
         CAST(floor(1000000.0 * (sx - cx) / (t - k)) AS BIGINT)
           AS right_mean_micro
  FROM s WHERE k < t
)
SELECT event_type, b AS split_bucket, cost_micro,
       left_mean_micro, right_mean_micro
FROM (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY cost_micro, b) AS r
  FROM cand
)
WHERE r = 1
ORDER BY event_type
""",
)
def ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single change-point detection (binary segmentation, step 1) on
    the hourly event-count series: per type, the split bucket
    minimizing total within-segment squared error — computed in ONE
    pass from prefix sums (SSE of each side = Σx² − (Σx)²/n from the
    running and total moments), never by re-scanning segments per
    candidate. The zero-filled grid matters here exactly like in
    window_cusum: silent hours are evidence of level, not gaps. Costs
    floor-scale to micro BIGINT from identical integer moments, ties
    break to the earliest bucket, so the argmin is deterministic on
    both engines.

    100 TB: bucket agg, grid join, both cumulative windows, the
    candidate filter and the final per-type argmin all cluster on
    event_type — one exchange carries the series end to end; per-type
    candidate count is the grid length, never the event count. Binary
    segmentation recurses by re-running on each side's bucket range —
    each level is this same one-exchange pass."""
    ev = load(spark, sf_dir, "events")
    c = (
        ev.select(
            "event_type",
            F.expr("unix_micros(ts) div 3600000000").alias("b"),
        )
        .groupBy("event_type", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    grid = (
        c.groupBy("event_type")
        .agg(F.min("b").alias("mn"), F.max("b").alias("mx"))
        .select("event_type", F.explode(F.sequence("mn", "mx")).alias("b"))
    )
    filled = grid.join(c, ["event_type", "b"], "left").select(
        "event_type", "b", F.coalesce("n", F.lit(0)).alias("x")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wa = Window.partitionBy("event_type").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    s = filled.select(
        "event_type",
        "b",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("b"))
        .cast("long")
        .alias("k"),
        F.sum("x").over(w).cast("long").alias("cx"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("long").alias("cx2"),
        F.count(F.lit(1)).over(wa).cast("long").alias("t"),
        F.sum("x").over(wa).cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).over(wa).cast("long").alias("sx2"),
    )
    kd = F.col("k").cast("double")
    rd = (F.col("t") - F.col("k")).cast("double")
    sse = (F.col("cx2") - F.col("cx") * F.col("cx") / kd) + (
        (F.col("sx2") - F.col("cx2"))
        - (F.col("sx") - F.col("cx")) * (F.col("sx") - F.col("cx")) / rd
    )
    cand = s.filter(F.col("k") < F.col("t")).select(
        "event_type",
        "b",
        F.floor(F.lit(1000000.0) * sse).cast("long").alias("cost_micro"),
        F.floor(F.lit(1000000.0) * F.col("cx") / F.col("k"))
        .cast("long")
        .alias("left_mean_micro"),
        F.floor(
            F.lit(1000000.0)
            * (F.col("sx") - F.col("cx"))
            / (F.col("t") - F.col("k"))
        )
        .cast("long")
        .alias("right_mean_micro"),
    )
    wr = Window.partitionBy("event_type").orderBy("cost_micro", "b")
    return (
        cand.withColumn("r", F.row_number().over(wr))
        .filter(F.col("r") == 1)
        .select(
            "event_type",
            F.col("b").alias("split_bucket"),
            "cost_micro",
            "left_mean_micro",
            "right_mean_micro",
        )
        .orderBy("event_type")
    )


@query(
    "ts_theil_sen",
    oracle="""
WITH c AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS b,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
), pairs AS (
  SELECT a.event_type, a.b AS bi, x.b AS bj,
         CAST(floor(1000000.0 * (x.y - a.y) / (x.b - a.b)) AS BIGINT)
           AS slope_micro
  FROM c a JOIN c x ON x.event_type = a.event_type AND x.b > a.b
), ranked AS (
  SELECT event_type, slope_micro,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY slope_micro, bi, bj) AS r,
         count(*) OVER (PARTITION BY event_type) AS np
  FROM pairs
), slope AS (
  SELECT event_type, slope_micro, CAST(np AS BIGINT) AS n_pairs
  FROM ranked WHERE r = (np + 1) // 2
), resid AS (
  SELECT c.event_type,
         1000000 * c.y - s.slope_micro * c.b AS ic,
         c.b,
         row_number() OVER (PARTITION BY c.event_type
                            ORDER BY 1000000 * c.y - s.slope_micro * c.b,
                                     c.b) AS r,
         count(*) OVER (PARTITION BY c.event_type) AS nb
  FROM c JOIN slope s ON s.event_type = c.event_type
)
SELECT r2.event_type,
       CAST(r2.nb AS BIGINT) AS n_buckets,
       s.n_pairs,
       s.slope_micro,
       CAST(r2.ic AS BIGINT) AS intercept_micro
FROM resid r2 JOIN slope s ON s.event_type = r2.event_type
WHERE r2.r = (r2.nb + 1) // 2
ORDER BY r2.event_type
""",
)
def ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend — the median-of-pairwise-slopes estimator
    (breakdown point ~29%) over each type's hourly revenue series: the
    line OLS regression (agg_corr_regression) gets dragged off by a
    single outlier bucket, this one shrugs at. Slopes floor-scale to
    micro BIGINT before ranking, so the median pick (lower median,
    ties to the earliest pair) is pure integer ordering — identical on
    both engines; the intercept is the matching integer median of
    1e6·y − slope·b residuals.

    100 TB: pairs form over BUCKETS, not events — the self-join keys
    on event_type, so pair volume is grid-length², bounded by the time
    span regardless of event count, and the ranking windows cluster on
    the same key (one exchange after the bucket agg). For decade-long
    grids the standard refinement is the repeated-median or a sampled
    pair subset; the plan shape is unchanged."""
    ev = load(spark, sf_dir, "events")
    c = (
        ev.select(
            "event_type",
            F.expr("unix_micros(ts) div 3600000000").alias("b"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("event_type", "b")
        .agg(F.sum("cents").cast("long").alias("y"))
    )
    a = c.select("event_type", F.col("b").alias("bi"), F.col("y").alias("yi"))
    x = c.select("event_type", F.col("b").alias("bj"), F.col("y").alias("yj"))
    pairs = a.join(x, "event_type").filter(F.col("bj") > F.col("bi")).select(
        "event_type",
        "bi",
        "bj",
        F.floor(
            F.lit(1000000.0)
            * (F.col("yj") - F.col("yi"))
            / (F.col("bj") - F.col("bi"))
        )
        .cast("long")
        .alias("slope_micro"),
    )
    wr = Window.partitionBy("event_type").orderBy("slope_micro", "bi", "bj")
    wn = Window.partitionBy("event_type")
    slope = (
        pairs.withColumn("r", F.row_number().over(wr))
        .withColumn("np", F.count(F.lit(1)).over(wn))
        .filter(F.col("r") == F.expr("(np + 1) div 2"))
        .select(
            "event_type",
            "slope_micro",
            F.col("np").cast("long").alias("n_pairs"),
        )
    )
    resid = c.join(slope, "event_type").select(
        "event_type",
        "n_pairs",
        "slope_micro",
        (F.lit(1000000) * F.col("y") - F.col("slope_micro") * F.col("b"))
        .cast("long")
        .alias("ic"),
        "b",
    )
    wi = Window.partitionBy("event_type").orderBy("ic", "b")
    return (
        resid.withColumn("r", F.row_number().over(wi))
        .withColumn("nb", F.count(F.lit(1)).over(wn))
        .filter(F.col("r") == F.expr("(nb + 1) div 2"))
        .select(
            "event_type",
            F.col("nb").cast("long").alias("n_buckets"),
            "n_pairs",
            "slope_micro",
            F.col("ic").alias("intercept_micro"),
        )
        .orderBy("event_type")
    )


@query(
    "agg_hodges_lehmann",
    oracle="""
WITH c AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS b,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
), walsh AS (
  SELECT a.event_type, a.b AS bi, x.b AS bj,
         CAST(a.y + x.y AS BIGINT) AS w2
  FROM c a JOIN c x
    ON x.event_type = a.event_type AND x.b >= a.b
), ranked AS (
  SELECT event_type, w2,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY w2, bi, bj) AS r,
         count(*) OVER (PARTITION BY event_type) AS np
  FROM walsh
)
SELECT event_type,
       CAST(np AS BIGINT) AS n_pairs,
       CAST(w2 AS BIGINT) AS hl2_cents
FROM ranked
WHERE r = (np + 1) // 2
ORDER BY event_type
""",
)
def agg_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges–Lehmann location estimator per event type — the median
    of Walsh averages (xi + xj)/2 over all bucket pairs i <= j, the
    robust companion to ts_theil_sen's slope (same breakdown logic,
    location instead of trend; the estimator behind the Wilcoxon
    signed-rank interval). Reported as hl2_cents = 2·HL so it stays an
    exact integer; the median pick is the lower median under
    (sum, bi, bj) — pure integer ordering, no doubles anywhere.

    100 TB: Walsh pairs form over hourly BUCKETS (grid-length², never
    event count); the pair self-join and the ranking window share the
    event_type key — one exchange after the bucket agg. Decade-scale
    grids move to the classic O(n log n) HL algorithms or a sampled
    pair subset; the contract is unchanged."""
    ev = load(spark, sf_dir, "events")
    c = (
        ev.select(
            "event_type",
            F.expr("unix_micros(ts) div 3600000000").alias("b"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("event_type", "b")
        .agg(F.sum("cents").cast("long").alias("y"))
    )
    a = c.select("event_type", F.col("b").alias("bi"), F.col("y").alias("yi"))
    x = c.select("event_type", F.col("b").alias("bj"), F.col("y").alias("yj"))
    walsh = (
        a.join(x, "event_type")
        .filter(F.col("bj") >= F.col("bi"))
        .select(
            "event_type",
            "bi",
            "bj",
            (F.col("yi") + F.col("yj")).cast("long").alias("w2"),
        )
    )
    wr = Window.partitionBy("event_type").orderBy("w2", "bi", "bj")
    wn = Window.partitionBy("event_type")
    return (
        walsh.withColumn("r", F.row_number().over(wr))
        .withColumn("np", F.count(F.lit(1)).over(wn))
        .filter(F.col("r") == F.expr("(np + 1) div 2"))
        .select(
            "event_type",
            F.col("np").cast("long").alias("n_pairs"),
            F.col("w2").alias("hl2_cents"),
        )
        .orderBy("event_type")
    )


#: Shared by window_twap and its streaming twin st25_stream_twap — the
#: streamed final state must equal the one-pass batch computation.
TWAP_ORACLE = """
WITH s AS (
  SELECT event_type, user_id, epoch_us(ts) AS us,
         CAST(round(value * 100) AS BIGINT) AS cents,
         lead(epoch_us(ts)) OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id) AS nxt
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(cents * (nxt - us)) FILTER (WHERE nxt IS NOT NULL)
            AS BIGINT) AS weighted_sum,
       CAST(max(us) - min(us) AS BIGINT) AS span_us,
       CAST(floor(1000000.0
            * sum(cents * (nxt - us)) FILTER (WHERE nxt IS NOT NULL)
            / (max(us) - min(us))) AS BIGINT) AS twap_micro_cents
FROM s
GROUP BY event_type
ORDER BY event_type
"""


@query("window_twap", oracle=TWAP_ORACLE)
def window_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-WEIGHTED average value per event type — each observation
    holds until the next one (step interpolation), so the mean weights
    by holding duration instead of event count: the TWAP/uptime-mean
    every pricing, telemetry and SLA pipeline computes, and the
    correction for the sampling bias a plain avg(value) has when busy
    periods emit more events. The weighted sum is exact int64
    (cents × holding micros, summed); only the final presentation
    division floors to micro-cents.

    100 TB: event_type has a HANDFUL of values, so the textbook
    per-type `lead` window would sort each type's ENTIRE history
    inside one task. Instead this is the st25 seam stitch run
    batch-side: range-shuffle on (type, ts, id) into shards, `lead`
    within each (type, shard) slice (parallel — every task sorts one
    shard, never one type), then price the one holding interval that
    crosses each shard seam from the per-(type, shard) boundary
    summary (last event struct-max vs the next shard's first
    instant) — a types×shards-row table whose stitch window is
    metadata-sized. One range exchange + one agg; every sum is exact
    int64 and associative, so the shard boundaries can fall anywhere
    (pinned by the partition-invariance test). Per-user TWAP swaps
    the partition key; calendar-bucketed TWAP composes with the t2
    tumbling buckets."""
    ev = load(spark, sf_dir, "events")
    shards = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    s = ev.select(
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.col("event_id").cast("long").alias("eid"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    ).repartitionByRange(shards, "event_type", "us", "eid")
    s = s.withColumn("__shard", F.spark_partition_id())
    w = Window.partitionBy("event_type", "__shard").orderBy("us", "eid")
    stepped = s.withColumn("nxt", F.lead("us").over(w))
    hold = F.col("cents") * (F.col("nxt") - F.col("us"))
    summary = stepped.groupBy("event_type", "__shard").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.coalesce(
            F.sum(F.when(F.col("nxt").isNotNull(), hold)), F.lit(0)
        )
        .cast("long")
        .alias("intra"),
        F.min("us").alias("first_us"),
        F.max("us").alias("max_us"),
        F.max(F.struct("us", "eid", "cents")).alias("last"),
    )
    ws = Window.partitionBy("event_type").orderBy("__shard")
    seam = F.col("last.cents") * (
        F.lead("first_us").over(ws) - F.col("last.us")
    )
    stitched = summary.withColumn(
        "wsum", F.col("intra") + F.coalesce(seam, F.lit(0))
    )
    return (
        stitched.groupBy("event_type")
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            F.sum("wsum").cast("long").alias("weighted_sum"),
            (F.max("max_us") - F.min("first_us"))
            .cast("long")
            .alias("span_us"),
        )
        .select(
            "event_type",
            "n_events",
            "weighted_sum",
            "span_us",
            F.floor(
                F.lit(1000000.0) * F.col("weighted_sum") / F.col("span_us")
            )
            .cast("long")
            .alias("twap_micro_cents"),
        )
        .orderBy("event_type")
    )


@query(
    "agg_spearman",
    oracle="""
WITH s AS (
  SELECT event_type, epoch_us(ts) AS us, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), r AS (
  SELECT event_type,
         2 * rank() OVER (PARTITION BY event_type ORDER BY us, event_id)
           AS rx,
         2 * rank() OVER (PARTITION BY event_type ORDER BY cents)
           + count(*) OVER (PARTITION BY event_type, cents) - 1 AS ry
  FROM s
), m AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(rx) AS BIGINT) AS sx,
         CAST(sum(ry) AS BIGINT) AS sy,
         CAST(sum(rx * rx) AS BIGINT) AS sxx,
         CAST(sum(ry * ry) AS BIGINT) AS syy,
         CAST(sum(rx * ry) AS BIGINT) AS sxy
  FROM r GROUP BY event_type
)
SELECT event_type, n,
       CAST(floor(1000000.0 * (n * sxy - sx * sy)
            / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                   * CAST(n * syy - sy * sy AS DOUBLE))) AS BIGINT)
         AS rho_micro
FROM m
ORDER BY event_type
""",
)
def agg_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of value against time per event type —
    the standard MONOTONIC-trend test (Mann-Kendall's cousin): rank
    both variables, Pearson on the ranks. Ranks are kept exact under
    ties by storing DOUBLED average ranks (2·min_rank + tie_count − 1,
    an integer; rho is scale-invariant so the doubling cancels), the
    co-moments are exact int64 sums, and only the final normalization
    touches doubles — floor-scaled micro, identical on both engines.
    The tiebreak-free tie handling is the point: rank() + tie counts
    give the true averaged rank, where row_number would inject
    partition-order noise.

    100 TB: event_type is a HOT key (a handful of values), so neither
    rank may be a per-type window over raw events (single-task sort of
    each type's whole history). The y-side never touches rows at all:
    ry is a function of cents ALONE within a type, so it comes from
    the per-(type, cents) count table — the agg_ks_test ECDF
    machinery — whose cumulative-tie window runs over grid-sized
    distinct values; sy and syy are tc-weighted sums over that same
    table. The x-side rank over (ts, id) is distinct by construction,
    so rx = 2·row_number via the sharded
    operators/prefix.partitioned_row_number (range shuffle +
    shard-local window + per-(key, shard) offset scan — no per-type
    single task), and sx = n(n+1), sxx = 2n(n+1)(2n+1)/3 collapse to
    closed forms. Only sxy needs per-row work: one grid-sized join of
    the ranked rows to the ry table. Co-moments of doubled ranks reach
    n²·4 per type; beyond ~10⁹ rows per type the sums move to the
    mean-centered two-pass form, same contract."""
    from recipes_spark.operators.prefix import partitioned_row_number

    ev = load(spark, sf_dir, "events")
    s = ev.select(
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.col("event_id").cast("long").alias("eid"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    # y side: doubled average rank per distinct cents value.
    # rank = 1 + (# strictly smaller) = 1 + exclusive-cumsum(tc), so
    # ry = 2*rank + tc - 1 = 2*cum + tc + 1.
    counts = s.groupBy("event_type", "cents").agg(
        F.count(F.lit(1)).cast("long").alias("tc")
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ry_tab = counts.withColumn(
        "ry",
        (
            2 * F.coalesce(F.sum("tc").over(wc), F.lit(0))
            + F.col("tc")
            + 1
        ).cast("long"),
    )
    ystats = ry_tab.groupBy("event_type").agg(
        F.sum("tc").cast("long").alias("n"),
        F.sum(F.col("tc") * F.col("ry")).cast("long").alias("sy"),
        F.sum(F.col("tc") * F.col("ry") * F.col("ry"))
        .cast("long")
        .alias("syy"),
    )
    # x side: (us, eid) is unique per type, so the doubled rank is
    # 2·row_number — sharded, never a per-type single-task sort.
    ranked, _ = partitioned_row_number(
        s,
        order_exprs=[F.col("us"), F.col("eid")],
        partition_by=["event_type"],
        out_col="rn",
        with_total=False,
    )
    xy = (
        ranked.join(ry_tab.select("event_type", "cents", "ry"),
                    ["event_type", "cents"])
        .groupBy("event_type")
        .agg(
            F.sum(2 * F.col("rn") * F.col("ry")).cast("long").alias("sxy")
        )
    )
    n = F.col("n")
    m = (
        ystats.join(xy, "event_type")
        .select(
            "event_type",
            "n",
            "sy",
            "syy",
            "sxy",
            (n * (n + 1)).cast("long").alias("sx"),
            # Σ(2i)² = 4·n(n+1)(2n+1)/6 — the numerator is always
            # divisible by 3, so integer `div` is exact (no double).
            (2 * n * (n + 1) * (2 * n + 1)).cast("long").alias("sxx3"),
        )
        .withColumn("sxx", F.expr("sxx3 div 3"))
        .drop("sxx3")
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    return m.select(
        "event_type",
        "n",
        F.floor(F.lit(1000000.0) * num / F.sqrt(vx * vy))
        .cast("long")
        .alias("rho_micro"),
    ).orderBy("event_type")


@query(
    "agg_mann_kendall",
    oracle="""
WITH c AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS b,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
), s AS (
  SELECT a.event_type,
         CAST(sum(CASE WHEN x.y > a.y THEN 1
                       WHEN x.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS st,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM c a JOIN c x ON x.event_type = a.event_type AND x.b > a.b
  GROUP BY a.event_type
), t AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS nb,
         CAST(sum(tc * (tc - 1) * (2 * tc + 5)) AS BIGINT) AS tie_term
  FROM (
    SELECT event_type, y, count(*) AS tc FROM c GROUP BY event_type, y
  ) GROUP BY event_type
)
SELECT s.event_type, t.nb AS n_buckets, s.n_pairs, s.st AS s_stat,
       CAST(t.nb * (t.nb - 1) * (2 * t.nb + 5) - t.tie_term AS BIGINT)
         AS var18,
       CAST(floor(1000000.0
            * (CASE WHEN s.st > 0 THEN s.st - 1
                    WHEN s.st < 0 THEN s.st + 1 ELSE 0 END)
            / sqrt(CAST(t.nb * (t.nb - 1) * (2 * t.nb + 5) - t.tie_term
                   AS DOUBLE) / 18.0)) AS BIGINT) AS z_micro
FROM s JOIN t ON t.event_type = s.event_type
ORDER BY s.event_type
""",
)
def agg_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall trend test per event type — the nonparametric
    standard for "is this series going up": S = Σ sign(y_j − y_i) over
    bucket pairs i < j (exact integer), tie-corrected variance
    18·Var = n(n−1)(2n+5) − Σ t(t−1)(2t+5) (exact integer), and the
    continuity-corrected z floor-scaled to micro. Complements
    agg_spearman (same question, rank-correlation form) and
    ts_theil_sen (the slope MK pairs naturally attach to).

    100 TB: pairs form over hourly buckets (grid²); the pair
    self-join, the sign agg and the tie table all cluster on
    event_type over bucket-sized inputs, map-side-combining
    everywhere — no stage ever carries event-count rows past the
    first bucket agg."""
    ev = load(spark, sf_dir, "events")
    c = (
        ev.select(
            "event_type",
            F.expr("unix_micros(ts) div 3600000000").alias("b"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("event_type", "b")
        .agg(F.sum("cents").cast("long").alias("y"))
    )
    a = c.select("event_type", F.col("b").alias("bi"), F.col("y").alias("yi"))
    x = c.select("event_type", F.col("b").alias("bj"), F.col("y").alias("yj"))
    s = (
        a.join(x, "event_type")
        .filter(F.col("bj") > F.col("bi"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("yj") > F.col("yi"), 1)
                .when(F.col("yj") < F.col("yi"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_stat"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
        )
    )
    ties = (
        c.groupBy("event_type", "y")
        .agg(F.count(F.lit(1)).alias("tc"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.sum(
                F.col("tc") * (F.col("tc") - 1) * (2 * F.col("tc") + 5)
            )
            .cast("long")
            .alias("tie_term"),
        )
    )
    nb = F.col("n_buckets")
    var18 = (nb * (nb - 1) * (2 * nb + 5) - F.col("tie_term")).cast("long")
    cc = (
        F.when(F.col("s_stat") > 0, F.col("s_stat") - 1)
        .when(F.col("s_stat") < 0, F.col("s_stat") + 1)
        .otherwise(0)
    )
    return (
        s.join(ties, "event_type")
        .select(
            "event_type",
            "n_buckets",
            "n_pairs",
            "s_stat",
            var18.alias("var18"),
            F.floor(
                F.lit(1000000.0)
                * cc
                / F.sqrt(var18.cast("double") / 18.0)
            )
            .cast("long")
            .alias("z_micro"),
        )
        .orderBy("event_type")
    )


@query(
    "agg_seasonal_strength",
    oracle="""
WITH c AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS b,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), grid AS (
  SELECT event_type, unnest(range(min(b), max(b) + 1)) AS b
  FROM c GROUP BY event_type
), filled AS (
  SELECT g.event_type, g.b, g.b % 24 AS hod, coalesce(c.n, 0) AS x
  FROM grid g LEFT JOIN c ON c.event_type = g.event_type AND c.b = g.b
), season AS (
  SELECT event_type, hod,
         CAST(sum(x) AS BIGINT) AS sn, CAST(count(*) AS BIGINT) AS sd
  FROM filled GROUP BY event_type, hod
), sagg AS (
  SELECT event_type, sd, CAST(sum(sn * sn) AS BIGINT) AS snn
  FROM season GROUP BY event_type, sd
), t2 AS (
  SELECT event_type, sum(CAST(snn AS DOUBLE) / sd) AS t2
  FROM sagg GROUP BY event_type
), tot AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS nb,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM filled GROUP BY event_type
)
SELECT t.event_type, t.nb AS n_buckets,
       CAST(floor(1000000.0
            * (t2.t2 - CAST(t.sx AS DOUBLE) * t.sx / t.nb)
            / (t.sxx - CAST(t.sx AS DOUBLE) * t.sx / t.nb)) AS BIGINT)
         AS strength_micro
FROM tot t JOIN t2 ON t2.event_type = t.event_type
ORDER BY t.event_type
""",
)
def agg_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONAL STRENGTH — the STL diagnostic 1 − SS_resid/SS_total
    over the hour-of-day profile (ts_seasonal_decompose's model): the
    share of each type's hourly variance the daily cycle explains,
    i.e. the number that decides whether a forecaster keeps the
    seasonal term. Computed WITHOUT any order-sensitive double
    reduction via the ANOVA identity SS_resid = Σx² − Σ_hod sn²/sd:
    every aggregate is an exact integer sum, and because a CONTIGUOUS
    hourly grid gives each hour-of-day slot one of at most TWO counts
    (⌊N/24⌋ or ⌈N/24⌉), the rational term collapses to a ≤2-term
    double sum — IEEE addition is commutative, so two terms cannot
    flake where a 3600-term resid² sum would. The final ratio is one
    fixed-shape expression over identical integers on both engines.

    100 TB: exactly the ts_seasonal_decompose plan (grid join +
    profile agg clustered on event_type) plus two metadata-sized
    aggs — nothing new touches the event stream."""
    ev = load(spark, sf_dir, "events")
    c = (
        ev.select(
            "event_type",
            F.expr("unix_micros(ts) div 3600000000").alias("b"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("event_type", "b")
        .agg(F.sum("cents").cast("long").alias("n"))
        # Materialized once — see event_anomaly_buckets (r17): the
        # executed plan re-scanned events per derived branch (up to
        # 10× for the drawdown's stacked-window chain).
        .localCheckpoint(eager=True)
    )
    grid = (
        c.groupBy("event_type")
        .agg(F.min("b").alias("mn"), F.max("b").alias("mx"))
        .select("event_type", F.explode(F.sequence("mn", "mx")).alias("b"))
    )
    filled = grid.join(c, ["event_type", "b"], "left").select(
        "event_type", "b", (F.col("b") % 24).alias("hod"),
        F.coalesce("n", F.lit(0)).alias("x"),
    )
    season = filled.groupBy("event_type", "hod").agg(
        F.sum("x").cast("long").alias("sn"),
        F.count(F.lit(1)).cast("long").alias("sd"),
    )
    sagg = season.groupBy("event_type", "sd").agg(
        F.sum(F.col("sn") * F.col("sn")).cast("long").alias("snn")
    )
    t2 = sagg.groupBy("event_type").agg(
        F.sum(F.col("snn").cast("double") / F.col("sd")).alias("t2")
    )
    tot = filled.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    sxd = F.col("sx").cast("double")
    mean_term = sxd * F.col("sx") / F.col("n_buckets")
    return (
        tot.join(t2, "event_type")
        .select(
            "event_type",
            "n_buckets",
            F.floor(
                F.lit(1000000.0)
                * (F.col("t2") - mean_term)
                / (F.col("sxx") - mean_term)
            )
            .cast("long")
            .alias("strength_micro"),
        )
        .orderBy("event_type")
    )


#: Shared by window_ohlc and its streaming twin st26_stream_ohlc — the
#: streamed final state must equal the one-pass batch computation.
OHLC_ORACLE = """
WITH s AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS b,
         epoch_us(ts) AS us, event_id AS eid,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), r AS (
  SELECT event_type, b, cents,
         row_number() OVER (PARTITION BY event_type, b
                            ORDER BY us, eid) AS rn_a,
         row_number() OVER (PARTITION BY event_type, b
                            ORDER BY us DESC, eid DESC) AS rn_d
  FROM s
)
SELECT event_type, CAST(b AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(min(CASE WHEN rn_a = 1 THEN cents END) AS BIGINT) AS open_cents,
       CAST(max(cents) AS BIGINT) AS high_cents,
       CAST(min(cents) AS BIGINT) AS low_cents,
       CAST(min(CASE WHEN rn_d = 1 THEN cents END) AS BIGINT) AS close_cents
FROM r
GROUP BY event_type, b
ORDER BY event_type, bucket
"""


@query("window_ohlc", oracle=OHLC_ORACLE)
def window_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick resample — hourly open/high/low/close bars per
    event type, THE time-series downsampling every pricing/telemetry
    dashboard serves. Open/close are min_by/max_by on the total
    (us, event_id) order (deterministic under timestamp ties — the
    same struct-argmax tiebreak contract as agg_argmax_conditional);
    high/low/count are plain extrema. Values stay exact integer
    cents.

    100 TB: ONE map-side-combining hash aggregate keyed on the
    (event_type, hour) composite — no window function at all, so the
    hot event_type key never funnels (the bucket fans it out), and
    partial min_by/max_by structs combine associatively. The oracle
    spells the same argmax with per-bucket rank windows because DuckDB
    lacks composite-key arg_min; the engine side needs no rank
    anywhere."""
    ev = load(spark, sf_dir, "events")
    s = ev.select(
        "event_type",
        F.expr("unix_micros(ts) div 3600000000").alias("bucket"),
        F.unix_micros("ts").alias("us"),
        F.col("event_id").cast("long").alias("eid"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return (
        s.groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min_by("cents", F.struct("us", "eid"))
            .cast("long")
            .alias("open_cents"),
            F.max("cents").cast("long").alias("high_cents"),
            F.min("cents").cast("long").alias("low_cents"),
            F.max_by("cents", F.struct("us", "eid"))
            .cast("long")
            .alias("close_cents"),
        )
        .orderBy("event_type", "bucket")
    )


#: Shapley attribution tables, generated ONCE in Python and shared by
#: both engines: 4 channels as bits, the 16 coalitions, and the 64
#: (channel, coalition-without-channel, weight) marginal terms with
#: the exact s!(3-s)! weights (denominator 4! = 24).
_SHAP_CHANNELS = [("view", 1), ("click", 2), ("signup", 4), ("error", 8)]
_SHAP_WEIGHT = {0: 6, 1: 2, 2: 2, 3: 6}  # s!(3-s)! for |S| = s
_SHAP_TERMS = [
    (name, s, s | bit, _SHAP_WEIGHT[bin(s).count("1")])
    for name, bit in _SHAP_CHANNELS
    for s in range(16)
    if not s & bit
]


@query(
    "event_attribution_shapley",
    oracle=f"""
WITH touches AS (
  SELECT user_id,
         CAST(bit_or(CASE WHEN event_id % 16 <> user_id % 16 THEN 0
                       ELSE CASE event_type
                            WHEN 'view' THEN 1 WHEN 'click' THEN 2
                            WHEN 'signup' THEN 4 WHEN 'error' THEN 8
                            ELSE 0 END END) AS BIGINT) AS mask,
         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS conv
  FROM events GROUP BY user_id
), mask_conv AS (
  SELECT mask, CAST(sum(conv) AS BIGINT) AS n_conv
  FROM touches GROUP BY mask
), coalitions(s) AS (
  VALUES {", ".join(f"({s})" for s in range(16))}
), v AS (
  SELECT c.s,
         CAST(coalesce(sum(m.n_conv), 0) AS BIGINT) AS v
  FROM coalitions c LEFT JOIN mask_conv m
    ON (m.mask & ~c.s & 15) = 0
  GROUP BY c.s
), terms(channel, s_without, s_with, w) AS (
  VALUES {", ".join(f"('{c}', {s}, {sw}, {w})" for c, s, sw, w in _SHAP_TERMS)}
), phi AS (
  SELECT t.channel,
         CAST(sum(t.w * (vw.v - vo.v)) AS BIGINT) AS phi_x24
  FROM terms t
  JOIN v vw ON vw.s = t.s_with
  JOIN v vo ON vo.s = t.s_without
  GROUP BY t.channel
), tot AS (
  SELECT CAST(sum(phi_x24) AS BIGINT) AS total FROM phi
)
SELECT channel, phi_x24,
       CAST(1000000 * phi_x24 // total AS BIGINT) AS share_ppm
FROM phi, tot
ORDER BY channel
""",
)
def event_attribution_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value channel attribution (Shapley 1953; the
    data-driven attribution model, e.g. Zhao et al. 2018, public) —
    the game-theoretic completion of the attribution family next to
    last-touch (event_attribution_lasttouch / st23): each user's
    touched channel SET is a 4-bit mask, the characteristic function
    v(S) = conversions among users whose touches fit inside coalition
    S, and each channel's value is the weighted average of its
    marginal contributions over all 8 coalitions that exclude it.
    Touches are the deterministic 1/16 event sample keyed on
    (event_id, user_id) parity — at test density every user otherwise
    touches all four channels and the game degenerates to equal
    shares; the sample leaves a realistic spread of partial masks.
    With 4 channels the game is ENUMERABLE, so everything is exact
    int64: v is a count, the s!(3-s)! weights (denominator 4!)
    are literals generated once in Python and shared with the oracle,
    phi is reported ×24, and shares are integer ppm.

    100 TB: one user-keyed bit_or/max aggregate collapses the event
    stream to per-user masks, a 16-value mask aggregate collapses
    users to AT MOST 16 rows, and every join after that is over
    literal tables — the whole game solves in metadata space. More
    channels grow the coalition table 2^k; past ~20 channels the
    standard move is sampled-permutation Shapley over the same mask
    aggregate, same contract."""
    ev = load(spark, sf_dir, "events")
    bit = (
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "signup", 4)
        .when(F.col("event_type") == "error", 8)
        .otherwise(0)
    )
    touches = ev.groupBy("user_id").agg(
        F.expr(
            "CAST(bit_or(CASE WHEN event_id % 16 <> user_id % 16 THEN 0"
            " ELSE CASE event_type WHEN 'view' THEN 1"
            " WHEN 'click' THEN 2 WHEN 'signup' THEN 4"
            " WHEN 'error' THEN 8 ELSE 0 END END) AS BIGINT)"
        ).alias("mask"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("long")
        .alias("conv"),
    )
    _ = bit  # spelled in SQL above so both engines share one CASE tree
    # ≤16-row base, materialized once (r17 aggregate-reuse sweep): the
    # coalition join's v table is referenced twice (v_with / v_without)
    # and each reference re-derived the whole events→touches→mask
    # chain — the executed plan scanned events 4× per run.
    mask_conv = touches.groupBy("mask").agg(
        F.sum("conv").cast("long").alias("n_conv")
    ).localCheckpoint(eager=True)
    spark_ = ev.sparkSession
    coalitions = F.broadcast(
        spark_.createDataFrame([(s,) for s in range(16)], "s int")
    )
    v = (
        coalitions.join(
            mask_conv,
            F.expr("(mask & ~s & 15) = 0"),
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("n_conv"), F.lit(0)).cast("long").alias("v"))
    )
    terms = F.broadcast(
        spark_.createDataFrame(
            _SHAP_TERMS, "channel string, s_without int, s_with int, w int"
        )
    )
    vw = v.select(F.col("s").alias("s_with"), F.col("v").alias("v_with"))
    vo = v.select(F.col("s").alias("s_without"), F.col("v").alias("v_without"))
    phi = (
        terms.join(vw, "s_with")
        .join(vo, "s_without")
        .groupBy("channel")
        .agg(
            F.sum(F.col("w") * (F.col("v_with") - F.col("v_without")))
            .cast("long")
            .alias("phi_x24")
        )
    )
    tot = phi.agg(F.sum("phi_x24").cast("long").alias("total"))
    return (
        phi.crossJoin(F.broadcast(tot))
        .select(
            "channel",
            "phi_x24",
            F.expr("1000000 * phi_x24 div total")
            .cast("long")
            .alias("share_ppm"),
        )
        .orderBy("channel")
    )


#: BH step-up thresholds for m = 120 hypotheses at q = 0.2, as
#: floor-scaled micro |z| cutoffs: rank k rejects when
#: |z|_(k) >= Phi^{-1}(1 - (k*q/m)/2). Computed ONCE in Python
#: (stdlib NormalDist) and shared as literals with the oracle — no
#: runtime normal quantile has to agree across engines.
_BH_M, _BH_Q = 120, 0.2
_BH_THRESH = [
    (k, int(__import__("statistics").NormalDist().inv_cdf(
        1 - (k * _BH_Q / _BH_M) / 2) * 1_000_000))
    for k in range(1, _BH_M + 1)
]


@query(
    "agg_fdr_bh",
    oracle=f"""
WITH base AS (
  SELECT event_type, epoch_us(ts) // 3600000000 % 24 AS hod,
         CAST(round(value * 100) AS BIGINT)
         + CASE WHEN event_type = 'click' AND epoch_us(ts) // 3600000000 % 24 = 3
                THEN 3000
                WHEN event_type = 'view' AND epoch_us(ts) // 3600000000 % 24 = 7
                THEN 2000
                ELSE 0 END AS cents
  FROM events
), cell AS (
  SELECT event_type, hod,
         CAST(count(*) AS BIGINT) AS n1,
         CAST(sum(cents) AS BIGINT) AS s1,
         CAST(sum(cents * cents) AS BIGINT) AS q1
  FROM base GROUP BY event_type, hod
), typ AS (
  SELECT event_type,
         CAST(sum(n1) AS BIGINT) AS nt,
         CAST(sum(s1) AS BIGINT) AS st,
         CAST(sum(q1) AS BIGINT) AS qt
  FROM cell GROUP BY event_type
), z AS (
  SELECT c.event_type, c.hod, c.n1,
         (t.nt - c.n1) AS n2,
         CAST(c.s1 AS DOUBLE) / c.n1 AS m1,
         CAST(t.st - c.s1 AS DOUBLE) / (t.nt - c.n1) AS m2,
         (CAST(c.q1 AS DOUBLE) - CAST(c.s1 AS DOUBLE) * c.s1 / c.n1)
           / (c.n1 - 1) AS v1,
         (CAST(t.qt - c.q1 AS DOUBLE)
          - CAST(t.st - c.s1 AS DOUBLE) * (t.st - c.s1) / (t.nt - c.n1))
           / (t.nt - c.n1 - 1) AS v2
  FROM cell c JOIN typ t USING (event_type)
), zs AS (
  SELECT event_type, hod, n1,
         CAST(floor(1000000.0 * abs(m1 - m2)
              / sqrt(v1 / n1 + v2 / n2)) AS BIGINT) AS absz_micro,
         CAST(floor(1000000.0 * (m1 - m2)
              / sqrt(v1 / n1 + v2 / n2)) AS BIGINT) AS z_micro
  FROM z
), ranked AS (
  SELECT *, CAST(row_number() OVER (ORDER BY absz_micro DESC, event_type, hod)
                 AS BIGINT) AS bh_rank
  FROM zs
), thr(k, thr_micro) AS (
  VALUES {", ".join(f"({k}, {t})" for k, t in _BH_THRESH)}
), cut AS (
  SELECT CAST(coalesce(max(bh_rank), 0) AS BIGINT) AS kmax
  FROM ranked JOIN thr ON thr.k = ranked.bh_rank
  WHERE absz_micro >= thr_micro
)
SELECT event_type, CAST(hod AS BIGINT) AS hod, n1 AS n_cell,
       z_micro, bh_rank,
       CAST(CASE WHEN bh_rank <= kmax THEN 1 ELSE 0 END AS BIGINT)
         AS rejected
FROM ranked, cut
ORDER BY bh_rank
""",
)
def agg_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR correction (BH 1995, public) over a
    battery of 120 hypotheses — the multiple-testing step every
    drift/experiment dashboard needs once it tests more than one
    cell: per (event_type, hour-of-day), Welch z of the cell's mean
    value against the rest of its type (exact int64 sufficient
    statistics, the agg_welch_ttest discipline, with the complement
    side derived by SUBTRACTION from per-type totals — no second
    scan). Two planted shifts (click@3, view@7 — the fixed-injection
    convention) guarantee the rejection path runs. The step-up rule
    compares each rank's floor-scaled |z| micro against Python-
    precomputed Phi^{-1} literals shared with the oracle, so no
    runtime normal quantile, erf or p-value has to agree across
    engines; kmax and the rejected flags are pure integer
    comparisons.

    100 TB: one (type, hour)-keyed map-side-combining agg + a
    type-keyed rollup of the 120-row cell table; the ranking window
    and threshold join run over 120 rows — metadata space. More
    hypotheses regenerate the literal table; the step-up stays a
    count over the joined flags."""
    ev = load(spark, sf_dir, "events")
    hod = F.expr("unix_micros(ts) div 3600000000 % 24")
    cents = F.round(F.col("value") * 100).cast("long") + (
        F.when((F.col("event_type") == "click") & (hod == 3), 3000)
        .when((F.col("event_type") == "view") & (hod == 7), 2000)
        .otherwise(0)
    )
    base = ev.select("event_type", hod.alias("hod"), cents.alias("cents"))
    # 120-row cell base, materialized once (r17 aggregate-reuse sweep):
    # the per-type rollup and BOTH references of the ranked table (the
    # step-up cut and the final flag join) re-derived it — the
    # executed plan scanned events 4× per run.
    cell = base.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).cast("long").alias("n1"),
        F.sum("cents").cast("long").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).cast("long").alias("q1"),
    ).localCheckpoint(eager=True)
    typ = cell.groupBy("event_type").agg(
        F.sum("n1").cast("long").alias("nt"),
        F.sum("s1").cast("long").alias("st"),
        F.sum("q1").cast("long").alias("qt"),
    )
    j = cell.join(typ, "event_type")
    n1, n2 = F.col("n1"), (F.col("nt") - F.col("n1"))
    m1 = F.col("s1").cast("double") / n1
    m2 = (F.col("st") - F.col("s1")).cast("double") / n2
    v1 = (
        F.col("q1").cast("double")
        - F.col("s1").cast("double") * F.col("s1") / n1
    ) / (n1 - 1)
    v2 = (
        (F.col("qt") - F.col("q1")).cast("double")
        - (F.col("st") - F.col("s1")).cast("double")
        * (F.col("st") - F.col("s1"))
        / n2
    ) / (n2 - 1)
    se = F.sqrt(v1 / n1 + v2 / n2)
    zs = j.select(
        "event_type",
        F.col("hod").cast("long").alias("hod"),
        F.col("n1").alias("n_cell"),
        F.floor(F.lit(1000000.0) * F.abs(m1 - m2) / se)
        .cast("long")
        .alias("absz_micro"),
        F.floor(F.lit(1000000.0) * (m1 - m2) / se)
        .cast("long")
        .alias("z_micro"),
    )
    wr = Window.orderBy(
        F.col("absz_micro").desc(), "event_type", "hod"
    )
    ranked = zs.withColumn(
        "bh_rank", F.row_number().over(wr).cast("long")
    )
    thr = F.broadcast(
        ev.sparkSession.createDataFrame(
            _BH_THRESH, "k int, thr_micro long"
        )
    )
    cut = (
        ranked.join(thr, ranked["bh_rank"] == thr["k"])
        .filter(F.col("absz_micro") >= F.col("thr_micro"))
        .agg(F.coalesce(F.max("bh_rank"), F.lit(0)).cast("long").alias("kmax"))
    )
    return (
        ranked.crossJoin(F.broadcast(cut))
        .select(
            "event_type",
            "hod",
            "n_cell",
            "z_micro",
            "bh_rank",
            F.when(F.col("bh_rank") <= F.col("kmax"), 1)
            .otherwise(0)
            .cast("long")
            .alias("rejected"),
        )
        .orderBy("bh_rank")
    )
