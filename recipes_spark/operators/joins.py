"""Join operators Spark lacks natively (SURVEY.md §2.3 J5–J8).

As-of join: Spark has no MERGE ASOF. The naive encoding — theta join on
``r.ts <= l.ts`` + row_number — multiplies rows before filtering (O(n·m)
per key) and dies at scale. We instead use the union+window plan:

    tag left/right → unionByName → window(partitionBy=key,
    orderBy=(ts, side)) → last(right_value, ignorenulls=True)

which costs ONE shuffle on the key and ONE sort per partition —
O((n+m) log(n+m)) total, no row blowup, and AQE handles key skew. This is
the standard point-in-time-join formulation used by large-scale feature
stores.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_ts: str,
    right_ts: str,
    by: str | Sequence[str],
    value_cols: Sequence[str],
    direction: str = "backward",
    tiebreak: str | None = None,
) -> DataFrame:
    """For each left row, attach the value columns of the right row with
    the greatest ``right_ts <= left_ts`` (direction='backward'; 'forward'
    = least ``right_ts >= left_ts``) within the same ``by`` key(s).

    Left rows with no match keep NULL value columns (left-asof
    semantics). ``value_cols`` are the right-side columns to carry; they
    must not collide with left column names (alias beforehand).

    ``tiebreak`` names a right-side column that breaks ties when several
    right rows share the same (key, right_ts): the row with the GREATEST
    tiebreak value wins (both directions). Without it the winner among
    tied rows is partition-order-dependent — fine for idempotent values,
    nondeterministic otherwise.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction}")
    keys = [by] if isinstance(by, str) else list(by)

    # Tag sides: right rows sort before left at equal ts for 'backward'
    # (so an exactly-simultaneous right row IS visible to the left row).
    # selectExpr strings, not Column chains: every F.lit/F.col/.cast/
    # .alias is its own py4j round trip, and the two tagging selects
    # plus the final projection ran ~50 of them per build (~0.1 s of
    # driver-blocked socket wait per invocation, guide §5). The string
    # forms parse to the identical Catalyst trees (plan fingerprints
    # unchanged).
    left_cols = [c for c in left.columns]
    rtype = {c: right.schema[c].dataType.simpleString() for c in value_cols}
    tb_sql = (
        [f"CAST(NULL AS {right.schema[tiebreak].dataType.simpleString()}) AS __tb"]
        if tiebreak
        else []
    )
    l_tagged = left.selectExpr(
        *[f"`{c}`" for c in left_cols],
        f"`{left_ts}` AS __ts",
        "1 AS __side",
        *tb_sql,
        *[f"CAST(NULL AS {rtype[c]}) AS `__v_{c}`" for c in value_cols],
    )
    r_tagged = right.selectExpr(
        *[
            f"CAST(NULL AS {left.schema[c].dataType.simpleString()}) AS `{c}`"
            for c in left_cols
            if c not in keys
        ],
        *[f"`{k}`" for k in keys],
        f"`{right_ts}` AS __ts",
        "0 AS __side",
        *([f"`{tiebreak}` AS __tb"] if tiebreak else []),
        *[f"`{c}` AS `__v_{c}`" for c in value_cols],
    )
    unioned = l_tagged.unionByName(r_tagged)

    # Last key __tb asc: within rows tied on (__ts, __side), last()
    # picks the row with the max tiebreak — deterministic both ways.
    order = [
        F.col("__ts").asc() if direction == "backward" else F.col("__ts").desc(),
        F.col("__side").asc(),
    ]
    if tiebreak:
        order.append(F.col("__tb").asc_nulls_first())
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = unioned.select(
        *unioned.columns,
        *[
            F.last(f"__v_{c}", ignorenulls=True).over(w).alias(f"__f_{c}")
            for c in value_cols
        ],
    )

    return filled.where("__side = 1").selectExpr(
        *[f"`{c}`" for c in left_cols],
        *[f"`__f_{c}` AS `{c}`" for c in value_cols],
    )


def asof_nearest_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_ts: str,
    right_ts: str,
    by: str | Sequence[str],
    value_cols: Sequence[str],
    tiebreak: str,
) -> DataFrame:
    """As-of join, direction='nearest' (pandas merge_asof's third
    direction): each left row takes the right row whose timestamp is
    CLOSEST in either direction within the same key, equal distances
    resolving to the EARLIER (backward) row. Same union+window plan as
    asof_join — ONE shuffle on the key, one sort — but both directions
    fill in the same pass: last(value, ignorenulls) over the preceding
    frame gives the backward candidate, first(...) over the following
    frame the forward one, and a row-local CASE picks the nearer. The
    right timestamp rides along as a fill column so the distance is
    computable without a second join.

    Emits left columns + value_cols + ``__nearest_ts`` (the matched
    right timestamp; callers alias it away). ``tiebreak`` follows
    asof_join's contract (greatest value wins among same-instant right
    rows)."""
    keys = [by] if isinstance(by, str) else list(by)
    left_cols = list(left.columns)
    carry = list(value_cols) + [right_ts]
    tb_type = right.schema[tiebreak].dataType
    l_tagged = left.select(
        *left_cols,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(tb_type).alias("__tb"),
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(f"__v_{c}")
            for c in carry
        ],
    )
    r_tagged = right.select(
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in left_cols
            if c not in keys
        ],
        *[F.col(k) for k in keys],
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.col(tiebreak).alias("__tb"),
        *[F.col(c).alias(f"__v_{c}") for c in carry],
    )
    unioned = l_tagged.unionByName(r_tagged)

    # Same-instant right rows must resolve to the max tiebreak for BOTH
    # fills, but last() (backward) and first() (forward) read opposite
    # ends of a tie group — no single row ordering serves both. So the
    # tie is resolved BEFORE the window: pre-aggregate one winner
    # struct per (key, instant) via max(struct(tb, values)), then both
    # fills see exactly one candidate per instant.
    winner = F.struct(F.col("__tb").alias("tb"), *[
        F.col(f"__v_{c}").alias(c) for c in carry
    ])
    # Per (key, instant) right-side winner: max struct = max tiebreak.
    per_instant = (
        unioned.filter(F.col("__side") == 0)
        .groupBy(*keys, "__ts")
        .agg(F.max(winner).alias("__w"))
        .select(*keys, "__ts", F.lit(0).alias("__side"), "__w")
    )
    lefts = unioned.filter(F.col("__side") == 1).select(
        *left_cols, "__ts", "__side", F.lit(None).cast(
            per_instant.schema["__w"].dataType
        ).alias("__w")
    )
    per_instant_full = per_instant.select(
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in left_cols
            if c not in keys
        ],
        *[F.col(k) for k in keys],
        "__ts",
        "__side",
        "__w",
    )
    u2 = lefts.unionByName(per_instant_full)
    w_back = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__ts").asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # Forward fill via the REVERSED order with an incremental frame:
    # Spark's (currentRow, unboundedFollowing) frame re-evaluates the
    # whole tail per row (UnboundedFollowingWindowFunctionFrame —
    # O(rows²) per key), while (unboundedPreceding, currentRow) grows
    # incrementally. "First non-null at or after me in (ts asc, side
    # asc)" == "last non-null at or before me in (ts desc, side desc)":
    # the prefix under the reversed order is exactly the suffix under
    # the forward order (equal-instant rows are all-NULL on the left
    # side and unique on the right side, so tie positions cannot
    # change the answer). Same exchange (same partition key), one
    # extra in-partition sort.
    w_fwd = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__ts").desc(), F.col("__side").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = u2.select(
        *u2.columns,
        F.last("__w", ignorenulls=True).over(w_back).alias("__b"),
        F.last("__w", ignorenulls=True).over(w_fwd).alias("__f"),
    ).filter(F.col("__side") == 1)

    # Distances compare as epoch doubles: exact for micro-precision
    # timestamps (1.7e15 micro-units < 2^53) and also valid for plain
    # numeric timestamp columns.
    bts = F.col("__b")[right_ts].cast("double")
    fts = F.col("__f")[right_ts].cast("double")
    this_ts = F.col("__ts").cast("double")
    use_b = F.col("__f").isNull() | (
        F.col("__b").isNotNull() & ((this_ts - bts) <= (fts - this_ts))
    )
    chosen = F.when(use_b, F.col("__b")).otherwise(F.col("__f"))
    return filled.select(
        *left_cols,
        *[chosen[c].alias(c) for c in value_cols],
        chosen[right_ts].alias("__nearest_ts"),
    )


def interval_overlap_join(
    a: DataFrame,
    b: DataFrame,
    *,
    a_id: str = "a_id",
    b_id: str = "b_id",
    width_us: int,
) -> DataFrame:
    """Interval x interval OVERLAP join with no equi key (the J7 range
    join's two-sided sibling; registered as join_interval_overlap).
    Inputs carry (id, s_us, e_us) with `s_us`/`e_us` epoch-microsecond
    half-open bounds. Strategy: quantize time into `width_us` buckets,
    replicate each interval to every bucket it touches, equi-join on
    the bucket — a genuinely partitioned hash join — then apply the
    exact half-open overlap predicate (a.s < b.e AND b.s < a.e) inside
    the bucket. A pair whose intervals overlap shares the bucket of
    max(a.s, b.s) by construction; filtering to THAT bucket (the
    responsibility filter) emits each pair exactly once with no
    distinct pass. Returns (a_id, b_id, overlap_us).

    Scale: replication factor = interval_len/width + 1 — pick width AT
    OR ABOVE the typical interval length; the only shuffle is on the
    bucket key. The cost driver is the within-bucket candidate
    product, and at constant span the OUTPUT pair count grows
    quadratically with density (probe_interval_join measured exponent
    1.62 over a 10× density step) — aggregate pairs in place, don't
    materialize them. For a hot bucket (event storm) SALT the bucket
    key (operators/skew.py): the probe measured the tempting
    alternative — a 16× finer grid — at 9× SLOWER, because widths
    below the interval length replicate every interval into more
    buckets without shrinking the candidate product."""

    def explode_side(df: DataFrame, out_id: str, s: str, e: str) -> DataFrame:
        return df.select(
            F.col("id").alias(out_id),
            F.col("s_us").alias(s),
            F.col("e_us").alias(e),
            F.explode(
                F.sequence(
                    F.floor(F.col("s_us") / width_us).cast("long"),
                    F.floor((F.col("e_us") - 1) / width_us).cast("long"),
                )
            ).alias("bucket"),
        )

    ax = explode_side(a, a_id, "a_s", "a_e")
    bx = explode_side(b, b_id, "b_s", "b_e")
    pairs = ax.join(bx, "bucket").filter(
        (F.col("a_s") < F.col("b_e"))
        & (F.col("b_s") < F.col("a_e"))
        & (
            F.col("bucket")
            == F.floor(F.greatest("a_s", "b_s") / width_us).cast("long")
        )
    )
    return pairs.select(
        a_id,
        b_id,
        (F.least("a_e", "b_e") - F.greatest("a_s", "b_s")).alias("overlap_us"),
    )
