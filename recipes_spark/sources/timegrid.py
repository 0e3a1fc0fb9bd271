"""Manifest sources S1–S4 & S7 (SURVEY.md §2.1): the reference's
plan-time, driver-side granule-manifest construction
(avhrr…/recipe.py:91-123) re-expressed as distributed DataFrame plans.

The reference builds a pandas date_range + URL list on the driver (~1.57M
entries for the full product range) and ships it to the cluster via
beam.Create. Here the grid is a `sequence()`+`explode` plan — generated
IN the executors, so a 10-year 3-minute grid never materializes on the
driver — and URL rendering is pure Catalyst projection (format_string +
date_format), no UDF.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

#: URL template from avhrr…/recipe.py:32-42 —
#: {root}/{year}/{doy:03d}/{yyyyMMddHHmmss}-{const}_{yyyyMMdd}_{HHmmss}-v02.0-fv01.0.nc
DEFAULT_CONST = "OSISAF-L2P_GHRSST-SSTsubskin-AVHRR_SST_METOP_B-sstmgr_metop01"


def _sq(s: object) -> str:
    """SQL single-quoted-literal escape for interpolated values."""
    return str(s).replace("'", "''")


def time_grid(
    spark: SparkSession,
    start: str,
    end: str,
    *,
    freq_minutes: int = 3,
    n_partitions: int | None = None,
) -> DataFrame:
    """S1: regular timestamp grid [start, end] at freq_minutes.

    Scale: one `sequence()` call produces the whole grid as a single
    array on one task, so for multi-year grids we generate per-day
    sub-sequences from an exploded day range — the grid parallelizes
    across executors and no single array exceeds ~480 entries/day.
    """
    # One SQL string per projection (not a Column chain): the grid
    # builder ran ~30 py4j round trips per build; the parsed trees are
    # identical (plan fingerprints unchanged — round-16 driver-chatter
    # pass, guide §5).
    start, end = _sq(start), _sq(end)
    days = spark.range(1).selectExpr(
        f"explode(sequence(to_date('{start}'), to_date('{end}'),"
        " INTERVAL 1 DAY)) AS day"
    )
    if n_partitions:
        days = days.repartition(n_partitions)
    # Each day emits stamps aligned to the GLOBAL grid phase (start +
    # k*freq), not to midnight: ceil the day-start to the next on-grid
    # stamp, mirroring pd.date_range(start, end, freq).
    step = freq_minutes * 60
    start_ts = f"CAST('{start}' AS TIMESTAMP)"
    start_s = f"unix_timestamp({start_ts})"
    lo = f"GREATEST(CAST(day AS TIMESTAMP), {start_ts})"
    hi = (
        "LEAST(CAST(day AS TIMESTAMP) + INTERVAL 1 DAY"
        f" - INTERVAL 1 SECOND, CAST('{end}' AS TIMESTAMP))"
    )
    first_on_grid = (
        f"{start_s} + CEIL((unix_timestamp({lo}) - {start_s})"
        f" / {step}) * {step}"
    )
    return days.selectExpr(
        f"explode(sequence(timestamp_seconds({first_on_grid}), {hi},"
        f" INTERVAL {freq_minutes} MINUTES)) AS ts"
    ).where(f"ts <= CAST('{end}' AS TIMESTAMP)")


def drop_blacklist(grid: DataFrame, blacklist: DataFrame | Sequence[str]) -> DataFrame:
    """S2: remove known-missing timestamps (avhrr…/recipe.py:93-118,
    DatetimeIndex.drop) — a left anti join; the blacklist side is tiny
    and broadcast."""
    if not isinstance(blacklist, DataFrame):
        spark = grid.sparkSession
        blacklist = spark.createDataFrame(
            [(s,) for s in blacklist], "ts_str string"
        ).select(F.col("ts_str").cast("timestamp").alias("ts"))
    return grid.join(F.broadcast(blacklist), "ts", "left_anti")


def render_url_sql(root: str, const: str = DEFAULT_CONST) -> str:
    """S3 as a SQL expression string over a `ts` column (see
    render_url) — callers composing a larger single-parse projection
    interpolate this fragment."""
    return (
        "format_string('%s/%s/%s/%s-%s_%s_%s-v02.0-fv01.0.nc', "
        f"'{_sq(root)}', "
        "date_format(ts, 'yyyy'), "
        "lpad(CAST(dayofyear(ts) AS STRING), 3, '0'), "
        "date_format(ts, 'yyyyMMddHHmmss'), "
        f"'{_sq(const)}', "
        "date_format(ts, 'yyyyMMdd'), "
        "date_format(ts, 'HHmmss'))"
    )


def render_url(root: str, const: str = DEFAULT_CONST) -> F.Column:
    """S3: deterministic granule URL from a `ts` column
    (avhrr…/recipe.py:32-42) — pure Catalyst: format_string +
    date_format + lpad(dayofyear), whole-stage-codegen'd."""
    return F.expr(render_url_sql(root, const))


def manifest(
    spark: SparkSession,
    start: str,
    end: str,
    *,
    root: str,
    blacklist: Sequence[str] = (),
    freq_minutes: int = 3,
    const: str = DEFAULT_CONST,
) -> DataFrame:
    """S4: keyed (key, ts, url) manifest = S1 ∖ S2 + S3 projection.

    The reference keys items by list position (FilePattern.items()).
    The key is computed ARITHMETICALLY — grid position from the epoch
    offset, minus how many blacklisted stamps precede this one (the
    blacklist is tiny, so it rides as one sorted-array broadcast row) —
    NOT with `row_number() over (order by ts)`, whose empty partitionBy
    funnels the whole grid through one task. The plan stays fully
    row-local: no Exchange until a consumer adds one.

    Epoch arithmetic assumes the grid phase has no DST discontinuity
    inside [start, end] (true for the reference's UTC product grids).
    """
    grid = time_grid(spark, start, end, freq_minutes=freq_minutes)
    bl_sorted = F.array()
    if blacklist:
        grid = drop_blacklist(grid, blacklist)
        # Only blacklist stamps that actually REMOVED a grid row shift
        # the keys: dedupe, then keep stamps on the grid phase and
        # inside [start, end]. Off-grid/out-of-range/duplicate entries
        # are no-ops for the anti-join and must be no-ops here too.
        start_ts = F.lit(start).cast("timestamp")
        end_ts = F.lit(end).cast("timestamp")
        step = freq_minutes * 60
        bl_sorted = F.sort_array(
            F.filter(
                F.array_distinct(
                    F.array(*[F.lit(b).cast("timestamp") for b in blacklist])
                ),
                lambda b: b.isNotNull()
                & (b >= start_ts)
                & (b <= end_ts)
                & ((F.unix_timestamp(b) - F.unix_timestamp(start_ts)) % step == 0),
            )
        )
    idx = (
        (F.unix_timestamp("ts") - F.unix_timestamp(F.lit(start)))
        / (freq_minutes * 60)
    ).cast("long")
    n_before = F.size(F.filter(bl_sorted, lambda b: b <= F.col("ts")))
    return grid.select(
        (idx - n_before).cast("long").alias("key"),
        "ts",
        render_url(root, const).alias("url"),
    )


def manifest_from_sequence(spark: SparkSession, urls: Sequence[str]) -> DataFrame:
    """S7: manifest from an explicit URL list
    (FilePattern.from_sequence, insitu…/recipe.py:153)."""
    return spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "key long, url string"
    )
