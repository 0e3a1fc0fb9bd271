"""Manifest-source queries (SURVEY.md §2.1 S1–S4): the reference's
granule-manifest pipeline on the driver testdata's time domain.

Fixture contract (FIXTURES.md §B): grid = 3-minute stamps over
2024-01-01 → 2024-01-30 (the events table's span); blacklist = the 18
earliest event timestamps floored to the 3-minute grid (mirrors the 18
hand-listed missing granules at avhrr…/recipe.py:93-115); URL root =
file:///synthetic/avhrr.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from recipes_spark.io import load
from recipes_spark.registry import query
from recipes_spark.sources.timegrid import (
    manifest_from_sequence,
    render_url,
    render_url_sql,
    time_grid,
)

GRID_START = "2024-01-01 00:00:00"
GRID_END = "2024-01-30 00:00:00"
URL_ROOT = "file:///synthetic/avhrr"
CONST = "OSISAF-L2P_GHRSST-SSTsubskin-AVHRR_SST_METOP_B-sstmgr_metop01"

# DuckDB fragments reused across oracles.
_ORACLE_GRID = f"""
SELECT generate_series AS ts
FROM generate_series(TIMESTAMP '{GRID_START}', TIMESTAMP '{GRID_END}',
                     INTERVAL 3 MINUTE)
"""

_ORACLE_BLACKLIST = """
SELECT DISTINCT make_timestamp(CAST(floor(epoch(ts) / 180) * 180 AS BIGINT) * 1000000) AS ts
FROM (SELECT ts FROM events ORDER BY ts LIMIT 18)
"""

_ORACLE_URL = f"""
printf('{URL_ROOT}/%s/%s/%s-{CONST}_%s_%s-v02.0-fv01.0.nc',
       strftime(ts, '%Y'),
       lpad(CAST(dayofyear(ts) AS VARCHAR), 3, '0'),
       strftime(ts, '%Y%m%d%H%M%S'),
       strftime(ts, '%Y%m%d'),
       strftime(ts, '%H%M%S'))
"""


def _blacklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """18 earliest event ts, floored to the 3-minute grid (distinct)."""
    ev = load(spark, sf_dir, "events")
    first18 = ev.select("ts").orderBy("ts").limit(18)
    return first18.selectExpr(
        "timestamp_seconds(CAST(FLOOR(unix_timestamp(ts) / 180) * 180"
        " AS LONG)) AS ts"
    ).distinct()


@query("s1_time_grid", oracle=_ORACLE_GRID)
def s1_time_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: sequence()+explode time grid, generated executor-side (the
    reference builds it driver-side via pd.date_range,
    avhrr…/recipe.py:116-118)."""
    return time_grid(spark, GRID_START, GRID_END, freq_minutes=3)


@query(
    "s2_grid_minus_blacklist",
    oracle=f"""
WITH grid AS ({_ORACLE_GRID}), bl AS ({_ORACLE_BLACKLIST})
SELECT g.ts FROM grid g ANTI JOIN bl ON g.ts = bl.ts
""",
)
def s2_grid_minus_blacklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: grid ∖ blacklist via broadcast left-anti join
    (avhrr…/recipe.py:118)."""
    grid = time_grid(spark, GRID_START, GRID_END, freq_minutes=3)
    return grid.join(F.broadcast(_blacklist(spark, sf_dir)), "ts", "left_anti")


@query(
    "s3_url_render",
    oracle=f"""
WITH grid AS ({_ORACLE_GRID})
SELECT ts, {_ORACLE_URL} AS url FROM grid
""",
)
def s3_url_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: deterministic URL render — format_string/date_format/lpad
    projection, zero UDFs (avhrr…/recipe.py:32-42)."""
    grid = time_grid(spark, GRID_START, GRID_END, freq_minutes=3)
    return grid.select("ts", render_url(URL_ROOT, CONST).alias("url"))


@query(
    "s4_manifest",
    oracle=f"""
WITH grid AS ({_ORACLE_GRID}), bl AS ({_ORACLE_BLACKLIST}),
kept AS (SELECT g.ts FROM grid g ANTI JOIN bl ON g.ts = bl.ts)
SELECT CAST(row_number() OVER (ORDER BY ts) - 1 AS BIGINT) AS key,
       ts, {_ORACLE_URL} AS url
FROM kept
""",
)
def s4_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: the full keyed manifest (key, ts, url) = S1∖S2 + S3
    (FilePattern.items(), avhrr…/recipe.py:120-123). The list-position
    key is arithmetic — grid epoch offset minus the count of
    blacklisted stamps at or before ts (blacklist rides as one sorted-
    array broadcast row) — replacing the single-task
    row_number() over (order by ts) window; the plan has no
    SinglePartition exchange (plan-asserted)."""
    grid = time_grid(spark, GRID_START, GRID_END, freq_minutes=3)
    bl = _blacklist(spark, sf_dir)
    kept = grid.join(F.broadcast(bl), "ts", "left_anti").crossJoin(
        F.broadcast(bl.agg(F.expr("sort_array(collect_list(ts)) AS __bl")))
    )
    # ONE parsed projection (round-16 driver-chatter pass, guide §5):
    # grid-offset arithmetic, the blacklist-count HOF (SQL lambda `b`
    # is a fixed name — fingerprint-stable, like the Column form's
    # normalizer-masked x_<n>), and the URL render in a single
    # selectExpr.
    idx = (
        "CAST((unix_timestamp(ts)"
        f" - unix_timestamp('{GRID_START}')) / 180 AS LONG)"
    )
    return kept.selectExpr(
        f"CAST({idx} - size(filter(__bl, b -> b <= ts)) AS LONG) AS key",
        "ts",
        f"{render_url_sql(URL_ROOT, CONST)} AS url",
    )


#: S7 fixture: an explicit granule list, the shape the reference feeds to
#: FilePattern.from_sequence (insitu…/recipe.py:153) — a hand-curated set
#: of files rather than a generated grid.
S7_URLS = tuple(
    f"file:///synthetic/insitu/split_catalog_{i:04d}.nc" for i in range(24)
)


@query(
    "s7_manifest_from_sequence",
    oracle="""
SELECT CAST(i AS BIGINT) AS key,
       printf('file:///synthetic/insitu/split_catalog_%04d.nc', i) AS url
FROM range(24) t(i)
""",
)
def s7_manifest_from_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: manifest from a static URL sequence
    (FilePattern.from_sequence, insitu…/recipe.py:153) — list-position
    keys, driver-side createDataFrame. The list is by definition
    driver-resident (the user hands it over), so unlike S1-S4 there is
    no executor-side generation to do; at scale the list stays
    metadata-sized (file names, not file contents)."""
    return manifest_from_sequence(spark, S7_URLS)
