"""Reference IO-surface queries (SURVEY.md §2.1 S5/S6/S9/S10/S11 and
§2.2 P8): listing, cached manifest, YAML collections, binary-file
metadata extraction, and surrogate re-encode — each wired to the
registry; oracles where SQL can express the result.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from recipes_spark.functions.encoding import fix_surrogates
from recipes_spark.io import TABLES, load
from recipes_spark.registry import query
from recipes_spark.session import scratch_dir
from recipes_spark.sources.granules import file_metadata, stage_granules
from recipes_spark.sources.listing import (
    cached_glob,
    glob_listing,
    read_collections_yaml,
)

_TABLE_FILES_ORACLE = "SELECT unnest(main.list_sort({files})) AS file".format(
    files=str([f"{t}.parquet" for t in TABLES])
)

_COLLECTIONS_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "resources",
    "collections.yaml",
)


@query("s5_glob_listing", oracle=_TABLE_FILES_ORACLE)
def s5_glob_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: distributed glob listing of the scale-factor directory —
    sorted(fs.glob(glob)) semantics (insitu…/recipe.py:40). The oracle
    pins the exact file inventory. One directory, so the listing's url
    order is already file order; an orderBy would re-run the glob."""
    return glob_listing(spark, [f"{sf_dir}/*.parquet"]).select(
        F.element_at(F.split("url", "/"), -1).alias("file")
    )


@query("s6_cached_listing", oracle=_TABLE_FILES_ORACLE)
def s6_cached_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: memoized listing — first call materializes the sha256-keyed
    manifest parquet, second call reads it back (cache hit). Returns
    the cache-hit read, which must equal the direct listing."""
    cache_root = scratch_dir("listing_cache")
    pattern = f"{sf_dir}/*.parquet"
    cached_glob(spark, pattern, cache_root=cache_root)  # miss: writes
    hit = cached_glob(spark, pattern, cache_root=cache_root)  # hit: reads
    return hit.select(
        F.element_at(F.split("url", "/"), -1).alias("file")
    ).orderBy("file")


@query(
    "s9_collections_yaml",
    oracle="""
SELECT * FROM (VALUES
  ('synthetic-sst-l2p', 'proprietary', CAST(3 AS INT), false,
   TIMESTAMP '2024-01-01 00:00:00'),
  ('synthetic-insitu-mo', 'CC-BY-4.0', CAST(2 AS INT), true,
   TIMESTAMP '2024-01-05 00:00:00'),
  ('synthetic-insitu-tg', 'CC-BY-4.0', CAST(3 AS INT), false,
   TIMESTAMP '2024-01-10 00:00:00')
) AS t(id, license, n_keywords, closed_extent, temporal_start)
ORDER BY id
""",
)
def s9_collections_yaml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9: multi-doc collections.yaml → dimension DataFrame
    (open_collections, avhrr…/recipe.py:84; 15-collection analog at
    insitu…/collections.yaml). Open-ended temporal extents (end == "")
    surface as open_ended=true (avhrr…/collections.yaml:9 pattern)."""
    cols = read_collections_yaml(spark, _COLLECTIONS_PATH)
    return cols.select(
        "id",
        "license",
        F.size("keywords").alias("n_keywords"),
        (~F.col("open_ended")).alias("closed_extent"),
        F.to_timestamp(
            F.regexp_replace("temporal_start", "Z$", "")
        ).alias("temporal_start"),
    ).orderBy("id")


@query(
    "s11_file_metadata",
    oracle="""
SELECT printf('granule_%04d', i)                            AS granule_id,
       'METOP_B'                                            AS platform,
       TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL 3 MINUTE AS start_datetime,
       TIMESTAMP '2024-01-01 00:03:00' + i * INTERVAL 3 MINUTE AS end_datetime,
       CAST((i * 15) % 300 - 150 AS DOUBLE)                 AS west,
       CAST((i * 7) % 140 - 70 AS DOUBLE)                   AS south,
       CAST((i * 15) % 300 - 140 AS DOUBLE)                 AS east,
       CAST((i * 7) % 140 - 65 AS DOUBLE)                   AS north
FROM (SELECT unnest(range(0, 24)) AS i)
ORDER BY granule_id
""",
)
def s11_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10+S11: binaryFile scan of 24 staged granule files →
    mapInPandas metadata decode → one flat row per file
    (OpenURLWithFSSpec → OpenWithXarray, avhrr…/recipe.py:124-127).
    The oracle recomputes the deterministic header arithmetic."""
    root = stage_granules(24)
    meta = file_metadata(spark, os.path.join(root, "*.nc"))
    return meta.select(
        "granule_id",
        "platform",
        "start_datetime",
        "end_datetime",
        "west",
        "south",
        "east",
        "north",
    ).orderBy("granule_id")


@query(
    "p3_cast_quarantine",
    oracle="""
WITH mixed AS (
  SELECT event_id,
         CASE WHEN event_id % 7 = 0 THEN event_type
              ELSE CAST(value AS VARCHAR) END AS raw
  FROM events
)
SELECT count(CASE WHEN TRY_CAST(raw AS DOUBLE) IS NOT NULL THEN 1 END)
         AS n_good,
       count(CASE WHEN TRY_CAST(raw AS DOUBLE) IS NULL THEN 1 END)
         AS n_rejects,
       round(sum(TRY_CAST(raw AS DOUBLE)), 2) AS sum_cast
FROM mixed
""",
)
def p3_cast_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 (insitu…/recipe.py:87-90): try_cast split with a reject table
    instead of the reference's fail-the-pipeline re-raise. A synthetic
    dirty column (every 7th row non-numeric) drives the split; the
    oracle checks both streams' counts and the typed sum."""
    from recipes_spark.operators.quarantine import cast_split

    ev = load(spark, sf_dir, "events").select(
        "event_id",
        F.when(
            F.col("event_id") % 7 == 0, F.col("event_type")
        ).otherwise(F.col("value").cast("string")).alias("raw"),
    )
    good, rejects = cast_split(ev, [("raw", "double")], keep=["event_id"])
    g = good.agg(
        F.count(F.lit(1)).alias("n_good"),
        F.round(F.sum("raw"), 2).alias("sum_cast"),
    )
    r = rejects.agg(F.count(F.lit(1)).alias("n_rejects"))
    return g.crossJoin(r).select("n_good", "n_rejects", "sum_cast")


@query(
    "p8_surrogate_reencode",
    oracle="""
SELECT doc_id, text AS fixed_text, false AS changed
FROM documents
ORDER BY doc_id
""",
)
def p8_surrogate_reencode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8: surrogate re-encode over document text
    (insitu…/recipe.py:48-63). Parquet text is valid UTF-8, so the fix
    is an identity here (oracle pins that); the mojibake repair itself
    is unit-tested with crafted lone-surrogate strings in
    tests/test_encoding.py."""
    d = load(spark, sf_dir, "documents")
    fixed = fix_surrogates(F.col("text"))
    return d.select(
        "doc_id",
        fixed.alias("fixed_text"),
        (~(fixed.eqNullSafe(F.col("text")))).alias("changed"),
    ).orderBy("doc_id")
