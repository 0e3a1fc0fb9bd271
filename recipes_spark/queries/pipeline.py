"""M2 end-to-end: the reference's WHOLE ingest+query lifecycle as one
verified flow (SURVEY.md §3.1-3.3) — staged granule files → binaryFile
scan → mapInPandas metadata decode (S10/S11) → STAC item assembly
(P10-P13) → idempotent catalog upsert, run TWICE (S12: the second pass
must be a no-op or the row count doubles and the oracle fails) →
bbox+sort+limit catalog search (G3/O2).

The synthetic granule headers are deterministic arithmetic
(sources/granules.py), so DuckDB can replay the full pipeline from
generate_series — an oracle over a five-stage pipeline, not just one
operator.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from recipes_spark.plans.catalog import catalog_search, upsert_items
from recipes_spark.plans.items import build_items
from recipes_spark.registry import query
from recipes_spark.session import scratch_dir
from recipes_spark.sources.granules import file_metadata, stage_granules

_QW, _QS, _QE, _QN = -60.0, -40.0, 20.0, 30.0


@query(
    "stac_e2e_pipeline",
    oracle=f"""
WITH meta AS (
  SELECT printf('granule_%04d', i)                              AS id,
         printf('sst-%s', 'METOP_B')                            AS collection_id,
         CAST((i * 15) % 300 - 150 AS DOUBLE)                   AS west,
         CAST((i * 7) % 140 - 70 AS DOUBLE)                     AS south,
         CAST((i * 15) % 300 - 140 AS DOUBLE)                   AS east,
         CAST((i * 7) % 140 - 65 AS DOUBLE)                     AS north,
         TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL 3 MINUTE AS start_datetime,
         printf('granule_%04d.nc', i)                           AS asset_file
  FROM (SELECT unnest(range(0, 24)) AS i)
)
SELECT id, collection_id, west, south, east, north, start_datetime, asset_file
FROM meta
WHERE NOT (east < {_QW} OR west > {_QE} OR north < {_QS} OR south > {_QN})
ORDER BY start_datetime DESC, id
LIMIT 8
""",
)
def stac_e2e_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Files → metadata → items → upsert ×2 → search, one oracle."""
    root = stage_granules(24)
    meta = file_metadata(spark, f"{root}/*.nc").select(
        F.col("granule_id").alias("item_id"),
        F.concat_ws("-", F.lit("sst"), F.col("platform")).alias("collection_id"),
        "west",
        "south",
        "east",
        "north",
        "start_datetime",
        "end_datetime",
        F.col("source").alias("source_url"),
    )
    items = build_items(meta)

    catalog = scratch_dir("e2e_catalog") + "/items"
    upsert_items(spark, items, catalog)
    upsert_items(spark, items, catalog)  # idempotency under oracle watch
    stored = spark.read.parquet(catalog)

    hits = catalog_search(
        stored,
        bbox=(_QW, _QS, _QE, _QN),
        sortby=[("start_datetime", "desc"), ("id", "asc")],
        limit=8,
    )
    return hits.select(
        "id",
        "collection_id",
        F.col("bbox")[0].alias("west"),
        F.col("bbox")[1].alias("south"),
        F.col("bbox")[2].alias("east"),
        F.col("bbox")[3].alias("north"),
        "start_datetime",
        F.element_at(
            F.split(F.col("assets")["data"]["href"], "/"), -1
        ).alias("asset_file"),
    )
