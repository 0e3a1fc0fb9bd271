"""MERGE-INTO e2e query (SURVEY §4.1): exercise the full matched /
not-matched matrix against a real partitioned Parquet store under
oracle watch — initial load, update+insert batch, conditional delete —
then project the surviving store so DuckDB can replay the set logic."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from recipes_spark.io import load
from recipes_spark.plans.merge import merge_into
from recipes_spark.registry import query
from recipes_spark.session import scratch_dir


@query(
    "merge_e2e",
    oracle="""
WITH meta AS (
  SELECT o_orderkey AS k,
         'col-' || split_part(o_orderpriority, '-', 1) AS collection_id,
         CAST(-180 + (o_orderkey % 340) AS DOUBLE)     AS west
  FROM orders
), init AS (
  SELECT * FROM meta WHERE k % 3 <> 0
), batch AS (
  SELECT k, collection_id, west + 1 AS west FROM meta WHERE k % 2 = 0
), merged AS (
  SELECT * FROM batch
  UNION ALL
  SELECT * FROM init WHERE k NOT IN (SELECT k FROM batch)
), afterdel AS (
  SELECT * FROM merged WHERE k % 10 <> 0
)
SELECT collection_id,
       count(*) AS n_items,
       CAST(sum(floor(west)) AS BIGINT) AS west_sum
FROM afterdel
GROUP BY collection_id
ORDER BY collection_id
""",
)
def merge_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three merges against a collection-partitioned store: (1) initial
    insert of ⅔ of the items, (2) WHEN MATCHED UPDATE / WHEN NOT
    MATCHED INSERT of every even item (west shifted +1 — so updates are
    observable in the sum), (3) WHEN MATCHED DELETE of every 10th item.
    The oracle replays the same set algebra; matching proves update
    replacement, insert-only-when-absent, and delete (including
    emptied-partition cleanup) against the actual files on disk."""
    o = load(spark, sf_dir, "orders")
    meta = o.select(
        F.col("o_orderkey").alias("k"),
        F.concat(F.lit("col-"), F.substring_index("o_orderpriority", "-", 1)).alias(
            "collection_id"
        ),
        (-180 + (F.col("o_orderkey") % 340)).cast("double").alias("west"),
    )
    store = scratch_dir("merge_e2e") + "/items"

    init = meta.filter(F.col("k") % 3 != 0)
    init.write.mode("overwrite").partitionBy("collection_id").parquet(store)

    batch = meta.filter(F.col("k") % 2 == 0).withColumn(
        "west", F.col("west") + 1
    )
    merge_into(
        spark, store, batch, on="k", partition_col="collection_id",
        when_matched="update", when_not_matched="insert",
    )
    deletes = meta.filter(F.col("k") % 10 == 0)
    merge_into(
        spark, store, deletes, on="k", partition_col="collection_id",
        when_matched="delete", when_not_matched="ignore",
    )

    return (
        spark.read.parquet(store)
        .groupBy("collection_id")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.floor("west")).cast("long").alias("west_sum"),
        )
        .orderBy("collection_id")
    )


@query(
    "snapshot_diff",
    oracle="""
WITH v1 AS (
  SELECT doc_id, text FROM documents
), v2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 101 = 0 THEN text || ' v2' ELSE text END AS text
  FROM documents WHERE doc_id % 97 <> 0
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 103 = 0
)
SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
       CASE WHEN v1.doc_id IS NULL THEN 'added'
            WHEN v2.doc_id IS NULL THEN 'removed'
            ELSE 'changed' END AS status
FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
WHERE v1.doc_id IS NULL OR v2.doc_id IS NULL OR v1.text <> v2.text
""",
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between two table snapshots: full outer join on the key,
    classify added / removed / changed (content inequality), emit only
    the delta — the diff that feeds incremental downstream rebuilds
    instead of full recomputes. One shuffle on the join key; at scale,
    compare a content digest (sha2) instead of raw text so the shuffle
    carries 32 bytes per row, and partition-prune both snapshots to
    partitions whose metadata changed. v2 is derived deterministically
    from v1 (drops, edits, inserts) so the oracle replays it exactly."""
    v1 = load(spark, sf_dir, "documents").select("doc_id", "text")
    base = v1.filter(F.col("doc_id") % 97 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 101 == 0, F.concat("text", F.lit(" v2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    added = v1.filter(F.col("doc_id") % 103 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    v2 = base.unionByName(added)
    a = v1.select(F.col("doc_id").alias("id1"), F.col("text").alias("t1"))
    b = v2.select(F.col("doc_id").alias("id2"), F.col("text").alias("t2"))
    j = a.join(b, F.col("id1") == F.col("id2"), "full_outer")
    return j.filter(
        F.col("id1").isNull()
        | F.col("id2").isNull()
        | (F.col("t1") != F.col("t2"))
    ).select(
        F.coalesce("id1", "id2").alias("doc_id"),
        F.when(F.col("id1").isNull(), F.lit("added"))
        .when(F.col("id2").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
        .alias("status"),
    )
