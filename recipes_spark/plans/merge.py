"""MERGE INTO semantics on a partitioned Parquet store (SURVEY.md §4.1
hardness item "S12 true MERGE semantics without Delta").

`upsert_items` (plans/catalog.py) covers the ToPgStac new-rows-win case;
this operator generalizes it to the full MERGE matrix a Delta/Iceberg
`MERGE INTO` offers — WHEN MATCHED UPDATE / DELETE / IGNORE, WHEN NOT
MATCHED INSERT / IGNORE, with an optional matched-condition — while
keeping the storage plain Parquet + dynamic partition overwrite. At
deployment the same call sites swap to transactional MERGE; the logical
contract (and the tests) stay identical.

Scale design: the expensive part of MERGE is finding which partitions
hold matched keys when keys can MOVE between partitions (an item changes
collection). That is ONE column-pruned scan of (key, partition) on the
target, semi-joined against source keys — narrow columns only, never the
payload. Touched partitions = source partitions ∪ matched target
partitions; everything else is untouched and never rewritten. The
rewrite itself shuffles only touched-partition rows.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession


def merge_into(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    *,
    on: str,
    partition_col: str,
    when_matched: str = "update",
    when_not_matched: str = "insert",
    matched_condition: Column | None = None,
) -> dict[str, int]:
    """MERGE `source` into the Parquet store at `target_path`.

    - ``when_matched``: 'update' (source row replaces target row),
      'delete' (target row dropped), or 'ignore' (target row kept).
      ``matched_condition`` (a Column over target rows) restricts which
      matched TARGET rows the action applies to; non-qualifying matches
      are kept as-is (and their source rows do NOT insert — they
      matched).
    - ``when_not_matched``: 'insert' or 'ignore' for source keys absent
      from the target.

    First write (missing path) inserts the source (unless 'ignore').
    Returns counts: {"inserted", "updated"|"deleted", "kept"} over the
    touched partitions. Re-running the same merge is idempotent for
    update/insert (delete removes already-removed keys: no-op).
    """
    if when_matched not in ("update", "delete", "ignore"):
        raise ValueError(f"when_matched must be update|delete|ignore: {when_matched}")
    if when_not_matched not in ("insert", "ignore"):
        raise ValueError(f"when_not_matched must be insert|ignore: {when_not_matched}")

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    src = source.dropDuplicates([on])

    try:
        target = spark.read.parquet(target_path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" not in str(e) and "Path does not exist" not in str(e):
            raise
        if when_not_matched == "ignore":
            return {"inserted": 0, "updated": 0, "deleted": 0, "kept": 0}
        out = src
        n = out.count()
        out.write.mode("overwrite").partitionBy(partition_col).parquet(target_path)
        return {"inserted": n, "updated": 0, "deleted": 0, "kept": 0}

    # Narrow (key, partition) scan finds every partition holding a
    # matched key — handles keys whose partition value CHANGED in the
    # source (the case a source-partitions-only rewrite silently
    # duplicates). Column pruning keeps this scan payload-free.
    src_keys = src.select(F.col(on).alias("__k")).distinct()
    matched_parts = (
        target.select(F.col(on).alias("__k"), F.col(partition_col).alias("__p"))
        .join(F.broadcast(src_keys), "__k")
        .select("__p")
        .distinct()
    )
    source_parts = src.select(F.col(partition_col).alias("__p")).distinct()
    touched = [r["__p"] for r in source_parts.union(matched_parts).distinct().collect()]
    if not touched:
        return {"inserted": 0, "updated": 0, "deleted": 0, "kept": 0}

    in_touched = target.filter(F.col(partition_col).isin(touched))

    # Tag matched target rows (semi/anti joins keep plans shuffle-light;
    # source keys broadcast).
    tgt_matched = in_touched.join(F.broadcast(src_keys), in_touched[on] == F.col("__k")).drop("__k")
    if matched_condition is not None:
        qualifying = tgt_matched.filter(matched_condition)
        non_qualifying = tgt_matched.filter(~matched_condition)
    else:
        qualifying = tgt_matched
        non_qualifying = tgt_matched.limit(0)
    tgt_unmatched = in_touched.join(
        F.broadcast(src_keys), in_touched[on] == F.col("__k"), "left_anti"
    )

    qual_keys = qualifying.select(F.col(on).alias("__k")).distinct()
    src_matched = src.join(F.broadcast(qual_keys), src[on] == F.col("__k")).drop("__k")
    all_tgt_keys = in_touched.select(F.col(on).alias("__k")).distinct()
    src_new = src.join(F.broadcast(all_tgt_keys), src[on] == F.col("__k"), "left_anti")

    # Tag every piece with its action so ONE materialization serves both
    # the counts and the rewrite (the old per-action .count() calls each
    # re-executed the target scan + joins).
    tagged_pieces = [
        tgt_unmatched.withColumn("__action", F.lit("kept")),
        non_qualifying.withColumn("__action", F.lit("kept")),
    ]
    if when_matched == "update":
        tagged_pieces.append(src_matched.withColumn("__action", F.lit("updated")))
    elif when_matched == "ignore":
        tagged_pieces.append(qualifying.withColumn("__action", F.lit("kept")))
    elif when_matched == "delete":
        tagged_pieces.append(qualifying.withColumn("__action", F.lit("deleted")))
    if when_not_matched == "insert":
        tagged_pieces.append(src_new.withColumn("__action", F.lit("inserted")))

    tagged = tagged_pieces[0]
    for p in tagged_pieces[1:]:
        tagged = tagged.unionByName(p)
    # Materialize before overwriting the path being read; counts +
    # remaining-partition probe + write all read the checkpoint, not
    # the joins.
    tagged = tagged.localCheckpoint(eager=True)
    by_action = {
        r["__action"]: r["n"]
        for r in tagged.groupBy("__action").agg(F.count("*").alias("n")).collect()
    }
    counts = {k: by_action.get(k, 0) for k in ("inserted", "updated", "deleted", "kept")}
    out = tagged.filter(F.col("__action") != "deleted").drop("__action")
    out.write.mode("overwrite").partitionBy(partition_col).parquet(target_path)

    # Dynamic overwrite only rewrites partitions PRESENT in `out` — any
    # action that empties a touched partition (a delete, or an UPDATE
    # that moves a key out of a partition it solely occupied) would
    # leave its old files behind (Hive dynamic-partition semantics) and
    # resurrect the rows. Drop emptied touched partitions explicitly:
    # bounded, metadata-only.
    remaining = {
        r["__p"]
        for r in out.select(F.col(partition_col).alias("__p")).distinct().collect()
    }
    emptied = set(touched) - remaining
    if emptied:
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        for part in emptied:
            p = jvm.org.apache.hadoop.fs.Path(
                f"{target_path}/{partition_col}={part}"
            )
            fs = p.getFileSystem(conf)
            if fs.exists(p):
                fs.delete(p, True)
    return counts
