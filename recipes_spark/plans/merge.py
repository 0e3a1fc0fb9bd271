"""MERGE INTO semantics on a partitioned Parquet store (SURVEY.md §4.1
hardness item "S12 true MERGE semantics without Delta").

`upsert_items` (plans/catalog.py) covers the ToPgStac new-rows-win case;
this operator generalizes it to the full MERGE matrix a Delta/Iceberg
`MERGE INTO` offers — WHEN MATCHED UPDATE / DELETE / IGNORE, WHEN NOT
MATCHED INSERT / IGNORE, with an optional matched-condition — while
keeping the storage plain Parquet, rewritten through the catalog's one
add-then-delete commit (plans/catalog.commit_rewrite). At
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
from pyspark.sql import Column, DataFrame, SparkSession

from recipes_spark.plans.catalog import commit_rewrite, read_store, scanned_files

_ACTIONS = ("inserted", "updated", "deleted", "kept")


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
    touched partitions. The touched partitions' rows are appended, then
    their old files deleted; a re-run after a failure between the two
    steps drops the duplicate kept rows. Re-running the same merge is
    idempotent for update/insert (delete removes already-removed keys:
    no-op).
    """
    if when_matched not in ("update", "delete", "ignore"):
        raise ValueError(f"when_matched must be update|delete|ignore: {when_matched}")
    if when_not_matched not in ("insert", "ignore"):
        raise ValueError(f"when_not_matched must be insert|ignore: {when_not_matched}")

    src = source.dropDuplicates([on])
    target = read_store(spark, target_path)
    if target is None:
        if when_not_matched == "ignore":
            return dict.fromkeys(_ACTIONS, 0)
        inserted = src.withColumn("__action", F.lit("inserted"))
        return _commit(spark, target_path, inserted, [], on, partition_col)

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
        return dict.fromkeys(_ACTIONS, 0)

    in_touched = target.filter(F.col(partition_col).isin(touched))
    # Every old file of the touched partitions is replaced, so a
    # partition the merge empties loses its rows with them. Unlike
    # upsert_items, which rewrites only the files holding a batch key,
    # this is partition-granular on purpose: in delete and ignore modes
    # the appended file holds no source key, so a re-run after a failed
    # delete would never re-read the surviving old file and its rows
    # would stay duplicated. The merge_delete case of test_catalog's
    # failed-delete re-run test pins this.
    files = in_touched.select(F.col("_metadata.file_path"))
    remove = [f for f, in scanned_files(files)]

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

    # Tag every piece with its action so one plan serves both the counts
    # and the rewrite.
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
    return _commit(spark, target_path, tagged, remove, on, partition_col)


def _commit(spark, path, tagged, remove, on, partition_col) -> dict[str, int]:
    """Count `tagged` by action, then commit its rows that are not
    deleted in place of the `remove` files."""
    # The count job projects __action only, so column pruning keeps the
    # payload out of it.
    by_action = {
        r["__action"]: r["n"]
        for r in tagged.groupBy("__action").agg(F.count("*").alias("n")).collect()
    }
    out = (
        tagged.filter(F.col("__action") != "deleted")
        .drop("__action")
        .repartition(partition_col)
        # Keyed by a superset of the repartition key: no extra shuffle.
        .dropDuplicates([partition_col, on])
    )
    commit_rewrite(spark, path, out, remove, partition_col=partition_col)
    return {k: by_action.get(k, 0) for k in _ACTIONS}
