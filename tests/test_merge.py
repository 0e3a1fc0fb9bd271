"""MERGE INTO semantics on plain Parquet (SURVEY §4.1 hardness item):
the full matched/not-matched matrix, key-moves-partition handling, and
emptied partitions — the contracts a Delta/Iceberg MERGE
would give, kept storage-agnostic."""

from __future__ import annotations

import tempfile

import pyspark.sql.functions as F

from recipes_spark.plans.merge import merge_into


def _store(spark):
    path = tempfile.mkdtemp(prefix="recipes_merge_") + "/store"
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "b", 40.0)],
        "id long, part string, v double",
    )
    base.write.mode("overwrite").partitionBy("part").parquet(path)
    return path


def _rows(spark, path):
    return {
        (r.id, r.part, r.v)
        for r in spark.read.parquet(path).select("id", "part", "v").collect()
    }


def test_merge_update_and_insert(spark):
    path = _store(spark)
    src = spark.createDataFrame(
        [(2, "a", 99.0), (5, "b", 50.0)], "id long, part string, v double"
    )
    counts = merge_into(
        spark, path, src, on="id", partition_col="part",
        when_matched="update", when_not_matched="insert",
    )
    assert counts["updated"] == 1 and counts["inserted"] == 1
    assert _rows(spark, path) == {
        (1, "a", 10.0), (2, "a", 99.0), (3, "b", 30.0), (4, "b", 40.0),
        (5, "b", 50.0),
    }
    # Idempotent re-run: same final state.
    merge_into(
        spark, path, src, on="id", partition_col="part",
        when_matched="update", when_not_matched="insert",
    )
    assert len(_rows(spark, path)) == 5


def test_merge_key_moves_partition(spark):
    """An update that CHANGES the partition value must remove the old
    row from its old partition (the silent-duplicate case a
    source-partitions-only rewrite gets wrong)."""
    path = _store(spark)
    src = spark.createDataFrame([(3, "a", 33.0)], "id long, part string, v double")
    merge_into(
        spark, path, src, on="id", partition_col="part",
        when_matched="update", when_not_matched="insert",
    )
    rows = _rows(spark, path)
    assert (3, "a", 33.0) in rows
    assert not any(r[0] == 3 and r[1] == "b" for r in rows), rows
    assert len(rows) == 4


def test_merge_update_moves_sole_occupant(spark):
    """An update that moves a key out of a partition it SOLELY occupied
    must delete that partition's old file, although no new row lands
    there — else the old file resurrects the row (key duplicated across
    partitions)."""
    path = tempfile.mkdtemp(prefix="recipes_merge_") + "/store"
    spark.createDataFrame(
        [(1, "a", 10.0), (3, "b", 30.0)], "id long, part string, v double"
    ).write.mode("overwrite").partitionBy("part").parquet(path)
    src = spark.createDataFrame([(3, "a", 33.0)], "id long, part string, v double")
    counts = merge_into(
        spark, path, src, on="id", partition_col="part",
        when_matched="update", when_not_matched="insert",
    )
    assert counts == {"inserted": 0, "updated": 1, "deleted": 0, "kept": 1}
    assert _rows(spark, path) == {(1, "a", 10.0), (3, "a", 33.0)}


def test_merge_delete_with_condition(spark):
    path = _store(spark)
    src = spark.createDataFrame(
        [(1, "a", 0.0), (2, "a", 0.0)], "id long, part string, v double"
    )
    counts = merge_into(
        spark, path, src, on="id", partition_col="part",
        when_matched="delete", when_not_matched="ignore",
        matched_condition=F.col("v") >= 20.0,  # only id=2 qualifies
    )
    assert counts["deleted"] == 1 and counts["inserted"] == 0
    assert _rows(spark, path) == {
        (1, "a", 10.0), (3, "b", 30.0), (4, "b", 40.0)
    }


def test_merge_delete_empties_partition(spark):
    """Deleting every row of a partition must not resurrect old files:
    the emptied partition's files are deleted."""
    path = _store(spark)
    src = spark.createDataFrame(
        [(3, "b", 0.0), (4, "b", 0.0)], "id long, part string, v double"
    )
    merge_into(
        spark, path, src, on="id", partition_col="part",
        when_matched="delete", when_not_matched="ignore",
    )
    rows = _rows(spark, path)
    assert rows == {(1, "a", 10.0), (2, "a", 20.0)}, rows


def test_merge_matched_ignore_keeps_target(spark):
    path = _store(spark)
    src = spark.createDataFrame(
        [(2, "a", 99.0), (6, "a", 60.0)], "id long, part string, v double"
    )
    counts = merge_into(
        spark, path, src, on="id", partition_col="part",
        when_matched="ignore", when_not_matched="insert",
    )
    assert counts["inserted"] == 1
    rows = _rows(spark, path)
    assert (2, "a", 20.0) in rows and (6, "a", 60.0) in rows


def test_merge_first_write(spark):
    path = tempfile.mkdtemp(prefix="recipes_merge_fw_") + "/store"
    src = spark.createDataFrame([(1, "a", 1.0)], "id long, part string, v double")
    counts = merge_into(
        spark, path, src, on="id", partition_col="part",
        when_matched="update", when_not_matched="insert",
    )
    assert counts["inserted"] == 1
    assert _rows(spark, path) == {(1, "a", 1.0)}
