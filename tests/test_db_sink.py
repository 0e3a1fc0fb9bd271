"""DB upsert sink (S12 database option — the reference's ToPgStac →
pgstac path, docker-compose.yml:30-44): foreachPartition + INSERT … ON
CONFLICT against a local SQLite fixture (same upsert dialect as
Postgres). The headline property is write-twice idempotency — exactly
what makes the sink safe under Spark task retries."""

from __future__ import annotations

import sqlite3
from functools import partial

import pyspark.sql.functions as F
import pytest

from recipes_spark.plans.db_sink import (
    build_upsert_sql,
    upsert_items_to_database,
    upsert_to_database,
)


def _connect(path: str) -> sqlite3.Connection:
    # Module-level (picklable) factory; generous busy timeout so
    # concurrent partition writers queue on the file lock instead of
    # failing — the sqlite stand-in for a real server's connection pool.
    return sqlite3.connect(path, timeout=60)


def _create_tables(path: str) -> None:
    conn = sqlite3.connect(path)
    conn.execute(
        "CREATE TABLE items (id TEXT PRIMARY KEY, collection_id TEXT,"
        " content TEXT)"
    )
    conn.execute(
        "CREATE TABLE metrics (k1 TEXT, k2 INTEGER, v REAL,"
        " PRIMARY KEY (k1, k2))"
    )
    conn.commit()
    conn.close()


@pytest.fixture()
def db(tmp_path):
    path = str(tmp_path / "sink.db")
    _create_tables(path)
    return path


def _all(path, table):
    conn = sqlite3.connect(path)
    try:
        return sorted(conn.execute(f"SELECT * FROM {table}").fetchall())
    finally:
        conn.close()


def test_build_upsert_sql_dialects():
    sql = build_upsert_sql("t", ["a", "b", "v"], ["a", "b"])
    assert sql == (
        'INSERT INTO "t" ("a", "b", "v") VALUES (?, ?, ?) '
        'ON CONFLICT ("a", "b") DO UPDATE SET "v" = excluded."v"'
    )
    sql = build_upsert_sql("t", ["a"], ["a"], paramstyle="format")
    assert sql == 'INSERT INTO "t" ("a") VALUES (%s) ON CONFLICT ("a") DO NOTHING'
    with pytest.raises(ValueError):
        build_upsert_sql("t", ["a"], ["missing"])
    with pytest.raises(ValueError):
        build_upsert_sql("t", ["a"], ["a"], paramstyle="pyformat")


def test_write_twice_is_idempotent_across_partitions(spark, db):
    df = spark.range(0, 200).select(
        F.concat(F.lit("k"), F.pmod("id", F.lit(7)).cast("string")).alias("k1"),
        (F.col("id") % 13).cast("int").alias("k2"),
        (F.col("id") * 1.5).alias("v"),
    ).dropDuplicates(["k1", "k2"]).repartition(4)

    sink = partial(
        upsert_to_database,
        df,
        table="metrics",
        key_cols=["k1", "k2"],
        connect=partial(_connect, db),
    )
    sink()
    first = _all(db, "metrics")
    assert len(first) == df.count() > 0
    sink()  # re-run (task-retry / pipeline-rerun shape)
    assert _all(db, "metrics") == first


def test_conflicting_keys_take_new_values(spark, db):
    base = spark.createDataFrame(
        [("a", 1, 10.0), ("b", 2, 20.0)], "k1 string, k2 int, v double"
    )
    upsert_to_database(
        base, table="metrics", key_cols=["k1", "k2"],
        connect=partial(_connect, db),
    )
    update = spark.createDataFrame(
        [("a", 1, 99.0), ("c", 3, 30.0)], "k1 string, k2 int, v double"
    )
    upsert_to_database(
        update, table="metrics", key_cols=["k1", "k2"],
        connect=partial(_connect, db),
    )
    assert _all(db, "metrics") == [
        ("a", 1, 99.0), ("b", 2, 20.0), ("c", 3, 30.0)
    ]


def test_items_sink_lands_pgstac_shape(spark, db):
    from recipes_spark.plans.items import build_items

    meta = spark.createDataFrame(
        [
            ("i1", "c1", -10.0, -5.0, 0.0, 5.0,
             "2024-01-01 00:00:00", "2024-01-02 00:00:00", "u1"),
            ("i2", "c2", 20.0, 10.0, 30.0, 15.0,
             "2024-02-01 00:00:00", "2024-02-02 00:00:00", "u2"),
        ],
        "item_id string, collection_id string, west double, south double,"
        " east double, north double, start_datetime string,"
        " end_datetime string, source_url string",
    ).withColumn("start_datetime", F.to_timestamp("start_datetime")) \
     .withColumn("end_datetime", F.to_timestamp("end_datetime"))
    items = build_items(meta)

    sink = partial(
        upsert_items_to_database, items, connect=partial(_connect, db)
    )
    sink()
    rows = _all(db, "items")
    assert [(r[0], r[1]) for r in rows] == [("i1", "c1"), ("i2", "c2")]
    import json

    doc = json.loads(rows[0][2])
    assert doc["id"] == "i1" and doc["bbox"] == [-10.0, -5.0, 0.0, 5.0]
    sink()  # idempotent on id
    assert _all(db, "items") == rows


def test_upsert_sql_golden_both_dialects():
    """Dialect-conformance lock: the container has no Postgres, so the
    psycopg2 ('format') leg can't run an integration round-trip — pin
    the GENERATED statement against golden strings for both dialects
    instead (quoting, conflict target, excluded.-refs, placeholder
    style are the parts that differ between drivers and the parts a
    refactor silently breaks). The SQLite leg additionally has the
    live idempotency tests above; the Postgres leg's runtime coverage
    is documented as environment-limited in API.md."""
    from recipes_spark.plans.db_sink import build_upsert_sql

    assert build_upsert_sql(
        "items", ["id", "collection_id", "content"], ["id"],
        paramstyle="qmark",
    ) == (
        'INSERT INTO "items" ("id", "collection_id", "content") '
        "VALUES (?, ?, ?) "
        'ON CONFLICT ("id") DO UPDATE SET '
        '"collection_id" = excluded."collection_id", '
        '"content" = excluded."content"'
    )
    assert build_upsert_sql(
        "items", ["id", "collection_id", "content"], ["id"],
        paramstyle="format",
    ) == (
        'INSERT INTO "items" ("id", "collection_id", "content") '
        "VALUES (%s, %s, %s) "
        'ON CONFLICT ("id") DO UPDATE SET '
        '"collection_id" = excluded."collection_id", '
        '"content" = excluded."content"'
    )
    # composite key + embedded-quote escaping + all-key degradation
    assert build_upsert_sql(
        'we"ird', ["a", "b"], ["a", "b"], paramstyle="qmark"
    ) == (
        'INSERT INTO "we""ird" ("a", "b") VALUES (?, ?) '
        'ON CONFLICT ("a", "b") DO NOTHING'
    )


def _logged_connect(path: str, log: str) -> sqlite3.Connection:
    # Runs in the Python workers: one appended line per connection opened.
    with open(log, "a") as fh:
        fh.write("connect\n")
    return _connect(path)


def test_items_sink_sizes_its_writers_by_aqe(spark, db, tmp_path):
    """A metadata-sized batch spread over 4 partitions gets ONE writer:
    the sink repartitions by id and AQE coalesces the shuffle. The table
    it leaves equals a per-input-partition write of the same rows."""
    from recipes_spark.plans.items import build_items

    meta = spark.range(40).select(
        F.format_string("i%02d", "id").alias("item_id"),
        F.concat(F.lit("c"), (F.col("id") % 3).cast("string")).alias(
            "collection_id"
        ),
        F.col("id").cast("double").alias("west"),
        F.lit(-5.0).alias("south"),
        (F.col("id") + 1.0).alias("east"),
        F.lit(5.0).alias("north"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("start_datetime"),
        F.to_timestamp(F.lit("2024-01-02 00:00:00")).alias("end_datetime"),
        F.format_string("u%02d", "id").alias("source_url"),
    )
    items = build_items(meta).repartition(4).localCheckpoint(eager=True)
    assert items.rdd.getNumPartitions() == 4

    log = str(tmp_path / "connects.log")
    upsert_items_to_database(items, connect=partial(_logged_connect, db, log))
    with open(log) as fh:
        assert fh.read().split() == ["connect"]

    per_partition = str(tmp_path / "per_partition.db")
    _create_tables(per_partition)
    upsert_to_database(
        items.select(
            "id", "collection_id",
            F.to_json(F.struct(*items.columns)).alias("content"),
        ),
        table="items",
        key_cols=["id"],
        connect=partial(_connect, per_partition),
    )
    rows = _all(db, "items")
    assert len(rows) == 40
    assert rows == _all(per_partition, "items")
