"""Database upsert sink (S12): foreachPartition + INSERT … ON CONFLICT.

The reference's declared sink is JSONB upsert into a pgstac Postgres
(ToPgStac, avhrr…/recipe.py:85,137; the database at
docker-compose.yml:30-44). The engine's default S12 sink stays the
partitioned-Parquet MERGE (plans/merge.py, plans/catalog.upsert_items)
— this module is the database option behind the same logical contract:
idempotent key-addressed upsert, one connection per partition, batched
executemany.

Why this shape at 100 TB:
- foreachPartition keeps the write distributed — every executor streams
  its own partition into the database; the driver never materializes
  rows.
- ON CONFLICT upsert makes the sink IDEMPOTENT, which is what makes it
  safe under Spark's task-retry model: a re-executed task re-upserts
  the same keys to the same values instead of duplicating or failing.
  (Same reasoning as the parquet MERGE's new-rows-win.)
- One connection and one prepared statement per partition, executemany
  in bounded batches: per-row connect/parse costs amortize to zero.
- Back-pressure the database by sizing partitions, not by throttling
  rows. The generic sink keeps the caller's partitioning
  (df.repartition(n_writers)); the item sink sizes its own writers: it
  hash-repartitions by id and lets AQE coalesce the shuffle, so a
  metadata-sized landing batch gets one writer (one Python task, one
  connection), a large backfill as many as its bytes call for, and
  each id exactly one.

The connection factory is any zero-arg picklable callable returning a
DBAPI connection — e.g. ``functools.partial(psycopg2.connect, ...)``
for pgstac or ``functools.partial(sqlite3.connect, path)`` in tests.
``INSERT … ON CONFLICT (keys) DO UPDATE SET c = excluded.c`` is the
shared Postgres/SQLite upsert dialect, so the same sink drives both.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def _quote(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def build_upsert_sql(
    table: str,
    columns: Sequence[str],
    key_cols: Sequence[str],
    *,
    paramstyle: str = "qmark",
) -> str:
    """The one upsert statement a partition prepares: Postgres/SQLite
    ``INSERT … ON CONFLICT`` with every non-key column taken from
    ``excluded`` (new row wins — ToPgStac semantics). All-key tables
    degrade to DO NOTHING. ``paramstyle``: 'qmark' (sqlite3) or
    'format' (psycopg2)."""
    missing = [k for k in key_cols if k not in columns]
    if missing:
        raise ValueError(f"key columns absent from frame: {missing}")
    ph = {"qmark": "?", "format": "%s"}.get(paramstyle)
    if ph is None:
        raise ValueError(f"unsupported paramstyle: {paramstyle!r}")
    cols_sql = ", ".join(_quote(c) for c in columns)
    keys_sql = ", ".join(_quote(k) for k in key_cols)
    values_sql = ", ".join([ph] * len(columns))
    updates = [c for c in columns if c not in set(key_cols)]
    if updates:
        action = "DO UPDATE SET " + ", ".join(
            f"{_quote(c)} = excluded.{_quote(c)}" for c in updates
        )
    else:
        action = "DO NOTHING"
    return (
        f"INSERT INTO {_quote(table)} ({cols_sql}) VALUES ({values_sql}) "
        f"ON CONFLICT ({keys_sql}) {action}"
    )


def upsert_to_database(
    df: DataFrame,
    *,
    table: str,
    key_cols: Sequence[str],
    connect: Callable[[], object],
    paramstyle: str = "qmark",
    batch_size: int = 500,
) -> None:
    """Upsert every row of ``df`` into ``table`` keyed on ``key_cols``.

    Executes on the executors via foreachPartition: each partition
    opens ONE connection from ``connect``, executemany's the prepared
    ON CONFLICT statement in ``batch_size`` chunks, commits once, and
    closes. Write-twice (or task-retry) leaves the table byte-identical
    — the idempotency test in tests/test_db_sink.py is the contract.

    The target table (with a UNIQUE/PRIMARY KEY over ``key_cols``) must
    already exist — pgstac owns its schema; this sink only writes.
    """
    columns = list(df.columns)
    key_cols = list(key_cols)
    sql = build_upsert_sql(table, columns, key_cols, paramstyle=paramstyle)

    def write_partition(rows) -> None:
        conn = connect()
        try:
            cur = conn.cursor()
            batch: list[tuple] = []
            for r in rows:
                batch.append(tuple(r[c] for c in columns))
                if len(batch) >= batch_size:
                    cur.executemany(sql, batch)
                    batch.clear()
            if batch:
                cur.executemany(sql, batch)
            conn.commit()
        finally:
            conn.close()

    df.foreachPartition(write_partition)


def upsert_items_to_database(
    items: DataFrame,
    *,
    connect: Callable[[], object],
    table: str = "items",
    paramstyle: str = "qmark",
    batch_size: int = 500,
) -> None:
    """ToPgStac-shaped item sink: the nested STAC item rows
    (plans/items.build_items output) land as (id, collection_id,
    content) where content is the whole item document serialized to
    one JSON string — the pgstac items-table shape (id + collection +
    JSONB content). New rows win on id. One projection over `items`:
    no self-join, so the frame is read once. The writers are the
    AQE-coalesced partitions of a repartition by id (see the module
    docstring), whatever the partitioning of `items`."""
    keyed = items.repartition("id").select(
        "id",
        "collection_id",
        F.to_json(F.struct(*items.columns)).alias("content"),
    )
    upsert_to_database(
        keyed,
        table=table,
        key_cols=["id"],
        connect=connect,
        paramstyle=paramstyle,
        batch_size=batch_size,
    )
