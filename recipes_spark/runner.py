"""Config-driven pipeline runner — the engine's `python recipe.py
runtime-config.yaml` (SURVEY §3.1-3.2 lifecycle).

The reference's entry point parses a YAML runtime config (pgstac DSN +
cache_root, avhrr…/recipe.py:141-154 / runtime-config.yaml:1-4), commits
collections FIRST (FK-parent barrier, recipe.py:159-166), then builds
the item pipeline and sinks to pgstac. The engine keeps that lifecycle
with its own stores: `catalog.path` replaces the DSN (partitioned
Parquet instead of Postgres — capability, not wire parity), `cache_root`
memoizes discovery exactly like cached_glob (insitu…/recipe.py:30-45),
and both phases stay two separate Spark actions so collections are
durable before any item commits. With `cache_root` the decode reads
exactly the cached manifest's files; without it the decode's own
binaryFile file index is the discovery. Either way `files` counts the
files the decode read, undecodable ones included.

Run:  python -m recipes_spark.runner path/to/config.yaml

Config:
    catalog:
      path: /data/catalog          # items → {path}/items, collections → {path}/collections
    cache_root: /data/cache        # listing memoization (optional)
    collections: collections.yaml  # multi-doc yaml (S9)
    granules: "/data/landing/*.nc" # discovery glob (S5/S6)
    storage_kwargs: {...}          # optional per-FS auth/options — the
                                   # reference's open_kwargs=storage_kwargs
                                   # pass-through (avhrr…/recipe.py:124,154),
                                   # fed to the executor-side filesystem
                                   # of the cached listing's miss (only
                                   # read when cache_root is set)
    xstac_kwargs:                  # optional projection metadata — the
      reference_system: epsg:4326  # reference's CreateStacItem xstac_kwargs
      x_dimension: lon             # (avhrr…/recipe.py:128-136); emits
      y_dimension: lat             # proj:epsg + cube:dimensions on items
    database:                      # optional DB sink ALONGSIDE the parquet
      kind: sqlite                 # store — the ToPgStac-shaped path
      path: /data/catalog.db       # (docker-compose.yml:30-44); 'sqlite'
      items_table: items           # ships in-tree, Postgres = same dialect
                                   # via a psycopg2 connection factory
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from recipes_spark.plans.catalog import read_store, upsert_items
from recipes_spark.plans.items import build_items
from recipes_spark.sources.granules import file_metadata
from recipes_spark.sources.listing import cached_glob, read_collections_yaml


def run_pipeline(spark: SparkSession, config: str | dict) -> dict[str, int]:
    """Execute the full ingest lifecycle from a runtime config. Returns
    {"collections": n, "files": n, "items": n}: `files` is the number
    of files the decode read (the cached manifest's with `cache_root`);
    `items` is the catalog's size. Idempotent: re-running
    with the same config leaves both stores unchanged (upsert-by-id on
    both phases — ToPgStac re-run semantics, SURVEY §4.1)."""
    if isinstance(config, str):
        import yaml

        with open(config) as fh:
            config = yaml.safe_load(fh)
    catalog = config["catalog"]["path"]

    # Phase 1 — collections commit BEFORE any item work (the reference's
    # two-pipeline barrier): a separate action whose write completes here.
    # Both sides are a handful of rows, compared on the driver: an
    # unchanged YAML rewrites nothing.
    cols = read_collections_yaml(spark, config["collections"]).withColumn(
        "collection_id", F.col("id")
    )
    wanted = {r["id"]: r for r in cols.collect()}
    stored_df = read_store(spark, f"{catalog}/collections")
    stored = (
        {}
        if stored_df is None
        else {r["id"]: r for r in stored_df.select(*cols.columns).collect()}
    )
    if any(stored.get(k) != r for k, r in wanted.items()):
        upsert_items(spark, cols, f"{catalog}/collections")
    n_cols = len(stored.keys() | wanted.keys())

    # Phase 2 — discovery (memoized when cache_root given) → metadata →
    # item assembly → idempotent upsert.
    pattern = config["granules"]
    cache_root = config.get("cache_root")
    if cache_root:
        # Decode exactly the manifest's files, so `files` and `items`
        # describe the same listing even when a granule lands later.
        urls = [
            r["url"]
            for r in cached_glob(
                spark, pattern, cache_root=cache_root,
                storage_kwargs=config.get("storage_kwargs"),
            ).collect()
        ]
        decoded, n_files = file_metadata(spark, urls), len(urls)
    else:
        # The binaryFile relation listed its files on the driver when it
        # was created: counting them starts no job and no second listing.
        decoded = file_metadata(spark, pattern)
        n_files = len(decoded.inputFiles())

    meta = decoded.select(
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
    # Decode once: the items are metadata-sized (one row per file), and
    # the upsert's joins and the database sink all read this one
    # materialization instead of re-running the binaryFile decode.
    items = build_items(
        meta, projection=config.get("xstac_kwargs")
    ).localCheckpoint(eager=True)
    upsert_items(spark, items, f"{catalog}/items")
    n_items = spark.read.parquet(f"{catalog}/items").count()

    # Optional database sink alongside the parquet store — the
    # reference's actual sink shape (ToPgStac → pgstac JSONB upsert).
    # Idempotent like everything above: ON CONFLICT by id.
    db = config.get("database")
    if db:
        if db.get("kind", "sqlite") != "sqlite":
            raise ValueError(
                "runner ships the sqlite kind in-tree; for Postgres pass "
                "a psycopg2 connection factory to "
                "plans.db_sink.upsert_items_to_database directly"
            )
        import functools
        import sqlite3

        from recipes_spark.plans.db_sink import upsert_items_to_database

        table = db.get("items_table", "items")
        con = sqlite3.connect(db["path"])
        con.execute(
            f'CREATE TABLE IF NOT EXISTS "{table}" (id TEXT PRIMARY KEY,'
            " collection_id TEXT, content TEXT)"
        )
        con.commit()
        con.close()
        upsert_items_to_database(
            items,
            connect=functools.partial(sqlite3.connect, db["path"], 60),
            table=table,
        )
    return {"collections": n_cols, "files": n_files, "items": n_items}


def main(argv: list[str] | None = None) -> None:
    import argparse

    from recipes_spark.session import get_session

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("config", help="runtime config yaml")
    args = ap.parse_args(argv)
    spark = get_session("recipes-spark-runner")
    counts = run_pipeline(spark, args.config)
    print(counts)


if __name__ == "__main__":
    main()
