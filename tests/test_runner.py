"""Config-driven runner (SURVEY §3.1-3.2): the reference's
`python recipe.py runtime-config.yaml` lifecycle — collections-first
barrier, memoized discovery, item assembly, idempotent upsert."""

from __future__ import annotations

import os
import tempfile

import yaml

from recipes_spark.runner import run_pipeline
from recipes_spark.sources.granules import stage_granules


def _config(tmp: str) -> dict:
    return {
        "catalog": {"path": f"{tmp}/catalog"},
        "cache_root": f"{tmp}/cache",
        "collections": "recipes_spark/resources/collections.yaml",
        "granules": stage_granules(12) + "/*.nc",
    }


def _files(root: str) -> dict[str, tuple[int, int]]:
    """{path: (size, mtime_ns)} of every file under root."""
    return {
        os.path.join(d, f): (
            os.stat(os.path.join(d, f)).st_size,
            os.stat(os.path.join(d, f)).st_mtime_ns,
        )
        for d, _, fs in os.walk(root)
        for f in fs
    }


def test_runner_end_to_end_and_idempotent(spark):
    tmp = tempfile.mkdtemp(prefix="recipes_runner_")
    cfg = _config(tmp)
    first = run_pipeline(spark, cfg)
    assert first["collections"] > 0
    assert first["files"] == 12
    assert first["items"] == 12
    # Discovery memoized: the sha256-keyed manifest parquet exists.
    assert os.listdir(cfg["cache_root"])
    # Re-run = no-op on both stores (ToPgStac re-run semantics), and an
    # unchanged collections YAML leaves the collections files untouched.
    collections = _files(f"{tmp}/catalog/collections")
    second = run_pipeline(spark, cfg)
    assert second == first
    assert _files(f"{tmp}/catalog/collections") == collections


def test_runner_rewrites_collections_only_when_yaml_changes(spark):
    tmp = tempfile.mkdtemp(prefix="recipes_runner_cols_")
    cfg = _config(tmp)
    with open(cfg["collections"]) as fh:
        docs = [d for d in yaml.safe_load_all(fh) if d]
    cfg["collections"] = f"{tmp}/collections.yaml"
    with open(cfg["collections"], "w") as fh:
        yaml.safe_dump_all(docs, fh)
    first = run_pipeline(spark, cfg)
    before = _files(f"{tmp}/catalog/collections")

    docs[0]["title"] = "retitled"
    with open(cfg["collections"], "w") as fh:
        yaml.safe_dump_all(docs, fh)
    assert run_pipeline(spark, cfg) == first
    assert _files(f"{tmp}/catalog/collections") != before
    titles = {
        r["id"]: r["title"]
        for r in spark.read.parquet(f"{tmp}/catalog/collections").collect()
    }
    assert len(titles) == first["collections"]
    assert titles[docs[0]["id"]] == "retitled"


def test_runner_from_yaml_file(spark):
    tmp = tempfile.mkdtemp(prefix="recipes_runner_yaml_")
    path = f"{tmp}/config.yaml"
    with open(path, "w") as fh:
        yaml.safe_dump(_config(tmp), fh)
    counts = run_pipeline(spark, path)
    assert counts["items"] == 12 and counts["collections"] > 0


def test_runner_xstac_and_database_sink(spark):
    """Round-8 config surface: xstac_kwargs lands proj:epsg +
    cube:dimensions on every stored item, and the optional database
    block sinks the same items into a sqlite table (the ToPgStac-shaped
    path) — idempotently, like the parquet store."""
    import sqlite3

    import pyspark.sql.functions as F

    tmp = tempfile.mkdtemp(prefix="recipes_runner_db_")
    cfg = _config(tmp)
    cfg["xstac_kwargs"] = {
        "reference_system": "epsg:4326",
        "x_dimension": "ni",
        "y_dimension": "nj",
    }
    cfg["database"] = {"kind": "sqlite", "path": f"{tmp}/catalog.db"}
    first = run_pipeline(spark, cfg)
    assert first["items"] == 12

    stored = spark.read.parquet(f"{tmp}/catalog/items")
    projs = stored.select(
        F.col("properties").getField("proj:epsg").alias("e"),
        F.col("properties").getField("cube:dimensions").alias("cube"),
    ).collect()
    assert all(r["e"] == 4326 and '"ni"' in r["cube"] for r in projs)

    def db_rows():
        con = sqlite3.connect(f"{tmp}/catalog.db")
        try:
            return sorted(con.execute("SELECT * FROM items").fetchall())
        finally:
            con.close()

    rows = db_rows()
    assert len(rows) == 12
    import json

    doc = json.loads(rows[0][2])
    assert doc["properties"]["proj:epsg"] == 4326
    assert run_pipeline(spark, cfg) == first  # rerun: both sinks no-op
    assert db_rows() == rows


def test_runner_uncached_counts_the_files_the_decode_read(spark, monkeypatch):
    """Without cache_root, `files` comes from the decode's own file
    index: no second listing runs, and an undecodable file still
    counts as a file read (it just yields no item)."""
    import shutil

    import recipes_spark.sources.listing as listing

    def no_listing(*args, **kwargs):
        raise AssertionError("the uncached runner must not list twice")

    monkeypatch.setattr(listing, "glob_listing", no_listing)
    tmp = tempfile.mkdtemp(prefix="recipes_runner_uncached_")
    landing = f"{tmp}/landing"
    shutil.copytree(stage_granules(6), landing)
    with open(f"{landing}/corrupt.nc", "wb") as fh:
        fh.write(b"not a granule")
    cfg = _config(tmp)
    del cfg["cache_root"]
    cfg["granules"] = f"{landing}/*.nc"
    first = run_pipeline(spark, cfg)
    assert first["files"] == 7
    assert first["items"] == 6
    assert run_pipeline(spark, cfg) == first


def test_runner_cached_decodes_the_manifest_files(spark):
    """With cache_root, the decode reads the cached manifest's files,
    not a fresh glob: a granule that lands after the manifest was
    written is neither counted nor ingested, so `files` and `items`
    describe the same listing."""
    import shutil

    tmp = tempfile.mkdtemp(prefix="recipes_runner_cached_")
    landing = f"{tmp}/landing"
    staged = stage_granules(7)
    os.makedirs(landing)
    names = sorted(f for f in os.listdir(staged) if f.endswith(".nc"))
    for name in names[:6]:
        shutil.copy(f"{staged}/{name}", landing)
    cfg = _config(tmp)
    cfg["granules"] = f"{landing}/*.nc"
    first = run_pipeline(spark, cfg)
    assert (first["files"], first["items"]) == (6, 6)

    shutil.copy(f"{staged}/{names[6]}", landing)
    assert run_pipeline(spark, cfg) == first
