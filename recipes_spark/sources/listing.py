"""S5/S6: distributed glob listing + materialized manifest cache, and
S9: YAML collections reader (SURVEY.md §2.1).

Reference semantics: `cached_glob(fs, glob, cache_root, cache=True)`
(insitu…/recipe.py:30-45) memoizes `sorted(fs.glob(glob))` into a
parquet file keyed by sha256(glob); `open_collections(path)` parses
collections.yaml into (id, collection) records (insitu…/recipe.py:194).

Spark-first shape: the listing is a DataFrame job (each glob pattern is
a row; fsspec/glob runs executor-side inside mapInPandas so a thousand
category globs fan out across the cluster instead of serializing on the
driver); the cache is an ordinary parquet manifest table keyed by
sha2(glob, 256) — reading it back IS the cache hit.

Driver-side rows (the patterns, the parsed YAML) enter Spark as pandas
frames, which Arrow (on in the engine's session) carries to the JVM as a
local relation: no Python task deserializes them, so the only Python
work left is the glob.
"""

from __future__ import annotations

import glob as _glob
import hashlib
import os
from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def _fs_glob(pattern: str, storage_kwargs: dict | None = None) -> list[str]:
    """Sorted listing for ONE pattern, protocol-dispatched.

    Plain paths and file:// use stdlib glob (no dependency); any other
    proto://... pattern (http, s3, gs, ...) goes through
    fsspec.filesystem(proto, **storage_kwargs).glob — the exact call
    the reference makes (insitu…/recipe.py:40 `fs.glob`, with the
    runtime-config storage kwargs constructing the filesystem),
    available wherever fsspec is installed. Runs executor-side inside
    mapInPandas, so remote listing latency parallelizes across
    patterns instead of serializing on the driver."""
    proto, sep, rest = pattern.partition("://")
    if not sep:
        return sorted(_glob.glob(pattern))
    if proto == "file":
        return ["file://" + p for p in sorted(_glob.glob(rest))]
    try:
        import fsspec
    except ImportError as exc:  # pragma: no cover - fsspec not in container
        raise ImportError(
            f"listing {proto}:// patterns requires fsspec "
            "(pip install fsspec[http])"
        ) from exc
    fs = fsspec.filesystem(proto, **(storage_kwargs or {}))
    out = []
    for p in sorted(str(x) for x in fs.glob(pattern)):
        out.append(p if "://" in p else f"{proto}://{p}")
    return out


def glob_listing(
    spark: SparkSession,
    patterns: list[str],
    *,
    storage_kwargs: dict | None = None,
) -> DataFrame:
    """S5: distributed listing — one row per (pattern, url), sorted by
    (pattern, url) like the reference's sorted(fs.glob(...)). Local
    filesystem via glob; proto://... patterns dispatch to fsspec
    executor-side (see _fs_glob). ``storage_kwargs`` (per-FS auth /
    options) rides the task closure into the executor-side filesystem
    constructor.

    Each glob runs exactly once per action. The order comes from the
    layout, not from a sort: the patterns are sorted on the driver and
    sliced into contiguous runs, one pattern per task up to the default
    parallelism (the reference loops them serially on the driver,
    insitu…/recipe.py:140-152), and each task emits its patterns' urls
    as _fs_glob sorts them. An ``orderBy`` here would add a
    range-partition sampling job that re-runs every glob."""
    pat_df = spark.createDataFrame(
        pd.DataFrame({"pattern": sorted(patterns)}, columns=["pattern"]),
        "pattern string",
    )

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for p in pdf["pattern"]:
                for url in _fs_glob(p, storage_kwargs):
                    out.append((p, url))
            yield pd.DataFrame(out, columns=["pattern", "url"])

    return pat_df.mapInPandas(expand, schema="pattern string, url string")


def _cache_path(cache_root: str, pattern: str) -> str:
    return os.path.join(
        cache_root, hashlib.sha256(pattern.encode()).hexdigest() + ".parquet"
    )


def cached_glob(
    spark: SparkSession,
    pattern: str,
    *,
    cache_root: str,
    cache: bool = True,
    storage_kwargs: dict | None = None,
) -> DataFrame:
    """S6: memoized listing. Cache hit = the sha256-keyed manifest
    parquet exists; miss = run S5 and materialize it. Identical
    capability to cached_glob at insitu…/recipe.py:30-45;
    ``storage_kwargs`` reaches the executor-side filesystem constructor
    on a miss (hits never touch the remote FS)."""
    path = _cache_path(cache_root, pattern)
    if cache and os.path.exists(path):
        return spark.read.parquet(path).orderBy("url")
    listing = glob_listing(
        spark, [pattern], storage_kwargs=storage_kwargs
    ).select("url")
    if cache:
        os.makedirs(cache_root, exist_ok=True)
        listing.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path).orderBy("url")
    return listing


def read_collections_yaml(spark: SparkSession, path: str) -> DataFrame:
    """S9: collections.yaml → dimension DataFrame (driver-side parse —
    the document is tiny; 1-15 collections in the reference). Multi-doc
    streams supported like open_collections (avhrr…/recipe.py:84)."""
    import yaml

    with open(path) as fh:
        docs = [d for d in yaml.safe_load_all(fh) if d]
    rows = [
        (
            d["id"],
            d.get("title"),
            d.get("description"),
            d.get("license"),
            [str(k) for k in d.get("keywords", [])],
            str(d.get("extent", {}).get("temporal", {}).get("start", "")),
            str(d.get("extent", {}).get("temporal", {}).get("end", "")),
        )
        for d in docs
    ]
    columns = [
        "id", "title", "description", "license", "keywords",
        "temporal_start", "temporal_end",
    ]
    # A pandas frame crosses to the JVM through Arrow as a local relation;
    # a list of tuples would go through parallelize and a Python-run scan.
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=columns),
        "id string, title string, description string, license string, "
        "keywords array<string>, temporal_start string, temporal_end string",
    ).withColumn(
        "open_ended", F.col("temporal_end") == ""
    )
