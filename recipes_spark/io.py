"""Table loading helpers for the driver's synthetic star schema.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet per table per
scale-factor directory.
"""

from __future__ import annotations

import os
import weakref

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor (TPC-H
# fixes region=5 and nation=25 rows; supplier/part/customer grow with SF
# and must NOT be assumed broadcastable at 100 TB).
ALWAYS_BROADCAST = {"region", "nation"}


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Columns stored as TIMESTAMP(NANOS) — Spark's parquet reader
    rejects them outright (PARQUET_TYPE_ILLEGAL), so they need the
    nanosAsLong escape hatch + explicit down-conversion to micros."""
    try:
        import pyarrow.parquet as pq
        import pyarrow.types as pat

        local = path.removeprefix("file://")
        schema = pq.read_schema(local)
        return [
            f.name
            for f in schema
            if pat.is_timestamp(f.type) and f.type.unit == "ns"
        ]
    except Exception:
        return []


def _canonical_timestamps(df: DataFrame) -> DataFrame:
    """Normalize every timestamp flavor to TimestampType (LTZ).

    Parquet writers vary the encoding (isAdjustedToUTC true/false ↔
    Spark TIMESTAMP vs TIMESTAMP_NTZ); downstream operators —
    ``withWatermark``, ``unix_micros``, ``cast(ts AS double)`` — accept
    only TIMESTAMP. With the session timezone pinned UTC the NTZ→LTZ
    cast is value-preserving, and DuckDB keeps reading the same parquet
    as UTC-naive, so oracle hashes are unchanged. Type-driven (whatever
    flavor arrives → one canonical type) so future testdata
    regenerations are a no-op."""
    from pyspark.sql.types import TimestampNTZType

    for f in df.schema.fields:
        if isinstance(f.dataType, TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


#: Per-session plan cache: (path, mtime_ns, size) -> analyzed DataFrame.
#: ``spark.read.parquet(path)`` costs 65-100 ms per call on this host —
#: JVM-side schema inference (footer read) plus a fresh InMemoryFileIndex
#: — and the engine's query functions re-load the same tables on every
#: invocation (a 6-table star join pays ~0.45 s of pure driver-side
#: metadata work per run, measured round 16). DataFrames are immutable,
#: so re-serving the analyzed plan is exactly the "build the table
#: reference once" shape a long-lived production driver has. This caches
#: PLANS, never results: every action still scans the parquet. Keyed by
#: the file's (mtime, size) so a rewritten input invalidates, and weakly
#: by session so a stopped/collected session drops its entries.
_DF_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _stat_key(local: str) -> tuple:
    """Freshness component of the plan-cache key. A single file keys on
    its own (mtime_ns, size). A parquet DIRECTORY cannot: rewriting a
    part file in place changes neither the directory's mtime nor its
    size, so the r16 key could serve a stale plan (and a stale
    InMemoryFileIndex listing) after an in-place part rewrite. Key
    directories on their recursive file listing instead — (file count,
    total bytes, max mtime_ns) — so any part rewrite, add, or delete
    invalidates. The walk is bounded by the staleness window it
    closes: a directory large enough for os.walk to matter is also
    one whose footer re-read the cache saves every call."""
    st = os.stat(local)
    import stat as _stat

    if not _stat.S_ISDIR(st.st_mode):
        return (st.st_mtime_ns, st.st_size)
    count = total = max_mtime = 0
    for dirpath, _dirs, files in os.walk(local):
        for fn in files:
            s = os.stat(os.path.join(dirpath, fn))
            count += 1
            total += s.st_size
            max_mtime = max(max_mtime, s.st_mtime_ns)
    return (count, total, max_mtime)



def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table. Oracle comparisons need UTC-naive timestamps, so the
    session timezone is pinned here (DuckDB reads the same parquet as
    UTC-naive). TIMESTAMP(NANOS) columns (events.ts historically) are read
    as long and floor-converted to microseconds — the same truncation
    DuckDB applies — and any TIMESTAMP_NTZ column is cast to the
    session-UTC TimestampType so every downstream consumer sees ONE
    timestamp flavor regardless of how the parquet was written."""
    # Pinned on EVERY call, deliberately: an external driver owns the
    # session and may legally reset its timezone between engine
    # queries; a once-per-session guard (tried round 16, saves ~1 ms
    # per table reference) would then let every timestamp literal and
    # NTZ cast evaluate in the driver's zone and silently diverge from
    # the oracle. The per-call conf.set is the invariant, not an
    # accident.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    try:
        key = (path, *_stat_key(path.removeprefix("file://")))
        per_session = _DF_CACHE.setdefault(spark, {})
    except (OSError, TypeError):
        key, per_session = None, None
    if per_session is not None and key in per_session:
        return per_session[key]
    nanos = _nanos_timestamp_cols(path)
    if not nanos:
        df = _canonical_timestamps(spark.read.parquet(path))
    else:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        for c in nanos:
            df = df.withColumn(
                c, F.expr(f"timestamp_micros(CAST({c} DIV 1000 AS BIGINT))")
            )
        df = _canonical_timestamps(df)
    if per_session is not None:
        per_session[key] = df
    return df


def _estimated_scan_partitions(df: DataFrame) -> int | None:
    """Scan-task estimate from the plan's input files (Σ ceil(size /
    maxPartitionBytes-default)), or None when the plan is not purely
    file-backed. Exists because ``df.rdd.getNumPartitions()`` converts
    the plan to an RDD graph — 45-60 ms of driver work per FRESH
    DataFrame (measured round 16), paid on every query build that
    fans out; ``inputFiles()`` + os.stat is ~3× cheaper and the
    repartition decision only needs the order of magnitude (narrow
    scan vs cores — both regimes estimate the same answer).

    PRECONDITION (scale_partitions' call sites honor it): the frame is
    scan-rooted — no caller-side coalesce/repartition/limit between
    the file scan and this check, or the estimate reflects the scan
    rather than the frame's real width. The 128 MB split size is the
    Spark default; a session that overrides
    spark.sql.files.maxPartitionBytes downward only makes the estimate
    conservative in the direction of skipping a repartition that the
    narrower real splits already provide."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    n = 0
    for f in files:
        local = f.removeprefix("file://").removeprefix("file:")
        try:
            size = os.path.getsize(local)
        except OSError:
            return None
        n += max(1, -(-size // (128 << 20)))
    return n


def scale_partitions(df: DataFrame) -> DataFrame:
    """Fan a narrow input out to the cluster's parallelism before
    CPU-heavy per-row work (hashing, sketching, UDF decode).

    Why: a single-row-group parquet file scans as ONE task no matter how
    many cores exist — every expensive expression then runs serially.
    At 100 TB inputs arrive with thousands of natural splits and this is
    a no-op (we only repartition when the scan is narrower than half the
    default parallelism); on small/unsplittable inputs it buys full-core
    utilization for one cheap round-robin shuffle of the input rows."""
    target = df.sparkSession.sparkContext.defaultParallelism
    n = _estimated_scan_partitions(df)
    if n is None:
        n = df.rdd.getNumPartitions()
    if n * 2 >= target:
        return df
    return df.repartition(target)
