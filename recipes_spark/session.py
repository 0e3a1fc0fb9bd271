"""SparkSession factory tuned for the engine.

Scale notes (100 TB design):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast conversion replace hand-tuned partition counts.
- Arrow on: every pandas-UDF island (NetCDF decode, geometry simplify)
  moves batches, not rows.
- shuffle.partitions here is a local-mode default; on a real cluster AQE
  re-plans from `spark.sql.adaptive.coalescePartitions.initialPartitionNum`
  so the static number only caps the initial fan-out.
- File listing stays on the driver in local mode: a read of more than
  `spark.sql.sources.parallelPartitionDiscovery.threshold` paths (32 by
  default) otherwise lists them again in a Spark job with one task per
  path — 50 tasks for a 50-file ingest batch's glob or manifest list.
  In local mode those tasks run on the driver JVM's own threads, so the
  job adds only scheduling and Hadoop-conf serialization. `configure`
  leaves the threshold alone: a cluster session keeps Spark's parallel
  listing, which spreads a large listing over its executors.
- Python workers start from `recipes_spark.pyworker`
  (`spark.python.daemon.module`): it swaps `pyspark.zip` for the
  unpacked copy of the same pyspark and drops the spark-core jar from
  the workers' `sys.path`, so a task no longer re-reads those archives'
  directories. The executors must be able to import `recipes_spark`.
- Scratch space: every directory the engine writes for itself (staged
  stream input, checkpoints, round-trip exports, snapshot and ANN
  stores) comes from `scratch_dir`, under one per-process root that is
  removed when the process exits.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

DEFAULT_LOCAL_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

_ROOT_PREFIX = "recipes_scratch_"
#: This process's scratch root, made on first use.
_root: str | None = None
#: Newest directory `scratch_dir` returned for each name — the test and
#: debug hook for inspecting what the latest run of a query wrote.
LATEST: dict[str, str] = {}


def scratch_dir(name: str) -> str:
    """A fresh, empty directory named after `name`, under this process's
    scratch root `<tempdir>/recipes_scratch_<pid>_*`. Nothing in it is
    deleted before the process exits — a returned lazy DataFrame may
    still read its files — and an exit hook then removes the whole
    root. The first call also removes the roots of processes that no
    longer run (killed before their hook ran)."""
    global _root
    if _root is None:
        _reap_dead_roots()
        _root = tempfile.mkdtemp(prefix=f"{_ROOT_PREFIX}{os.getpid()}_")
        atexit.register(_remove_root, os.getpid(), _root)
    path = tempfile.mkdtemp(prefix=f"{name}_", dir=_root)
    LATEST[name] = path
    return path


def _remove_root(pid: int, path: str) -> None:
    """Exit hook: remove the scratch root, only in the process that made
    it: a forked child inherits the hook, but the root stays its
    parent's to remove."""
    if os.getpid() == pid:
        shutil.rmtree(path, ignore_errors=True)


def _reap_dead_roots() -> None:
    """Remove every scratch root whose owner pid no longer runs. A root
    whose pid is alive is kept, whatever its age: it may belong to a
    live process."""
    tmp = tempfile.gettempdir()
    for entry in os.listdir(tmp):
        if not entry.startswith(_ROOT_PREFIX):
            continue
        try:
            os.kill(int(entry[len(_ROOT_PREFIX):].split("_", 1)[0]), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(tmp, entry), ignore_errors=True)
        except (ValueError, PermissionError):
            pass  # not a root we named, or alive under another uid


def configure(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Apply engine defaults to any builder (used for both local tests and
    cluster submission — only settings that are safe in both)."""
    return (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.daemon.module", "recipes_spark.pyworker")
    )


def get_session(app_name: str = "recipes-spark", cpus: str | None = None) -> SparkSession:
    """Local-mode session for tests and bench (local[N], N from
    $SPARK_GRAFT_CPUS). On a cluster, callers pass their own session."""
    n = cpus or DEFAULT_LOCAL_CPUS
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", n)
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "100000")
        # 24g (was 8g): in local mode the driver heap IS the executor
        # heap for all N threads; at 8g the 16-query bench hit GC
        # pressure in its back half (st2/x2 2x inflated, position-
        # dependent) — 24g measured 12.0s vs 15.7s total, every query
        # at or under its best. Cluster deployments size executors
        # instead (SCALE.md "Knobs").
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
    )
    builder = configure(builder)
    # Deployment-specific conf pass-through (JSON object), applied LAST
    # so it can override the local defaults above: cluster submissions
    # and tuning A/Bs set e.g. advisory partition size or compression
    # codec without code edits. Unset (the default, and the bench/driver
    # condition) this is a no-op.
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    if extra:
        import json

        for k, v in json.loads(extra).items():
            builder = builder.config(k, _conf_value(v))
    return builder.getOrCreate()


def _conf_value(v) -> str:
    """Render one SPARK_GRAFT_EXTRA_CONF JSON value as the conf string
    Spark parses. Non-string values serialize back through json.dumps:
    str() would turn false/null into "False"/"None", which Spark's
    conf parser rejects (null) or only accepts by case-insensitivity
    accident (booleans) — r16 ADVICE."""
    import json

    return v if isinstance(v, str) else json.dumps(v)
