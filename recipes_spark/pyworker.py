"""The engine's Python worker daemon (`spark.python.daemon.module`).

Spark starts its Python workers with `pyspark.zip` and the spark-core jar
on `sys.path`, and every task calls `importlib.invalidate_caches()`, which
makes each zipimporter re-read its archive's directory: about a dozen
importers over `pyspark.zip` and two over the jar (which holds no `.py`
file). Before pyspark is imported, this module swaps `pyspark.zip` for the
unpacked copy of the same pyspark beside it (same `pyspark/version.py`),
drops the `.py`-less jars and forgets their importers, then runs the stock
`pyspark.daemon`. The workers run the same code; they only stop re-reading
archives on every task.
"""

from __future__ import annotations

import os
import sys
import zipfile


def unpacked_pyspark(zip_path: str) -> str | None:
    """The directory holding an unpacked `pyspark/` of the same version as
    `zip_path`: `<SPARK_HOME>/python` in a Spark distribution, the site
    directory in a pip install (`<site>/pyspark/python/lib/pyspark.zip`)."""
    try:
        with zipfile.ZipFile(zip_path) as z:
            want = z.read("pyspark/version.py")
    except (OSError, KeyError, zipfile.BadZipFile):
        return None
    python_dir = os.path.dirname(os.path.dirname(zip_path))
    for root in (python_dir, os.path.dirname(os.path.dirname(python_dir))):
        try:
            with open(os.path.join(root, "pyspark", "version.py"), "rb") as f:
                if f.read() == want:
                    return root
        except OSError:
            pass
    return None


def _holds_py(archive: str) -> bool:
    try:
        with zipfile.ZipFile(archive) as z:
            return any(n.endswith(".py") for n in z.namelist())
    except (OSError, zipfile.BadZipFile):
        return True


def rewrite_path(path: list[str], importer_cache: dict) -> list[str]:
    """`path` with `pyspark.zip` replaced by its unpacked copy (when one
    exists) and `.py`-less jars dropped; the dropped archives' entries
    are purged from `importer_cache` (`sys.path_importer_cache`)."""
    out, dropped = [], []
    for entry in path:
        name = os.path.basename(entry)
        if name == "pyspark.zip" and (root := unpacked_pyspark(entry)):
            out.append(root)
            dropped.append(entry)
        elif name.endswith(".jar") and not _holds_py(entry):
            dropped.append(entry)
        else:
            out.append(entry)
    for key in list(importer_cache):
        if any(key == d or key.startswith(d + os.sep) for d in dropped):
            del importer_cache[key]
    return out


if __name__ == "__main__":
    sys.path[:] = rewrite_path(sys.path, sys.path_importer_cache)
    from pyspark import daemon

    daemon.manager()
