"""The engine's Python worker daemon (`recipes_spark.pyworker`): the
`sys.path` rewrite on fake Spark trees, and the archives a worker of the
engine's session still re-reads on every task."""

from __future__ import annotations

import os
import zipfile

import pandas as pd

from recipes_spark.pyworker import rewrite_path

VERSION = b"__version__: str = '9.9.9'\n"


def _archive(path, files: dict[str, bytes]) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        for name, data in files.items():
            z.writestr(name, data)
    return str(path)


def _unpacked(root, version: bytes = VERSION) -> str:
    os.makedirs(os.path.join(root, "pyspark"), exist_ok=True)
    with open(os.path.join(root, "pyspark", "version.py"), "wb") as f:
        f.write(version)
    return str(root)


def _pyspark_zip(lib_dir) -> str:
    return _archive(os.path.join(lib_dir, "pyspark.zip"),
                    {"pyspark/__init__.py": b"", "pyspark/version.py": VERSION})


def test_distribution_layout_resolves_to_spark_home_python(tmp_path):
    spark_python = tmp_path / "spark" / "python"
    zp = _pyspark_zip(spark_python / "lib")
    root = _unpacked(spark_python)
    assert rewrite_path(["/a", zp, "/b"], {}) == ["/a", root, "/b"]


def test_pip_layout_resolves_to_site_directory(tmp_path):
    site = tmp_path / "site-packages"
    zp = _pyspark_zip(site / "pyspark" / "python" / "lib")
    root = _unpacked(site)
    assert rewrite_path([zp, "/b"], {}) == [root, "/b"]


def test_version_mismatch_keeps_the_zip(tmp_path):
    spark_python = tmp_path / "spark" / "python"
    zp = _pyspark_zip(spark_python / "lib")
    _unpacked(spark_python, b"__version__: str = '9.9.8'\n")
    assert rewrite_path([zp], {}) == [zp]


def test_missing_unpacked_copy_keeps_the_zip(tmp_path):
    zp = _pyspark_zip(tmp_path / "spark" / "python" / "lib")
    assert rewrite_path([zp], {}) == [zp]


def test_jar_without_python_is_dropped_and_jar_with_python_kept(tmp_path):
    bare = _archive(tmp_path / "jars" / "core.jar",
                    {"org/apache/A.class": b"\xca\xfe", "pyspark/": b""})
    with_py = _archive(tmp_path / "jars" / "py.jar", {"mod/__init__.py": b""})
    assert rewrite_path([bare, with_py, "/b"], {}) == [with_py, "/b"]


def test_dropped_archives_leave_the_importer_cache(tmp_path):
    spark_python = tmp_path / "spark" / "python"
    zp = _pyspark_zip(spark_python / "lib")
    _unpacked(spark_python)
    jar = _archive(tmp_path / "jars" / "core.jar", {"org/A.class": b""})
    kept = _archive(tmp_path / "py4j.zip", {"py4j/__init__.py": b""})
    cache = {k: object() for k in (
        zp, os.path.join(zp, "pyspark"), os.path.join(zp, "pyspark", "sql"),
        jar, os.path.join(jar, "org"), jar + ".bak",
        kept, os.path.join(kept, "py4j"), "/b",
    )}
    rewrite_path([zp, kept, jar, "/b"], cache)
    assert sorted(cache) == sorted(
        [jar + ".bak", kept, os.path.join(kept, "py4j"), "/b"])


def _worker_imports(batches):
    import sys
    import zipimport

    import pyspark

    for _ in batches:
        pass
    entries = sum(len(getattr(imp, "_files", None) or ())
                  for imp in sys.path_importer_cache.values()
                  if isinstance(imp, zipimport.zipimporter))
    yield pd.DataFrame({"pyspark_file": [pyspark.__file__],
                        "zip_entries": [entries]})


def test_session_worker_does_not_reread_archives(spark):
    """Every task calls importlib.invalidate_caches(), which re-reads the
    directory of each zipimporter in sys.path_importer_cache — 26,672
    entries per task with pyspark.zip and the spark-core jar on the
    worker's path."""
    rows = (spark.range(2).repartition(2)
            .mapInPandas(_worker_imports, "pyspark_file string, zip_entries long")
            .collect())
    assert len(rows) == 2
    for r in rows:
        # A module loaded from an archive has a __file__ inside it,
        # which is no file on disk.
        assert os.path.isfile(r.pyspark_file), r.pyspark_file
        assert r.zip_entries < 100, r.zip_entries
