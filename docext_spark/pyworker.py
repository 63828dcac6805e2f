"""The engine's Python worker daemon for local masters
(``spark.python.daemon.module``, set by ``session.get_spark``).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. On CPython < 3.13 that makes each cached ``zipimporter`` re-read
its whole archive directory: the spark-core jar Spark puts on the worker
path (5,359 entries, no Python in it) and ``pyspark.zip`` (1,328 entries,
one importer per imported pyspark subpackage). Before pyspark is imported,
this daemon takes the jar off ``sys.path``, and the pyspark/py4j zips too
when the interpreter has the same release installed as a directory. Workers
fork from the daemon, so they inherit the pruned path.
"""
from __future__ import annotations

import os
import sys
import zipfile


def _archive_package(entry: str) -> str | None:
    """The package a Spark-shipped source zip carries, or None."""
    name = os.path.basename(entry)
    if name == "pyspark.zip":
        return "pyspark"
    if name.startswith("py4j-") and name.endswith("-src.zip"):
        return "py4j"
    return None


def _installed_version(dirs: list[str], pkg: str) -> bytes | None:
    """``<pkg>/version.py`` of the first directory on the path holding
    ``pkg`` as a plain package, or None."""
    for d in dirs:
        if os.path.isfile(os.path.join(d or ".", pkg, "__init__.py")):
            try:
                with open(os.path.join(d or ".", pkg, "version.py"), "rb") as f:
                    return f.read()
            except OSError:
                return None
    return None


def _archive_version(entry: str, pkg: str) -> bytes | None:
    try:
        with zipfile.ZipFile(entry) as zf:
            return zf.read(f"{pkg}/version.py")
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def prune_path(path: list[str], importer_cache: dict) -> list[str]:
    """The worker path without Spark's jar entries, and without a
    pyspark/py4j source zip whose ``version.py`` is byte-equal to that of a
    directory-installed copy on the same path. Drops the importer-cache
    entries of every removed archive, subpackage importers included."""
    dirs = [p for p in path if not p.endswith((".jar", ".zip"))]
    dropped = []
    for entry in path:
        pkg = _archive_package(entry)
        if entry.endswith(".jar"):
            dropped.append(entry)
        elif pkg is not None:
            shipped = _archive_version(entry, pkg)
            if shipped is not None and shipped == _installed_version(dirs, pkg):
                dropped.append(entry)
    for key in list(importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in dropped):
            del importer_cache[key]
    return [p for p in path if p not in dropped]


if __name__ == "__main__":
    sys.path[:] = prune_path(sys.path, sys.path_importer_cache)
    from pyspark import daemon
    daemon.manager()
