"""The engine's Python worker daemon: which archives come off the worker
path (pure, no Spark), and what a worker forked from it actually sees."""
from __future__ import annotations

import os
import zipfile

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from docext_spark.pyworker import prune_path

VERSION = b'__version__: str = "4.1.2"\n'


def _zip(path, members):
    with zipfile.ZipFile(path, "w") as zf:
        for name, data in members.items():
            zf.writestr(name, data)
    return str(path)


def _package(site, pkg, version):
    os.makedirs(site / pkg, exist_ok=True)
    (site / pkg / "__init__.py").write_text("")
    if version is not None:
        (site / pkg / "version.py").write_bytes(version)


@pytest.fixture
def host(tmp_path):
    """A fake worker path: Spark's zips and jar ahead of the stdlib and a
    site-packages directory."""
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    site = tmp_path / "site"
    site.mkdir()
    h = {
        "site": site,
        "pyspark_zip": _zip(lib / "pyspark.zip", {"pyspark/version.py": VERSION,
                                                  "pyspark/__init__.py": ""}),
        "py4j_zip": _zip(lib / "py4j-0.10.9.9-src.zip",
                         {"py4j/version.py": VERSION, "py4j/__init__.py": ""}),
        "jar": str(tmp_path / "jars" / "spark-core_2.13-4.1.2.jar"),
        "stdlib_zip": _zip(tmp_path / "python311.zip", {"os.py": ""}),
        "stdlib": str(tmp_path / "lib" / "python3.11"),
    }
    h["path"] = ["", h["pyspark_zip"], h["py4j_zip"], h["jar"],
                 h["stdlib_zip"], h["stdlib"], str(site)]
    return h


def test_jar_and_equal_zips_dropped(host):
    _package(host["site"], "pyspark", VERSION)
    _package(host["site"], "py4j", VERSION)
    assert prune_path(host["path"], {}) == [
        "", host["stdlib_zip"], host["stdlib"], str(host["site"])]


@pytest.mark.parametrize("installed", [None, b"x", "no-dir"])
def test_zips_kept_unless_installed_version_equal(host, installed):
    if installed != "no-dir":
        _package(host["site"], "pyspark", installed)
        _package(host["site"], "py4j", installed)
    kept = prune_path(host["path"], {})
    assert host["jar"] not in kept
    assert host["pyspark_zip"] in kept and host["py4j_zip"] in kept


def test_each_zip_judged_by_its_own_package(host):
    _package(host["site"], "pyspark", VERSION)
    kept = prune_path(host["path"], {})
    assert host["pyspark_zip"] not in kept and host["py4j_zip"] in kept


def test_importer_cache_of_dropped_archives_removed(host):
    _package(host["site"], "pyspark", VERSION)
    _package(host["site"], "py4j", VERSION)
    zip_, jar = host["pyspark_zip"], host["jar"]
    cache = {zip_: 1, os.path.join(zip_, "pyspark", "sql"): 2,
             jar: 3, host["py4j_zip"]: 4, zip_ + "x": 5,
             host["stdlib_zip"]: 6, host["stdlib"]: 7}
    prune_path(host["path"], cache)
    assert cache == {zip_ + "x": 5, host["stdlib_zip"]: 6, host["stdlib"]: 7}


def test_worker_path_has_no_spark_archives(spark):
    @pandas_udf(T.StringType())
    def worker_state(s: pd.Series) -> pd.Series:
        import sys
        import zipimport
        bad = [p for p in sys.path
               if p.endswith(".jar") or os.path.basename(p) == "pyspark.zip"]
        zips = [k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter)]
        return pd.Series([repr((bad, zips))] * len(s))

    states = {r.s for r in spark.range(4, numPartitions=2)
              .select(worker_state(F.col("id").cast("string")).alias("s"))
              .collect()}
    assert states == {repr(([], []))}
