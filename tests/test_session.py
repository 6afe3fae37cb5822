"""Session wiring: local-mode Python workers import the installed pyspark.

`spardaqus_spark.pydaemon` drops Spark's `pyspark.zip`, `py4j-*.zip` and
jar entries from the worker path when an unzipped pyspark of the same
version is importable; these tests pin that in a live worker and pin the
path filter's fallbacks on synthetic path lists.
"""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from spardaqus_spark import pydaemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
VERSION = b"__version__: str = '9.9.9'\n"


def test_worker_imports_installed_pyspark(spark):
    import pyspark

    def state(batches):
        import pyspark

        spark_zips = [
            v.archive for v in sys.path_importer_cache.values()
            if isinstance(v, zipimport.zipimporter)
            and os.path.basename(v.archive).startswith(("pyspark", "py4j", "spark-"))
        ]
        for _ in batches:
            yield pd.DataFrame({
                "file": [pyspark.__file__],
                "version": [pyspark.__version__],
                "spark_zips": [len(spark_zips)],
            })

    row = (
        spark.range(1, numPartitions=1)
        .mapInPandas(state, "file string, version string, spark_zips long")
        .collect()[0]
    )
    assert os.path.isfile(row.file), f"worker pyspark loaded from an archive: {row.file}"
    assert row.spark_zips == 0
    assert row.version == pyspark.__version__


def _site(tmp_path, *, pyspark_version=VERSION, with_pyspark=True, with_py4j=True):
    site = tmp_path / "site"
    site.mkdir()
    if with_py4j:
        (site / "py4j").mkdir()
        (site / "py4j" / "__init__.py").write_text("")
    if with_pyspark:
        (site / "pyspark").mkdir()
        (site / "pyspark" / "__init__.py").write_text("")
        (site / "pyspark" / "version.py").write_bytes(pyspark_version)
    lib = tmp_path / "lib"
    lib.mkdir()
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", VERSION)
    with zipfile.ZipFile(lib / "py4j-0.10.9.9-src.zip", "w") as z:
        z.writestr("py4j/__init__.py", "")
    return [
        str(tmp_path / "cwd"),
        str(lib / "pyspark.zip"),
        str(lib / "py4j-0.10.9.9-src.zip"),
        str(tmp_path / "jars" / "spark-core_2.13-4.1.2.jar"),
        str(site),
    ]


def test_path_filter_drops_archives_on_version_match(tmp_path):
    path = _site(tmp_path)
    assert pydaemon.archive_free_path(path) == [path[0], path[4]]


@pytest.mark.parametrize(
    "kw",
    [
        {"with_pyspark": False},
        {"with_py4j": False},
        {"pyspark_version": b"__version__: str = '9.9.8'\n"},
    ],
    ids=["no_unzipped_pyspark", "no_unzipped_py4j", "version_mismatch"],
)
def test_path_filter_keeps_path_otherwise(tmp_path, kw):
    path = _site(tmp_path, **kw)
    assert pydaemon.archive_free_path(path) is path


def test_drop_archives_evicts_archive_importers(tmp_path):
    path = _site(tmp_path)
    zip_, jar, site = path[1], path[3], path[4]
    cache = {zip_: 1, zip_ + os.sep + "pyspark": 2, jar + os.sep + "org": 3, site: 4}
    pydaemon.drop_archives(path, cache)
    assert path == [str(tmp_path / "cwd"), site]
    assert cache == {site: 4}


def test_import_does_not_start_daemon():
    code = (
        "import sys, spardaqus_spark.pydaemon as d; "
        "assert callable(d.main) and 'pyspark' not in sys.modules"
    )
    subprocess.run([sys.executable, "-c", code], cwd=REPO, check=True, timeout=60)
