"""The worker-side zipimport guard in crabspark.shipping.

The first three tests need no Spark: they drive the guard against a package
imported from a temporary zip. The last runs a pandas UDF in two jobs and
asks the Python worker itself whether the guard is on."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from crabspark import shipping

PKG = "zipguard_probe_pkg"


def _write_zip(path, members):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)
    os.replace(tmp, path)


@pytest.fixture
def zipped_pkg(tmp_path, monkeypatch):
    """A package importable from a zip on sys.path, with the guard
    installed for this test only (monkeypatch restores the stock method)."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    if not shipping.guard_zip_directory_cache():
        pytest.skip("this interpreter re-reads zip directories lazily")
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, {f"{PKG}/__init__.py": "", f"{PKG}/a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    yield archive
    for name in [m for m in sys.modules if m.split(".")[0] == PKG]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)


def _count_reads(monkeypatch, archive):
    reads = []
    stock = zipimport._read_directory

    def spy(path):
        if path == archive:
            reads.append(path)
        return stock(path)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    return reads


def test_unchanged_archive_is_not_reread(zipped_pkg, monkeypatch):
    importlib.import_module(f"{PKG}.a")
    reads = _count_reads(monkeypatch, zipped_pkg)
    importlib.invalidate_caches()  # first guarded call stamps the archive
    assert len(reads) == 1
    for _ in range(5):
        importlib.invalidate_caches()
    assert len(reads) == 1
    assert importlib.import_module(f"{PKG}.a").X == 1


def test_rewritten_archive_is_reread(zipped_pkg, monkeypatch):
    importlib.import_module(f"{PKG}.a")
    importlib.invalidate_caches()
    _write_zip(zipped_pkg, {
        f"{PKG}/__init__.py": "", f"{PKG}/a.py": "X = 1\n",
        f"{PKG}/b.py": "Y = 2\n",
    })
    reads = _count_reads(monkeypatch, zipped_pkg)
    importlib.invalidate_caches()
    assert reads
    assert importlib.import_module(f"{PKG}.b").Y == 2
    # a vanished archive falls through to the stock path, which drops it
    os.remove(zipped_pkg)
    importlib.invalidate_caches()
    assert zipped_pkg not in zipimport._zip_directory_cache


def test_driver_import_leaves_zipimport_stock():
    code = (
        "import zipimport\n"
        "stock = zipimport.zipimporter.invalidate_caches\n"
        "import crabspark, crabspark.engine\n"
        "from crabspark import shipping\n"
        "assert zipimport.zipimporter.invalidate_caches is stock\n"
        "assert not shipping.zip_guard_installed()\n"
        "assert not shipping.in_spark_worker()\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run([sys.executable, "-c", code], cwd=repo, check=True,
                   timeout=120)


def test_guard_is_on_inside_spark_workers():
    from pyspark.sql import functions as F

    from crabspark.shipping import ship_package
    from tests.sparkutil import get_spark

    spark = get_spark()
    ship_package(spark)

    @F.pandas_udf("boolean")
    def guard_on(x: pd.Series) -> pd.Series:
        import crabspark  # noqa: F401  (installs the guard in a worker)
        from crabspark import shipping as sh

        on = sh.in_spark_worker() and sh.zip_guard_installed()
        return pd.Series([on] * len(x))

    df = spark.range(8, numPartitions=2).select(guard_on("id").alias("on"))
    for _ in range(2):  # two jobs: the second runs on reused workers
        assert all(r["on"] for r in df.collect())
    assert not shipping.zip_guard_installed()
