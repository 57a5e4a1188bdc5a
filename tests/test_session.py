"""Session factory sizing."""

from __future__ import annotations

import os
import shutil

import pytest

from spartan2_spark.pyworker import unpacked_path
from spartan2_spark.session import default_driver_memory, unpacked_daemon


def test_default_driver_heap_fits_physical_memory():
    """Without SPARK_DRIVER_MEM the driver heap is derived from the
    host: never more than physical memory (a larger heap gets the JVM
    killed by the kernel), never above the 48g cap, and not trivially
    small."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    heap = default_driver_memory()
    assert heap.endswith("m")
    heap_mb = int(heap[:-1])
    assert heap_mb < phys_mb
    assert heap_mb <= 48 << 10
    assert heap_mb >= min(48 << 10, phys_mb // 2)


def test_get_spark_requests_the_derived_heap(spark):
    """The running session asked for the derived heap (or the explicit
    SPARK_DRIVER_MEM override), not a fixed size."""
    want = os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory()
    assert spark.sparkContext.getConf().get("spark.driver.memory") == want


def test_python_workers_import_pyspark_unpacked(spark):
    """A local session's Python workers import PySpark from its unpacked
    install, so the per-task ``importlib.invalidate_caches()`` re-reads no
    archive directory; the unpacked PySpark is the JVM's version."""

    def worker_imports(it):
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        for _ in it:
            pass
        importers = sys.path_importer_cache.values()
        yield pd.DataFrame(
            {
                "zipimporters": [sum(isinstance(v, zipimport.zipimporter) for v in importers)],
                "pyspark_file": [pyspark.__file__],
                "pyspark_version": [pyspark.__version__],
            }
        )

    rows = (
        spark.range(0, 4, 1, 4)
        .mapInPandas(worker_imports, "zipimporters long, pyspark_file string, pyspark_version string")
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert r.zipimporters == 0
        assert os.path.isfile(r.pyspark_file), r.pyspark_file
        assert r.pyspark_version == spark.version


def _package(root, name, version):
    pkg = root / name
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "version.py").write_text(f"__version__: str = '{version}'\n")


def _archive(path, entries):
    import zipfile

    with zipfile.ZipFile(path, "w") as z:
        for name, text in entries.items():
            z.writestr(name, text)
    return str(path)


@pytest.fixture
def spark_path(tmp_path):
    """A worker-style path: the PySpark, py4j and spark-core archives
    ahead of a site directory holding the same PySpark and py4j."""
    site_dir = tmp_path / "site"
    _package(site_dir, "pyspark", "4.1.2")
    _package(site_dir, "py4j", "0.10.9.9")
    archives = [
        _archive(tmp_path / "pyspark.zip", {
            "pyspark/__init__.py": "", "pyspark/version.py": "__version__: str = '4.1.2'\n",
            "pyspark/sql/__init__.py": "",
        }),
        _archive(tmp_path / "py4j-0.10.9.9-src.zip", {
            "py4j/__init__.py": "", "py4j/version.py": "__version__ = '0.10.9.9'\n",
        }),
        _archive(tmp_path / "spark-core.jar", {"org/apache/spark/SparkContext.class": "", "pyspark/": ""}),
    ]
    return archives, str(site_dir)


def test_unpacked_path_drops_the_archives(spark_path, tmp_path):
    archives, site_dir = spark_path
    missing = str(tmp_path / "python311.zip")
    assert unpacked_path([*archives, missing, "", site_dir]) == ["", site_dir]


@pytest.mark.parametrize(
    "change",
    ["no unpacked pyspark", "no unpacked py4j", "pyspark version", "py4j version", "other module"],
)
def test_unpacked_path_keeps_the_archives(spark_path, tmp_path, change):
    archives, site_dir = spark_path
    if change == "no unpacked pyspark":
        shutil.rmtree(os.path.join(site_dir, "pyspark"))
    elif change == "no unpacked py4j":
        shutil.rmtree(os.path.join(site_dir, "py4j"))
    elif change == "pyspark version":
        shutil.rmtree(os.path.join(site_dir, "pyspark"))
        _package(tmp_path / "site", "pyspark", "4.1.1")
    elif change == "py4j version":
        archives[1] = _archive(tmp_path / "py4j-0.10.9.7-src.zip", {
            "py4j/__init__.py": "", "py4j/version.py": "__version__ = '0.10.9.7'\n",
        })
    else:
        archives.append(_archive(tmp_path / "deps.zip", {"mylib/__init__.py": ""}))
    path = [*archives, site_dir]
    assert unpacked_path(path) == path


def test_unpacked_path_without_archives_is_unchanged(spark_path):
    _archives, site_dir = spark_path
    path = ["", site_dir]
    assert unpacked_path(path) is path


def test_unpacked_path_first_package_on_the_path_decides(spark_path, tmp_path):
    """The version compared is the copy the import would load: the first
    ``pyspark`` on the remaining path, not a later one."""
    archives, site_dir = spark_path
    _package(tmp_path / "shadow", "pyspark", "3.5.0")
    path = [*archives, str(tmp_path / "shadow"), site_dir]
    assert unpacked_path(path) == path


def test_unpacked_daemon_only_for_a_local_master_and_a_package_directory(tmp_path):
    root = tmp_path / "checkout"
    pkg = root / "spartan2_spark"
    pkg.mkdir(parents=True)
    elsewhere = str(tmp_path / "elsewhere")
    site_dirs = [str(tmp_path / "site-packages")]
    for master in ("local", "local[4]", "local[*]"):
        assert unpacked_daemon(master, str(pkg), str(root), "", site_dirs)
    assert unpacked_daemon("local[2]", str(pkg), elsewhere, f"/x{os.pathsep}{root}", site_dirs)
    assert unpacked_daemon("local[2]", str(pkg), elsewhere, "", [str(root)])
    # Spark's default daemon
    assert not unpacked_daemon("local[2]", str(pkg), elsewhere, "/x", site_dirs)
    for master in ("spark://127.0.0.1:7077", "yarn", "local-cluster[2,1,1024]"):
        assert not unpacked_daemon(master, str(pkg), str(root), str(root), [str(root)])
    # under --py-files the zip itself is the path entry the package came from
    zipped = _archive(tmp_path / "spartan2_spark.zip", {"spartan2_spark/__init__.py": ""})
    assert not unpacked_daemon("local[2]", os.path.join(zipped, "spartan2_spark"), str(tmp_path), zipped, [])
