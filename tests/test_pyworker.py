"""The Python worker daemon: its path rewrite, the masters it applies to,
and the workers of a live session."""

from __future__ import annotations

import os

import pytest

from similaripy_spark.pyworker import unzipped_path
from similaripy_spark.session import local_worker_conf


def _spark_home(tmp_path, unpacked: bool):
    """A Spark-distribution layout: python/lib/pyspark.zip, a jar, and
    (when ``unpacked``) python/pyspark/__init__.py beside the zip."""
    lib = tmp_path / "python" / "lib"
    lib.mkdir(parents=True)
    (lib / "pyspark.zip").write_bytes(b"")
    (tmp_path / "jars").mkdir()
    (tmp_path / "jars" / "spark-core.jar").write_bytes(b"")
    if unpacked:
        (tmp_path / "python" / "pyspark").mkdir()
        (tmp_path / "python" / "pyspark" / "__init__.py").write_text("")
    zp = str(lib / "pyspark.zip")
    py4j = str(lib / "py4j-src.zip")
    jar = str(tmp_path / "jars" / "spark-core.jar")
    return zp, py4j, jar


def test_unzipped_path_spark_layout(tmp_path):
    zp, py4j, jar = _spark_home(tmp_path, unpacked=True)
    other = str(tmp_path / "site-packages")
    path = ["/cwd", zp, py4j, jar, other]
    cache = {zp: 1, zp + "/pyspark": 2, jar: 3, jar + "/org": 4,
             py4j: 5, other: 6, zp + "x": 7}
    got = unzipped_path(path, cache)
    assert got == ["/cwd", str(tmp_path / "python"), py4j, other]
    assert cache == {py4j: 5, other: 6, zp + "x": 7}
    assert path == ["/cwd", zp, py4j, jar, other]  # input left as is


def test_unzipped_path_without_unpacked_pyspark(tmp_path):
    zp, py4j, jar = _spark_home(tmp_path, unpacked=False)
    path = ["/cwd", zp, py4j, jar]
    cache = {zp: 1, jar: 2}
    assert unzipped_path(path, cache) == path
    assert cache == {zp: 1, jar: 2}
    # no pyspark.zip on the path at all: nothing to swap, jars stay
    assert unzipped_path(["/cwd", jar], cache) == ["/cwd", jar]


@pytest.mark.parametrize("master", [
    "local[4]", "local[*]", "local-cluster[2,1,1024]",
])
def test_local_masters_get_the_daemon(master):
    conf = local_worker_conf(master, "/repo", "/extra")
    assert conf == {
        "spark.executorEnv.PYTHONPATH": "/repo" + os.pathsep + "/extra",
        "spark.python.daemon.module": "similaripy_spark.pyworker",
    }
    assert local_worker_conf(master, "/repo", "") == {
        **conf, "spark.executorEnv.PYTHONPATH": "/repo"
    }


@pytest.mark.parametrize("master", [
    "spark://host:7077", "yarn", "k8s://https://host:443", "mesos://host",
])
def test_other_masters_keep_the_stock_daemon(master):
    assert local_worker_conf(master, "/repo", "/extra") == {}


def test_session_workers_import_unpacked_pyspark(spark):
    """A worker of the test session imports pyspark from its unpacked
    sources, at the driver's version, and holds no zipimporter over
    pyspark.zip or a jar."""

    def probe(batches):
        import sys
        import zipimport

        import pyarrow as pa
        import pyspark

        for _ in batches:
            pass
        zipped = sorted(
            k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)
            and ("pyspark.zip" in k or ".jar" in k)
        )
        yield pa.RecordBatch.from_pydict({
            "file": [pyspark.__file__],
            "version": [pyspark.__version__],
            "zipped": [zipped],
        })

    (row,) = spark.range(1, numPartitions=1).mapInArrow(
        probe, "file string, version string, zipped array<string>"
    ).collect()
    assert ".zip" not in row["file"] and ".jar" not in row["file"]
    assert row["version"] == spark.version
    assert row["zipped"] == []
