"""PySpark worker daemon that imports pyspark from its unpacked sources.

Spark starts each Python daemon with ``$SPARK_HOME/python/lib/pyspark.zip``
and the spark-core jar on ``PYTHONPATH``. PySpark calls
``importlib.invalidate_caches()`` before every task, and on Python 3.11
that makes each cached ``zipimporter`` re-read its archive's directory:
one per pyspark sub-package imported from the zip, plus the jar's, on
every task. This module swaps the zip for the unpacked ``pyspark/`` of
the same install, drops the jar entries (they hold no Python), and then
runs the stock ``pyspark.daemon`` with ``sys.argv`` unchanged.

Spark runs it as ``python -m similaripy_spark.pyworker`` (the
``spark.python.daemon.module`` set by ``session.get_spark``). It must not
import pyspark before the rewrite, which is why the package ``__init__``
re-exports lazily.
"""

import os
import runpy
import sys

_ZIP = os.path.join("python", "lib", "pyspark.zip")


def unzipped_path(path: list[str], importer_cache: dict) -> list[str]:
    """``path`` with ``…/python/lib/pyspark.zip`` replaced by ``…/python``
    and every ``.jar`` entry dropped, when an unpacked
    ``…/python/pyspark/__init__.py`` sits beside the zip; the dropped
    entries' keys (and their sub-package keys) are popped from
    ``importer_cache``. With no unpacked pyspark the path is returned
    unchanged."""
    zips = [p for p in path if p.endswith(_ZIP)]
    homes = [os.path.dirname(os.path.dirname(z)) for z in zips]
    if not zips or not all(
        os.path.isfile(os.path.join(h, "pyspark", "__init__.py"))
        for h in homes
    ):
        return list(path)
    dropped = [p for p in path if p in zips or p.endswith(".jar")]
    for key in list(importer_cache):
        if any(key == d or key.startswith(d + os.sep) for d in dropped):
            del importer_cache[key]
    swap = dict(zip(zips, homes))
    return [swap.get(p, p) for p in path if not p.endswith(".jar")]


if __name__ == "__main__":
    sys.path[:] = unzipped_path(sys.path, sys.path_importer_cache)
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
