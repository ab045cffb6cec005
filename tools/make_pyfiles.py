"""Package similaripy_spark for spark-submit --py-files.

Produces dist/similaripy_spark.zip containing the package (no tests) —
ship with:

    spark-submit --py-files dist/similaripy_spark.zip tools/index_job.py ...

Executors that get the package this way run the stock ``pyspark.daemon``:
``session.get_spark`` sets the ``similaripy_spark.pyworker`` daemon only
for ``local[...]`` and ``local-cluster[...]`` masters. A PySpark worker
puts ``--py-files`` on ``sys.path`` when a task starts, after the daemon is
running, so a daemon module cannot be imported from them.
"""

from __future__ import annotations

import os
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> str:
    dist = os.path.join(REPO, "dist")
    os.makedirs(dist, exist_ok=True)
    out = os.path.join(dist, "similaripy_spark.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        pkg = os.path.join(REPO, "similaripy_spark")
        for root, _, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))
    print(out)
    return out


if __name__ == "__main__":
    main()
