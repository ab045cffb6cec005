"""Dump .explain('formatted') for declared queries to plans/<tag>/<name>.txt.

Usage: python tools/explain_dump.py <tag> [sf_dir] [name ...]

Writes plans/<tag>/<name>_<suffix>.txt where suffix is the tag's last path
element convention (the caller passes e.g. r06/before → files land in
plans/r06/ named <query>_before.txt).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the driver and the executors' Python workers import this checkout
sys.path.insert(0, REPO)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO, os.environ.get("PYTHONPATH")) if p
)


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r06/before"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    names = sys.argv[3:]

    round_dir, suffix = tag.split("/", 1)
    out_dir = os.path.join(REPO, "plans", round_dir)
    os.makedirs(out_dir, exist_ok=True)

    import __spark_entry__ as E
    from similaripy_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        app_name="explain_dump",
        parallelism=cpus,
        shuffle_partitions=2 * cpus,
        extra_conf={
            "spark.sql.files.maxPartitionBytes": os.environ.get(
                "BENCH_MAX_PARTITION_BYTES", "16m"
            ),
        },
    )
    qs = E.queries()
    if not names:
        names = [
            "bm25_topk", "cosine_topk", "dot_product_topk", "rp3beta_topk",
            "minhash_signatures", "simhash", "ann_cosine_topk",
            "winnow_fingerprints", "pricing_summary", "events_window",
        ]
    for name in names:
        if name not in qs:
            print(f"skip unknown query {name}")
            continue
        try:
            df = qs[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001
            plan = f"EXPLAIN FAILED: {e!r}"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
