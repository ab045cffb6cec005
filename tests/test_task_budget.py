"""Task budgets of the build, append, delete and query paths.

Every Python task pays a fixed worker cost before it runs any engine code
(index_build._segment_plan), so the number of tasks a small build or a
query batch launches is part of its speed. These tests pin it: the build
encoder runs ``max(shards, cores)`` tasks, the driver-side shard and
tombstone lists plan as local scans (no PythonRDD), and a list delete
launches no stage wider than one task.
"""

from __future__ import annotations

import json
import os
import uuid

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from similaripy_spark.fulltext.append import append_to_index
from similaripy_spark.fulltext.delete import delete_docs, read_tombstones
from similaripy_spark.fulltext.index_build import IndexBuilder, read_segments
from similaripy_spark.fulltext.wand import segment_topk
from similaripy_spark.sources.pages import generate_pages

SHARD = 64


def _stage_tasks(spark, fn) -> list[int]:
    """Run ``fn`` inside a fresh job group; return the task count of every
    stage its jobs ran."""
    sc = spark.sparkContext
    group = f"task-budget-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    tasks = []
    for j in sorted(tracker.getJobIdsForGroup(group)):
        for s in tracker.getJobInfo(j).stageIds:
            info = tracker.getStageInfo(s)
            if info is not None:
                tasks.append(info.numTasks)
    assert tasks, "no Spark job ran inside the group"
    return tasks


def _pages(spark, n_docs):
    # one input partition: every stage but the encoder's runs one task, so
    # the encoder stage is the only one wider than 1
    return generate_pages(spark, n_docs, vocab_size=200, partitions=1)


@pytest.mark.parametrize("n_shards", [2, 6])
def test_build_encoder_runs_max_shards_cores_tasks(spark, tmp_path,
                                                   n_shards):
    cores = spark.sparkContext.defaultParallelism
    d = str(tmp_path / "idx")
    pages = _pages(spark, n_shards * SHARD)
    tasks = _stage_tasks(
        spark,
        lambda: IndexBuilder(d, shard_size=SHARD, n_groups=2).build(pages),
    )
    assert [t for t in tasks if t > 1] == [max(n_shards, cores)], tasks
    m = json.load(open(os.path.join(d, "lineage", "build_metrics.json")))
    assert m["segment_parts"] == max(n_shards, cores)
    # top-level, not a phase: every phase_ms key is read as a wall time
    assert "segment_parts" not in m["phase_ms"]


def test_append_encoder_runs_core_count_tasks(spark, tmp_path):
    cores = spark.sparkContext.defaultParallelism
    d = str(tmp_path / "idx")
    base = 4 * SHARD
    pages = _pages(spark, base + 2 * SHARD)
    IndexBuilder(d, shard_size=SHARD, n_groups=2).build(
        pages.filter(F.col("doc_id") < base)
    )
    tasks = _stage_tasks(
        spark,
        lambda: append_to_index(
            spark, d, pages=pages.filter(F.col("doc_id") >= base)
        ),
    )
    assert [t for t in tasks if t > 1] == [cores], tasks


def test_delete_list_runs_single_task_stages(spark, tmp_path):
    d = str(tmp_path / "idx")
    IndexBuilder(d, shard_size=SHARD, n_groups=2).build(
        _pages(spark, 4 * SHARD)
    )
    ids = [9, 3, 9, 200, 3, 57]
    tasks = _stage_tasks(spark, lambda: delete_docs(spark, d, ids))
    assert max(tasks) == 1, tasks
    got = sorted(r["doc_id"] for r in read_tombstones(spark, d).collect())
    assert got == sorted(set(ids))


@pytest.fixture(scope="module")
def sixteen_shards(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("budget") / "idx")
    IndexBuilder(d, shard_size=32, n_groups=4).build(
        generate_pages(spark, 16 * 32, vocab_size=200)
    )
    return d


@pytest.mark.parametrize("k,deep", [(10, False), (600, True)])
def test_segment_topk_plans_no_python_rdd(spark, sixteen_shards, k, deep):
    """The shard frame (and the deep-paging sample's) must be a local
    scan: a ``Scan ExistingRDD`` is a PythonRDD, one Python task per core
    per query batch just to unpickle shard ids."""
    d = sixteen_shards
    rng = np.random.default_rng(7)
    queries = spark.createDataFrame(pd.DataFrame({
        "query_id": np.arange(8, dtype=np.int64),
        "terms": [[f"t{int(t):06d}" for t in rng.integers(0, 50, 3)]
                  for _ in range(8)],
    }))
    df = segment_topk(read_segments(spark, d), queries, k=k, index_dir=d,
                      deep_paging=deep)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "Scan ExistingRDD" not in plan, plan
    df.collect()
