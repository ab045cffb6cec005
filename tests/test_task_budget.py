"""Task budgets of the build, append, delete and query paths.

Every Python task pays a fixed worker cost before it runs any engine code
(index_build._segment_plan), so the number of tasks a small build or a
query batch launches is part of its speed. These tests pin it: the build
encoder runs ``max(shards, cores)`` tasks, the driver-side shard and
tombstone lists plan as local scans (no PythonRDD), and a list delete
launches no stage wider than one task. A point query on a warm handle
runs no Spark job at all, and warming the handle lists nothing through
Spark. Building a phrase query plan runs no Spark job either.
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
from similaripy_spark.fulltext.index_merge import merge_to_term_major
from similaripy_spark.fulltext.positional import (
    build_positions,
    phrase_topk_pos,
)
from similaripy_spark.fulltext.querylang import search
from similaripy_spark.fulltext.retrieve import open_index
from similaripy_spark.fulltext.wand import segment_topk
from similaripy_spark.sources.pages import (
    generate_pages,
    generate_queries_pandas,
)

SHARD = 64


def _group_stage_tasks(spark, fn) -> list[list[int]]:
    """Run ``fn`` inside a fresh job group; return, per job it ran (none
    is fine), the task count of each of the job's stages."""
    sc = spark.sparkContext
    group = f"task-budget-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    jobs = []
    for j in sorted(tracker.getJobIdsForGroup(group)):
        jobs.append([
            info.numTasks
            for info in map(tracker.getStageInfo, tracker.getJobInfo(j).stageIds)
            if info is not None
        ])
    return jobs


def _job_stage_tasks(spark, fn) -> list[list[int]]:
    """``_group_stage_tasks`` of a ``fn`` that must run a Spark job."""
    jobs = _group_stage_tasks(spark, fn)
    assert jobs, "no Spark job ran inside the group"
    return jobs


def _stage_tasks(spark, fn) -> list[int]:
    """The task count of every stage the jobs of ``fn`` ran."""
    return [t for job in _job_stage_tasks(spark, fn) for t in job]


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


def test_point_topk_on_open_handle_job_budget(spark, tmp_path):
    """A 16-query auto-routed point call on a warm handle over the default
    64-bucket layout runs no Spark job: the route probe's rows come from a
    local frame, the term-major state is pyarrow datasets the handle
    opened once, and the ranked rows come back as a local frame. Warming
    the handle runs the segment-cache job only — no 64-task listing job
    over ``merged/``."""
    d = str(tmp_path / "idx")
    IndexBuilder(d, shard_size=SHARD, n_groups=2).build(
        generate_pages(spark, 8 * SHARD, vocab_size=200)
    )
    merge_to_term_major(spark, d)
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with open_index(spark, d) as h:
        warm = _job_stage_tasks(spark, h.warm)

        def call(seed):
            q = spark.createDataFrame(
                generate_queries_pandas(16, vocab_size=200, seed=seed)
            )
            return h.topk(q, k=10).collect()

        assert call(1)
        jobs = _group_stage_tasks(spark, lambda: call(2))
    assert jobs == [], jobs
    assert max(t for job in warm for t in job) <= parts, warm


def test_phrase_plan_construction_runs_no_job(spark, tmp_path):
    """Constructing ``phrase_topk_pos`` over a local query frame (exact and
    sloppy) and a ``querylang.search`` phrase string runs no Spark job:
    the phrase rows are collected from the local frame, and the segments
    are read with a pinned schema instead of an inference job."""
    d = str(tmp_path / "idx")
    pages = _pages(spark, 4 * SHARD)
    IndexBuilder(d, shard_size=SHARD, n_groups=2).build(pages)
    build_positions(pages, d)
    q = spark.createDataFrame(
        pd.DataFrame({"query_id": [0], "terms": [["t000001", "t000002"]]}),
        "query_id long, terms array<string>",
    )
    built = {}
    for name, fn in [
        ("exact", lambda: phrase_topk_pos(spark, d, q, k=10)),
        ("slop", lambda: phrase_topk_pos(spark, d, q, k=10, slop=2)),
        ("search", lambda: search(spark, d, '"t000001 t000002" t000003')),
    ]:
        jobs = _group_stage_tasks(
            spark, lambda name=name, fn=fn: built.__setitem__(name, fn())
        )
        assert jobs == [], (name, jobs)
    for df in built.values():
        df.collect()
