"""Tests of the benchmark's own record-keeping. No Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import statistics

import pytest

from perfbench import oracles, stats, trace, workloads
from perfbench.run import Run, round_times


# ------------------------------------------------------------ tail percentile

@pytest.mark.parametrize("n,want", [
    (0, None), (9, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0),
    (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want
    if want is not None:
        assert n * (100 - want) / 100 >= 10 - 1e-6


def test_tail_value_is_nearest_rank():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    assert stats.tail(xs) == (90.0, 90.0)
    assert stats.tail(xs[:15]) is None


def test_summary_is_this_runs_median_and_quartiles_only():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    s = stats.summary(xs)
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    assert (s["q1"], s["median"], s["q3"], s["n"]) == (q1, q2, q3, 5)
    assert not {"best", "max", "min"} & set(s)
    assert stats.quartiles([2.0]) == (2.0, 2.0, 2.0)


# ------------------------------------------------------------------ self time

def _span(i, parent, start, end, name="x", op=1):
    return trace.Span(i, name, op, parent, float(start), float(end))


def test_self_time_with_nested_and_sibling_spans():
    spans = [
        _span(0, None, 0, 10),
        _span(1, 0, 1, 3),   # overlapping siblings: [1, 5] covered once
        _span(2, 0, 2, 5),
        _span(3, 0, 6, 7),
        _span(4, 2, 2.5, 4),  # grandchild: only its parent's self time
        _span(5, 0, 9, 12),   # runs past the parent: clipped to [9, 10]
    ]
    st = trace.self_times(spans)
    assert st[0] == pytest.approx(10 - 4 - 1 - 1)
    assert st[1] == pytest.approx(2)
    assert st[2] == pytest.approx(3 - 1.5)
    assert st[4] == pytest.approx(1.5)


def test_span_records_drop_zero_metrics():
    s = _span(0, None, 0, 1)
    s.metrics.update(jobs=0, tasks=3, _job_ivs=[(0, 1)])
    (rec,) = trace.span_records([s])
    assert rec["tasks"] == 3 and "jobs" not in rec and "_job_ivs" not in rec
    assert rec["self_s"] == pytest.approx(1.0)


def test_cpu_counters_count_workers_that_exited(tmp_path):
    """A daemon-like parent reaps a worker that burned CPU and exited; the
    worker's time must still show in both counters' deltas."""
    import subprocess
    import sys
    import time

    done = tmp_path / "reaped"
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"
    daemon = (
        "import subprocess, sys, time, pathlib\n"
        f"subprocess.run([sys.executable, '-c', {burn!r}])\n"
        f"pathlib.Path({str(done)!r}).touch()\n"
        "time.sleep(30)\n"
    )
    before = trace.python_worker_cpu_s(), trace.engine_cpu_s()
    p = subprocess.Popen([sys.executable, "-c", daemon])
    try:
        deadline = time.monotonic() + 30
        while not done.exists() and time.monotonic() < deadline:
            time.sleep(0.05)
        assert done.exists()
        assert trace.python_worker_cpu_s() - before[0] >= 0.45
        assert trace.engine_cpu_s() - before[1] >= 0.45
    finally:
        p.kill()
        p.wait(timeout=10)
    assert p.poll() is not None


# ---------------------------------------------------------- job attribution

class FakeContext:
    """Records the job group a job launched now would carry."""

    def __init__(self):
        self.group = None

    def setJobGroup(self, gid, desc):
        self.group = gid

    def setLocalProperty(self, key, value):
        if key == "spark.jobGroup.id":
            self.group = value


def test_spans_set_and_restore_job_groups(monkeypatch):
    monkeypatch.setattr(trace, "python_worker_cpu_s", lambda: 0.0)
    sc = FakeContext()
    tr = trace.Tracer(sc, traced=True)
    seen = []
    with tr.span("op", tr.new_op()) as op:
        seen.append(sc.group)
        with tr.span("child") as child:
            seen.append(sc.group)
        seen.append(sc.group)
    seen.append(sc.group)
    g = trace.GROUP_PREFIX
    assert seen == [f"{g}{op.id}", f"{g}{child.id}", f"{g}{op.id}", None]
    assert child.op_id == op.op_id and child.parent == op.id


def _write_log(path, events):
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def _job(jid, group, t0, t1, stages):
    props = {"spark.jobGroup.id": group} if group else {}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid,
         "Submission Time": t0, "Stage IDs": stages, "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t1},
    ]


def _task(stage, run_ms, cpu_ns, read=0, write=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                     "Local Bytes Read": read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": write},
        },
    }


def test_each_job_is_attributed_to_exactly_one_span(tmp_path):
    g = trace.GROUP_PREFIX
    op = _span(0, None, 100, 110, op=1)
    call = _span(1, 0, 100, 101)
    action = _span(2, 0, 101, 110)
    setup = _span(3, None, 50, 60, op=None)
    setup.role = "setup"
    events = (
        _job(0, f"{g}1", 100_200, 100_400, [0])
        + _job(1, f"{g}2", 101_000, 109_000, [1, 2])
        + _job(2, f"{g}0", 109_500, 109_900, [3])
        + _job(3, None, 105_000, 105_100, [4])   # in an op, no group
        + _job(4, None, 55_000, 55_100, [5])     # outside every op
        + [{"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2},
            "Properties": {"spark.jobGroup.id": f"{g}2"}}]
        + [_task(1, 100, 2_000_000, write=10), _task(2, 300, 5_000_000, read=10),
           _task(2, 300, 5_000_000, read=5), _task(0, 7, 1_000_000)]
    )
    os.makedirs(tmp_path / "log")
    _write_log(tmp_path / "log" / "app-1", events)
    ev = trace.read_event_log(str(tmp_path / "log"))
    spans = [op, call, action, setup]
    counts = trace.attribute(spans, ev)
    assert counts == {"jobs_attributed": 3, "jobs_unattributed": 2,
                      "jobs_in_ops_unattributed": 1}
    assert [s.metrics["jobs"] for s in spans] == [1, 1, 1, 0]
    assert sum(s.metrics["jobs"] for s in spans) == counts["jobs_attributed"]
    assert call.metrics["tasks"] == 1
    assert action.metrics["tasks"] == 3
    assert action.metrics["executor_run_s"] == pytest.approx(0.7)
    assert action.metrics["executor_cpu_s"] == pytest.approx(0.012)
    assert action.metrics["shuffle_read_bytes"] == 15
    assert action.metrics["shuffle_write_bytes"] == 10
    # job-covered time of the op's subtree: [100.2,100.4] + [101,109] + [109.5,109.9]
    assert trace.job_time_s(spans, op) == pytest.approx(0.2 + 8 + 0.4)


# ---------------------------------------------------------- failure counting

def _oracle():
    o = oracles.FulltextOracle()
    o.add({
        0: "apple banana", 1: "apple apple cherry", 2: "banana cherry date",
        3: "apple date", 4: "cherry cherry cherry", 5: "egg fig",
    })
    return o


def _engine_rows(o, queries, k):
    rows = []
    for q, terms in zip(queries["query_id"], queries["terms"]):
        for rank, (d, s, _scale) in enumerate(o.search(list(terms), k)[:k], 1):
            rows.append({"query_id": q, "doc_id": d, "score": s, "rank": rank})
    return rows


def _queries():
    import pandas as pd

    return pd.DataFrame({"query_id": [0, 1], "terms": [["apple"], ["cherry", "date"]]})


def test_fulltext_check_passes_the_oracles_own_ranking():
    o, q = _oracle(), _queries()
    rows = _engine_rows(o, q, 3)
    assert oracles.check_queries(rows, q, [0, 1], o, 3)


@pytest.mark.parametrize("corrupt", ["swap", "score", "drop", "deleted"])
def test_corrupted_fulltext_result_fails_the_check(corrupt):
    o, q = _oracle(), _queries()
    rows = _engine_rows(o, q, 3)
    first = [r for r in rows if r["query_id"] == 1]
    if corrupt == "swap":
        first[0]["doc_id"], first[1]["doc_id"] = first[1]["doc_id"], first[0]["doc_id"]
    elif corrupt == "score":
        first[0]["score"] *= 1 + 1e-4
    elif corrupt == "drop":
        rows.remove(first[-1])
    else:
        o.delete([first[0]["doc_id"]])
    assert not oracles.check_queries(rows, q, [0, 1], o, 3)


def test_near_ties_may_come_in_either_order():
    want = [(7, 2.0, 2.0), (3, 2.0 + 1e-9, 2.0), (9, 1.0, 1.0)]
    assert oracles.ranking_ok([(3, 2.0), (7, 2.0), (9, 1.0)], want, 3)
    assert not oracles.ranking_ok([(9, 2.0), (7, 2.0), (3, 1.0)], want, 3)


def test_kernel_frames_match_within_driver_check_tolerance():
    import pandas as pd

    a = pd.DataFrame({"row": [1, 2], "col": [3, 4], "score": [0.5, 0.25]})
    b = a.iloc[::-1].reset_index(drop=True)
    assert oracles.frames_match(a, b)
    assert oracles.digest(a) == oracles.digest(b)
    c = a.copy()
    c.loc[0, "col"] = 5
    assert not oracles.frames_match(a, c)
    assert oracles.digest(a) != oracles.digest(c)


def test_kernel_topk_tie_at_the_cutoff_is_accepted():
    import pandas as pd

    got = pd.DataFrame({"row": [1, 1, 2], "col": [7, 9, 3],
                        "score": [0.5, 0.25, 1.0]})
    want = got.assign(col=[7, 8, 3])  # the tie at row 1's k-th score broke apart
    assert not oracles.frames_match(got, want)
    assert oracles.topk_frames_match(got, want, "row", "col")
    above = got.assign(col=[6, 9, 3])  # differs above the cut-off
    assert not oracles.topk_frames_match(got, above, "row", "col")
    fewer = want.iloc[1:]
    assert not oracles.topk_frames_match(got, fewer, "row", "col")


def test_failed_ops_are_counted_against_attempted():
    tr = trace.Tracer()
    run = Run(None, tr, seed=0, work_dir="")
    o, q = _oracle(), _queries()
    good = _engine_rows(o, q, 3)
    bad = [dict(r) for r in good]
    bad[0]["doc_id"] = 5

    def boom():
        raise RuntimeError("op failed")

    check = lambda rows: oracles.check_queries(rows, q, [0, 1], o, 3)  # noqa: E731
    assert run.op("ok", lambda: good, role="batch", check=check)[0]
    assert not run.op("corrupt", lambda: bad, role="batch", check=check)[0]
    assert not run.op("raises", boom, role="batch")[0]
    assert (run.attempted, run.failed) == (3, 2)
    assert round_times(run) == [pytest.approx(sum(x["s"] for x in run.ops))]


# ---------------------------------------------------------- seed determinism

def test_same_seed_gives_byte_identical_pages_and_queries(tmp_path):
    from similaripy_spark.sources.pages import generate_pages_pandas

    def pages(seed):
        return generate_pages_pandas(300, vocab_size=workloads.VOCAB,
                                     seed=seed).to_json().encode()

    def queries(seed):
        return workloads.query_frame(seed, 50).to_json().encode()

    assert pages(7) == pages(7) and pages(7) != pages(8)
    assert queries(7) == queries(7) and queries(7) != queries(8)
    assert workloads.sub_seed(7, 1, 2) == workloads.sub_seed(7, 1, 2)
    assert workloads.sub_seed(7, 1, 2) != workloads.sub_seed(8, 1, 2)

    def tables(seed, d):
        workloads.write_kernel_tables(str(d), seed)
        return [(d / f"{t}.parquet").read_bytes()
                for t in ("lineitem", "documents")]

    assert tables(7, tmp_path / "a") == tables(7, tmp_path / "b")
    assert tables(7, tmp_path / "c") != tables(8, tmp_path / "d")
