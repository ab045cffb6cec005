"""Benchmark entry point.

    python3 perfbench/run.py --workload fulltext|kernels --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The Spark session runs at ``local[N]``
with N the cores this process may use (``SPARK_GRAFT_CPUS``) and the
driver memory pinned (``SPARK_DRIVER_MEM``). Everything the run writes
stays under ``.perfbench_work/`` (removed at exit) and ``.perfbench_out/``
(one JSON record per run).

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. A table of every metric, by name
and with its unit, goes to stderr, with the wall-time figures of the same
ops.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: files of the program under test; without them the run refuses
PROGRAM_FILES = (
    "similaripy_spark/__init__.py",
    "__spark_entry__.py",
    "bench.py",
    "tests/oracle_fulltext.py",
)

#: driver heap, pinned so runs on different boxes size the JVM alike
DRIVER_MEM = "3g"

END_TO_END = {
    "setup_s": "s",
    "round_cpu_s": "s",
    "query_cpu_ms": "ms",
    "work_per_cpu_s": "1/s",
}

#: wall-time figures of the same ops, kept in the run record and on stderr
WALL = {
    "round_s": "s",
    "query_qps": "1/s",
    "work_per_s": "1/s",
}

PER_LAYER = {
    "driver_s": "s",
    "job_s": "s",
    "catalyst_s": "s",
    "jobs": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "python_cpu_s": "s",
    "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB",
    "exchanges": "count",
    "read_driver_s": "s",
    "read_job_s": "s",
    "read_executor_cpu_s": "s",
    "read_python_cpu_s": "s",
    "read_catalyst_s": "s",
}


class Run:
    """State of one benchmark run: the session, the tracer, and every op
    attempted with its time and outcome."""

    def __init__(self, spark, tracer, seed: int, work_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.work_dir = work_dir
        self.ops: list[dict] = []
        self.extra: dict = {}
        self.text_bytes = 0
        self.index_dir: str | None = None
        self.round_idx = -1  # -1 until the first timed round
        self._plan_df = None

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(1 for o in self.ops if not o["ok"])

    def note_plan(self, df) -> None:
        """Remember the op's result DataFrame; in a traced run its plan is
        inspected after the op's span has closed."""
        self._plan_df = df

    def op(self, name: str, fn, *, role: str, check=None, items: int = 0,
           queries: int = 0):
        """Time ``fn`` as one op inside a span named ``name``, then check
        its result. ``items`` and ``queries`` count the work the op does.
        Returns (ok, result); an op that raises or fails its check counts
        as failed."""
        from perfbench.trace import engine_cpu_s

        self._plan_df = None
        op_id = self.tracer.new_op()
        result, ok = None, True
        cpu0 = engine_cpu_s()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, op_id, role=role) as span:
                result = fn()
        except Exception:
            traceback.print_exc()
            ok = False
        dt = time.perf_counter() - t0
        cpu_s = engine_cpu_s() - cpu0
        if ok and check is not None:
            try:
                ok = bool(check(result))
            except Exception:
                traceback.print_exc()
                ok = False
        if not ok:
            print(f"perfbench: op {name} #{op_id} failed", file=sys.stderr)
        if self.tracer.traced and self._plan_df is not None:
            span.metrics.update(plan_metrics(self._plan_df))
        self._plan_df = None
        self.ops.append({"name": name, "role": role, "op_id": op_id,
                         "round": self.round_idx, "s": dt, "cpu_s": cpu_s,
                         "ok": ok, "items": items, "queries": queries})
        return ok, result


def plan_metrics(df) -> dict:
    """Catalyst phase time of ``df``'s query execution and its exchange
    count. For an op that collected ``df`` the phases are those of that
    execution; for a write the same plan is planned again here."""
    from similaripy_spark.plans.explain import count_exchanges

    exchanges = count_exchanges(df)  # forces the executed plan
    phases = df._jdf.queryExecution().tracker().phases()
    ms = 0
    for p in ("analysis", "optimization", "planning"):
        opt = phases.get(p)
        if opt.isDefined():
            ms += opt.get().durationMs()
    return {"catalyst_s": ms / 1000.0, "exchanges": exchanges}


class RssSampler(threading.Thread):
    """Peak resident memory of the JVM plus Python workers, sampled from
    /proc every ``period`` seconds."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period = period
        self.peak_mb = 0.0
        self._halt = threading.Event()

    def run(self) -> None:
        from perfbench.trace import engine_rss_mb

        while not self._halt.is_set():
            self.peak_mb = max(self.peak_mb, engine_rss_mb())
            self._halt.wait(self.period)

    def stop(self) -> float:
        self._halt.set()
        self.join(timeout=10)
        return self.peak_mb


def _configure_env(work_dir: str) -> int:
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # executors' Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    return cpus


def _start_session(workload: str, cpus: int, work_dir: str, traced: bool):
    from similaripy_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        # keep the JVM's temp files (and its perf-data file) in the checkout
        "spark.driver.extraJavaOptions":
            "-XX:-UsePerfData -Djava.io.tmpdir=" + os.environ["TMPDIR"],
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
    }
    if traced:
        log_dir = os.path.join(work_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(
        app_name=f"perfbench-{workload}",
        parallelism=cpus,
        shuffle_partitions=2 * cpus,
        extra_conf=conf,
    )


def _stop_session(spark) -> None:
    """Stop Spark and wait until its JVM has exited. The JVM ends when the
    pipe to its stdin closes, which would otherwise happen only as this
    process exits, without waiting for it. The gateway is shut down first,
    so Java objects Python frees later are not sent to a dead JVM."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def round_times(run: Run) -> list[float]:
    """Time of each round's timed ops (checks and input prep excluded)."""
    return _per_round(run, "s")


def _per_round(run: Run, key: str) -> list[float]:
    per: dict[int, float] = {}
    for o in run.ops:
        per[o["round"]] = per.get(o["round"], 0.0) + o[key]
    return [per[r] for r in sorted(per)]


def end_to_end(run: Run, wl, setup_s: float) -> tuple[dict, dict]:
    """The end-to-end metrics, and the wall-time figures of the same ops.

    Apart from setup_s the metrics count CPU seconds: on a shared machine
    whose hypervisor steals 4 to 30% of the CPU, varying from run to run,
    the wall times of ten runs spread by a quarter of their median."""
    from perfbench.stats import median

    reads = [o for o in run.ops if o["role"] in wl.READ_ROLES]
    work = [o for o in run.ops if o["role"] in wl.WORK_ROLES]
    queries = sum(o["queries"] for o in reads)
    items = sum(o["items"] for o in work)
    metrics = {
        "setup_s": setup_s,
        "round_cpu_s": median(_per_round(run, "cpu_s")),
        "query_cpu_ms": 1000.0 * sum(o["cpu_s"] for o in reads) / queries,
        "work_per_cpu_s": items / sum(o["cpu_s"] for o in work),
    }
    wall = {
        "round_s": median(round_times(run)),
        "query_qps": queries / sum(o["s"] for o in reads),
        "work_per_s": items / sum(o["s"] for o in work),
    }
    return metrics, wall


def op_details(run: Run) -> dict:
    """Per op name: sample count, median, quartiles and, when the samples
    support one, the tail."""
    from perfbench.stats import summary

    by_name: dict[str, list[float]] = {}
    for o in run.ops:
        by_name.setdefault(o["name"], []).append(o["s"])
    return {name: summary(xs) for name, xs in by_name.items()}


def per_layer(run: Run, wl, spans, n_rounds: int) -> dict:
    """Per-layer totals over the timed ops, per round; ``read_*`` over the
    workload's read ops only."""
    from perfbench.trace import job_time_s, subtree

    tot = dict.fromkeys(PER_LAYER, 0.0)
    roles = {o["op_id"]: o["role"] for o in run.ops}
    for s in spans:
        if s.parent is not None or s.op_id not in roles:
            continue
        tree = subtree(spans, s)
        job_s = job_time_s(spans, s)
        vals = {
            "driver_s": s.wall_s - job_s,
            "job_s": job_s,
            "catalyst_s": s.metrics.get("catalyst_s", 0.0),
            "python_cpu_s": s.metrics.get("python_cpu_s", 0.0),
            "exchanges": s.metrics.get("exchanges", 0),
        }
        for k in ("jobs", "tasks", "executor_run_s", "executor_cpu_s"):
            vals[k] = sum(t.metrics.get(k, 0) for t in tree)
        vals["shuffle_read_mb"] = sum(
            t.metrics.get("shuffle_read_bytes", 0) for t in tree) / 1e6
        vals["shuffle_write_mb"] = sum(
            t.metrics.get("shuffle_write_bytes", 0) for t in tree) / 1e6
        for k, v in vals.items():
            tot[k] += v
            if roles[s.op_id] in wl.READ_ROLES and "read_" + k in tot:
                tot["read_" + k] += v
    return {k: v / max(n_rounds, 1) for k, v in tot.items()}


def engine_sources(index_dir: str | None) -> dict:
    """Numbers the engine writes itself: build phase times from
    ``lineage/build_metrics.json`` and committed bytes from the lineage
    manifests, split into the initial build and the appends."""
    if not index_dir or not os.path.isdir(os.path.join(index_dir, "lineage")):
        return {}
    out = {}
    lin = os.path.join(index_dir, "lineage")
    bm = os.path.join(lin, "build_metrics.json")
    if os.path.exists(bm):
        with open(bm) as f:
            for phase, ms in json.load(f).get("phase_ms", {}).items():
                out[f"index_build.{phase}_s"] = ms / 1000.0
    with open(os.path.join(index_dir, "meta.json")) as f:
        build_run = json.load(f).get("run_id")
    build_b = append_b = 0
    for name in os.listdir(lin):
        if not (name.startswith("group_") and name.endswith(".json")):
            continue
        with open(os.path.join(lin, name)) as f:
            rec = json.load(f)
        if rec.get("run_id") == build_run:
            build_b += int(rec.get("bytes", 0))
        else:
            append_b += int(rec.get("bytes", 0))
    out["index_build.bytes"] = build_b
    if append_b:
        out["append.bytes"] = append_b
    return out


def print_table(title: str, metrics: dict, units: dict) -> None:
    print(f"perfbench {title}:", file=sys.stderr)
    for k, v in metrics.items():
        print(f"  {k:28s} {v:14.6g} {units.get(k, '')}", file=sys.stderr)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in PROGRAM_FILES
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing under {ROOT}: {missing}",
              file=sys.stderr)
        return 2
    # import from the checkout root, never from this script's directory
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p) != here]

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    traced = bool(args.trace)
    work_dir = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(work_dir)
    os.makedirs(out_dir, exist_ok=True)
    try:
        return _run(args, traced, work_dir, out_dir, WORKLOADS[args.workload],
                    t_start)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def _run(args, traced: bool, work_dir: str, out_dir: str, wl_cls,
         t_start: float) -> int:
    import bench
    from perfbench import trace
    from perfbench.stats import median

    cpus = _configure_env(work_dir)
    telemetry = {"cpus": cpus, "membw_gbps_before": bench._membw_probe_gbps()}
    jiffies0 = bench._cpu_jiffies()

    t0 = time.perf_counter()
    spark = _start_session(args.workload, cpus, work_dir, traced)
    session_s = time.perf_counter() - t0
    sampler = RssSampler()
    sampler.start()
    tracer = trace.Tracer(spark.sparkContext, traced)
    run = Run(spark, tracer, args.seed, work_dir)
    wl = wl_cls(run)
    try:
        # setup_s: the session start, plus the median of the workload's
        # repeated set-ups, plus the one warm-up that follows them
        setups = []
        for rep in range(wl.SETUP_REPS):
            t = time.perf_counter()
            wl.setup(rep)
            setups.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t
        setup_s = session_s + median(setups) + warm_s
        wl.prepare_oracle()

        # closed loop: whole rounds until the timed ops have run --seconds
        while run.round_idx < 0 or sum(round_times(run)) < args.seconds:
            run.round_idx += 1
            wl.round(run.round_idx)
        n_rounds = run.round_idx + 1
        index_bytes = _dir_bytes(run.index_dir) if run.index_dir else 0
        engine = engine_sources(run.index_dir)
        wl.close()
    finally:
        peak_rss_mb = sampler.stop()
        _stop_session(spark)
    telemetry.update(
        steal_pct=bench._steal_pct(jiffies0, bench._cpu_jiffies()),
        iowait_pct=bench._iowait_pct(jiffies0, bench._cpu_jiffies()),
        membw_gbps_after=bench._membw_probe_gbps(),
    )

    e2e, wall = end_to_end(run, wl, setup_s)
    telemetry["peak_rss_mb"] = peak_rss_mb
    record = {
        "workload": args.workload, "seed": args.seed, "trace": int(traced),
        "seconds": args.seconds, "rounds": n_rounds,
        "round_s": round_times(run), "setup_reps_s": setups,
        "session_s": session_s,
        "warm_up_s": warm_s,
        "attempted": run.attempted, "failed": run.failed,
        "end_to_end": e2e, "wall": wall, "ops": op_details(run),
        "telemetry": telemetry, "engine": engine, **run.extra,
    }
    if run.text_bytes and index_bytes:
        record["index_bytes_per_text_byte"] = index_bytes / run.text_bytes
    metrics, units = e2e, END_TO_END
    if traced:
        ev = trace.read_event_log(os.path.join(work_dir, "eventlog"))
        record["attribution"] = trace.attribute(tracer.spans, ev)
        record["spans"] = trace.span_records(tracer.spans)
        metrics, units = per_layer(run, wl, tracer.spans, n_rounds), PER_LAYER
        record["per_layer"] = metrics
    path = os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{int(traced)}.json"
    )
    record["run_wall_s"] = time.perf_counter() - t_start
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=float)

    print_table(f"{args.workload} seed {args.seed} "
                f"({n_rounds} rounds, record {path})", metrics, units)
    print_table("wall time", wall, WALL)
    for name, s in record["ops"].items():
        print(f"  op {name:36s} n={s['n']:3d} median {s['median']:.4f} s",
              file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
