"""Run the benchmark over several seeds and summarise each metric: median,
quartiles, and the interquartile spread as a share of the median.

    python3 perfbench/spread.py --seeds 1-10 [--trace 0|1] [--out FILE]

Runs are sequential, one process each, from the checkout root. With
``--out`` the summary is merged into FILE under ``trace<0|1>``; a file
holding both gets the tracing overhead: traced minus untraced medians of
the end-to-end metrics, as a share of the untraced median.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p) != HERE]

from perfbench.stats import quartiles, rel_spread  # noqa: E402


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_one(workload: str, seed: int, seconds: int, traced: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(traced)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    if p.returncode != 0:
        raise RuntimeError(f"{cmd} exited {p.returncode}:\n{p.stderr[-2000:]}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    path = os.path.join(ROOT, ".perfbench_out",
                        f"{workload}-seed{seed}-trace{traced}.json")
    with open(path) as f:
        result["record"] = json.load(f)
    return result


def summarise(values: dict[str, list[float]]) -> dict:
    out = {}
    for name, xs in values.items():
        q1, q2, q3 = quartiles(xs)
        out[name] = {"median": q2, "q1": q1, "q3": q3,
                     "spread": rel_spread(xs), "values": xs}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    bench = _bench()
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    summary = {}
    for w in workloads:
        values: dict[str, dict[str, list[float]]] = {
            "end_to_end": {}, "wall": {}, "per_layer": {}}
        failed = attempted = 0
        for seed in _seeds(args.seeds):
            r = run_one(w, seed, bench["run_seconds"], args.trace)
            failed += r["failed"]
            attempted += r["attempted"]
            for section, vals in values.items():
                for k, v in r["record"].get(section, {}).items():
                    vals.setdefault(k, []).append(v)
            print(f"{w} seed {seed}: " + ", ".join(
                f"{k}={v:.4g}" for k, v in r["record"]["end_to_end"].items()
            ), file=sys.stderr)
        summary[w] = {"attempted": attempted, "failed": failed}
        summary[w].update(
            (section, summarise(vals)) for section, vals in values.items()
            if vals)
        for k, s in summary[w]["end_to_end"].items():
            b = bounds.get(k)
            flag = "" if k == "setup_s" or s["spread"] <= b / 3 else \
                ("  above bound/3" if s["spread"] <= b else "  ABOVE BOUND")
            print(f"{w:9s} {k:14s} median {s['median']:12.5g}  spread "
                  f"{s['spread']:.4f}  bound {b}{flag}")
        for k, s in summary[w].get("wall", {}).items():
            print(f"{w:9s} {k:14s} median {s['median']:12.5g}  spread "
                  f"{s['spread']:.4f}  (wall time, no bound)")
    if args.out:
        doc = {}
        if os.path.exists(args.out):
            with open(args.out) as f:
                doc = json.load(f)
        doc[f"trace{args.trace}"] = summary
        if "trace0" in doc and "trace1" in doc:
            doc["tracing_overhead"] = {
                w: {k: (doc["trace1"][w][section][k]["median"]
                        - s["median"]) / s["median"]
                    for section in ("end_to_end", "wall")
                    for k, s in doc["trace0"][w][section].items()}
                for w in doc["trace0"] if w in doc["trace1"]
            }
        with open(args.out, "w") as f:
            json.dump(doc, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
