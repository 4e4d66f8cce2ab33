#!/usr/bin/env python3
"""Steadiness tool: run each workload repeatedly, one seed per run, and print
every metric's median, quartiles and spread (interquartile range over the
median) next to its bound in BENCHMARK.json.

    python3 perfbench/steady.py [--workloads pip_broadcast,skew_shuffle]
        [--runs 10] [--seed0 1] [--seconds N] [--trace 0|1]
        [--compare perfbench/records/steady-<earlier>.json]

Run it from the root of a checkout. The summary is also written to
perfbench/records/steady-<time>.json. With --compare it also prints, per
metric, how far this set's median moved from the earlier set's, as a share
of the earlier median (positive = worse). For a traced set (--trace 1) it
reports the end-to-end figures the traced runs printed as well, so the
tracing overhead is the move between an untraced set and a traced set made
with the same seeds.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent


def load_spec():
    p = Path.cwd() / "BENCHMARK.json"
    return json.loads(p.read_text()) if p.is_file() else {}


def run_once(workload, seed, seconds, trace):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.time() - t0
    lines = r.stdout.strip().split("\n")
    if r.returncode != 0 or not lines[-1].startswith("{"):
        return None, {}, wall
    result = json.loads(lines[-1])
    printed = {}
    for ln in lines[:-1]:
        parts = ln.split()
        if len(parts) == 4 and parts[0] == "metric":
            printed[parts[1]] = float(parts[2])
    return result, printed, wall


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("nan")


def main():
    spec = load_spec()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec.get("workloads", [])))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec.get("run_seconds", 10))
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--compare")
    a = ap.parse_args()

    bounds = {m["name"]: m for m in spec.get("end_to_end", [])}
    earlier = json.loads(Path(a.compare).read_text()) if a.compare else {}
    summary = {"runs": a.runs, "seed0": a.seed0, "seconds": a.seconds, "trace": a.trace,
               "workloads": {}}
    for w in [x for x in a.workloads.split(",") if x]:
        values, failed_share, walls, bad = {}, set(), [], 0
        for i in range(a.runs):
            res, printed, wall = run_once(w, a.seed0 + i, a.seconds, a.trace)
            walls.append(wall)
            if res is None or not res["correct"]:
                bad += 1
                print(f"{w} seed {a.seed0 + i}: run failed or incorrect", flush=True)
                continue
            failed_share.add(f"{res['failed']}/{res['attempted']}" if res["failed"] else "0")
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            if a.trace:
                for k in bounds:
                    if k in printed:
                        values.setdefault(f"traced.{k}", []).append(printed[k])
            print(f"{w} seed {a.seed0 + i}: {wall:.1f} s, " + ", ".join(
                f"{k}={v['value']:.6g}" for k, v in res["metrics"].items() if k in bounds), flush=True)
        rows = {}
        print(f"\n{w}: {a.runs - bad} good runs, failed share {sorted(failed_share)}, "
              f"wall median {statistics.median(walls):.1f} s, total {sum(walls):.0f} s")
        print(f"  {'metric':34} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7} {'bound':>6} {'moved':>7}")
        for k, vs in values.items():
            med, q1, q3, sp = spread(vs)
            b = bounds.get(k.removeprefix("traced."), {})
            bound = b.get("bound")
            moved = None
            old = earlier.get("workloads", {}).get(w, {}).get(k)
            if old and old["median"]:
                sign = -1 if b.get("better") == "higher" else 1
                moved = sign * (med - old["median"]) / old["median"]
            rows[k] = {"median": med, "q1": q1, "q3": q3, "spread": sp, "values": vs}
            flag = "" if bound is None or k.startswith("traced.") else (
                " ok" if sp < bound / 3 else (" within bound" if sp < bound else " OVER BOUND"))
            print(f"  {k:34} {med:12.6g} {q1:12.6g} {q3:12.6g} {sp:7.3f} "
                  f"{bound if bound is not None else '':>6} {'' if moved is None else f'{moved:+.3f}':>7}{flag}")
        summary["workloads"][w] = rows
    out = HERE / "records" / f"steady-{time.strftime('%Y%m%d-%H%M%S')}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(summary, indent=1))
    print(f"\nsummary: {out.relative_to(Path.cwd()) if out.is_relative_to(Path.cwd()) else out}")


if __name__ == "__main__":
    main()
