"""Steadiness check: run the benchmark on several seeds per workload, the
way ``BENCHMARK.json`` prescribes, and summarise each end-to-end metric.

    python3 perfbench/steady.py --seeds 1-10 [--workloads a,b] [--trace-seed N]
                                [--out FILE]

Runs are sequential, seed-major (every workload once per seed), each in a
fresh process. For each metric the summary holds the median, the first
and third quartiles (``statistics.quantiles(values, n=4)``) and the
spread, (q3 - q1) / median, checked against a third of the metric's
bound. ``--trace-seed`` adds one traced run per workload and reports the
tracing overhead: traced end-to-end value over the untraced median.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def seed_list(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    """One benchmark run in a fresh process, with the command and
    arguments ``BENCHMARK.json`` names; returns its result line, wall
    time and artifact path."""
    art = os.path.join(ROOT, ".perfbench", "out",
                       f"{workload}-s{seed}-t{trace}.json")
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--artifact", art]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=300, check=False)
    wall = time.time() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n"
                           f"{proc.stderr[-2000:]}")
    return {"result": json.loads(lines[-1]), "wall_s": wall, "artifact": art}


def summarise(values: list[float], bound: float | None) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    spread = (q3 - q1) / med
    out = {"median": med, "q1": q1, "q3": q3, "spread": spread,
           "values": values}
    if bound is not None:
        out["bound"] = bound
        out["within_third_of_bound"] = spread < bound / 3
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--workloads", help="comma list (default: all)")
    ap.add_argument("--trace-seed", type=int)
    ap.add_argument("--out", default=os.path.join(ROOT, ".perfbench",
                                                  "steady.json"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    names = (args.workloads.split(",") if args.workloads
             else [w["name"] for w in spec["workloads"]])
    seconds = spec["run_seconds"]
    runs: dict[str, list[dict]] = {w: [] for w in names}
    for seed in seed_list(args.seeds):
        for w in names:
            r = one_run(w, seed, seconds, 0)
            with open(r["artifact"]) as f:
                art = json.load(f)
            env, timed = art["env"], art["detail"]["timed"]
            runs[w].append({"seed": seed, "wall_s": r["wall_s"],
                            "loadavg_start": env["loadavg_start"],
                            "host_cpu": env["host_cpu"],
                            "rounds": len(timed["round_steal_frac"]),
                            "kept_rounds": len(timed["kept_rounds"]),
                            **r["result"]})
            print(f"{w} seed {seed}: {r['wall_s']:.1f} s "
                  f"kept {len(timed['kept_rounds'])}/"
                  f"{len(timed['round_steal_frac'])} rounds "
                  f"failed={r['result']['failed']} "
                  + " ".join(f"{k}={v['value']:.4g}"
                             for k, v in r["result"]["metrics"].items()),
                  flush=True)
    report: dict = {"seconds": seconds, "workloads": {}}
    for w, rs in runs.items():
        metrics = {}
        for m in rs[0]["metrics"]:
            vals = [r["metrics"][m]["value"] for r in rs]
            metrics[m] = summarise(vals, bounds.get(m)) if len(vals) > 1 else {
                "values": vals}
        report["workloads"][w] = {
            "runs": len(rs),
            "failed": sum(r["failed"] for r in rs),
            "all_correct": all(r["correct"] for r in rs),
            "wall_s": summarise([r["wall_s"] for r in rs], None)
            if len(rs) > 1 else rs[0]["wall_s"],
            "metrics": metrics,
            "seeds": [r["seed"] for r in rs],
            "host_steal_frac": [r["host_cpu"]["steal_frac"] for r in rs],
            "rounds": [r["rounds"] for r in rs],
            "kept_rounds": [r["kept_rounds"] for r in rs],
        }
    if args.trace_seed is not None:
        for w in names:
            r = one_run(w, args.trace_seed, seconds, 1)
            with open(r["artifact"]) as f:
                traced = json.load(f)["end_to_end"]
            base = report["workloads"][w]["metrics"]
            report["workloads"][w]["tracing_overhead"] = {
                m: {"traced": v["value"], "untraced_median": base[m]["median"],
                    "ratio": v["value"] / base[m]["median"]}
                for m, v in traced.items() if "median" in base.get(m, {})
            }
            report["workloads"][w]["traced_wall_s"] = r["wall_s"]
            report["workloads"][w]["traced_artifact"] = os.path.relpath(
                r["artifact"], ROOT)
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    for w, rep in report["workloads"].items():
        for m, s in rep["metrics"].items():
            if "spread" in s:
                print(f"{w:15s} {m:16s} median={s['median']:.4g} "
                      f"spread={s['spread']:.3f} bound={s.get('bound')}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
