"""Benchmark self-test on the smallest data set (sf0.001).

    python3 perfbench/selftest.py

Runs every workload untraced and traced for one second on sf0.001, then
asserts that every metric named in ``BENCHMARK.json`` is emitted with its
unit, that no operation failed, that every span's self time is at least
0, and that every child span lies inside its parent. Exits 1 if any run
breaks one of these.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
EPS = 1e-6


def check_spans(spans: list[dict]) -> list[str]:
    errs = []
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["end"] < s["start"]:
            errs.append(f"span {s['name']} ends before it starts")
        if s["self_s"] < -EPS:
            errs.append(f"span {s['name']} self time {s['self_s']:.6f} < 0")
        p = by_id.get(s["parent"])
        if p is not None and (s["start"] < p["start"] - EPS
                              or s["end"] > p["end"] + EPS):
            errs.append(f"span {s['name']} [{s['start']:.3f}, {s['end']:.3f}] "
                        f"outside parent {p['name']} "
                        f"[{p['start']:.3f}, {p['end']:.3f}]")
    return errs


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    named = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
             1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    bad = 0
    for w in (x["name"] for x in spec["workloads"]):
        for trace in (0, 1):
            art = os.path.join(ROOT, ".perfbench", "out",
                               f"selftest-{w}-t{trace}.json")
            cmd = [sys.executable, os.path.join(BENCH, "run.py"),
                   "--workload", w, "--seed", "7", "--seconds", "1",
                   "--trace", str(trace), "--scale", "sf0.001",
                   "--artifact", art]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True,
                                  text=True, timeout=300, check=False)
            errs = []
            if proc.returncode != 0:
                errs.append(f"exit {proc.returncode}: {proc.stderr[-1500:]}")
            else:
                res = json.loads(proc.stdout.strip().splitlines()[-1])
                if not res["correct"] or res["failed"] or res["attempted"] < 1:
                    errs.append(f"correct={res['correct']} attempted="
                                f"{res['attempted']} failed={res['failed']}")
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                if got != named[trace]:
                    errs.append(f"metrics/units differ from BENCHMARK.json: "
                                f"{sorted(set(got.items()) ^ set(named[trace].items()))}")
                with open(art) as f:
                    artifact = json.load(f)
                if trace:
                    errs += check_spans(artifact["spans"])
                    if not artifact["spans"]:
                        errs.append("traced run recorded no spans")
            status = "ok" if not errs else "FAIL"
            print(f"{status} {w} trace={trace}", flush=True)
            for e in errs[:10]:
                print(f"   {e}")
            bad += bool(errs)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
