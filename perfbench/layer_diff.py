"""Compare the per-layer metrics of two sets of traced run artifacts.

    python3 perfbench/layer_diff.py --before A.json [A2.json ...] \\
                                    --after B.json [B2.json ...]

Artifacts are the files ``run.py --trace 1`` writes (``--artifact``).
For every workload and layer metric it prints the before and after
values (medians when a side has several runs of a workload), the ratio
after/before with its base, and the end-to-end metric the layer should
move (``layers.json``). A change is flagged ``*`` when it is larger than
the before side's own quartile spread (q3 - q1 over its runs); with a
single before run the spread is unknown and nothing is flagged.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def load(paths: list[str]) -> dict[str, dict[str, list[float]]]:
    """workload → metric → values over the given traced artifacts."""
    out: dict[str, dict[str, list[float]]] = {}
    for p in paths:
        with open(p) as f:
            art = json.load(f)
        if not art.get("per_layer"):
            sys.exit(f"{p}: not a traced artifact")
        per = out.setdefault(art["workload"], {})
        for k, v in art["per_layer"].items():
            per.setdefault(k, []).append(v["value"])
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--before", nargs="+", required=True)
    ap.add_argument("--after", nargs="+", required=True)
    args = ap.parse_args()
    before, after = load(args.before), load(args.after)
    with open(os.path.join(BENCH, "layers.json")) as f:
        layers = json.load(f)
    moves = {m: (name, spec) for name, spec in layers.items()
             for m in spec["metrics"]}
    print(f"{'workload':15s} {'metric':27s} {'before':>12s} {'after':>12s} "
          f"{'ratio':>8s}  flag  moves")
    for w in sorted(before.keys() & after.keys()):
        for m, bvals in before[w].items():
            avals = after[w].get(m)
            if avals is None:
                continue
            bmed, amed = statistics.median(bvals), statistics.median(avals)
            ratio = f"{amed / bmed:8.3f}" if bmed else "     n/a"
            flag = " "
            if len(bvals) > 1:
                q1, _, q3 = statistics.quantiles(bvals, n=4)
                flag = "*" if abs(amed - bmed) > (q3 - q1) else " "
            layer, spec = moves.get(m, ("?", {"moves": [], "on": []}))
            hint = ",".join(spec["moves"]) if w in spec["on"] else "-"
            print(f"{w:15s} {m:27s} {bmed:12.5g} {amed:12.5g} {ratio}  "
                  f" {flag}    {hint}   (base {bmed:.5g}, n={len(bvals)}/{len(avals)})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
