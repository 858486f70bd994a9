"""Generate the driver-evidence history table in COVERAGE.md.

The driver hash-verifies only the first ~50 `queries()` entries per
round (CORRECTNESS_r{N}.json); the committed ORACLE_FULL runs are the
builder's own gate. This table makes the evidence gap mechanical:
for every registry entry, which round last saw it driver-hash-green,
whether it has EVER been driver-windowed, and its current registry
position (positions < ~50 are in the next round's window).

Usage: python tools/window_history.py   # rewrites the marked section
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BEGIN = "<!-- WINDOW_HISTORY_BEGIN (generated by tools/window_history.py) -->"
END = "<!-- WINDOW_HISTORY_END -->"


def collect() -> str:
    import __spark_entry__ as entrymod

    last_green: dict[str, int] = {}
    last_seen: dict[str, tuple[int, bool]] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"_r(\d+)", path).group(1))
        for name, row in json.load(open(path)).items():
            ok = bool(row.get("hash_match"))
            last_seen[name] = (rnd, ok)
            if ok:
                last_green[name] = max(rnd, last_green.get(name, 0))
    reg = list(entrymod.queries())
    full_files = sorted(glob.glob(os.path.join(REPO, "ORACLE_FULL_r*.json")))
    full = json.load(open(full_files[-1])) if full_files else {}
    lines = [
        BEGIN,
        "",
        "## Driver-evidence history (generated; do not edit by hand)",
        "",
        "`pos` = current registry position (the driver windows the"
        " first ~50 per round). `driver-green` = last round this query"
        " was hash-green in a driver window; `never` means only the"
        " builder's full-registry oracle run has checked it"
        " (`builder` column, latest ORACLE_FULL).",
        "",
        "| pos | query | driver-green | builder |",
        "|-----|-------|--------------|---------|",
    ]
    n_green = 0
    n_never = 0
    for pos, name in enumerate(reg, 1):
        if name in last_green:
            n_green += 1
            drv = f"r{last_green[name]}"
            if name in last_seen and not last_seen[name][1]:
                drv += f" (red r{last_seen[name][0]})"
        elif name in last_seen:
            drv = f"RED r{last_seen[name][0]}, never green"
        else:
            n_never += 1
            drv = "never windowed"
        if name not in full:
            bl = "new this round"
        else:
            b = full[name]
            if b.get("match") is True:
                bl = "match"
            elif b.get("match") is None and b.get("err") == "skipped_golden":
                bl = "golden-skip"
            elif b.get("match") is None:
                bl = "rows-only"
            else:
                bl = f"FAIL: {b.get('err')}"
        lines.append(f"| {pos} | {name} | {drv} | {bl} |")
    lines += [
        "",
        f"Cumulative driver-green: **{n_green}/{len(reg)}**; never "
        f"windowed: **{n_never}** (front-loaded in the registry so the "
        "next windows close the gap).",
        "",
        END,
    ]
    return "\n".join(lines)


def main() -> int:
    path = os.path.join(REPO, "COVERAGE.md")
    text = open(path).read()
    table = collect()
    if BEGIN in text:
        pre = text.split(BEGIN)[0]
        post = text.split(END, 1)[1]
        text = pre + table + post
    else:
        text = text.rstrip() + "\n\n" + table + "\n"
    open(path, "w").write(text)
    n = table.count("\n| ")
    print(f"wrote {n} rows to the window-history section of {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
