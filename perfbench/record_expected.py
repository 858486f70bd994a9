"""Record the expected result of every batch query the benchmark runs.

    python3 perfbench/record_expected.py [SCALE ...]   (default: sf0.01 sf0.001)

Runs each query on Spark, cross-checks the rows once against the
query's DuckDB oracle (``__spark_entry__.oracle_sql()``) on the same
tables, and writes the result hash to ``perfbench/expected.json``.
Queries whose oracle pins results or models trained at sf0.01 are
cross-checked only at sf0.01; at other scales their hash is recorded
from Spark alone and marked so.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run as bench

# oracles that embed sf0.01 golden VALUES (FFT centers)
GOLDEN_SF001 = {"c3_mrfft_radius", "c8_fft_radius_outliers"}


def main(scales: list[str]) -> int:
    import duckdb

    sys.path.insert(0, bench.ROOT)
    import __spark_entry__ as entry
    from big_data_computing__spark.session import get_session

    work = os.path.join(bench.ROOT, ".perfbench", "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    bench.configure_env(work)
    path = os.path.join(bench.BENCH, "expected.json")
    expected = {}
    if os.path.exists(path):
        with open(path) as f:
            expected = json.load(f)
    names = sorted({q for w in bench.WORKLOADS.values()
                    for q in w.get("queries", [])})
    registry, oracles = entry.queries(), entry.oracle_sql()
    spark = get_session()
    bad = 0
    try:
        for scale in scales:
            data = os.path.join(bench.BENCH, "data", scale)
            con = duckdb.connect()
            for t in sorted(os.listdir(data)):
                con.execute(f"CREATE VIEW {t.removesuffix('.parquet')} AS "
                            f"SELECT * FROM read_parquet('{data}/{t}')")
            out = {}
            for name in names:
                df = registry[name](spark, data)
                rows = df.collect()
                cols = df.columns
                order = sorted(range(len(cols)), key=cols.__getitem__)
                srows = sorted(tuple(r[i] for i in order) for r in rows)
                if name not in oracles:
                    oracle = "none"
                elif name in GOLDEN_SF001 and scale != "sf0.01":
                    oracle = "skipped: golden pinned at sf0.01"
                else:
                    res = con.execute(oracles[name])
                    dcols = [d[0] for d in res.description]
                    dorder = sorted(range(len(dcols)), key=dcols.__getitem__)
                    drows = sorted(tuple(r[i] for i in dorder)
                                   for r in res.fetchall())
                    oracle = "match" if drows == srows else "MISMATCH"
                    bad += oracle != "match"
                out[name] = {"sha256": bench.result_hash(rows, cols),
                             "rows": len(rows), "oracle": oracle}
                print(f"{scale} {name}: {len(rows)} rows, oracle {oracle}",
                      flush=True)
            con.close()
            expected[scale] = out
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    if bad:
        print(f"{bad} oracle mismatches; expected.json not written")
        return 1
    with open(path, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or ["sf0.01", "sf0.001"]))
