"""Local mimic of the driver's correctness gate: run every queries()
entry at sf0.01 and hash-compare against oracle_sql() via DuckDB.

Usage: python tools/verify_oracle.py [sf_dir] [only1,only2,...]
         [--json OUT.json]

--json writes a per-query artifact (the committed full-registry runs,
e.g. ORACLE_FULL_r03.json — the driver's own CORRECTNESS files cover
only the first 50 registry entries per round).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb

import __spark_entry__ as entrymod
from big_data_computing__spark.session import get_session
from big_data_computing__spark.sources.readers import TABLES

# Round-6 lesson: tuple equality (`int == int`) passed 5 oracles whose
# SUM(BIGINT) column DuckDB types as HUGEINT (int128) while the
# driver's value-hash — which serializes through Arrow/pandas, where
# HUGEINT is not an int64 — failed them. The local gate must therefore
# be at least as strict as the driver's: every oracle output column
# must carry a type whose Arrow serialization is identical to the
# Spark column's, which in practice means this whitelist. DECIMAL and
# HUGEINT are the known offenders; anything new fails loudly.
DUCK_TYPE_WHITELIST = {
    "BIGINT", "INTEGER", "SMALLINT", "TINYINT",
    "DOUBLE", "VARCHAR", "BOOLEAN", "TIMESTAMP", "DATE",
}
# Spark dtype → acceptable DuckDB types. Integer widths are
# interchangeable (both engines hand back Python ints and the driver
# hashes values, not widths — r1-r6 evidence: INTEGER-vs-bigint rows
# were always hash-green); int128/decimal are NOT.
_SPARK_TO_DUCK = {
    "bigint": {"BIGINT", "INTEGER", "SMALLINT", "TINYINT"},
    "int": {"BIGINT", "INTEGER", "SMALLINT", "TINYINT"},
    "smallint": {"BIGINT", "INTEGER", "SMALLINT", "TINYINT"},
    "tinyint": {"BIGINT", "INTEGER", "SMALLINT", "TINYINT"},
    "double": {"DOUBLE"},
    "float": {"DOUBLE"},
    "string": {"VARCHAR"},
    "boolean": {"BOOLEAN"},
    "timestamp": {"TIMESTAMP"},
    "date": {"DATE"},
}


def type_errors(con, sql: str, spark_dtypes: list) -> list:
    """Driver-faithfulness lint: DESCRIBE the oracle and return a list
    of human-readable type violations (empty = clean)."""
    errs = []
    try:
        desc = con.execute(f"DESCRIBE ({sql})").fetchall()
    except Exception as e:  # noqa: BLE001 — surfaced to caller
        return [f"DESCRIBE failed: {str(e)[:120]}"]
    duck = {row[0]: row[1] for row in desc}
    for col, typ in duck.items():
        if typ not in DUCK_TYPE_WHITELIST:
            errs.append(f"column {col!r}: DuckDB type {typ} not whitelisted")
    sdt = dict(spark_dtypes)
    if sorted(duck) != sorted(sdt):
        errs.append(
            f"column-name mismatch: spark={sorted(sdt)} duck={sorted(duck)}"
        )
        return errs
    for col, styp in sdt.items():
        allowed = _SPARK_TO_DUCK.get(styp)
        if allowed is None:
            errs.append(f"column {col!r}: spark type {styp} has no mapping")
        elif duck[col] not in allowed:
            errs.append(
                f"column {col!r}: spark {styp} vs duck {duck[col]}"
            )
    return errs


def main() -> int:
    argv = list(sys.argv[1:])
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    # --skip golden  (or --skip name1,name2): exclude queries whose
    # oracle depends on goldens TRAINED AT sf0.01 — either pinned
    # results (c2/c3/c8's FFT outputs) or pinned models the Spark side
    # RE-TRAINS from the data it reads (IVF centers / PQ codebooks /
    # PCA axes): at any other sf the engine trains a different model
    # and the comparison is golden-vs-fresh, not Spark-vs-DuckDB.
    # Queries that feed the same pinned constants to BOTH engines as
    # parameters (x_ann_opq_topk, x_ann_opq_ivf_rpq_topk, c5,
    # x_dedup_embedding) stay checkable at any sf — verified by the
    # committed ORACLE_SMALL_r06.json run.
    GOLDEN_SF_BOUND = {
        "c2_fft_coreset",
        "c3_mrfft_radius",
        "c8_fft_radius_outliers",
        "x_pca_semdedup",
        "x_semdedup_within_cell",
        "x_ann_ivf_topk",
        "x_ann_pq_topk",
        "x_ann_ivf_pq_topk",
        "x_ann_ivf_rpq_topk",
        "x_ann_ivf_rpq_prod",
        "x_mutual_knn_ivf",
        "x_streaming_knn_final",
    }
    skip: set = set()
    if "--skip" in argv:
        i = argv.index("--skip")
        arg = argv[i + 1]
        skip = GOLDEN_SF_BOUND if arg == "golden" else set(arg.split(","))
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    results: dict[str, dict] = {}
    spark = get_session()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(argv[1].split(",")) if len(argv) > 1 else None
    failures = []
    for name, fn in qs.items():
        if only is not None and name not in only:
            continue
        if name in skip:
            print(f"skip {name}: result-golden pinned at another sf")
            results[name] = {"match": None, "err": "skipped_golden"}
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sorted(
                tuple(r) for r in sdf.select(sorted(sdf.columns)).collect()
            )
        except Exception as e:
            failures.append(name)
            results[name] = {"match": False, "err": f"spark: {str(e)[:120]}"}
            print(f"FAIL {name}: SPARK ERROR {str(e)[:200]}")
            continue
        if name not in oracles:
            print(
                f"ok   {name}: rows-only ({len(srows)} rows, "
                f"{time.time() - t0:.1f}s)"
            )
            if len(srows) == 0:
                print(f"     WARNING: {name} returned 0 rows")
            results[name] = {
                "match": None,
                "spark_rows": len(srows),
                "oracle_rows": None,
                "sec": round(time.time() - t0, 1),
                "err": "no_oracle",
            }
            continue
        try:
            dres = con.execute(oracles[name])
            dcols = [d[0] for d in dres.description]
            draw = dres.fetchall()
            order = sorted(range(len(dcols)), key=lambda i: dcols[i])
            drows = sorted(tuple(r[i] for i in order) for r in draw)
        except Exception as e:
            failures.append(name)
            results[name] = {"match": False, "err": f"duck: {str(e)[:120]}"}
            print(f"FAIL {name}: DUCK ERROR {str(e)[:200]}")
            continue
        terrs = type_errors(con, oracles[name], sdf.dtypes)
        if terrs:
            failures.append(name)
            results[name] = {
                "match": False,
                "err": f"types: {'; '.join(terrs)[:200]}",
            }
            print(f"FAIL {name}: TYPE LINT {terrs}")
            continue
        results[name] = {
            "match": srows == drows,
            "spark_rows": len(srows),
            "oracle_rows": len(drows),
            "sec": round(time.time() - t0, 1),
            "err": None,
        }
        if srows == drows:
            print(
                f"ok   {name}: {len(srows)} rows match "
                f"({time.time() - t0:.1f}s)"
            )
        else:
            failures.append(name)
            print(
                f"FAIL {name}: mismatch spark={len(srows)} duck={len(drows)}"
            )
            sonly = [r for r in srows if r not in drows][:2]
            donly = [r for r in drows if r not in srows][:2]
            print(f"     spark-only: {sonly}")
            print(f"     duck-only:  {donly}")
    print(
        f"\n{len(qs) - len(failures)}/{len(qs)} queries pass "
        f"({len(oracles)} oracle-checked)"
    )
    if json_out is not None:
        with open(json_out, "w") as f:
            json.dump(results, f, indent=2)
        print(f"wrote {json_out}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
