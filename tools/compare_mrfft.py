"""Head-to-head vs reference script 2 (MRFFT + outliers) — the one
comparison COMPARE.md could not run: big_data_computing_2.py imports
scipy (line 7), which is not installed and the environment is pinned.

The unblock: the script's ONLY scipy use is
``scipy.spatial.distance.cdist([point], centers).min()``
(big_data_computing_2.py:48) — a plain Euclidean distance matrix. This
runner writes a minimal numpy-backed shim exposing that public API
into a temp dir and prepends it to the subprocess PYTHONPATH; the
reference file itself is untouched and unread by the shim (public
scipy API semantics only).

What is comparable, and what is not:
- The reference seeds nothing (np.random.randint first center,
  big_data_computing_2.py:19) and repartition(L) shuffles randomly, so
  center SETS and the radius differ run to run on BOTH sides. The
  k-center OBJECTIVE (radius) is the comparison: FFT is a
  2-approximation, so both sides' radii should sit within a small
  factor of each other.
- MRApproxOutliers given the SAME D is deterministic — so the engine
  re-runs its approx_outliers_summary at the REFERENCE's radius and
  the (sure, uncertain) counts must match the reference's printed
  output EXACTLY. That is the bit-exactness check.
- Round wall-times (R1/R2/R3 + outliers) compare throughput.

Usage:
    python tools/compare_mrfft.py [--sf /root/testdata/sf0.1]
        [--m 100] [--k 8] [--l 16]
"""

from __future__ import annotations

import os
import re
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SHIM_DISTANCE = '''\
"""Minimal numpy-backed stand-in for scipy.spatial.distance.cdist
(euclidean only) — public-API semantics, no scipy code."""
import numpy as np


def cdist(XA, XB, metric="euclidean"):
    if metric != "euclidean":
        raise NotImplementedError(metric)
    A = np.asarray(XA, dtype=float)
    B = np.asarray(XB, dtype=float)
    return np.sqrt(((A[:, None, :] - B[None, :, :]) ** 2).sum(axis=-1))
'''


def build_shim(root: str) -> None:
    sp = os.path.join(root, "scipy", "spatial")
    os.makedirs(sp)
    open(os.path.join(root, "scipy", "__init__.py"), "w").write(
        "from . import spatial\n"
    )
    open(os.path.join(sp, "__init__.py"), "w").write(
        "from . import distance\n"
    )
    open(os.path.join(sp, "distance.py"), "w").write(SHIM_DISTANCE)


def write_csv(spark, sf_dir: str, path: str) -> int:
    """Same 600k-point derivation COMPARE.md's script-1 runs used."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pts = li.select(
        F.col("l_extendedprice").cast("double").alias("x"),
        (F.col("l_quantity").cast("double") * 2000).alias("y"),
    )
    rows = pts.collect()
    with open(path, "w") as f:
        for r in rows:
            f.write(f"{r['x']},{r['y']}\n")
    return len(rows)


def run_reference(csv: str, m: int, k: int, l: int, shim: str) -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = shim + os.pathsep + env.get("PYTHONPATH", "")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    out = subprocess.run(
        [
            "/opt/spark/bin/spark-submit",
            "--master",
            f"local[{cpus}]",
            "--conf",
            "spark.driver.memory=16g",
            "/root/reference/big_data_computing_2.py",
            csv,
            str(m),
            str(k),
            str(l),
        ],
        env=env,
        capture_output=True,
        text=True,
        timeout=1200,
    )
    text = out.stdout
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-3000:])
        raise RuntimeError("reference run failed")

    def grab(pat):
        mm = re.search(pat, text)
        return mm.group(1) if mm else None

    return {
        "n": int(grab(r"Number of points = (\d+)")),
        "r1_ms": int(grab(r"MRFFT R1 = (\d+)")),
        "r2_ms": int(grab(r"MRFFT R2 = (\d+)")),
        "r3_ms": int(grab(r"MRFFT R3 = (\d+)")),
        "radius": float(grab(r"Radius = ([0-9.eE+-]+)")),
        "sure": int(grab(r"sure outliers = (\d+)")),
        "uncertain": int(grab(r"uncertain points = (\d+)")),
        "approx_ms": int(grab(r"MRApproxOutliers = (\d+)")),
    }


def main() -> int:
    argv = sys.argv[1:]

    def opt(name, default):
        if name in argv:
            i = argv.index(name)
            return argv[i + 1]
        return default

    sf_dir = opt("--sf", "/root/testdata/sf0.1")
    m = int(opt("--m", "100"))
    k = int(opt("--k", "8"))
    l = int(opt("--l", "16"))

    from pyspark.sql import functions as F

    from big_data_computing__spark.operators.clustering import mr_fft
    from big_data_computing__spark.operators.outliers import (
        approx_outliers_summary,
    )
    from big_data_computing__spark.session import get_session
    from big_data_computing__spark.sources.readers import read_points_csv

    tmp = tempfile.mkdtemp(prefix="mrfft_cmp_")
    shim = os.path.join(tmp, "shim")
    build_shim(shim)
    csv = os.path.join(tmp, "points.csv")

    spark = get_session(app_name="mrfft_compare")
    n = write_csv(spark, sf_dir, csv)
    print(f"wrote {n} points to {csv}")
    # stop the engine session so the two JVMs never contend
    spark.stop()

    print("running reference (spark-submit + scipy shim)...")
    ref = run_reference(csv, m, k, l, shim)
    print(f"reference: {ref}")

    spark = get_session(app_name="mrfft_compare_engine")
    pts = read_points_csv(spark, csv).select(
        F.monotonically_increasing_id().alias("id"),
        "x",
        "y",
        F.array("x", "y").alias("features"),
    )
    pts = pts.repartition(l).cache()
    n2 = pts.count()
    assert n2 == ref["n"], (n2, ref["n"])
    # one untimed pass absorbs JVM/codegen/Arrow warmup so the two
    # timed modes are steady-state (the reference side pays its own
    # warmup inside spark-submit; its R1 is a warm cached RDD too)
    mr_fft(pts, k, l, seed=0, fast=True)
    res_fast = mr_fft(pts, k, l, seed=0, fast=True)
    print(
        f"engine FAST MRFFT (per-partition R1, codegen R3 — the "
        f"reference's own R1 shape): radius={res_fast.radius:.2f} "
        f"timings={res_fast.timings_ms}"
    )
    res = mr_fft(pts, k, l, seed=0)
    t0 = time.time()
    eng_out = approx_outliers_summary(pts, res.radius, m).collect()[0]
    eng_ms = int((time.time() - t0) * 1000)
    # bit-exactness leg: engine outliers at the REFERENCE's radius
    t0 = time.time()
    at_ref_d = approx_outliers_summary(pts, ref["radius"], m).collect()[0]
    at_ref_ms = int((time.time() - t0) * 1000)
    eng = {
        "radius": res.radius,
        "r1_ms": res.timings_ms["r1_coreset"],
        "r2_ms": res.timings_ms["r2_centers"],
        "r3_ms": res.timings_ms["r3_radius"],
        "sure": eng_out["sure_outliers"],
        "uncertain": eng_out["uncertain_points"],
        "approx_ms": eng_ms,
    }
    print(f"engine:    {eng}")
    match = (
        at_ref_d["sure_outliers"] == ref["sure"]
        and at_ref_d["uncertain_points"] == ref["uncertain"]
    )
    print(
        f"engine outliers AT THE REFERENCE'S D={ref['radius']:.2f}: "
        f"sure={at_ref_d['sure_outliers']} "
        f"uncertain={at_ref_d['uncertain_points']} ({at_ref_ms} ms) "
        f"-> {'IDENTICAL to reference' if match else 'MISMATCH'}"
    )
    rr = ref["radius"] / res.radius if res.radius else float("inf")
    print(
        f"radius ratio ref/engine = {rr:.3f} "
        "(both FFT 2-approx with unseeded vs seeded starts)"
    )
    tot_ref = ref["r1_ms"] + ref["r2_ms"] + ref["r3_ms"]
    tot_eng = eng["r1_ms"] + eng["r2_ms"] + eng["r3_ms"]
    print(
        f"MRFFT wall: reference {tot_ref} ms "
        f"(R1={ref['r1_ms']} R2={ref['r2_ms']} R3={ref['r3_ms']}) vs "
        f"engine {tot_eng} ms (R1={eng['r1_ms']} R2={eng['r2_ms']} "
        f"R3={eng['r3_ms']})"
    )
    print(
        f"MRApproxOutliers wall: reference {ref['approx_ms']} ms vs "
        f"engine {eng_ms} ms (at own D) / {at_ref_ms} ms (at ref D)"
    )
    spark.stop()
    return 0 if match else 1


if __name__ == "__main__":
    sys.exit(main())
