"""Generate pinned sf0.01 golden values for the FFT family oracles.

The MRFFT pipeline (fft_coreset → sequential_fft → radius) is a seeded,
order-canonicalized pure function of the fixture data, so its sf0.01
outputs are stable constants. This script runs the engine once at sf0.01
and writes them to ``big_data_computing__spark/plans/fft_golden_sf001.py``,
which ``__spark_entry__.oracle_sql`` embeds as SQL literals:

- c2_fft_coreset  → the exploded (grp, dim, round(value, 6)) rows
- c3_mrfft_radius → the 64-dim centers (DuckDB recomputes the radius from
  them — an independent check of the R3 arithmetic) + coreset size
- c8_fft_radius_outliers → the 2-D centers on the customer point set
- x_ann_ivf_topk  → reuses the c3 centers as the IVF quantizer

Determinism is asserted by running the coreset twice.

Usage: python tools/gen_fft_golden.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np
from pyspark.sql import functions as F

import __spark_entry__ as entry
from big_data_computing__spark.operators.clustering import fft_coreset, mr_fft
from big_data_computing__spark.session import get_session
from big_data_computing__spark.sources import readers as rd

SF_DIR = "/root/testdata/sf0.01"
OUT = (
    os.path.join(REPO, "big_data_computing__spark/plans/fft_golden_sf001.py")
)


def coreset_rows(spark):
    cs = fft_coreset(
        rd.embedding_points(spark, SF_DIR),
        entry.FFT_K,
        entry.FFT_L,
        entry.SEED,
    )
    rows = cs.select(
        "grp", F.posexplode("features").alias("dim", "value")
    ).select("grp", "dim", F.round("value", 6).alias("value"))
    return sorted(
        (r["grp"], r["dim"], r["value"]) for r in rows.collect()
    )


def main() -> None:
    spark = get_session()

    r1 = coreset_rows(spark)
    r2 = coreset_rows(spark)
    assert r1 == r2, "fft_coreset is not deterministic across runs"
    print(f"c2 coreset rows: {len(r1)} (deterministic)")

    emb = rd.embedding_points(spark, SF_DIR)
    res_nd = mr_fft(emb, k=entry.FFT_K, l=entry.FFT_L, seed=entry.SEED)
    res_nd2 = mr_fft(emb, k=entry.FFT_K, l=entry.FFT_L, seed=entry.SEED)
    assert np.array_equal(res_nd.centers, res_nd2.centers)
    print(
        f"c3: radius={res_nd.radius!r} coreset_size={res_nd.coreset_size}"
    )

    from big_data_computing__spark.operators.similarity import (
        train_opq,
        train_pq_codebooks,
        train_pq_codebooks_residual,
    )

    raw_emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    pq1 = train_pq_codebooks(raw_emb, seed=entry.SEED)
    pq2 = train_pq_codebooks(raw_emb, seed=entry.SEED)
    assert pq1 == pq2, "PQ codebook training is not deterministic"
    print(f"pq: {len(pq1)} codebooks × {len(pq1[0])} centroids")

    opq1 = train_opq(raw_emb, seed=entry.SEED)
    opq2 = train_opq(raw_emb, seed=entry.SEED)
    assert opq1 == opq2, "OPQ training is not deterministic"
    print(f"opq: {len(opq1[0])}-dim rotation + {len(opq1[1])} codebooks")

    from big_data_computing__spark.operators.similarity import (
        train_opq_ivf_rpq,
    )

    oir1 = train_opq_ivf_rpq(
        raw_emb, n_cells=entry.FFT_K, l=entry.FFT_L, seed=entry.SEED
    )
    oir2 = train_opq_ivf_rpq(
        raw_emb, n_cells=entry.FFT_K, l=entry.FFT_L, seed=entry.SEED
    )
    assert oir1 == oir2, "OPQ-IVF-RPQ training is not deterministic"
    print(
        f"opq-ivf-rpq: {len(oir1[1])} rotated centers + "
        f"{len(oir1[2])} residual codebooks"
    )

    c3_centers = [[float(v) for v in c] for c in res_nd.centers]
    rpq1 = train_pq_codebooks_residual(raw_emb, c3_centers, seed=entry.SEED)
    rpq2 = train_pq_codebooks_residual(raw_emb, c3_centers, seed=entry.SEED)
    assert rpq1 == rpq2, "residual PQ training is not deterministic"
    print(f"rpq: {len(rpq1)} codebooks × {len(rpq1[0])} centroids")

    pts2d = rd.customer_points(spark, SF_DIR)
    pts_nd = pts2d.select(
        "id",
        F.array(F.col("x").cast("double"), F.col("y").cast("double")).alias(
            "features"
        ),
    )
    res_2d = mr_fft(pts_nd, k=entry.FFT_K, l=entry.FFT_L, seed=entry.SEED)
    print(
        f"c8: radius={res_2d.radius!r} coreset_size={res_2d.coreset_size}"
    )

    with open(OUT, "w") as f:
        f.write(
            '"""Pinned sf0.01 goldens for the FFT-family oracles '
            "(generated by\ntools/gen_fft_golden.py — regenerate after "
            'any change to the FFT kernel)."""\n\n'
        )
        f.write(f"C2_ROWS = {r1!r}\n\n")
        f.write(
            "C3_CENTERS = "
            f"{[[float(v) for v in c] for c in res_nd.centers]!r}\n\n"
        )
        f.write(f"C3_CORESET_SIZE = {res_nd.coreset_size}\n\n")
        f.write(f"C3_RADIUS = {res_nd.radius!r}\n\n")
        f.write(
            "C8_CENTERS = "
            f"{[[float(v) for v in c] for c in res_2d.centers]!r}\n\n"
        )
        f.write(f"C8_CORESET_SIZE = {res_2d.coreset_size}\n\n")
        f.write(f"C8_RADIUS = {res_2d.radius!r}\n\n")
        f.write(f"PQ_CODEBOOKS = {pq1!r}\n\n")
        f.write(f"RPQ_CODEBOOKS = {rpq1!r}\n\n")
        f.write(f"OPQ_ROTATION = {opq1[0]!r}\n\n")
        f.write(f"OPQ_CODEBOOKS = {opq1[1]!r}\n\n")
        f.write(f"OPQ_IVF_CENTERS = {oir1[1]!r}\n\n")
        f.write(f"OPQ_RPQ_CODEBOOKS = {oir1[2]!r}\n")
    print(f"wrote {OUT}")
    spark.stop()


if __name__ == "__main__":
    main()
