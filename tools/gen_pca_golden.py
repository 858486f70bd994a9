"""Generate pinned sf0.01 PCA coefficients for the whitened-space
oracles (x_pca_semdedup) — ENGINE-INDEPENDENTLY.

The whitening map is a pure function of the data: DuckDB computes the
integer-exact scatter (the same SQL the x_embed_scatter oracle runs —
already hash-verified against the engine), then this script replicates
``similarity.embedding_pca``'s driver arithmetic literally (cov from
the 9-dp cov cells, mean = s_i / n / scale, numpy eigh, descending
eigenvalue order, largest-|coordinate|-positive sign pinning). Because
the engine's live run does the identical arithmetic on the identical
(bit-equal, oracle-verified) scatter rows, its coefficients equal
these pinned ones bit-for-bit — so the oracle pins are independent of
the engine rather than copied from it.

Writes big_data_computing__spark/plans/pca_golden_sf001.py.

Usage: python tools/gen_pca_golden.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb
import numpy as np

from big_data_computing__spark.operators.similarity import (
    embedding_scatter_sql,
)

SF_DIR = "/root/testdata/sf0.01"
K = 8
M = 4
SCALE = 1_000_000
OUT = "big_data_computing__spark/plans/pca_golden_sf001.py"


def main() -> None:
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    rows = con.sql(embedding_scatter_sql(K, SCALE)).fetchall()
    n = rows[0][2]
    cov = np.zeros((K, K))
    mean = np.zeros(K)
    for i, j, n_vecs, s_i, s_j, s_ij, c in rows:
        cov[i - 1, j - 1] = cov[j - 1, i - 1] = c
        if i == j:
            mean[i - 1] = s_i / n_vecs / SCALE
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:M]
    comps = evecs[:, order]
    for c in range(comps.shape[1]):
        if comps[np.argmax(np.abs(comps[:, c])), c] < 0:
            comps[:, c] = -comps[:, c]
    lam = [float(evals[o]) for o in order]
    assert lam[-1] > 0, "whitening needs strictly positive eigenvalues"
    gaps = np.diff(sorted(evals))
    assert min(abs(g) for g in gaps) > 1e-12, (
        "near-degenerate eigenvalues would make eigenvectors unstable"
    )

    with open(OUT, "w") as f:
        f.write(
            '"""Pinned sf0.01 PCA/whitening coefficients — generated\n'
            "engine-independently by tools/gen_pca_golden.py (DuckDB\n"
            "scatter + the documented driver arithmetic). Regenerate if\n"
            'the embeddings fixture changes."""\n\n'
            f"PCA_K = {K}\nPCA_M = {M}\nPCA_SCALE = {SCALE}\n\n"
        )
        f.write(f"PCA_MEAN = {[float(x) for x in mean]!r}\n\n")
        f.write(
            "PCA_COMPS = [\n"
            + "".join(
                f"    {[float(x) for x in comps[d]]!r},\n"
                for d in range(K)
            )
            + "]\n\n"
        )
        f.write(f"PCA_EVALS = {lam!r}\n")
    print(f"wrote {OUT}: n={n}, evals={lam}")


if __name__ == "__main__":
    main()
