"""SemDeDup-style semantic deduplication: k-means cluster the embedding
space, then compare pairs ONLY inside each cluster (Abbas et al. 2023,
"SemDeDup: Data-efficient learning at web-scale through semantic
deduplication" — public arXiv method description).

Scale shape: the global all-pairs O(n²) cosine comparison becomes
k × O((n/k)²) — pick k ∝ n so mean cluster size stays bounded (SemDeDup
used k=50k for LAION-scale corpora), and the per-cluster work is a small
dense matmul. Clustering is the deterministic distributed k-means from
operators/ivf.py (one shuffle per Lloyd iteration); the per-cluster pass
is ONE applyInPandas shuffle on the cell id, NumPy-vectorized inside.

Residual hazard (documented, same as every clustered dedup): a degenerate
hot cluster re-quadratizes — cap cluster size (split hot cells by a
secondary hash) before the pairwise pass; `cap` below enforces that
contract and fails loudly rather than OOMing a task.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyetl_spark.session import ship_by_value


_OUT_SCHEMA = (
    "vec_id long, cell int, keep boolean, dup_of long"
)


def _dedup_cell(pdf: pd.DataFrame, tau: float, cap: int) -> pd.DataFrame:
    if len(pdf) > cap:
        raise ValueError(
            f"semdedup cell size {len(pdf)} exceeds cap {cap}: raise k "
            "or split hot cells by a secondary hash before the pairwise pass"
        )
    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    E = np.stack(pdf["e"].to_numpy()).astype(np.float64)
    norms = np.linalg.norm(E, axis=1)
    norms[norms == 0.0] = 1.0
    E = E / norms[:, None]
    S = E @ E.T
    n = len(pdf)
    ids = pdf["vec_id"].to_numpy()
    dup_of = np.full(n, -1, dtype=np.int64)
    for i in range(1, n):
        earlier = S[i, :i]
        hits = np.nonzero(earlier > tau)[0]
        if hits.size:
            # representative = LOWEST-id earlier vector above threshold —
            # deterministic, independent of float argmax tie order
            dup_of[i] = ids[hits[0]]
    return pd.DataFrame(
        {
            "vec_id": ids,
            "cell": pdf["cell"].to_numpy(),
            "keep": dup_of < 0,
            "dup_of": np.where(dup_of < 0, None, dup_of),
        }
    )


def semdedup_assign(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "e",
    k: int = 8,
    tau: float = 0.99,
    iters: int = 2,
    cap: int = 200_000,
) -> DataFrame:
    """Assign every vector keep/drop + its representative.

    Returns DataFrame(vec_id, cell, keep, dup_of): ``keep`` rows form the
    deduplicated corpus; each dropped row points at the lowest-id vector
    in its cluster whose cosine similarity exceeds ``tau``.
    """
    from pyetl_spark.operators.ivf import ivf_assign, kmeans_fit

    ship_by_value(__name__)
    v = vectors.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("e")
    )
    cents = kmeans_fit(v, id_col="vec_id", vec_col="e", k=k, iters=iters)
    assigned = ivf_assign(v, cents, id_col="vec_id", vec_col="e")

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        return _dedup_cell(pdf, tau, cap)

    return assigned.groupBy("cell").applyInPandas(run, schema=_OUT_SCHEMA)


def _dedup_cell_exact(pdf: pd.DataFrame, tau: float, cap: int) -> pd.DataFrame:
    """Fold-order-exact variant of ``_dedup_cell`` (r7 oracle tier):
    sim(i,j) = (dot/den_i)/den_j with the dot accumulated over the
    DIMENSION axis ascending (each S[a,b] receives += E[a,j]·E[b,j] in j
    order — the identical IEEE sequence as the zip_with/aggregate fold a
    SQL oracle computes) and den = 1.0 for zero vectors, sqrt(Σx²)
    otherwise (Σ ascending too). Same keep/dup_of semantics."""
    if len(pdf) > cap:
        raise ValueError(
            f"semdedup cell size {len(pdf)} exceeds cap {cap}: raise k "
            "or split hot cells by a secondary hash before the pairwise pass"
        )
    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    E = np.stack(pdf["e"].to_numpy()).astype(np.float64)
    n = len(pdf)
    S = np.zeros((n, n), dtype=np.float64)
    nsq = np.zeros(n, dtype=np.float64)
    for j in range(E.shape[1]):  # dim-order == aggregate fold order
        S += E[:, j, None] * E[None, :, j]
        nsq += E[:, j] * E[:, j]
    den = np.where(nsq == 0.0, 1.0, np.sqrt(nsq))
    sim = (S / den[:, None]) / den[None, :]
    ids = pdf["vec_id"].to_numpy()
    dup_of = np.full(n, -1, dtype=np.int64)
    for i in range(1, n):
        hits = np.nonzero(sim[i, :i] > tau)[0]
        if hits.size:
            dup_of[i] = ids[hits[0]]  # lowest earlier id above tau
    return pd.DataFrame(
        {
            "vec_id": ids,
            "cell": pdf["cell"].to_numpy(),
            "keep": dup_of < 0,
            "dup_of": np.where(dup_of < 0, None, dup_of),
        }
    )


def semdedup_assign_exact(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "e",
    k: int = 8,
    tau: float = 0.99,
    iters: int = 2,
    cap: int = 200_000,
) -> DataFrame:
    """Oracle-replayable ``semdedup_assign``: clusters come from
    ``kmeans_fit_exact`` (phash60 seeds, integer-quantized means) and
    the in-cell pairwise pass from ``_dedup_cell_exact`` — every float
    op a fixed-order IEEE step a DuckDB oracle reproduces bit-for-bit.
    Same k×O((n/k)²) scale contract as the default form."""
    from pyetl_spark.operators.ivf import ivf_assign, kmeans_fit_exact

    ship_by_value(__name__)
    v = vectors.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("e")
    )
    cents = kmeans_fit_exact(
        v, id_col="vec_id", vec_col="e", k=k, iters=iters
    )
    assigned = ivf_assign(v, cents, id_col="vec_id", vec_col="e")

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        return _dedup_cell_exact(pdf, tau, cap)

    return assigned.groupBy("cell").applyInPandas(run, schema=_OUT_SCHEMA)
