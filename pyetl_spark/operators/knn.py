"""Approximate nearest-neighbor search over embedding columns (north-star
similarity search).

Two strategies sharing one contract (probe df × corpus df → top-k rows):

- ``cosine_topk_bruteforce``: exact; broadcast the probe set, one corpus
  pass, per-probe heap via window row_number. Right when |probes| is small.
- ``cosine_topk_lsh``: random-hyperplane (sign-random-projection) LSH.
  Signature bit j = sign(v · r_j) with deterministic pseudo-random planes;
  candidates share a signature band; exact cosine re-rank on candidates.
  P[bit match] = 1 - angle/π — the classic SRP guarantee.

The plane dot-products are JVM higher-order folds (no Python); planes are
derived from a splitmix scramble of (seed, j, dim) so signatures are stable
across runs and cluster topologies — replayability again.

At 100 TB the corpus side is the big relation: both paths scan it once,
shuffle only (band, signature) keys or nothing at all; an IVF variant
(cluster-assign via vec_centroid, search nearest cells) drops out of the
same pieces — centroids from `vec_centroid`, assignment via
`cosine_topk_bruteforce` against the centroid table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pyetl_spark.parity import cosine, dot


def scramble(x: int) -> int:
    """splitmix64 finalizer: a pure 64-bit integer mix, shared by the SRP
    planes here and the minhash hash-family parameters."""
    x = (x ^ (x >> 30)) * 0xBF58476D1CE4E5B9 % (1 << 64)
    x = (x ^ (x >> 27)) * 0x94D049BB133111EB % (1 << 64)
    return x ^ (x >> 31)


def _planes(n_bits: int, dim: int, seed: int) -> list[list[float]]:
    """Deterministic ±1 hyperplanes (Rademacher entries are enough for
    SRP and keep the fold integer-friendly)."""
    return [
        [
            1.0 if scramble(seed * 1_000_003 + j * dim + d) & 1 else -1.0
            for d in range(dim)
        ]
        for j in range(n_bits)
    ]


def _dot_sql(vec_sql: str, plane: list[float]) -> str:
    """Spark SQL text of ``parity.dot(vec, plane)`` — the same
    aggregate(zip_with(...)) left fold, so the resulting doubles are
    bit-identical; built as ONE string so the whole plane bank costs one
    parser call instead of ~dim Py4J round-trips per plane (the r8 bench
    regression in vec_ann_lsh was exactly this: plan CONSTRUCTION, not
    execution, grew past exec time).

    ``vec_sql`` is a column NAME and is backtick-quoted, so names that
    aren't plain identifiers (spaces, dashes, reserved words — all legal
    under F.col) parse the same way the old Column path bound them."""
    arr = ",".join("1.0D" if p > 0 else "-1.0D" for p in plane)
    quoted = "`" + vec_sql.replace("`", "``") + "`"
    return (
        f"aggregate(zip_with({quoted}, array({arr}), (x, p) -> x * p), "
        "0.0D, (a, x) -> a + x)"
    )


def srp_signature(
    vec: Column | str, n_bits: int = 16, dim: int = 64, seed: int = 42
) -> Column:
    """Column: bigint sign-random-projection signature of an embedding.

    When ``vec`` is a column NAME (string), the signature compiles to a
    single ``F.expr`` string — one parser round-trip for the whole
    n_bits × dim plane bank. The Column path builds the same expression
    via the DataFrame API (kept for composed-column callers); both forms
    left-fold each plane dot product in element order, so the signatures
    are bit-identical.
    """
    if isinstance(vec, str):
        terms = " | ".join(
            f"(CASE WHEN {_dot_sql(vec, plane)} > 0 "
            f"THEN CAST(SHIFTLEFT(CAST(1 AS BIGINT), {j}) AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
            for j, plane in enumerate(_planes(n_bits, dim, seed))
        )
        return F.expr(terms)
    bits = [
        F.when(
            dot(vec, F.array(*[F.lit(p) for p in plane])) > 0,
            F.shiftleft(F.lit(1).cast("long"), j),
        )
        .otherwise(0)
        .cast("long")
        for j, plane in enumerate(_planes(n_bits, dim, seed))
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def cosine_topk_bruteforce(
    probes: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    probe_id: str = "probe_id",
    cand_id: str = "cand_id",
    probe_vec: str = "probe_vec",
    cand_vec: str = "cand_vec",
) -> DataFrame:
    """Exact top-k cosine neighbors: broadcast probes × one corpus scan."""
    pairs = F.broadcast(probes).crossJoin(corpus).filter(
        F.col(cand_id) != F.col(probe_id)
    )
    sim = cosine(F.col(probe_vec), F.col(cand_vec))
    w = Window.partitionBy(probe_id).orderBy(
        F.col("sim").desc(), F.col(cand_id)
    )
    return (
        pairs.select(probe_id, cand_id, sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def cosine_topk_lsh(
    probes: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_bits: int = 16,
    bands: int = 4,
    dim: int = 64,
    seed: int = 42,
    probe_id: str = "probe_id",
    cand_id: str = "cand_id",
    probe_vec: str = "probe_vec",
    cand_vec: str = "cand_vec",
) -> DataFrame:
    """Approximate top-k: SRP signature bands prune the candidate set, then
    exact cosine re-ranks survivors. Recall rises with bands; cost falls
    with n_bits/bands (longer band keys → smaller buckets)."""
    rows = n_bits // bands
    mask = (1 << rows) - 1

    def banded(df: DataFrame, idc: str, vecc: str, bi: str, bv: str):
        sig = srp_signature(vecc, n_bits, dim, seed)
        return df.withColumn("_sig", sig).select(
            idc,
            vecc,
            F.posexplode(
                F.array(
                    *[
                        F.shiftright(F.col("_sig"), rows * i).bitwiseAND(mask)
                        for i in range(bands)
                    ]
                )
            ).alias(bi, bv),
        )

    pb = banded(probes, probe_id, probe_vec, "bi", "bv")
    cb = banded(corpus, cand_id, cand_vec, "bi2", "bv2")
    cands = (
        pb.join(
            cb,
            (F.col("bi") == F.col("bi2"))
            & (F.col("bv") == F.col("bv2"))
            & (F.col(cand_id) != F.col(probe_id)),
        )
        .select(probe_id, probe_vec, cand_id, cand_vec)
        .distinct()
    )
    sim = cosine(F.col(probe_vec), F.col(cand_vec))
    w = Window.partitionBy(probe_id).orderBy(
        F.col("sim").desc(), F.col(cand_id)
    )
    return (
        cands.select(probe_id, cand_id, sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def embedding_dedup_assign(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_bits: int = 16,
    bands: int = 4,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-dup CLUSTER assignment — the scale twin of
    the exact pairwise `dedup_embedding_cosine` (which is quadratic and
    exists id-bounded for the oracle).

    Same contract and edge machinery as MinHash's `minhash_dedup_assign`
    (operators/minhash._candidate_edges — salted star/chain families,
    linear in corpus × bands, skew-bounded per task), with SRP banding
    in place of minhash banding: vectors sharing any signature band
    become candidate neighbors (P[bit match] = 1 - angle/π), candidate
    EDGES are verified with exact cosine ≥ threshold, and connected
    components close transitive chains.

    Returns (``id_col``, keeper_id): keeper = min id of the verified
    near-dup cluster; singletons keep themselves. Cost: one signature
    pass (JVM folds), one band shuffle, ≤ ~2·bands edges per vector to
    verify, O(log diameter) component rounds.

    EXACT duplicates are pre-collapsed before LSH (one groupBy on the
    vector value; each identical-embedding group rides one
    representative = its min id). Two reasons: (a) dup-heavy corpora
    shrink the banding input B itself — the residual-skew advice in
    minhash_dedup_assign's docstring, applied; (b) it makes exact-copy
    recovery DETERMINISTIC — without it, even identical vectors connect
    only if a verified edge family path survives inside their shared
    buckets, which fails when interlopers (random band collisions)
    stand between them in every band (observed at sf0.01: star and
    chain edges both land on non-near members and die at the cosine
    verify). Near-but-not-identical recall remains probabilistic, as
    LSH inherently is. At 100 TB, group by xxhash64 of the raw vector
    bytes instead of the array value to cut shuffle width.
    """
    from pyetl_spark.operators.components import connected_components
    from pyetl_spark.operators.minhash import _candidate_edges

    exact = vectors.groupBy(vec_col).agg(F.min(id_col).alias("_rep"))
    member_rep = vectors.join(exact, vec_col).select(
        F.col(id_col).alias("_member"), "_rep"
    )
    reps = exact.select(F.col("_rep").alias(id_col), vec_col)
    vectors = reps

    rows = n_bits // bands
    mask = (1 << rows) - 1
    sig = srp_signature(vec_col, n_bits, dim, seed)
    banded = vectors.withColumn("_sig", sig).select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("_sig"), rows * i).bitwiseAND(mask)
                    for i in range(bands)
                ]
            )
        ).alias("band_idx", "band_hash"),
    )
    edges = _candidate_edges(banded)
    v = vectors.select(
        F.col(id_col).alias("_vid"), F.col(vec_col).alias("_v")
    )
    a = v.select(F.col("_vid").alias("id_a"), F.col("_v").alias("_va"))
    b = v.select(F.col("_vid").alias("id_b"), F.col("_v").alias("_vb"))
    sim = cosine(F.col("_va"), F.col("_vb"))
    verified = (
        edges.join(a, "id_a")
        .join(b, "id_b")
        .filter(sim >= threshold)
        .select("id_a", "id_b")
    )
    comp = connected_components(verified, src="id_a", dst="id_b")
    # rep → cluster keeper (component = min rep id = min id overall,
    # because each rep is already the min of its exact group), then fan
    # the keeper back out to every member of each exact group
    rep_keeper = (
        reps.select(F.col(id_col).alias("_rep"))
        .join(
            comp.select(
                F.col("node").alias("_rep"),
                F.col("component").alias("_keeper"),
            ),
            "_rep",
            "left",
        )
        .select("_rep", F.coalesce("_keeper", F.col("_rep")).alias("_keeper"))
    )
    return member_rep.join(rep_keeper, "_rep").select(
        F.col("_member").alias(id_col),
        F.col("_keeper").alias("keeper_id"),
    )
