"""LLM-pipeline vector operators (SURVEY.md §2.10): norms, centroids,
brute-force cosine top-k over the embeddings table.

Float discipline: every reduction over an embedding is a zero-seeded left
fold built by the parity.py kernels (``cosine``/``norm_sq`` and their
DuckDB twins), so partial results are bit-identical — rankings then
compare identical doubles and need only the vec_id tiebreak. float32 →
float64 casts are lossless, and both sides cast before folding.

Scale path: brute-force kNN is O(probes × corpus) — fine for a fixed probe
set, fatal for all-pairs at 100 TB; the LSH-bucketed variant lives in
operators/knn.py + operators/minhash.py (Tier C, recall-tested).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyetl_spark.parity import (
    COSINE,
    DOT,
    NORM_SQ,
    R,
    cosine,
    fxp,
    norm_sq,
    rnd,
)
from pyetl_spark.registry import query
from pyetl_spark.tables import load_tables

def _to_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


@query(
    "vec_norm",
    oracle=f"""
    SELECT vec_id, label,
           {R(f"sqrt({NORM_SQ('list_transform(embedding, x -> CAST(x AS DOUBLE))')})", 4)}
             AS l2_norm,
           len(embedding) AS dim
    FROM embeddings
    """,
)
def vec_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norm per embedding (SURVEY §2.10 `vec_norm`): JVM-side higher-order
    fold, no Python, no shuffle — a pure narrow map at any scale."""
    e = load_tables(spark, sf_dir).embeddings
    return e.select(
        "vec_id",
        "label",
        rnd(F.sqrt(norm_sq(_to_double(F.col("embedding")))), 4).alias(
            "l2_norm"
        ),
        F.size("embedding").alias("dim"),
    )


@query(
    "vec_centroid",
    oracle=f"""
    WITH exploded AS (
      SELECT label,
             generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), means AS (
      SELECT label, pos,
             CAST(sign(sum(x) / count(*))
                  * floor(abs(sum(x) / count(*)) * 10000.0 + 0.5)
                  AS BIGINT) AS m_fp
      FROM exploded GROUP BY label, pos
    )
    SELECT label,
           array_to_string(list(m_fp ORDER BY pos), '|') AS centroid,
           count(*) AS dim
    FROM means GROUP BY label
    """,
)
def vec_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean vector per label (SURVEY §2.10 `vec_centroid`): posexplode →
    per-(label, position) mean → reassemble position-sorted.

    Two shuffles on (label,pos) then (label) — both tiny key spaces; at
    100 TB the partial aggregate does almost all the work map-side.

    The centroid serializes as '|'-joined FIXED-POINT (1e-4) integers:
    array cells break the driver's pandas canon, and double→string
    formatting diverges across engines near exponent boundaries — integer
    text is the only representation that is both hashable and
    engine-stable."""
    e = load_tables(spark, sf_dir).embeddings
    exploded = e.select(
        "label", F.posexplode("embedding").alias("pos0", "x32")
    ).select(
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.col("x32").cast("double").alias("x"),
    )
    mean = F.sum("x") / F.count(F.lit(1))
    means = exploded.groupBy("label", "pos").agg(
        (F.signum(mean) * F.floor(F.abs(mean) * 10000.0 + F.lit(0.5)))
        .cast("long")
        .alias("m_fp")
    )
    return means.groupBy("label").agg(
        F.concat_ws(
            "|",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m_fp"))),
                lambda s: s.getField("m_fp").cast("string"),
            ),
        ).alias("centroid"),
        F.count("*").alias("dim"),
    )


@query(
    "vec_cosine_topk",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), sims AS (
      SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
             {COSINE('p.e', 'c.e')}
               AS sim
      FROM v p JOIN v c ON p.vec_id < 10 AND c.vec_id <> p.vec_id
    )
    SELECT probe_id, cand_id, {R('sim', 4)} AS cosine_sim, rn AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rn
      FROM sims
    ) WHERE rn <= 5
    """,
)
def vec_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine kNN for a fixed probe set (SURVEY §2.10
    `vec_cosine_topk`): top-5 neighbors of each vec_id<10.

    The probe side broadcasts (10 rows), so the "cross" join is a single
    broadcast nested loop over one corpus pass; ranking uses the UNROUNDED
    sim (bit-identical on both engines by fold construction) + vec_id
    tiebreak, so the selected row set is deterministic.
    """
    e = load_tables(spark, sf_dir).embeddings
    v = e.select("vec_id", _to_double(F.col("embedding")).alias("e"))
    probes = v.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), F.col("e").alias("pe")
    )
    cands = v.select(F.col("vec_id").alias("cand_id"), F.col("e").alias("ce"))
    pairs = F.broadcast(probes).crossJoin(cands).filter(
        F.col("cand_id") != F.col("probe_id")
    )
    sim = cosine(F.col("pe"), F.col("ce"))
    w = Window.partitionBy("probe_id").orderBy(
        F.col("sim").desc(), F.col("cand_id")
    )
    return (
        pairs.select("probe_id", "cand_id", sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "probe_id", "cand_id", rnd(F.col("sim"), 4).alias("cosine_sim"),
            "rank",
        )
    )


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings WHERE vec_id < 150
    ), pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             {COSINE('a.e', 'b.e')} AS sim
      FROM v a JOIN v b ON a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, {R('sim', 4)} AS cosine_sim
    FROM pairs WHERE sim >= 0.25
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (north star: embedding-based
    near-dup): all pairs in a bounded id range with cosine >= 0.25.

    The threshold test runs on the unrounded fold-built sim (bit-identical
    both engines) so pair membership is deterministic. The unbounded
    all-pairs version is exactly what LSH/IVF blocking replaces at 100 TB
    (operators/knn.py)."""
    e = load_tables(spark, sf_dir).embeddings
    v = e.filter(F.col("vec_id") < 150).select(
        "vec_id", _to_double(F.col("embedding")).alias("e")
    )
    a = v.select(F.col("vec_id").alias("vec_a"), F.col("e").alias("ea"))
    b = v.select(F.col("vec_id").alias("vec_b"), F.col("e").alias("eb"))
    pairs = a.join(b, F.col("vec_a") < F.col("vec_b"))
    sim = cosine(F.col("ea"), F.col("eb"))
    return (
        pairs.select("vec_a", "vec_b", sim.alias("sim"))
        .filter(F.col("sim") >= 0.25)
        .select("vec_a", "vec_b", rnd(F.col("sim"), 4).alias("cosine_sim"))
    )


@query(
    "dedup_embedding_quantized",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             array_to_string(list_transform(embedding,
               x -> CAST(sign(CAST(x AS DOUBLE))
                         * floor(abs(CAST(x AS DOUBLE)) * 4.0 + 0.5)
                         AS INTEGER)), '|') AS code
      FROM embeddings
    )
    SELECT code, min(vec_id) AS keeper_vec_id, count(*) AS n_members
    FROM q
    GROUP BY code
    HAVING count(*) >= 1
    """,
)
def dedup_embedding_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup by quantization bucketing: coarse-quantize each
    embedding (0.25-wide cells) and group on the integer code — vectors
    that quantize identically are near-identical and collapse to one
    keeper. Unlike pairwise cosine dedup this is ONE hash shuffle on the
    code (exact-dedup plan shape, corpus-linear); the cell width is the
    similarity knob. The quantized code is exact integer math on both
    engines, so the grouping key is deterministic; it is serialized
    '|'-joined (bijective, so grouping is unchanged) because array cells
    break the driver's pandas canon."""
    e = load_tables(spark, sf_dir).embeddings
    code = F.concat_ws(
        "|",
        F.transform(
            "embedding",
            lambda x: (
                F.signum(x.cast("double"))
                * F.floor(F.abs(x.cast("double")) * 4.0 + 0.5)
            )
            .cast("int")
            .cast("string"),
        ),
    )
    return (
        e.select("vec_id", code.alias("code"))
        .groupBy("code")
        .agg(
            F.min("vec_id").alias("keeper_vec_id"),
            F.count("*").alias("n_members"),
        )
    )


def _pca_oracle(
    dim: int = 64,
    scale: float | None = None,
    iters: int | None = None,
) -> str:
    """DuckDB replay of ``top_component_exact`` + projection (see
    operators/pca.py for why every step is bit-reproducible): integer
    moments over fixed-point-quantized coordinates, covariance as a fixed
    float expression, a recursive-CTE power iteration whose folds
    (list_reduce over a 0.0-prepended ascending list) mirror the Python
    loops exactly, first-largest-|coordinate| sign canonicalization, and
    the same centered-dot projection. scale/iters default to the
    ENGINE's constants (operators/pca.PCA_SCALE/PCA_ITERS) — one
    definition, both sides. The power step carries the engine's
    zero-norm guard (degenerate all-constant corpus: keep v, as the
    Python loop's early break does) so the two sides agree there too."""
    from pyetl_spark.operators.pca import PCA_ITERS, PCA_SCALE

    scale = PCA_SCALE if scale is None else scale
    iters = PCA_ITERS if iters is None else iters
    scale = f"{float(scale)!r}"
    d2 = dim * dim

    w_expr = f"list_transform(cov, row -> {DOT('row', 'v')})"
    w_norm = f"sqrt({NORM_SQ(w_expr)})"
    seed_raw = f"list_transform(generate_series(1,{dim}), i -> CAST(i AS DOUBLE))"
    return f"""
    WITH RECURSIVE q AS MATERIALIZED (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
             list_transform(embedding, x ->
               CAST(sign(CAST(x AS DOUBLE))
                    * floor(abs(CAST(x AS DOUBLE)) * {scale} + 0.5)
                    AS BIGINT)) AS qe
      FROM embeddings
    ),
    mom AS MATERIALIZED (
      SELECT pos, CAST(sum(val) AS BIGINT) AS so
      FROM (
        SELECT unnest(flatten(list_transform(qe,
                 a -> list_transform(qe, b -> a * b)))) AS val,
               unnest(generate_series(1, {d2})) AS pos
        FROM q
      ) GROUP BY pos
    ),
    svv AS MATERIALIZED (
      SELECT pos, CAST(sum(val) AS BIGINT) AS sv
      FROM (
        SELECT unnest(qe) AS val, unnest(generate_series(1, {dim})) AS pos
        FROM q
      ) GROUP BY pos
    ),
    covm AS MATERIALIZED (
      SELECT list_transform(generate_series(1,{dim}), i ->
               list_transform(generate_series(1,{dim}), j ->
                 so_l[(i-1)*{dim} + j] / n - (sv_l[i] / n) * (sv_l[j] / n)))
               AS cov,
             list_transform(generate_series(1,{dim}), i -> sv_l[i] / n)
               AS mean
      FROM (
        SELECT (SELECT list(CAST(so AS DOUBLE) ORDER BY pos) FROM mom) AS so_l,
               (SELECT list(CAST(sv AS DOUBLE) ORDER BY pos) FROM svv) AS sv_l,
               (SELECT CAST(count(*) AS DOUBLE) FROM q) AS n
      )
    ),
    power AS (
      SELECT 0 AS it,
             list_transform({seed_raw}, x -> x / sqrt({NORM_SQ(seed_raw)}))
               AS v,
             cov, mean
      FROM covm
      UNION ALL
      SELECT it + 1,
             CASE WHEN {w_norm} = 0.0 THEN v
                  ELSE list_transform({w_expr}, x -> x / {w_norm})
             END,
             cov, mean
      FROM power WHERE it < {iters}
    ),
    canon AS (
      SELECT mean,
             CASE WHEN v[list_position(list_transform(v, x -> abs(x)),
                          list_aggregate(list_transform(v, x -> abs(x)),
                                         'max'))] < 0
                  THEN list_transform(v, x -> -1.0 * x)
                  ELSE v END AS vc
      FROM power WHERE it = {iters}
    )
    SELECT vec_id, label, {R(DOT('centered', 'vc'), 4)} AS pc1
    FROM (
      SELECT q.vec_id, q.label, c.vc,
             list_transform(generate_series(1,{dim}), k -> q.e[k] - c.mean[k])
               AS centered
      FROM q, canon c
    )
    ORDER BY vec_id
    """


@query("vec_pca_project", oracle=_pca_oracle())
def vec_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D PCA projection of every embedding onto the corpus's top
    principal component (operators/pca.py ``top_component_exact`` —
    distributed mapInPandas INTEGER moment aggregation, driver-side
    64×64 pure-Python power iteration). The projection itself is
    JVM-side zip_with/aggregate over literal arrays.

    Tier A (r7 conversion — the 'iterative algorithms can be
    oracle-verified' proof): quantized integer moments are exact under
    any partitioning, every float step is a fixed-order IEEE op, and
    the oracle replays the identical expression tree in DuckDB
    (recursive-CTE power iteration, same folds, same seed, same sign
    rule) — full value-hash parity, not a tolerance check. Direction
    recovery vs numpy and the projection math stay pinned in
    tests/test_pca.py. Downstream use: whitening, 1-D stratified
    sampling, quantization binning."""
    from pyetl_spark.operators.pca import project, top_component_exact

    emb = load_tables(spark, sf_dir).embeddings
    comp, mean = top_component_exact(emb, dim=64)
    return (
        project(emb, comp, mean)
        .select("vec_id", "label", rnd(F.col("pc1"), 4).alias("pc1"))
        .orderBy("vec_id")
    )


@query(
    "vec_knn_classify",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    sims AS (
      SELECT p.vec_id AS probe_id, p.label AS true_label,
             c.label AS cand_label, c.vec_id AS cand_id,
             {COSINE('p.e', 'c.e')}
               AS sim
      FROM v p JOIN v c ON p.vec_id < 20 AND c.vec_id >= 20
    ),
    top5 AS (
      SELECT probe_id, true_label, cand_label
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rn
        FROM sims
      ) WHERE rn <= 5
    ),
    votes AS (
      SELECT probe_id, true_label, cand_label AS predicted_label,
             count(*) AS votes
      FROM top5 GROUP BY probe_id, true_label, cand_label
    )
    SELECT probe_id, true_label, predicted_label, votes,
           (predicted_label = true_label) AS correct
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY probe_id ORDER BY votes DESC, predicted_label) AS vr
      FROM votes
    ) WHERE vr = 1
    """,
)
def vec_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label classification — the evaluation loop that tells you
    whether an embedding space is any good: probes (vec_id<20) get the
    majority label of their 5 nearest corpus neighbors (vec_id≥20) by
    cosine; ties break deterministically (rank: sim then cand_id; vote:
    count then smallest label). Same broadcast-probe pass and identical
    fold order as vec_cosine_topk — bit-equal sims, so the rank cut is
    engine-stable without rounding. At 100 TB the neighbor search swaps
    to IVF/PQ (operators/) and this query becomes its quality gate."""
    emb = load_tables(spark, sf_dir).embeddings
    v = emb.select("vec_id", "label", _to_double(F.col("embedding")).alias("e"))
    p = v.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("probe_id"),
        F.col("label").alias("true_label"),
        F.col("e").alias("pe"),
    )
    c = v.filter(F.col("vec_id") >= 20).select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("cand_label"),
        F.col("e").alias("ce"),
    )
    sim = cosine(F.col("pe"), F.col("ce"))
    w_rank = Window.partitionBy("probe_id").orderBy(
        F.col("sim").desc(), "cand_id"
    )
    top5 = (
        F.broadcast(p)
        .crossJoin(c)
        .withColumn("sim", sim)
        .withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= 5)
    )
    votes = top5.groupBy("probe_id", "true_label", "cand_label").agg(
        F.count("*").alias("votes")
    )
    w_vote = Window.partitionBy("probe_id").orderBy(
        F.col("votes").desc(), "cand_label"
    )
    return (
        votes.withColumn("vr", F.row_number().over(w_vote))
        .filter(F.col("vr") == 1)
        .select(
            "probe_id",
            "true_label",
            F.col("cand_label").alias("predicted_label"),
            "votes",
            (F.col("cand_label") == F.col("true_label")).alias("correct"),
        )
    )


@query(
    "vec_hard_negatives",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), sims AS (
      SELECT p.vec_id AS probe_id, p.label AS probe_label,
             c.vec_id AS cand_id, c.label AS cand_label,
             {COSINE('p.e', 'c.e')}
               AS sim
      FROM v p JOIN v c ON p.vec_id < 10 AND c.label <> p.label
    )
    SELECT probe_id, probe_label, cand_id, cand_label,
           {R('sim', 4)} AS cosine_sim, rn AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rn
      FROM sims
    ) WHERE rn <= 3
    """,
)
def vec_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each probe
    (vec_id<10), the top-3 most-similar candidates with a DIFFERENT
    label — the near-boundary negatives that make embedding models learn,
    found exactly as a retrieval system would (highest cosine among
    wrong-label docs).

    Same fold-deterministic sim and broadcast-probe single corpus pass as
    `vec_cosine_topk` (the probe side is tiny, so the BNLJ is the
    intended plan — whitelisted); ranking uses the UNROUNDED sim with
    cand_id tiebreak. At 100 TB the scale path swaps the brute-force
    pass for the IVF/LSH candidate generation (`vec_ann_ivf`) and keeps
    this exact ranking on the shortlisted candidates."""
    e = load_tables(spark, sf_dir).embeddings
    v = e.select(
        "vec_id", "label", _to_double(F.col("embedding")).alias("e")
    )
    probes = v.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"),
        F.col("label").alias("probe_label"),
        F.col("e").alias("pe"),
    )
    cands = v.select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("cand_label"),
        F.col("e").alias("ce"),
    )
    pairs = F.broadcast(probes).crossJoin(cands).filter(
        F.col("cand_label") != F.col("probe_label")
    )
    sim = cosine(F.col("pe"), F.col("ce"))
    w = Window.partitionBy("probe_id").orderBy(
        F.col("sim").desc(), F.col("cand_id")
    )
    return (
        pairs.select(
            "probe_id", "probe_label", "cand_id", "cand_label",
            sim.alias("sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "probe_id",
            "probe_label",
            "cand_id",
            "cand_label",
            rnd(F.col("sim"), 4).alias("cosine_sim"),
            "rank",
        )
    )


@query(
    "vec_covariance_matrix",
    oracle=f"""
    WITH cells AS (
      SELECT i, j,
             CAST(sign(e[i] * e[j]) * floor(abs(CAST(e[i] AS DOUBLE)
               * CAST(e[j] AS DOUBLE)) * 1000000000000.0 + 0.5) AS BIGINT)
               AS pq,
             CAST(sign(e[i]) * floor(abs(CAST(e[i] AS DOUBLE))
               * 1000000.0 + 0.5) AS BIGINT) AS xi,
             CAST(sign(e[j]) * floor(abs(CAST(e[j] AS DOUBLE))
               * 1000000.0 + 0.5) AS BIGINT) AS xj
      FROM (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings),
           unnest(generate_series(1, len(e))) AS a(i),
           unnest(generate_series(1, len(e))) AS b(j)
      WHERE j >= i
    )
    SELECT CAST(i AS INT) AS pos_i, CAST(j AS INT) AS pos_j,
           CAST(count(*) AS BIGINT) AS n,
           {R("CAST(sum(pq) AS DOUBLE) / 1e12 / count(*)"
              " - (CAST(sum(xi) AS DOUBLE) / 1e6 / count(*))"
              "   * (CAST(sum(xj) AS DOUBLE) / 1e6 / count(*))", 6)}
             AS cov
    FROM cells GROUP BY i, j
    """,
)
def vec_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact empirical covariance matrix of the embedding columns (upper
    triangle, population form cov = E[xy] − E[x]E[y]) — the input PCA /
    whitening / Mahalanobis metrics consume; `vec_pca_project` (Tier B)
    is the eigen-decomposition consumer of exactly this matrix.

    Determinism: each per-row product x_i·x_j is ONE double op snapped to
    a 1e-12 fixed-point grid, each coordinate to 1e-6 — all sums are then
    order-free int64 adds (|Σpq| ≤ ~3e11·rows), and cov is one final
    float expression; the grid is the documented estimator (not an
    approximation of some other estimator). Plan: per row the d(d+1)/2
    pair structs explode into ONE partial/final hash aggregate on (i,j)
    — d²-bounded state, map-side combined, no joins, no Python. At
    100 TB this is a single scan producing a 2080-row matrix."""
    e = load_tables(spark, sf_dir).embeddings
    v = e.select(_to_double(F.col("embedding")).alias("e"))
    dim = F.size("e")
    # per-row upper-triangle pair structs: (i, j, fxp(x_i*x_j), fxp(x_i),
    # fxp(x_j)) — built with array transforms (JVM), flattened, exploded
    idx = F.sequence(F.lit(1), dim)
    pairs = F.flatten(
        F.transform(
            idx,
            lambda i: F.transform(
                F.sequence(i, dim),
                lambda j: F.struct(
                    i.cast("int").alias("pos_i"),
                    j.cast("int").alias("pos_j"),
                    fxp(
                        F.element_at(F.col("e"), i.cast("int"))
                        * F.element_at(F.col("e"), j.cast("int")),
                        10**12,
                    ).alias("pq"),
                    fxp(
                        F.element_at(F.col("e"), i.cast("int")), 10**6
                    ).alias("xi"),
                    fxp(
                        F.element_at(F.col("e"), j.cast("int")), 10**6
                    ).alias("xj"),
                ),
            ),
        )
    )
    cells = v.select(F.explode(pairs).alias("p")).select("p.*")
    return (
        cells.groupBy("pos_i", "pos_j")
        .agg(
            F.count("*").alias("n"),
            F.sum("pq").alias("spq"),
            F.sum("xi").alias("sxi"),
            F.sum("xj").alias("sxj"),
        )
        .select(
            "pos_i",
            "pos_j",
            "n",
            rnd(
                F.col("spq").cast("double")
                / F.lit(1e12)
                / F.col("n").cast("double")
                - (
                    F.col("sxi").cast("double")
                    / F.lit(1e6)
                    / F.col("n").cast("double")
                )
                * (
                    F.col("sxj").cast("double")
                    / F.lit(1e6)
                    / F.col("n").cast("double")
                ),
                6,
            ).alias("cov"),
        )
    )


def _mat_topk(d: int) -> str:
    return f"""
      SELECT {d} AS dim, probe_id, cand_id FROM (
        SELECT probe_id, cand_id, row_number() OVER (
          PARTITION BY probe_id ORDER BY sim_{d} DESC, cand_id) AS rn
        FROM sims
      ) WHERE rn <= 10"""


@query(
    "vec_matryoshka_eval",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    pairs AS (
      SELECT p.vec_id AS probe_id, c.vec_id AS cand_id, p.e AS pe, c.e AS ce
      FROM v p JOIN v c ON p.vec_id < 10 AND c.vec_id <> p.vec_id
    ),
    sims AS (
      SELECT probe_id, cand_id,
             {", ".join(COSINE(f"pe[1:{d}]", f"ce[1:{d}]") + f" AS sim_{d}" for d in (8, 16, 32, 64))}
      FROM pairs
    ),
    topk AS ({" UNION ALL ".join(_mat_topk(d) for d in (8, 16, 32, 64))}
    ),
    truth AS (SELECT probe_id, cand_id FROM topk WHERE dim = 64)
    SELECT dim,
           {R("CAST(count(*) AS DOUBLE) / CAST(10 * (SELECT count(*) FROM v WHERE vec_id < 10) AS DOUBLE)", 4)}
             AS mean_recall_at_10
    FROM topk SEMI JOIN truth USING (probe_id, cand_id)
    GROUP BY dim
    """,
)
def vec_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation retrieval evaluation (Kusupati et al. 2022):
    how much recall@10 survives when cosine ranking uses only the first
    d of 64 embedding dimensions (d = 8/16/32/64)? The practical
    question behind MRL-style embeddings — a 8× shorter prefix cuts ANN
    memory and bandwidth 8×, IF the ranking holds up.

    One broadcast-probe corpus pass computes all four prefix dot
    products simultaneously (slice + the same fold kernel as
    vec_cosine_topk — the corpus is NOT rescanned per dimension), then
    per-(probe, d) top-10 sets are compared against the full-dimension
    truth set. Output: one row per d with mean recall@10; d=64 is 1.0
    by construction (self-check). Deterministic: identical fold order +
    vec_id tiebreak. At 100 TB the same evaluation runs on a hash
    sample of probes; the corpus side is the existing IVF/LSH bucketed
    pass, unchanged. Monotonicity and self-check gates in
    tests/test_matryoshka.py.

    Tier A: every step is deterministic — prefix-fold cosines (the
    bit-parity construction vec_cosine_topk proved), row_number with
    vec_id tiebreaks, set intersection, integer counts — so the oracle
    replays the full evaluation per dim and the driver hash-checks the
    recall numbers themselves."""
    dims = [8, 16, 32, 64]
    k = 10
    e = load_tables(spark, sf_dir).embeddings
    v = e.select("vec_id", _to_double(F.col("embedding")).alias("e"))
    probes = v.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), F.col("e").alias("pe")
    )
    cands = v.select(
        F.col("vec_id").alias("cand_id"), F.col("e").alias("ce")
    )
    pairs = (
        F.broadcast(probes)
        .crossJoin(cands)
        .filter(F.col("cand_id") != F.col("probe_id"))
    )
    sims = pairs.select(
        "probe_id",
        "cand_id",
        *[
            cosine(
                F.slice(F.col("pe"), 1, d), F.slice(F.col("ce"), 1, d)
            ).alias(f"sim_{d}")
            for d in dims
        ],
    ).localCheckpoint(eager=True)
    topk = None
    for d in dims:
        w = Window.partitionBy("probe_id").orderBy(
            F.col(f"sim_{d}").desc(), F.col("cand_id")
        )
        t = (
            sims.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                F.lit(d).alias("dim"), "probe_id", "cand_id"
            )
        )
        topk = t if topk is None else topk.unionAll(t)
    truth = topk.filter(F.col("dim") == 64).select(
        F.col("probe_id").alias("tp"), F.col("cand_id").alias("tc")
    )
    hits = topk.join(
        truth,
        (F.col("probe_id") == F.col("tp"))
        & (F.col("cand_id") == F.col("tc")),
        "left_semi",
    )
    n_probes = probes.count()
    return (
        hits.groupBy("dim")
        .agg(
            rnd(
                F.count(F.lit(1)).cast("double")
                / F.lit(float(k * n_probes)),
                4,
            ).alias("mean_recall_at_10")
        )
        .orderBy("dim")
    )
