"""Product quantization (PQ) — the compressed-vector half of IVF-PQ,
next to operators/ivf.py (coarse cells) and knn.py (exact/LSH search).

A dim-D vector is split into m subvectors of D/m dims; each subspace
gets its own k-codeword codebook (k=16 → a 4-bit code per subspace, so
a 64-dim float vector compresses to m=8 bytes — 32× smaller than
float32, which is what makes billion-scale ANN fit in memory). Search
uses asymmetric distance (ADC): the query stays exact; per (probe,
subspace, codeword) squared distances form an m×k lookup table and a
candidate's distance is the sum of m table entries selected by its
codes.

Scale-first design decisions:
- ONE Lloyd loop trains ALL m codebooks simultaneously over the
  exploded (id, sub, subvec) frame — compound key (sub, cell)
  everywhere. Calling a per-subspace kmeans m times would serialize m
  driver loops and m× the job count for zero extra information.
- Seeding is the hash-spread scheme of ivf.seed_centroids (replayable,
  rand()-free), applied per subspace.
- Codes stay in LONG format (id, sub, code) — the layout every
  downstream join wants; array assembly is a display concern.
- ADC is joins + one aggregation: probe×codebook table (m·k rows per
  probe — broadcast), join on (sub, code), sum per (probe, id), top-k
  window. No Python in the scan path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyetl_spark.operators.ivf import localize_bounded
from pyetl_spark.parity import ordered_sum, sq_dist


def split_subvectors(
    df: DataFrame, id_col: str, vec_col: str, m: int, dim: int
) -> DataFrame:
    """(id, sub, v): subvector j = slice [j·(dim/m)+1, dim/m] (1-based)."""
    d_sub = dim // m
    assert d_sub * m == dim, "m must divide dim"
    subs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("sub"),
                    F.slice(
                        F.col(vec_col).cast("array<double>"),
                        j * d_sub + 1,
                        d_sub,
                    ).alias("v"),
                )
                for j in range(m)
            ]
        )
    )
    return df.select(F.col(id_col).alias("id"), subs.alias("s")).select(
        "id", F.col("s.sub").alias("sub"), F.col("s.v").alias("v")
    )


def _assign(sub_df: DataFrame, codebook: DataFrame) -> DataFrame:
    """(id, sub, v, code, dist): nearest codeword per subvector."""
    paired = sub_df.join(F.broadcast(codebook), "sub")
    d = sq_dist(F.col("v"), F.col("centroid"))
    best = F.min(F.struct(d.alias("d"), F.col("cell").alias("c")))
    return (
        paired.groupBy("id", "sub")
        .agg(F.first("v").alias("v"), best.alias("b"))
        .select(
            "id",
            "sub",
            "v",
            F.col("b.c").alias("code"),
            F.col("b.d").alias("dist"),
        )
    )


def pq_fit(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    dim: int = 64,
    iters: int = 3,
) -> DataFrame:
    """Train all m codebooks in one distributed loop →
    DataFrame(sub, cell, centroid array<double>)."""
    sub_df = split_subvectors(corpus, id_col, vec_col, m, dim)
    h = F.xxhash64("id", "sub")
    best_seed = F.min(F.struct(h.alias("h"), F.col("v").alias("v")))
    per_bucket = (
        sub_df.groupBy("sub", F.pmod(h, F.lit(k)).alias("bucket"))
        .agg(best_seed.alias("b"))
        .select("sub", "bucket", F.col("b.v").alias("centroid"))
    )
    w = Window.partitionBy("sub").orderBy("bucket")
    codebook = per_bucket.select(
        "sub",
        (F.row_number().over(w) - 1).alias("cell"),
        "centroid",
    )
    for _ in range(iters):
        assigned = _assign(sub_df, codebook)
        means = assigned.select(
            "sub", F.col("code").alias("cell"), F.posexplode("v").alias("pos", "x")
        ).groupBy("sub", "cell", "pos").agg(
            (F.sum("x") / F.count(F.lit(1))).alias("mval")
        )
        codebook = means.groupBy("sub", "cell").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mval"))),
                lambda s: s.getField("mval"),
            ).alias("centroid")
        )
        codebook = codebook.localCheckpoint(eager=True)
    return codebook


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
) -> DataFrame:
    """(id, sub, code) — m·(log2 k)-bit compressed corpus, long format."""
    sub_df = split_subvectors(corpus, id_col, vec_col, m, dim)
    return _assign(sub_df, codebook).select("id", "sub", "code")


def reconstruction_mse(
    corpus: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
) -> float:
    """Mean over vectors of the summed squared subspace quantization
    error — the quantity PQ training minimizes."""
    sub_df = split_subvectors(corpus, id_col, vec_col, m, dim)
    assigned = _assign(sub_df, codebook)
    per_vec = assigned.groupBy("id").agg(F.sum("dist").alias("e"))
    return per_vec.agg(F.avg("e").alias("mse")).collect()[0]["mse"]


def adc_topk(
    probes: DataFrame,
    codes: DataFrame,
    codebook: DataFrame,
    probe_id: str = "probe_id",
    probe_vec: str = "embedding",
    m: int = 8,
    dim: int = 64,
    topk: int = 5,
    exclude_self: bool = False,
) -> DataFrame:
    """Asymmetric-distance top-k: (probe_id, id, adc_dist, rank).

    The probe×codebook distance table is m·k rows per probe —
    broadcast; candidate cost is ONE equi-join on (sub, code) + a sum,
    never a distance compute per (probe, candidate, dimension).

    ``exclude_self``: opt-in drop of candidates whose id equals the
    probe id, for probes drawn from the corpus itself. Default False
    (external probes: an id collision must not drop a real neighbor) —
    the single convention shared with ivfpq.ivfpq_topk (r12 ADVICE)."""
    p_sub = split_subvectors(probes, probe_id, probe_vec, m, dim)
    table = (
        p_sub.withColumnRenamed("id", "pid")
        .join(F.broadcast(codebook), "sub")
        .select(
            "pid",
            "sub",
            F.col("cell").alias("code"),
            sq_dist(F.col("v"), F.col("centroid")).alias("pd"),
        )
    )
    # ADC distance = SUM of the m per-subspace table entries — folded in
    # FIXED sub order (collect → sort by sub → ascending fold) instead of
    # F.sum, whose float accumulation order varies with partitioning.
    # Makes the distance bit-deterministic (and SQL-replayable) for the
    # cost of sorting m=8 structs per candidate (r7 oracle tier).
    joined = codes.join(F.broadcast(table), ["sub", "code"])
    if exclude_self:
        joined = joined.filter(F.col("id") != F.col("pid"))
    scored = (
        joined.groupBy("pid", "id")
        .agg(
            ordered_sum("pd", "sub").alias("adc_dist")
        )
    )
    w = Window.partitionBy("pid").orderBy("adc_dist", "id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(
            F.col("pid").alias(probe_id), "id", "adc_dist", "rank"
        )
    )


#: fixed-point quantization for the exact Lloyd means — single source
#: shared with the DuckDB oracle generator (queries/llm_scale._pq_oracle)
#: so a parameter change cannot desynchronize engine and oracle.
PQ_SCALE = 10**4


def pq_fit_exact(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    dim: int = 64,
    iters: int = 2,
    scale: int = PQ_SCALE,
) -> DataFrame:
    """Oracle-replayable ``pq_fit`` (r7, same recipe as
    ivf.kmeans_fit_exact): phash60-seeded buckets per subspace
    (md5-based, cross-engine; (hash, id)-min tiebreak), Lloyd means from
    exact integer sums of fixed-point-quantized coordinates, and the
    argmin assignment's min-struct (already order-free). Codebooks are
    quantized to ``scale`` between iterations — immaterial at 1e-4 of
    the data range, decisive for hash verifiability."""
    from pyetl_spark.parity import phash60_seeded

    sub_df = split_subvectors(corpus, id_col, vec_col, m, dim)
    h = phash60_seeded(F.col("sub"), F.col("id"))
    best_seed = F.min(
        F.struct(h.alias("h"), F.col("id").alias("i"), F.col("v").alias("v"))
    )
    per_bucket = (
        sub_df.groupBy("sub", F.pmod(h, F.lit(k)).alias("bucket"))
        .agg(best_seed.alias("b"))
        .select("sub", "bucket", F.col("b.v").alias("centroid"))
    )
    w = Window.partitionBy("sub").orderBy("bucket")
    codebook = per_bucket.select(
        "sub",
        (F.row_number().over(w) - 1).alias("cell"),
        "centroid",
    )
    # r15 mean update (same move as ivf.kmeans_fit_exact): all d_sub
    # means as flat per-dimension aggregates in ONE groupBy(sub, cell) —
    # the posexplode form shuffled corpus×m×d_sub (sub, cell, pos)
    # partial rows and then re-shuffled the means through a collect_list/
    # array_sort reassembly. One compiled SQL string for the d_sub
    # aggregates; integer fxp sums are order-free and subvectors all
    # carry d_sub positions, so codebooks are bit-identical (pinned by
    # the vec_ann_ivfpq* oracle hashes at 3 SFs).
    d_sub = dim // m
    terms = ", ".join(
        f"(cast(sum(cast(signum(v[{j}]) * "
        f"floor(abs(v[{j}]) * {float(scale)}D + 0.5D) as bigint))"
        f" as double) / cast(count(1) as double)) / {float(scale)}D"
        for j in range(d_sub)
    )
    for _ in range(iters):
        assigned = _assign(sub_df, codebook)
        codebook = (
            assigned.select("sub", F.col("code").alias("cell"), "v")
            .groupBy("sub", "cell")
            .agg(F.expr(f"array({terms})").alias("centroid"))
        )
        # r16: LOCALIZE instead of localCheckpoint (m·k rows of d_sub
        # doubles — bounded index state). The collect executes the
        # iteration's aggregate exactly once, same as the old eager
        # checkpoint, but the VALUES LocalRelation it returns makes the
        # next iteration's `_assign` broadcast (and the final
        # encode/topk broadcasts) job-free instead of re-scanning a
        # checkpointed RDD per consumer. Values bit-identical (IEEE
        # doubles round-trip the driver exactly); lineage is truncated
        # either way.
        codebook = localize_bounded(codebook)
    return codebook
