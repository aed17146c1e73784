"""MinHash + LSH banding — the 100 TB near-duplicate path (SURVEY.md §2.10
`dedup_minhash_lsh`).

Why not the O(n²) pair join of `dedup_near_jaccard`: at 100 TB even a
lang-blocked quadratic is fatal. MinHash LSH makes the cost
O(n · signatures) + O(candidate pairs):

1. shingle/tokenize each doc → distinct token set
2. k minhashes per doc: h_i(doc) = min over tokens of (a_i * xxhash64(tok)
   + b_i) mod p — a universal hash family; P[h_i(A)=h_i(B)] = Jaccard(A,B)
3. group the k-signature into b bands of r rows; hash each band
4. exchange on (band_idx, band_hash): docs sharing any band bucket become
   candidate pairs — probability 1-(1-J^r)^b (the LSH S-curve)
5. verify candidates with exact Jaccard (cheap: |candidates| << n²)

Everything is DataFrame algebra: the signature build is one narrow pass
(higher-order folds over xxhash64 — JVM codegen, no Python), banding is one
explode + one shuffle, verification joins token sets back by doc_id.
Implemented directly (not pyspark.ml.MinHashLSH) so the hash family is
explicit, deterministic, and seed-stable across runs — a requirement for
replayable training-data pipelines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyetl_spark.operators.knn import scramble

# 2^31-1: keeps (h % p) * a inside int64 (product < 2^62) — a 61-bit
# prime would overflow JVM long multiplication
_MERSENNE_P = (1 << 31) - 1


def _hash_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal hash family, derived
    from a splitmix-style integer scramble of the seed (no RNG state)."""
    params = []
    for i in range(num_hashes):
        a = scramble(seed * 2654435761 + 2 * i) % (_MERSENNE_P - 1) + 1
        b = scramble(seed * 40503 + 2 * i + 1) % _MERSENNE_P
        params.append((a, b))
    return params


def minhash_signature(
    tokens_col, num_hashes: int = 32, seed: int = 42
):
    """Column: array<bigint> of `num_hashes` minhashes over a token array.

    Uses xxhash64(token) (JVM, codegen'd) as the base hash; each h_i is an
    affine map mod a Mersenne prime, folded with `array_min` — one narrow
    pass per doc regardless of k.
    """
    base = F.transform(tokens_col, lambda t: F.xxhash64(t))

    def affine(a: int, b: int):
        # PySpark counts lambda parameters — keep exactly one (no
        # default-arg closures, they read as extra lambda args)
        return lambda h: ((F.abs(h) % _MERSENNE_P) * a + b) % _MERSENNE_P

    sigs = [
        F.array_min(F.transform(base, affine(a, b)))
        for a, b in _hash_params(num_hashes, seed)
    ]
    return F.array(*sigs)


def _signature_sql(tokens_expr: str, num_hashes: int, seed: int) -> str:
    """One-string SQL form of ``minhash_signature`` — same hash family,
    same integer ops, same fold order, so the signatures are
    bit-identical to the Column form (pinned by
    test_minhash_signature_sql_equals_column_form). Exists because the
    per-literal Column form costs ~1.3k Py4J round-trips per plan BUILD
    and ``_banded`` runs on every minhash entry point (twice for the
    incremental path) — driver-side plan construction is a scale axis
    (SCALE.md; same fix pattern as operators/knn.py's SRP bank)."""
    base = f"transform({tokens_expr}, t -> xxhash64(t))"
    mins = ", ".join(
        f"array_min(transform({base}, "
        f"h -> ((abs(h) % {_MERSENNE_P}L) * {a}L + {b}L) % {_MERSENNE_P}L))"
        for a, b in _hash_params(num_hashes, seed)
    )
    return f"array({mins})"


def _banded(
    docs: DataFrame,
    id_col: str,
    tokens_col: str,
    num_hashes: int,
    bands: int,
    seed: int,
    include_exact_set_band: bool = False,
) -> DataFrame:
    """(_id, band_idx, band_hash) — one row per doc per band.

    With ``include_exact_set_band`` the J=1.0 guarantee band (bucket key
    ``xxhash64(sort_array(array_distinct(tokens)))``, band_idx =
    ``bands``) is emitted from the SAME pass as the minhash bands —
    ``posexplode`` over a bands+1 array — instead of a separate
    scan+tokenize pipeline union'd on afterwards (r15, guide §2.4: the
    union form planned the whole upstream docs pipeline twice). Rows are
    identical to the old ``unionByName(exact_band)`` by construction:
    same band_idx, same bucket key, one row per bandable doc."""
    rows = num_hashes // bands
    # the token column name is interpolated into SQL text (the compiled
    # `_signature_sql` path) — backtick-quote it the way F.col would, so
    # names containing backticks/spaces survive the parser (same rule as
    # operators/knn.py `_dot_sql`)
    quoted = "`" + tokens_col.replace("`", "``") + "`"
    # r15: materialize the base token-hash array as its OWN projection
    # before the k affine folds. `_signature_sql` textually repeats
    # `transform(tokens, t -> xxhash64(t))` inside every one of the k
    # array_min terms, and higher-order functions are interpreted
    # (CodegenFallback) — no subexpression elimination — so each token
    # was xxhash64'd k times. Two stacked Projects survive the
    # optimizer (CollapseProject declines to inline a non-cheap alias
    # referenced k times; pinned by test_banded_single_base_hash_pass),
    # so the string hashing now runs ONCE per token and only the cheap
    # integer affine maps run k times. Same hash family, same fold
    # order — signatures are bit-identical (the _signature_sql parity
    # test is unchanged). Measured: dedup_minhash_lsh 5.35 → 3.6 s
    # isolated median at sf0.1.
    extra = (
        [
            F.xxhash64(
                F.sort_array(F.array_distinct(F.col(tokens_col)))
            ).alias("_xk")
        ]
        if include_exact_set_band
        else []
    )
    # one carried-column list shared by both selects below (r15 ADVICE:
    # the second select rebuilt the conditional inline)
    extra_cols = [F.col("_xk")] if include_exact_set_band else []
    hashed = docs.select(
        F.col(id_col).alias("_id"),
        F.expr(f"transform({quoted}, t -> xxhash64(t))").alias("_h"),
        *extra,
    )
    mins = ", ".join(
        f"array_min(transform(_h, "
        f"h -> ((abs(h) % {_MERSENNE_P}L) * {a}L + {b}L) % {_MERSENNE_P}L))"
        for a, b in _hash_params(num_hashes, seed)
    )
    sig = F.expr(f"array({mins})")
    band_keys = [
        F.xxhash64(F.lit(i), F.slice(F.col("_sig"), i * rows + 1, rows))
        for i in range(bands)
    ]
    if include_exact_set_band:
        # posexplode position = band_idx, so appending the exact-set key
        # lands it at band_idx == bands — disjoint from every minhash
        # band's buckets (the bucket key is the PAIR), exactly the old
        # separate-frame contract
        band_keys.append(F.col("_xk"))
    return hashed.select(
        "_id", sig.alias("_sig"), *extra_cols
    ).select(
        "_id",
        F.posexplode(F.array(*band_keys)).alias("band_idx", "band_hash"),
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Candidate near-dup pairs via banded minhash buckets.

    Returns distinct (id_a, id_b) with id_a < id_b. Cost: one explode to
    (doc, band) rows, one shuffle on the band bucket, one in-bucket
    self-join. Bucket skew (giant buckets of identical docs) is the one
    scale hazard — AQE skew-split handles moderate cases; degenerate
    corpora should pre-collapse exact dups first (dedup_exact).

    NOTE the quadratic-in-bucket-size caveat: a bucket of B near-identical
    docs emits B²/2 pairs, so the ALL-PAIRS contract is itself the blowup
    on dup-heavy corpora. When the goal is dedup (not pair listing), use
    ``minhash_dedup_assign`` — linear star edges + connected components.
    """
    # NOT pinned, deliberately (r7 measurement): although the self-join
    # references banded on both sides, localCheckpoint-pinning it moved
    # sf0.1 wall from 5.3 s to 5.7 s median — the join/distinct shuffles
    # dominate, and eager materialization costs more than the duplicated
    # signature pass saves. (Winnowing's fpsets pin IS a win because its
    # fingerprint chain re-executes ~7×, not 2×.)
    banded = _banded(docs, id_col, tokens_col, num_hashes, bands, seed)
    left = banded.select(
        F.col("band_idx").alias("bi"),
        F.col("band_hash").alias("bh"),
        F.col("_id").alias("id_a"),
    )
    right = banded.select(
        F.col("band_idx").alias("bi2"),
        F.col("band_hash").alias("bh2"),
        F.col("_id").alias("id_b"),
    )
    return (
        left.join(
            right,
            (F.col("bi") == F.col("bi2"))
            & (F.col("bh") == F.col("bh2"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Full LSH near-dup pipeline: candidates → exact-Jaccard verification.

    Output: (id_a, id_b, jaccard) for verified pairs >= threshold — same
    contract as the exact `dedup_near_jaccard`, sub-quadratic cost.
    """
    cands = lsh_candidate_pairs(
        docs, id_col, tokens_col, num_hashes, bands, seed
    )
    tok = docs.select(F.col(id_col).alias("_tid"), F.col(tokens_col).alias("_t"))
    a = tok.select(F.col("_tid").alias("id_a"), F.col("_t").alias("_ta"))
    b = tok.select(F.col("_tid").alias("id_b"), F.col("_t").alias("_tb"))
    inter = F.size(F.array_intersect("_ta", "_tb")).cast("double")
    union = F.size(F.array_union("_ta", "_tb")).cast("double")
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _candidate_edges(banded: DataFrame, salt_buckets: int = 16) -> DataFrame:
    """Linear candidate-edge families over banded rows — never the
    B²/2 in-bucket clique, and never a single-task whole-bucket sort.

    Every window below partitions by the SALTED sub-bucket key
    (``xxhash64(_id) % salt_buckets``) or by a frame already reduced to
    ≤ salt_buckets rows per bucket, so the largest single-task sort is
    B/salt_buckets — a degenerate 90 %-one-cluster corpus never funnels
    into one straggler task (the hazard of min()/lag() over a raw
    (band_idx, band_hash) window, which AQE cannot split).

    Two window passes, ≤ 2 + small edges per (doc, band) row:

    1. over (band, hash, salt): sub-hub STAR (member → sub-bucket min)
       and CHAIN (member → id-order predecessor) — min and lag share
       one window spec, so this is ONE sort of the banded rows.
    2. over (band, hash) on the ≤ salt_buckets sub-hub rows per bucket:
       HUB STAR (sub-hub → bucket min) and HUB CHAIN (sub-hub →
       predecessor sub-hub) — connects the salt groups; the frame is
       salt_buckets× smaller than the corpus.

    Connectivity: member → sub-hub → bucket-hub transitively links every
    bucket member; chains give near-neighbor fallbacks when a hub is a
    Jaccard outlier (all edges are exact-verified downstream).
    """
    from pyspark.sql import Window

    salted = banded.withColumn(
        "_salt", F.pmod(F.xxhash64("_id"), F.lit(salt_buckets))
    )
    w_sub = Window.partitionBy("band_idx", "band_hash", "_salt").orderBy("_id")
    # the three consumers below re-derive this frame, but they share one
    # physical shuffle via ReusedExchange (same canonical Exchange on
    # (band, hash, salt)) — no pinning needed, and the plan stays
    # introspectable (tests/test_plans.py reads the Window specs)
    first = salted.select(
        "band_idx",
        "band_hash",
        "_salt",
        "_id",
        F.min("_id").over(w_sub).alias("sub_hub"),
        F.lag("_id").over(w_sub).alias("prev"),
    )
    star = first.filter(F.col("_id") != F.col("sub_hub")).select(
        F.col("sub_hub").alias("id_a"), F.col("_id").alias("id_b")
    )
    chain = first.filter(F.col("prev").isNotNull()).select(
        F.col("prev").alias("id_a"), F.col("_id").alias("id_b")
    )
    sub_hubs = first.filter(F.col("_id") == F.col("sub_hub")).select(
        "band_idx", "band_hash", "_id"
    )
    w_hub = Window.partitionBy("band_idx", "band_hash").orderBy("_id")
    second = sub_hubs.select(
        "_id",
        F.min("_id").over(w_hub).alias("hub"),
        F.lag("_id").over(w_hub).alias("prev"),
    )
    hub_star = second.filter(F.col("_id") != F.col("hub")).select(
        F.col("hub").alias("id_a"), F.col("_id").alias("id_b")
    )
    hub_chain = second.filter(F.col("prev").isNotNull()).select(
        F.col("prev").alias("id_a"), F.col("_id").alias("id_b")
    )
    return (
        star.unionAll(chain).unionAll(hub_star).unionAll(hub_chain).distinct()
    )


def minhash_dedup_assign(
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Near-dup CLUSTER assignment — the scale contract for LSH dedup.

    ``(doc_id, keeper_id)`` for every input doc (keeper = min id of its
    verified near-dup cluster; singletons keep themselves). Replaces the
    all-pairs listing, which is quadratic in cluster size: a dup-heavy
    corpus (measured on the sf0.1 documents fixture: 5k docs → 7.9M
    candidate pairs, 2.9M verified) makes pair output itself the blowup.

    Cost shape — edge COUNT is linear in corpus + bands, and per-TASK
    work is bounded too (no whole-bucket straggler; see
    ``_candidate_edges``: groupBy-min hub + salted chain windows — a
    degenerate bucket becomes an AQE-splittable join probe and
    B/salt_buckets-sized sorts, never one giant Window sort):
    1. banding, as in ``lsh_candidate_pairs`` — O(n·bands) rows;
    2. star + salted-chain + sub-hub-chain edges — ≤ ~2·bands edges/doc;
    3. exact-Jaccard verification of those edges only (≤ ~2·n·bands
       token-array joins — not millions of pairs);
    4. connected components (operators/components.py, pointer jumping,
       O(log diameter) rounds) to close transitive chains.

    Exact-set band (r10; replaces the r9 pre-collapse): docs with
    IDENTICAL token sets are J = 1.0 by definition, yet minhash-band
    edge subsetting alone cannot GUARANTEE they connect — interlopers
    sharing one band bucket can stand between them in every band and
    die at the verify. The guarantee comes from ONE EXTRA BAND whose
    bucket key is ``xxhash64(sort_array(tokens))`` (an 8-byte key,
    same negligible-collision class as the minhash band hashes):
    identical sets always share that bucket, so the salted star/chain
    edge family connects them transitively and every such edge passes
    the exact-Jaccard verify at 1.0. Cost is +1/bands more banded rows
    and ≤ ~2 more edges/doc — strictly linear in EVERY dup regime —
    versus the r9/r10-draft pre-collapse (groupBy + localCheckpoint of
    the whole corpus' token arrays + two fan-back joins), which A/B'd
    wall-NEUTRAL at the fixture's 21 % dup rate and pinned
    corpus-sized state to local disk at scale. Giant identical-set
    buckets (10^6-copy boilerplate) are exactly what the salted
    sub-hub machinery in ``_candidate_edges`` bounds.

    Null/empty-token docs are excluded from banding (they can never
    pass the Jaccard verify — and xxhash64 degenerates to the bare
    seed for both, which would otherwise fuse them into one fake
    bucket); they fall through the final left join and self-keep.

    Approximation note vs all-pairs verify: a member whose star edge to
    one bucket hub fails verification can still join the cluster through
    any of its other ``bands`` buckets or its chain neighbors; residual
    cluster-recall loss is the documented trade
    (tests/test_approx_operators.py measures it against the exact twin).
    """
    from pyetl_spark.operators.components import connected_components

    ids = docs.select(F.col(id_col).alias("_mid"))
    bandable = docs.filter(F.size(F.col(tokens_col)) > 0).select(
        F.col(id_col).alias(id_col), F.col(tokens_col).alias(tokens_col)
    )

    # the exact-set band (band_idx = bands, bucket key =
    # xxhash64(sort_array(array_distinct(tokens))) — the token SET, not
    # the raw array: the operator's similarity is set-Jaccard, so
    # same-set/different-multiplicity inputs must share a bucket for the
    # J=1.0 guarantee to hold) is emitted by `_banded` itself from the
    # same pass as the minhash bands (r15 — was a second scan+tokenize
    # pipeline union'd on afterwards)
    banded = _banded(
        bandable,
        id_col,
        tokens_col,
        num_hashes,
        bands,
        seed,
        include_exact_set_band=True,
    )
    star = _candidate_edges(banded)
    tok = bandable.select(
        F.col(id_col).alias("_tid"), F.col(tokens_col).alias("_t")
    )
    a = tok.select(F.col("_tid").alias("id_a"), F.col("_t").alias("_ta"))
    b = tok.select(F.col("_tid").alias("id_b"), F.col("_t").alias("_tb"))
    inter = F.size(F.array_intersect("_ta", "_tb")).cast("double")
    union = F.size(F.array_union("_ta", "_tb")).cast("double")
    verified = (
        star.join(a, "id_a")
        .join(b, "id_b")
        .filter((inter / union) >= threshold)
        .select("id_a", "id_b")
    )
    comp = connected_components(verified, src="id_a", dst="id_b")
    # doc → cluster keeper (component = min id of the verified cluster);
    # singletons — including the degenerate null/empty-token docs that
    # never entered banding — fall through the left join and keep
    # themselves
    return (
        ids.join(
            comp.select(
                F.col("node").alias("_mid"),
                F.col("component").alias("_keeper"),
            ),
            "_mid",
            "left",
        )
        .select(
            F.col("_mid").alias("doc_id"),
            F.coalesce("_keeper", F.col("_mid")).alias("keeper_id"),
        )
    )


def minhash_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """The persistable LSH index of a deduplicated corpus: one row per
    (keeper doc, band) — ``(keeper_id, band_idx, band_hash)``. Build it
    once from the kept docs (post ``minhash_dedup_assign``), write it as
    a parquet table bucketed/partitioned however the store likes, and
    incremental ingests join against it instead of re-banding 100 TB.
    Size: bands rows per kept doc.

    The build parameters are stamped into the ``band_hash`` field
    metadata (parquet round-trips preserve Spark schema metadata), so
    ``minhash_assign_incremental`` can verify an incremental caller's
    (num_hashes, bands, seed) match the index it is probing — a mismatch
    would otherwise silently produce empty band buckets (every doc
    self-keeps) instead of an error.

    Empty/null token sets are excluded (mirroring
    ``minhash_dedup_assign``): their all-null signatures would collapse
    into ONE shared band bucket that grows with every appended batch on
    degenerate corpora — output stays correct (0/0 Jaccard never
    verifies) but every future empty doc would candidate-join against
    the whole bucket. An empty doc has nothing to near-match anyway."""
    bandable = docs.filter(F.size(F.col(tokens_col)) > 0)
    return _banded(bandable, id_col, tokens_col, num_hashes, bands, seed).select(
        F.col("_id").alias("keeper_id"),
        "band_idx",
        F.col("band_hash").alias(
            "band_hash",
            metadata={
                "minhash.num_hashes": num_hashes,
                "minhash.bands": bands,
                "minhash.seed": seed,
            },
        ),
    )


def _check_index_stamp(
    index: DataFrame,
    num_hashes: int,
    bands: int,
    seed: int,
    caller: str,
) -> None:
    """Raise if ``index`` carries a (num_hashes, bands, seed) stamp in
    its ``band_hash`` field metadata that disagrees with the caller's
    parameters. Band hashes from different parameters never collide, so
    a mismatch silently yields zero candidates (every doc self-keeps)
    or, on append, a partially-dead index — exactly the corruption the
    stamp exists to catch. All-keys-or-nothing contract and the check
    itself live in operators/stamps.check_stamp (shared with the
    IVF-PQ codes stamp, r13)."""
    from pyetl_spark.operators.stamps import check_stamp

    check_stamp(
        index,
        field="band_hash",
        stamp_keys=("minhash.num_hashes", "minhash.bands", "minhash.seed"),
        label="(num_hashes, bands, seed)",
        expected=(num_hashes, bands, seed),
        caller=caller,
        consequence=(
            "a mismatch silently produces empty band buckets "
            "(every doc would self-keep)"
        ),
    )


def minhash_index_delta(
    new_docs: DataFrame,
    assignments: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    index: DataFrame | None = None,
) -> DataFrame:
    """Band rows for the NEW KEEPERS of an incremental batch — the rows
    the caller appends to the persisted ``minhash_index`` so the NEXT
    batch can match today's novel documents (closing the daily-ingest
    loop: without the append, a tomorrow-dup of a today-novel doc
    self-keeps and the corpus accumulates near-duplicates).

    ``assignments`` is ``minhash_assign_incremental``'s output for this
    batch. New keepers are its self-keep rows (``id == keeper_id``);
    docs that matched an existing cluster are already represented by
    that cluster's keeper and must NOT be re-banded — the index holds
    keepers only, ``bands`` rows each. Cost is O(|new keepers| · bands);
    the existing index is not read, so the append is as incremental as
    the assignment itself. The delta carries the same stamped
    (num_hashes, bands, seed) schema metadata as ``minhash_index`` —
    REQUIRED to match the index being appended to (the fail-fast check
    in ``minhash_assign_incremental`` reads whichever file's footer the
    scan samples, so a mixed-parameter index is exactly the corruption
    the stamp exists to catch).

    Pass ``index`` (the table being appended to, or any frame carrying
    its stamped ``band_hash`` metadata) to verify the append's
    (num_hashes, bands, seed) against the index's BEFORE producing
    rows — a mismatched append creates the mixed-parameter index the
    probe-side stamp check cannot reliably see (it reads whichever
    parquet footer the scan samples). Optional only for callers that
    already hold both sides' params by construction.
    """
    if index is not None:
        _check_index_stamp(
            index, num_hashes, bands, seed, "minhash_index_delta"
        )
    keepers = assignments.filter(
        F.col(id_col) == F.col("keeper_id")
    ).select(id_col)
    return minhash_index(
        new_docs.join(keepers, id_col),
        id_col,
        tokens_col,
        num_hashes,
        bands,
        seed,
    )


def minhash_assign_incremental(
    new_docs: DataFrame,
    index: DataFrame,
    corpus_tokens: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Assign a NEW batch of docs against an EXISTING deduplicated corpus
    without recomputing it — the daily-ingest contract: cost is
    O(|new| · bands) signature work plus joins keyed on the (band, hash)
    buckets and doc ids, never a corpus re-scan (the corpus participates
    only through the prebuilt ``minhash_index`` and a token lookup for
    verification).

    Returns (``id_col``, keeper_id): keeper = the id of the matched
    existing cluster representative (min id among verified band-bucket
    matches), or the doc's own id when nothing matches (a NEW keeper —
    the caller appends those to the index via ``minhash_index_delta``,
    closing the daily-ingest loop). New docs are matched against
    the corpus only, not each other — run ``minhash_dedup_assign`` on
    the batch first if intra-batch dups matter (the streaming twin's
    within-watermark dedup usually owns that).

    Semantics match the batch operator's star edges: a new doc joins the
    cluster of any keeper sharing a band bucket whose exact Jaccard
    clears the threshold; ties pick the smallest keeper id.

    (num_hashes, bands, seed) MUST match the values the ``index`` was
    built with — band hashes from different parameters never collide, so
    a mismatch silently yields zero candidates and every doc self-keeps.
    ``minhash_index`` stamps its build params into the ``band_hash``
    field metadata; when present they are verified here and a mismatch
    raises instead of returning wrong keepers.
    """
    _check_index_stamp(
        index, num_hashes, bands, seed, "minhash_assign_incremental"
    )
    new_banded = _banded(new_docs, id_col, tokens_col, num_hashes, bands, seed)
    cands = (
        new_banded.join(index, ["band_idx", "band_hash"])
        .select(F.col("_id").alias("new_id"), "keeper_id")
        .distinct()
    )
    nt = new_docs.select(
        F.col(id_col).alias("new_id"), F.col(tokens_col).alias("_tn")
    )
    kt = corpus_tokens.select(
        F.col(id_col).alias("keeper_id"), F.col(tokens_col).alias("_tk")
    )
    inter = F.size(F.array_intersect("_tn", "_tk")).cast("double")
    union = F.size(F.array_union("_tn", "_tk")).cast("double")
    verified = (
        cands.join(nt, "new_id")
        .join(kt, "keeper_id")
        .filter((inter / union) >= threshold)
        .groupBy("new_id")
        .agg(F.min("keeper_id").alias("keeper_id"))
    )
    return (
        new_docs.select(F.col(id_col).alias(id_col))
        .join(
            verified.withColumnRenamed("new_id", id_col), id_col, "left"
        )
        .select(
            id_col,
            F.coalesce("keeper_id", F.col(id_col)).alias("keeper_id"),
        )
    )
