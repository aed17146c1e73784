"""LLM-data-pipeline text operators (SURVEY.md §2.10, mandated extension).

Deduplication + text analysis over the documents table — the operations a
large-scale training-data pipeline runs at 100 TB. Everything Tier A here is
pure DataFrame algebra (hash-groupBy dedup, blocked pair-join near-dup,
explode-count term stats); the approximate scale paths (MinHash/LSH, SimHash)
live in pyetl_spark/operators/ with Tier-C tolerance tests against these
exact versions.

Scale notes per operator are on the docstrings; the common theme: dedup is
one shuffle on the hash/blocking key, never a global collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyetl_spark.parity import FXP, ORDERED_SUM, R, fxp, ordered_sum, rnd
from pyetl_spark.registry import query
from pyetl_spark.tables import load_tables


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash,
           min(doc_id) AS keeper_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content-hash dedup (SURVEY §2.10 `dedup_exact`): md5-groupBy,
    keep lowest doc_id. One shuffle on the 128-bit hash — uniform keys, no
    skew, the canonical 100 TB exact-dedup plan."""
    d = load_tables(spark, sf_dir).documents
    return d.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count("*").alias("n_copies"),
    )


@query(
    "dedup_near_jaccard",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS t
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang,
           {R('''CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
              / CAST(len(list_distinct(list_concat(a.t, b.t))) AS DOUBLE)''', 4)}
             AS jaccard
    FROM toks a JOIN toks b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
          / CAST(len(list_distinct(list_concat(a.t, b.t))) AS DOUBLE) >= 0.8
    """,
)
def dedup_near_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by token-set Jaccard >= 0.8 within a language
    blocking key (SURVEY §2.10 `dedup_near_jaccard`).

    The threshold predicate evaluates on the exact integer set sizes (same
    division both engines) — deterministic pair membership. Blocking on
    `lang` bounds the quadratic term; the 100 TB path replaces the blocked
    pair join with MinHashLSH banding (operators/minhash.py, Tier C).
    """
    d = load_tables(spark, sf_dir).documents
    toks = d.select(
        "doc_id", "lang", F.array_distinct(F.split("text", " ")).alias("t")
    )
    a = toks.alias("a")
    b = toks.alias("b")
    inter = F.size(F.array_intersect(F.col("a.t"), F.col("b.t"))).cast(
        "double"
    )
    union = F.size(F.array_union(F.col("a.t"), F.col("b.t"))).cast("double")
    jac = inter / union
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(jac >= 0.8)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.lang").alias("lang"),
            rnd(jac, 4).alias("jaccard"),
        )
    )


@query(
    "dedup_paragraph_global",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts
      FROM documents WHERE text IS NOT NULL
    ),
    chunks AS (
      SELECT doc_id, CAST(i AS BIGINT) AS cidx,
             array_to_string(list_slice(ts, i*10 + 1, i*10 + 10), ' ')
               AS chunk
      FROM toks, UNNEST(range(CAST(ceil(len(ts)/10.0) AS BIGINT))) AS r(i)
    ),
    boiler AS (
      SELECT chunk FROM chunks GROUP BY chunk
      HAVING count(DISTINCT doc_id) > 3
    ),
    marked AS (
      SELECT c.doc_id, c.cidx, c.chunk, b.chunk IS NULL AS keep
      FROM chunks c LEFT JOIN boiler b USING (chunk)
    )
    SELECT doc_id,
           coalesce(string_agg(chunk, ' ' ORDER BY cidx)
                      FILTER (WHERE keep), '') AS clean_text,
           CAST(count(*) FILTER (WHERE NOT keep) AS BIGINT)
             AS n_removed_chunks,
           CAST(count(*) AS BIGINT) AS n_chunks
    FROM marked GROUP BY doc_id
    """,
)
def dedup_paragraph_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style GLOBAL paragraph-hash dedup (r12): split every doc
    into fixed 10-token chunks (the corpus has no newline paragraph
    marks, so the chunk window IS the paragraph unit), find chunks that
    appear in more than 3 DISTINCT documents (cross-corpus boilerplate
    — headers, navigation, license blurbs in a real crawl), strip them
    from every document, and reconstruct the cleaned text in original
    chunk order. Complements the existing dedup family: doc-level exact
    (`dedup_exact`) and near (`dedup_near_jaccard`/MinHash) dedup keep
    or drop WHOLE documents; this is the sub-document cross-doc pass a
    crawl corpus needs BEFORE near-dup (boilerplate inflates Jaccard
    between unrelated pages).

    100 TB plan: one explode to chunk rows (corpus-linear), one
    aggregate on the chunk text (shuffle keyed on content — uniform by
    construction, partial counts map-side), one join back on the same
    key (AQE broadcasts when the boilerplate set is small, the common
    case), one groupBy(doc_id) whose collect_list is bounded by the
    document's own chunk count. No window over the corpus, no driver
    materialization.

    100 TB caveat (r12 ADVICE — alignment sensitivity): the fixed
    window is anchored at each doc's start, so the same header/footer
    preceded by different-length content in different pages chunks at
    different offsets and is never counted as boilerplate. Fine here —
    the synthetic corpus has NO newline or sentence marks (verified at
    every SF), so no alignment-free unit exists — but on a real crawl
    most repeated boilerplate WOULD be missed this way: swap the chunk
    unit to the corpus's natural boundaries (split on blank lines /
    sentences — CCNet's own unit) in operators/text.paragraph_chunks,
    whose docstring carries the swap recipe; everything downstream of
    the chunk column is unit-agnostic.
    """
    from pyetl_spark.operators.text import (
        paragraph_boilerplate,
        strip_boilerplate,
    )

    d = load_tables(spark, sf_dir).documents
    # boiler threshold: > 3 distinct docs == min_docs=4
    boiler = paragraph_boilerplate(d, width=10, min_docs=4)
    return strip_boilerplate(d, boiler, width=10)


@query(
    "text_stats",
    oracle=f"""
    SELECT lang, source,
           count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           {R('CAST(sum(n_chars) AS DOUBLE) / count(*)', 4)} AS avg_chars,
           count(*) FILTER (WHERE n_chars = length(text)) AS n_chars_ok
    FROM documents
    GROUP BY lang, source
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang/source corpus stats + n_chars integrity check (SURVEY §2.10
    `text_stats`). Integer sums are exact; avg derives from them."""
    d = load_tables(spark, sf_dir).documents
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("total_tokens"),
        rnd(
            F.sum("n_chars").cast("double") / F.count(F.lit(1)), 4
        ).alias("avg_chars"),
        F.count_if(F.col("n_chars") == F.length("text")).alias("n_chars_ok"),
    )


@query(
    "text_top_terms",
    oracle="""
    SELECT tok AS term, count(*) AS tf
    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY tok
    ORDER BY tf DESC, term
    LIMIT 20
    """,
)
def text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 terms by frequency, term tiebreak (SURVEY §2.10
    `text_top_terms`). explode → partial-agg counts → TakeOrdered(20):
    only 20 rows per partition survive to the final merge."""
    d = load_tables(spark, sf_dir).documents
    return (
        d.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("tf"))
        .orderBy(F.col("tf").desc(), "term")
        .limit(20)
    )


@query(
    "text_lang_filter_pipeline",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE lang IN ('en', 'fr', 'es')
      AND n_chars BETWEEN 50 AND 900
    QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
      AND substring(md5(text), 1, 1) IN ('0','1','2','3','4','5','6','7')
    ORDER BY doc_id
    """,
)
def text_lang_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite cleaning pipeline (SURVEY §2.10 `text_lang_filter_pipeline`):
    language whitelist → length bounds → exact-dedup (keep lowest doc_id) →
    deterministic 50% "sample" by first md5 hex digit. Every stage is a
    narrow transformation or one hash shuffle; the md5-digit sample replaces
    rand() so the pipeline is replayable (SURVEY §5.3 bans rand)."""
    d = load_tables(spark, sf_dir).documents
    filtered = d.filter(
        F.col("lang").isin("en", "fr", "es")
        & F.col("n_chars").between(50, 900)
    )
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        filtered.withColumn("_rn", F.row_number().over(w))
        .filter(
            (F.col("_rn") == 1)
            & F.substring(F.md5("text"), 1, 1).isin(list("01234567"))
        )
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


# ----- text analysis operators (north-star extension; operators/text.py) ---

from pyetl_spark.operators import text as TX  # noqa: E402


@query(
    "text_lang_id",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
               FROM documents)
    SELECT doc_id, lang AS labeled_lang,
           {TX.lang_id_sql('toks')} AS predicted_lang,
           {TX._stopword_hits_sql('toks', 'en')} AS en_hits
    FROM t
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (north star: text analysis): stopword-overlap
    argmax with a fixed preference chain — pure JVM expressions, fuses into
    the scan. Capability basis: SURVEY §2.10 [M] + north-star text ops."""
    d = load_tables(spark, sf_dir).documents
    toks = TX.tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        TX.lang_id(toks).alias("predicted_lang"),
        TX.stopword_hits(toks, "en").alias("en_hits"),
    )


@query(
    "text_quality_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks,
                      n_chars FROM documents)
    SELECT doc_id,
           {R(TX.quality_score_sql('text', 'toks'), 4)} AS quality,
           len({TX.bpe_ish_tokens_sql('text')}) AS n_bpe_tokens,
           len(toks) AS n_ws_tokens
    FROM t
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring + token counting (north star: quality
    filtering for training data): length saturation, stopword density,
    punctuation penalty; whitespace and BPE-ish token counts."""
    d = load_tables(spark, sf_dir).documents
    toks = TX.tokens(F.col("text"))
    return d.select(
        "doc_id",
        rnd(TX.quality_score(F.col("text"), toks), 4).alias("quality"),
        F.size(TX.bpe_ish_tokens(F.col("text"))).alias("n_bpe_tokens"),
        F.size(toks).alias("n_ws_tokens"),
    )


@query(
    "text_fingerprint",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           {TX.fingerprint_sql('toks')} AS fingerprint,
           {TX.token_hash_sql("toks[1]")} AS first_tok_hash
    FROM t
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive document fingerprint (north star: near-dup / replay
    detection): Karp-Rabin-style polynomial rolling hash over the token
    sequence, exact integer arithmetic on both engines."""
    d = load_tables(spark, sf_dir).documents
    toks = TX.tokens(F.col("text"))
    return d.select(
        "doc_id",
        TX.fingerprint(toks).alias("fingerprint"),
        TX.token_hash(F.element_at(toks, 1)).alias("first_tok_hash"),
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, lang,
             list_distinct(list_transform(
               generate_series(1, len(string_split(text, ' ')) - 2),
               i -> string_split(text, ' ')[i] || ' ' ||
                    string_split(text, ' ')[i+1] || ' ' ||
                    string_split(text, ' ')[i+2]
             )) AS s
      FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           {R('''CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE)''', 4)}
             AS jaccard
    FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.35
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram shingle Jaccard near-dup pairs (north star: n-gram Jaccard
    dedup). Shingling makes the measure order-sensitive — token-set Jaccard
    (dedup_near_jaccard) calls reordered docs identical; shingles don't.
    Same lang-blocked pair join; MinHash banding is the scale path."""
    d = load_tables(spark, sf_dir).documents
    # materialize the token array as its own projection (r15): the
    # element_at(toks, ...) calls inside the shingle lambda referenced
    # the split EXPRESSION, re-splitting the text ~3× per shingle
    # position; as a bound column the split runs once per row
    toked = d.select(
        "doc_id", "lang", F.split(F.col("text"), " ").alias("_toks")
    )
    toks = F.col("_toks")
    # total function: for sub-3-token docs Spark's sequence(1, n-2) goes
    # DESCENDING through 0 (element_at(0) throws) while the oracle's
    # generate_series returns [] — guard to the oracle's semantics
    shingles = F.when(F.size(toks) < 3, F.array().cast("array<string>")).otherwise(F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i),
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
            ),
        )
    ))
    sh = toked.filter(F.size(toks) >= 3).select(
        "doc_id", "lang", shingles.alias("s")
    )
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.s"), F.col("b.s"))).cast(
        "double"
    )
    union = F.size(F.array_union(F.col("a.s"), F.col("b.s"))).cast("double")
    jac = inter / union
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(jac >= 0.35)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            rnd(jac, 4).alias("jaccard"),
        )
    )


@query(
    "dedup_components",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS t
      FROM documents WHERE doc_id < 600
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM toks a JOIN toks b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
            / CAST(len(list_distinct(list_concat(a.t, b.t))) AS DOUBLE)
            >= 0.85
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT u AS n FROM edges),
    reach(n, r) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT reach.n, edges.v FROM reach JOIN edges ON reach.r = edges.u
    )
    SELECT n AS doc_id, min(r) AS component_id,
           (n = min(r)) AS is_canonical
    FROM reach GROUP BY n
    """,
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING (pairs → components): Jaccard-0.85 dup pairs
    within a lang block, then distributed connected components
    (operators/components.py, pointer-jumping label propagation); each doc
    gets its cluster's min doc_id as component_id — the retention rule
    "keep the canonical, drop the rest" falls out as is_canonical.

    The pair graph is id-bounded for the oracle (DuckDB's recursive
    closure is quadratic in component size; ROADMAP "bounded quadratic"
    note) — the Spark operator itself has no bound and at 100 TB consumes
    MinHashLSH pairs instead of the exact blocked join."""
    from pyetl_spark.operators.components import connected_components

    d = load_tables(spark, sf_dir).documents
    toks = d.filter(F.col("doc_id") < 600).select(
        "doc_id", "lang", F.array_distinct(F.split("text", " ")).alias("t")
    )
    a, b = toks.alias("a"), toks.alias("b")
    inter = F.size(F.array_intersect(F.col("a.t"), F.col("b.t"))).cast(
        "double"
    )
    union = F.size(F.array_union(F.col("a.t"), F.col("b.t"))).cast("double")
    pairs = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(inter / union >= 0.85)
        .select(
            F.col("a.doc_id").alias("u"), F.col("b.doc_id").alias("v")
        )
    )
    cc = connected_components(pairs)
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("component_id"),
        (F.col("node") == F.col("component")).alias("is_canonical"),
    )


@query(
    "text_stratified_cap",
    oracle="""
    SELECT doc_id, lang, source, rn
    FROM (
      SELECT doc_id, lang, source,
             row_number() OVER (
               PARTITION BY lang, source ORDER BY md5(text), doc_id
             ) AS rn
      FROM documents
    )
    WHERE rn <= 5
    """,
)
def text_stratified_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified per-(lang, source) cap — the data-mixing primitive
    "at most N docs per stratum": rank docs inside each stratum by md5
    hash order (a deterministic stand-in for random order — replayable,
    rand() is banned) and keep the first 5. One window shuffle on the
    stratum key; at 100 TB the same plan, or topk_per_group_agg's
    aggregate form for heavily skewed strata."""
    d = load_tables(spark, sf_dir).documents
    w = Window.partitionBy("lang", "source").orderBy(F.md5("text"), "doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "lang", "source", "rn")
    )


@query(
    "text_pack_sequences",
    oracle="""
    SELECT doc_id, lang, n_tokens,
           CAST(floor(
             (sum(n_tokens) OVER (
                PARTITION BY lang ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
              ) - n_tokens) / 256.0
           ) AS BIGINT) AS pack_id
    FROM (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    )
    """,
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (context-window binning): assign docs to packs of
    ~256 tokens by exclusive running token count within a lang stream —
    pack_id = floor(cumsum_before / budget). The shuffle-free
    approximation of greedy packing (docs may straddle pack boundaries;
    exact first-fit packing is order-sequential and would need the
    stateful streaming path). Integer token counts → bit-exact on both
    engines; one window shuffle on lang."""
    d = load_tables(spark, sf_dir).documents
    n_tokens = F.size(F.split("text", " ")).cast("long")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = d.select("doc_id", "lang", n_tokens.alias("n_tokens"))
    cum_before = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return base.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor(cum_before / 256.0).alias("pack_id"),
    )


@query(
    "text_mixture_sample",
    oracle="""
    SELECT doc_id, lang, source
    FROM documents
    WHERE CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT) % 100 <
          CASE WHEN lang = 'en' THEN 25
               WHEN lang IN ('de', 'fr') THEN 75
               ELSE 100 END
    """,
)
def text_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted mixture sampling — rebalance the training mix by
    downsampling over-represented strata (en→25%, de/fr→75%, rest kept):
    the keep decision hashes the CONTENT (md5 first 8 hex digits →
    bigint mod 100), so it's deterministic, replayable, and independent
    of row order/partitioning — the rand()-free form of Bernoulli
    sampling. Narrow plan: no shuffle at all, filters evaluate in the
    scan's codegen span."""
    d = load_tables(spark, sf_dir).documents
    bucket = F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast(
        "bigint"
    ) % 100
    keep_pct = (
        F.when(F.col("lang") == "en", 25)
        .when(F.col("lang").isin("de", "fr"), 75)
        .otherwise(100)
    )
    return d.filter(bucket < keep_pct).select("doc_id", "lang", "source")


@query(
    "pipeline_training_corpus",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, source, text,
             string_split(text, ' ') AS t
      FROM documents WHERE lang IN ('en', 'de', 'fr')
    ),
    deduped AS (
      SELECT * FROM toks
      QUALIFY row_number() OVER (
        PARTITION BY md5(text) ORDER BY doc_id) = 1
    ),
    scored AS (
      SELECT doc_id, lang, source, text, t,
             {TX.quality_score_sql('text', 't')} AS q
      FROM deduped
    ),
    kept AS (
      SELECT * FROM scored WHERE q >= 0.5
      QUALIFY row_number() OVER (
        PARTITION BY lang, source ORDER BY md5(text), doc_id) <= 20
    )
    SELECT doc_id, lang, source,
           {R('q', 4)} AS quality,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(floor(
             (sum(CAST(len(t) AS BIGINT)) OVER (
                PARTITION BY lang ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
              ) - len(t)) / 512.0
           ) AS BIGINT) AS pack_id
    FROM kept
    """,
)
def pipeline_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP composite: the full training-corpus preparation pass in
    one declarative plan — lang whitelist → exact dedup (min doc_id per
    content hash) → quality gate (composite heuristic ≥ 0.5) → stratified
    per-(lang, source) cap of 20 → 512-token sequence packing per lang.
    Five pipeline stages, three shuffles total (content-hash window,
    stratum window, lang window) — every stage is a stock operator, so
    Catalyst pipelines the rest into the scans. The 100 TB corpus run is
    THIS plan with the cap/pack budgets raised and the exact-dedup window
    swapped for the minhash path when near-dups matter."""
    d = load_tables(spark, sf_dir).documents
    toks = F.split("text", " ")
    base = d.filter(F.col("lang").isin("en", "de", "fr")).select(
        "doc_id", "lang", "source", "text", toks.alias("t")
    )
    w_dedup = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        base.withColumn("_rn", F.row_number().over(w_dedup))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    scored = deduped.withColumn(
        "q", TX.quality_score(F.col("text"), F.col("t"))
    )
    w_cap = Window.partitionBy("lang", "source").orderBy(
        F.md5("text"), "doc_id"
    )
    kept = (
        scored.filter(F.col("q") >= 0.5)
        .withColumn("_rn", F.row_number().over(w_cap))
        .filter(F.col("_rn") <= 20)
        .drop("_rn")
    )
    n_tokens = F.size("t").cast("long")
    w_pack = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_tok = kept.withColumn("n_tokens", n_tokens)
    cum_before = F.sum("n_tokens").over(w_pack) - F.col("n_tokens")
    return with_tok.select(
        "doc_id",
        "lang",
        "source",
        rnd(F.col("q"), 4).alias("quality"),
        "n_tokens",
        F.floor(cum_before / 512.0).alias("pack_id"),
    )


@query(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, tok AS term, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents WHERE doc_id < 200)
      GROUP BY doc_id, tok
    ),
    df AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT count(*) AS n_docs FROM documents WHERE doc_id < 200)
    SELECT doc_id, term,
           {R('tf * ln(CAST(n_docs AS DOUBLE) / df)', 4)} AS tfidf
    FROM tf JOIN df USING (term) CROSS JOIN n
    QUALIFY row_number() OVER (
      PARTITION BY doc_id
      ORDER BY tf * ln(CAST(n_docs AS DOUBLE) / df) DESC, term
    ) <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: top-3 most characteristic terms per document (raw tf ×
    ln(N/df), term tiebreak). Three aggregates — per-doc tf, corpus df,
    doc count — then a broadcast-size df join back; the per-doc window
    ranks only that doc's own terms. The id bound keeps the declared
    result small; the plan is corpus-size-linear without it."""
    d = load_tables(spark, sf_dir).documents.filter(F.col("doc_id") < 200)
    terms = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = d.count()
    tfidf = F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))
    w = Window.partitionBy("doc_id").orderBy(tfidf.desc(), "term")
    return (
        tf.join(F.broadcast(df), "term")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 3)
        .select("doc_id", "term", rnd(tfidf, 4).alias("tfidf"))
    )


def _pagerank_oracle(
    iters: int | None = None,
    scale: int | None = None,
    damping_num: int | None = None,
    damping_den: int | None = None,
) -> str:
    """DuckDB replay of graph_pagerank: the jaccard edge build, then
    ``iters`` textually-unrolled integer fixed-point PageRank rounds
    (operators/pagerank.pagerank_exact) — pure integer arithmetic, so
    the replay is exact regardless of partitioning or join order. All
    parameters default to the ENGINE's constants (operators/pagerank:
    PR_ITERS/PR_SCALE/DAMPING_*) — one definition feeds both sides."""
    from pyetl_spark.operators.pagerank import (
        DAMPING_DEN,
        DAMPING_NUM,
        PR_ITERS,
        PR_SCALE,
    )

    iters = PR_ITERS if iters is None else iters
    scale = PR_SCALE if scale is None else scale
    dnum = DAMPING_NUM if damping_num is None else damping_num
    dden = DAMPING_DEN if damping_den is None else damping_den
    base_q = f"(SELECT (({scale} * {dden - dnum}) // {dden}) // n FROM st)"
    parts = [
        f"""toks AS MATERIALIZED (
      SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS t
      FROM documents WHERE doc_id < 600
    ),
    pairs AS (
      SELECT a.doc_id AS u, b.doc_id AS v
      FROM toks a JOIN toks b
        ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
            / CAST(len(list_distinct(list_concat(a.t, b.t))) AS DOUBLE)
            >= 0.85
    ),
    edges AS MATERIALIZED (
      SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs
    ),
    nodes AS MATERIALIZED (
      SELECT DISTINCT node FROM (
        SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
      )
    ),
    deg AS MATERIALIZED (
      SELECT u AS node, count(*) AS deg FROM edges GROUP BY u
    ),
    st AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
    r0 AS MATERIALIZED (
      SELECT node, (SELECT {scale} // n FROM st) AS rq FROM nodes
    )"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""r{i} AS MATERIALIZED (
      SELECT nd.node,
             {base_q} + ({dnum} * coalesce(s.inq, 0)) // {dden} AS rq
      FROM nodes nd LEFT JOIN (
        SELECT e.v AS node, sum(r.rq // d.deg) AS inq
        FROM edges e JOIN r{i - 1} r ON r.node = e.u
                     JOIN deg d ON d.node = e.u
        GROUP BY e.v
      ) s ON s.node = nd.node
    )"""
        )
    return (
        "\n    WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT node AS doc_id,
           {R(f'CAST(rq AS DOUBLE) / {float(scale)}', 6)} AS rank
    FROM r{iters}
    ORDER BY rank DESC, doc_id
    """
    )


@query("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank authority over the near-dup pair graph — rank docs
    inside duplication clusters so corpus curation can keep the most
    "central" representative instead of the min-id one
    (operators/pagerank.py, power iteration as DataFrame algebra).

    Tier A (r7 conversion): rides ``pagerank_exact`` — integer
    fixed-point ranks at 1e-12 resolution, so per-iteration sums are
    exact and order-free and the DuckDB oracle replays all 10 rounds
    verbatim (``_pagerank_oracle``). The float ``pagerank`` (with its
    L1-delta early stop) remains the non-oracle operator; pytest pins
    the two forms agree to float tolerance on known graphs. Same
    id-bounded pair build as dedup_components; at 100 TB the edges come
    from MinHashLSH and every per-iteration shuffle keys on node id."""
    from pyetl_spark.operators.pagerank import PR_ITERS, pagerank_exact

    d = load_tables(spark, sf_dir).documents
    toks = d.filter(F.col("doc_id") < 600).select(
        "doc_id", "lang", F.array_distinct(F.split("text", " ")).alias("t")
    )
    a, b = toks.alias("a"), toks.alias("b")
    inter = F.size(F.array_intersect(F.col("a.t"), F.col("b.t"))).cast(
        "double"
    )
    union = F.size(F.array_union(F.col("a.t"), F.col("b.t"))).cast("double")
    # PIN the verified pair list (r15): pagerank_exact materializes
    # `nodes` and `deg_edges` in separate eager checkpoints, and the
    # unionAll doubles every read — unpinned, this lang-blocked
    # quadratic Jaccard join re-executed up to 6× before the first
    # iteration ran (measured: 6.15 s → 4.8 s isolated median with the
    # pin + the loop-shape fix in pagerank_exact). Same lineage-
    # truncation rule as components.py's `one`.
    pairs = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(inter / union >= 0.85)
        .select(F.col("a.doc_id").alias("u"), F.col("b.doc_id").alias("v"))
        .localCheckpoint(eager=True)
    )
    edges = pairs.unionAll(pairs.select(F.col("v").alias("u"), F.col("u").alias("v")))
    ranks = pagerank_exact(edges, iters=PR_ITERS)
    return ranks.select(
        F.col("node").alias("doc_id"), rnd(F.col("rank"), 6).alias("rank")
    ).orderBy(F.col("rank").desc(), "doc_id")


@query(
    "dedup_sorted_neighborhood",
    oracle="""
    WITH base AS (
      SELECT doc_id, lang,
             list_distinct(string_split(text, ' ')) AS t,
             substring(text, 1, 40) AS sk
      FROM documents
    ),
    led AS (
      SELECT doc_id, lang, t,
             lead(doc_id, 1) OVER w AS id1, lead(t, 1) OVER w AS t1,
             lead(doc_id, 2) OVER w AS id2, lead(t, 2) OVER w AS t2,
             lead(doc_id, 3) OVER w AS id3, lead(t, 3) OVER w AS t3
      FROM base
      WINDOW w AS (PARTITION BY lang ORDER BY sk, doc_id)
    ),
    cand AS (
      SELECT doc_id AS a, id1 AS b, t, t1 AS tb FROM led WHERE id1 IS NOT NULL
      UNION ALL
      SELECT doc_id, id2, t, t2 FROM led WHERE id2 IS NOT NULL
      UNION ALL
      SELECT doc_id, id3, t, t3 FROM led WHERE id3 IS NOT NULL
    )
    SELECT least(a, b) AS doc_a, greatest(a, b) AS doc_b,
           {R} AS jaccard
    FROM (
      SELECT a, b,
             CAST(len(list_intersect(t, tb)) AS DOUBLE)
               / CAST(len(list_distinct(list_concat(t, tb))) AS DOUBLE)
               AS jac
      FROM cand
    )
    WHERE jac >= 0.5
    """.replace("{R}", R("jac", 4)),
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup detection: sort docs per lang by a
    40-char text prefix (the blocking sort key), then compare each doc
    only against its next 3 neighbors in that order — O(n log n) sort +
    O(n·w) comparisons instead of the quadratic blocked self-join of
    dedup_near_jaccard. The classic SNM trade: recall drops for dups
    whose prefixes diverge, cost becomes sort-bounded — THE practical
    sliding-window dedup at 100 TB (one range-partitioned sort, no
    pair explosion). Window w=3, token-set Jaccard ≥ 0.5, pairs
    normalized least/greatest so output ordering is canonical."""
    d = load_tables(spark, sf_dir).documents
    base = d.select(
        "doc_id",
        "lang",
        F.array_distinct(F.split("text", " ")).alias("t"),
        F.substring("text", 1, 40).alias("sk"),
    )
    w = Window.partitionBy("lang").orderBy("sk", "doc_id")
    led = base.select(
        "doc_id",
        "t",
        *[
            c
            for i in (1, 2, 3)
            for c in (
                F.lead("doc_id", i).over(w).alias(f"id{i}"),
                F.lead("t", i).over(w).alias(f"t{i}"),
            )
        ],
    )
    # r15 (guide §2.4): the old per-offset union re-planned the scan AND
    # the window sort once per window slot (3 corpus passes). One
    # explode over the 3 (neighbor-id, neighbor-tokens) structs emits
    # the identical candidate rows from a single pass; the isNotNull
    # filter matches the old per-slot filter.
    cand = (
        led.select(
            F.col("doc_id").alias("a"),
            "t",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.col(f"id{i}").alias("b"),
                            F.col(f"t{i}").alias("tb"),
                        )
                        for i in (1, 2, 3)
                    ]
                )
            ).alias("nb"),
        )
        .filter(F.col("nb.b").isNotNull())
        .select("a", F.col("nb.b").alias("b"), "t", F.col("nb.tb").alias("tb"))
    )
    jac = F.size(F.array_intersect("t", "tb")).cast("double") / F.size(
        F.array_union("t", "tb")
    ).cast("double")
    return (
        cand.withColumn("jac", jac)
        .filter(F.col("jac") >= 0.5)
        .select(
            F.least("a", "b").alias("doc_a"),
            F.greatest("a", "b").alias("doc_b"),
            rnd(F.col("jac"), 4).alias("jaccard"),
        )
    )


@query(
    "graph_triangles",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS t
      FROM documents WHERE doc_id < 600
    ),
    pairs AS (
      SELECT a.doc_id AS u, b.doc_id AS v
      FROM toks a JOIN toks b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
            / CAST(len(list_distinct(list_concat(a.t, b.t))) AS DOUBLE)
            >= 0.85
    )
    SELECT p1.u AS t_a, p1.v AS t_b, p2.v AS t_c
    FROM pairs p1
    JOIN pairs p2 ON p2.u = p1.v
    JOIN pairs p3 ON p3.u = p1.u AND p3.v = p2.v
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration on the near-dup pair graph — the graph-side
    quality signal for dedup clusters (a triangle-dense component is a
    true duplicate cluster; a sparse path is chained false positives).
    Standard two-join enumeration over the u<v oriented edge list: each
    triangle appears exactly once as u<v<w, no post-dedup needed. Same
    id-bounded pair build as dedup_components; at 100 TB edges come from
    MinHashLSH and the joins shuffle on node id — degree-skew is handled
    by AQE skew-split (SCALE.md)."""
    d = load_tables(spark, sf_dir).documents
    toks = d.filter(F.col("doc_id") < 600).select(
        "doc_id", "lang", F.array_distinct(F.split("text", " ")).alias("t")
    )
    a, b = toks.alias("a"), toks.alias("b")
    inter = F.size(F.array_intersect(F.col("a.t"), F.col("b.t"))).cast(
        "double"
    )
    union = F.size(F.array_union(F.col("a.t"), F.col("b.t"))).cast("double")
    pairs = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(inter / union >= 0.85)
        .select(F.col("a.doc_id").alias("u"), F.col("b.doc_id").alias("v"))
    )
    p1, p2, p3 = pairs.alias("p1"), pairs.alias("p2"), pairs.alias("p3")
    return (
        p1.join(p2, F.col("p2.u") == F.col("p1.v"))
        .join(
            p3,
            (F.col("p3.u") == F.col("p1.u"))
            & (F.col("p3.v") == F.col("p2.v")),
        )
        .select(
            F.col("p1.u").alias("t_a"),
            F.col("p1.v").alias("t_b"),
            F.col("p2.v").alias("t_c"),
        )
    )


@query(
    "dedup_levenshtein",
    oracle="""
    WITH p AS (
      SELECT p_partkey, p_name, split_part(p_name, ' ', 2) AS noun
      FROM part WHERE p_partkey < 500
    )
    SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
           a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS edit_dist
    FROM p a JOIN p b
      ON a.noun = b.noun AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching: near-identical part names (typo-class
    variants like 'hot gear'/'red gear') found by blocking on the noun
    token and thresholding levenshtein ≤ 3 — the string-similarity dedup
    family member next to token-set Jaccard (order-sensitive, catches
    character-level noise Jaccard misses). All-integer output: no float
    parity risk at all. The id bound caps the quadratic block for the
    declared oracle; the scale path is `dedup_levenshtein_snm` — a
    sorted-neighborhood pass over the two-phase global rank, O(n·w), no
    cap (SCALE.md shape 5)."""
    t = load_tables(spark, sf_dir)
    p = t.part.filter(F.col("p_partkey") < 500).select(
        "p_partkey",
        "p_name",
        F.element_at(F.split("p_name", " "), 2).alias("noun"),
    )
    a, b = p.alias("a"), p.alias("b")
    lev = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.noun") == F.col("b.noun"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .filter(lev <= 3)
        .select(
            F.col("a.p_partkey").alias("part_a"),
            F.col("b.p_partkey").alias("part_b"),
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            lev.alias("edit_dist"),
        )
    )


@query(
    "text_bigrams",
    oracle="""
    WITH toks AS (
      SELECT string_split(text, ' ') AS t FROM documents
    ),
    bg AS (
      SELECT unnest(
               list_transform(
                 list_zip(t[1:len(t)-1], t[2:len(t)]),
                 p -> p[1] || ' ' || p[2]
               )
             ) AS bigram
      FROM toks WHERE len(t) >= 2
    ),
    counted AS (
      SELECT bigram, count(*) AS c FROM bg GROUP BY bigram
    )
    SELECT bigram, c FROM (
      SELECT bigram, c,
             row_number() OVER (ORDER BY c DESC, bigram) AS rn
      FROM counted
    ) WHERE rn <= 20
    """,
)
def text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigram (word-pair) frequencies over the corpus — the
    n-gram step between text_top_terms (unigrams) and the shingle sets
    of dedup_ngram_jaccard; bigram tables drive collocation stats and
    boilerplate detection in corpus curation. Bigrams are built
    array-side (zip_with over two shifted slices — no self-join), then
    exploded into ONE hash aggregate; top-k via row_number with bigram
    tiebreak. Map-side partial aggregation absorbs the explosion; at
    100 TB this is explode → partial agg → single shuffle, the same
    plan as any word-count."""
    d = load_tables(spark, sf_dir).documents
    t = F.split("text", " ")
    bigrams = F.zip_with(
        F.slice(t, 1, F.size(t) - 1),
        F.slice(t, 2, F.size(t) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    counted = (
        d.filter(F.size(t) >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("c"))
    )
    # top-20 via sort+limit → TakeOrderedAndProject (distributed partial
    # top-k per partition, k-row merge on the driver) — never a
    # single-partition window over the full bigram vocabulary
    return (
        counted.orderBy(F.col("c").desc(), "bigram")
        .limit(20)
        .select("bigram", "c")
    )


@query(
    "text_source_divergence",
    oracle=f"""
    WITH st AS (
      SELECT source, t.term, count(*) AS c_st
      FROM documents, unnest(string_split(text, ' ')) AS t(term)
      GROUP BY source, t.term
    ),
    corpus AS (
      SELECT term, sum(c_st) AS c_t FROM st GROUP BY term
    ),
    tot AS (SELECT sum(c_t) AS n FROM corpus),
    src_tot AS (SELECT source, sum(c_st) AS n_s FROM st GROUP BY source),
    contrib AS (
      SELECT st.source, st.term,
             (CAST(c_st AS DOUBLE) / n_s)
               * ln((CAST(c_st AS DOUBLE) / n_s)
                    / (CAST(c_t AS DOUBLE) / n)) AS kl_term
      FROM st
      JOIN corpus USING (term)
      JOIN src_tot USING (source)
      CROSS JOIN tot
    )
    SELECT source, n_terms, {R("kl", 4)} AS kl_divergence
    FROM (
      SELECT source, count(*) AS n_terms,
             {ORDERED_SUM("kl_term", "term")} AS kl
      FROM contrib GROUP BY source
    )
    """,
)
def text_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL divergence of each source's term distribution from the corpus
    distribution — the data-mixing diagnostic that flags off-distribution
    sources (high KL = the source's vocabulary differs from the blend;
    candidates for down-weighting in a training mix).

    Determinism technique: a plain SUM of per-term float contributions is
    summation-order-dependent (partial aggs vs threads), so each source's
    contributions are collected, sorted BY TERM, and folded left-to-right
    on BOTH engines (parity.ordered_sum / ORDERED_SUM) — identical op
    order → identical bits. The
    per-source term lists here are vocabulary-bounded (tiny); for open
    vocabularies shard the fold by term-hash prefix and fold the shard
    sums in shard order."""
    d = load_tables(spark, sf_dir).documents
    st = (
        d.select("source", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").alias("c_st"))
    )
    corpus = st.groupBy("term").agg(F.sum("c_st").alias("c_t"))
    n = corpus.agg(F.sum("c_t").alias("n"))
    src_tot = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    p = F.col("c_st").cast("double") / F.col("n_s")
    q = F.col("c_t").cast("double") / F.col("n")
    contrib = (
        st.join(F.broadcast(corpus), "term")
        .join(F.broadcast(src_tot), "source")
        .crossJoin(F.broadcast(n))
        .select(
            "source", "term", (p * F.log(p / q)).alias("kl_term")
        )
    )
    folded = contrib.groupBy("source").agg(
        F.count("*").alias("n_terms"),
        ordered_sum("kl_term", "term").alias("kl"),
    )
    return folded.select(
        "source", "n_terms", rnd(F.col("kl"), 4).alias("kl_divergence")
    )


@query(
    "text_decontaminate",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, len(string_split(text, ' ')) - 4),
               i -> string_split(text, ' ')[i] || ' ' ||
                    string_split(text, ' ')[i+1] || ' ' ||
                    string_split(text, ' ')[i+2] || ' ' ||
                    string_split(text, ' ')[i+3] || ' ' ||
                    string_split(text, ' ')[i+4]
             )) AS s
      FROM documents
      WHERE len(string_split(text, ' ')) >= 5
    ),
    probes AS (
      SELECT DISTINCT g AS shingle
      FROM sh, unnest(s) AS u(g)
      WHERE doc_id < 20
    ),
    corpus AS (
      SELECT doc_id, g AS shingle, len(s) AS n_shingles
      FROM sh, unnest(s) AS u(g)
      WHERE doc_id >= 20
    )
    SELECT doc_id, n_hits, n_shingles, {R} AS contamination
    FROM (
      SELECT doc_id, count(*) AS n_hits, max(n_shingles) AS n_shingles,
             CAST(count(*) AS DOUBLE) / max(n_shingles) AS share
      FROM corpus JOIN probes USING (shingle)
      GROUP BY doc_id
    )
    """.replace("{R}", R("share", 4)),
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs 0–19 play the held-out benchmark;
    every other doc is scored by how many of its distinct 5-gram
    shingles appear in the benchmark's shingle set — the standard
    n-gram-overlap contamination check run before training. Plan: the
    probe set is aggregated small and BROADCAST; the corpus explodes
    shingles into a map-side hash-join + per-doc count — no shuffle of
    the exploded stream except the final per-doc agg. At 100 TB the
    probe side stays benchmark-sized (tiny) so the broadcast holds; for
    probe sets beyond memory, swap to a bloom-filter pre-pass then
    exact join."""
    d = load_tables(spark, sf_dir).documents
    # token array as its own projection (r15, same fix as
    # dedup_ngram_jaccard): element_at over the split EXPRESSION inside
    # the lambda re-split the text ~5× per shingle position
    toked = d.select("doc_id", F.split(F.col("text"), " ").alias("_toks"))
    toks = F.col("_toks")
    # total function (same guard as the 3-gram site): sub-5-token docs
    # must yield [] like the oracle's generate_series, not a descending
    # sequence through element_at(0)
    shingles = F.when(
        F.size(toks) < 5, F.array().cast("array<string>")
    ).otherwise(F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 4),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i),
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
                F.element_at(toks, i + 3),
                F.element_at(toks, i + 4),
            ),
        )
    ))
    sh = toked.filter(F.size(toks) >= 5).select(
        "doc_id", shingles.alias("s")
    )
    probes = (
        sh.filter(F.col("doc_id") < 20)
        .select(F.explode("s").alias("shingle"))
        .distinct()
    )
    corpus = sh.filter(F.col("doc_id") >= 20).select(
        "doc_id", F.size("s").alias("n_shingles"), F.explode("s").alias("shingle")
    )
    hit = corpus.join(F.broadcast(probes), "shingle").groupBy("doc_id").agg(
        F.count("*").alias("n_hits"),
        F.max("n_shingles").alias("n_shingles"),
    )
    share = F.col("n_hits").cast("double") / F.col("n_shingles")
    return hit.select(
        "doc_id", "n_hits", "n_shingles", rnd(share, 4).alias("contamination")
    )


@query(
    "text_repetition",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS tok,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ),
    chg AS (
      SELECT doc_id, tok, pos,
             CASE WHEN tok IS DISTINCT FROM
                    lag(tok) OVER (PARTITION BY doc_id ORDER BY pos)
                  THEN 1 ELSE 0 END AS c
      FROM tok
    ),
    grp AS (
      SELECT doc_id, tok, pos,
             sum(c) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS g
      FROM chg
    ),
    runs AS (
      SELECT doc_id, g, count(*) AS run_len
      FROM grp GROUP BY doc_id, g
    )
    SELECT doc_id,
           max(run_len) AS max_run,
           CAST(sum(run_len) AS BIGINT) AS n_tokens,
           count(*) AS n_runs,
           {R} AS repetition
    FROM (
      SELECT doc_id, g, run_len,
             1.0 - CAST(count(*) OVER (PARTITION BY doc_id) AS DOUBLE)
                   / sum(run_len) OVER (PARTITION BY doc_id) AS rep
      FROM runs
    )
    GROUP BY doc_id
    """.replace("{R}", R("max(rep)", 4)),
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degenerate-repetition detector: per doc, the longest run of the
    SAME token repeated back-to-back (gaps-and-islands over token
    positions) plus a repetition score 1 − n_runs/n_tokens (0 = no
    immediate repeats; → 1 as the doc collapses into runs) — the
    quality screen that catches 'aaaa…' and looped-boilerplate docs
    which perplexity filters miss. posexplode keeps token positions;
    both windows and both aggregates key on doc_id, so the whole
    pipeline is ONE partitioning of the exploded stream — at 100 TB
    token explosion is the cost driver and stays map-side until the
    per-doc agg."""
    d = load_tables(spark, sf_dir).documents
    tok = d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    w_run = w.rowsBetween(Window.unboundedPreceding, 0)
    chg = F.when(
        F.lag("tok").over(w).isNull()
        | (F.col("tok") != F.lag("tok").over(w)),
        1,
    ).otherwise(0)
    grp = tok.select(
        "doc_id", "tok", "pos", F.sum(chg).over(w_run).alias("g")
    )
    runs = grp.groupBy("doc_id", "g").agg(F.count("*").alias("run_len"))
    w_doc = Window.partitionBy("doc_id")
    rep = F.lit(1.0) - F.count("*").over(w_doc).cast("double") / F.sum(
        "run_len"
    ).over(w_doc)
    return (
        runs.withColumn("rep", rep)
        .groupBy("doc_id")
        .agg(
            F.max("run_len").alias("max_run"),
            F.sum("run_len").alias("n_tokens"),
            F.count("*").alias("n_runs"),
            rnd(F.max("rep"), 4).alias("repetition"),
        )
    )


@query(
    "text_heavy_hitters",
    oracle="""
    WITH counted AS (
      SELECT t.term, count(*) AS c
      FROM documents, unnest(string_split(text, ' ')) AS t(term)
      GROUP BY t.term
    ),
    tot AS (SELECT sum(c) AS n FROM counted)
    SELECT term, c, {R} AS share
    FROM (
      SELECT term, c, CAST(c AS DOUBLE) / CAST(n AS DOUBLE) AS sh
      FROM counted CROSS JOIN tot
      WHERE CAST(c AS DOUBLE) > 0.02 * CAST(n AS DOUBLE)
    )
    """.replace("{R}", R("sh", 4)),
)
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters: terms exceeding a 2% frequency share — the
    boilerplate/stop-phrase detector run before dedup (a term in 2% of
    all token positions is template text, not content; r5 note: the old
    3.4% bar fell to ZERO hitters at sf0.1 as shares dilute with corpus
    growth — 2% yields a stable 30-term set at every SF, so the key's
    future driver evidence verifies real values). One explode +
    partial/final hash agg, a 1-row total broadcast back, a selective
    filter: the exact two-phase plan. The sketch twin for
    cardinality-unbounded streams is operators/heavy_hitters.py
    (Misra-Gries candidate pass + exact recount verify)."""
    d = load_tables(spark, sf_dir).documents
    counted = (
        d.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("c"))
    )
    tot = counted.agg(F.sum("c").alias("n"))
    sh = F.col("c").cast("double") / F.col("n").cast("double")
    return (
        counted.crossJoin(F.broadcast(tot))
        .filter(F.col("c").cast("double") > F.lit(0.02) * F.col("n").cast("double"))
        .select("term", "c", rnd(sh, 4).alias("share"))
    )


@query(
    "text_heavy_hitters_mg",
    oracle="""
    WITH counted AS (
      SELECT t.term, count(*) AS c
      FROM documents, unnest(string_split(text, ' ')) AS t(term)
      GROUP BY t.term
    ),
    tot AS (SELECT sum(c) AS n FROM counted)
    SELECT term, c, {R} AS share
    FROM (
      SELECT term, c, CAST(c AS DOUBLE) / CAST(n AS DOUBLE) AS sh
      FROM counted CROSS JOIN tot
      WHERE CAST(c AS DOUBLE) > 0.02 * CAST(n AS DOUBLE)
    )
    """.replace("{R}", R("sh", 4)),
)
def text_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries-powered heavy hitters — SAME oracle as
    text_heavy_hitters because the two-phase sketch (bounded-memory
    candidate pass, operators/heavy_hitters.py) is EXACT after its
    recount-verify phase: the MG guarantee makes the candidate set a
    superset of the truth, and phase 2 recounts exactly. Hash-matching
    it against the brute-force oracle is the point: sketch memory,
    exact answer. Phase-1 memory is O(slack/φ) per task no matter how
    many distinct terms the corpus has — the groupBy in the plain twin
    holds the whole vocabulary."""
    from pyetl_spark.operators.heavy_hitters import heavy_hitters

    d = load_tables(spark, sf_dir).documents
    toks = d.select(F.explode(F.split("text", " ")).alias("term"))
    out = heavy_hitters(toks, "term", phi=0.02)
    return out.select("term", "c", rnd(F.col("share"), 4).alias("share"))


@query(
    "text_chi_square",
    oracle=f"""
    WITH obs AS (
      SELECT lang, source, count(*) AS o
      FROM documents GROUP BY lang, source
    ),
    margins AS (
      SELECT lang, source, o,
             sum(o) OVER (PARTITION BY lang) AS rl,
             sum(o) OVER (PARTITION BY source) AS cs,
             sum(o) OVER () AS n
      FROM obs
    ),
    contrib AS (
      SELECT lang, source,
             ((CAST(o AS DOUBLE)
               - (CAST(rl AS DOUBLE) * CAST(cs AS DOUBLE))
                 / CAST(n AS DOUBLE))
              * (CAST(o AS DOUBLE)
                 - (CAST(rl AS DOUBLE) * CAST(cs AS DOUBLE))
                   / CAST(n AS DOUBLE)))
             / ((CAST(rl AS DOUBLE) * CAST(cs AS DOUBLE))
                / CAST(n AS DOUBLE)) AS x2
      FROM margins
    )
    SELECT n_cells, {R("chi", 4)} AS chi_square
    FROM (
      SELECT count(*) AS n_cells,
             {ORDERED_SUM("x2", "lang", "source")} AS chi
      FROM contrib
    )
    """,
)
def text_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence statistic for the lang×source
    contingency table — "is language mix independent of source?", the
    screening test before trusting per-source language stats. Expected
    cell counts come from exact integer margins; each cell's (O−E)²/E
    uses one fixed op shape, and the cell contributions fold in sorted
    (lang, source) order on BOTH engines (the text_source_divergence
    technique) so the sum is bit-stable at any parallelism. One shuffle
    for the contingency table; margins are window sums over ≤100 rows."""
    d = load_tables(spark, sf_dir).documents
    obs = d.groupBy("lang", "source").agg(F.count("*").alias("o"))
    w_l = Window.partitionBy("lang")
    w_s = Window.partitionBy("source")
    w_all = Window.partitionBy()
    m = obs.select(
        "lang",
        "source",
        "o",
        F.sum("o").over(w_l).alias("rl"),
        F.sum("o").over(w_s).alias("cs"),
        F.sum("o").over(w_all).alias("n"),
    )
    e_cell = (
        F.col("rl").cast("double") * F.col("cs").cast("double")
    ) / F.col("n").cast("double")
    diff = F.col("o").cast("double") - e_cell
    contrib = m.select(
        "lang", "source", ((diff * diff) / e_cell).alias("x2")
    )
    folded = contrib.agg(
        F.count("*").alias("n_cells"),
        ordered_sum("x2", "lang", "source").alias("chi"),
    )
    return folded.select("n_cells", rnd(F.col("chi"), 4).alias("chi_square"))


@query(
    "text_stopword_discovery",
    oracle="""
    WITH df AS (
      SELECT term, count(*) AS doc_freq
      FROM (
        SELECT DISTINCT doc_id, t.term
        FROM documents, unnest(string_split(text, ' ')) AS t(term)
      )
      GROUP BY term
    ),
    nd AS (SELECT count(*) AS n_docs FROM documents)
    SELECT term, doc_freq, {R} AS doc_share
    FROM (
      SELECT term, doc_freq,
             CAST(doc_freq AS DOUBLE) / CAST(n_docs AS DOUBLE) AS ds
      FROM df CROSS JOIN nd
      WHERE CAST(doc_freq AS DOUBLE) > 0.6 * CAST(n_docs AS DOUBLE)
    )
    """.replace("{R}", R("ds", 4)),
)
def text_stopword_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-driven stopword discovery: terms present in > 60% of
    DOCUMENTS (document frequency, not token frequency — the
    complement of text_heavy_hitters: a term can dominate tokens from
    one doc, but only corpus-wide spread makes it a stopword). distinct
    (doc, term) → df count → share filter; the distinct is the cost
    (explode + dedup shuffle) and is exactly the first half of the
    TF-IDF df computation, so at 100 TB the two share one pass."""
    d = load_tables(spark, sf_dir).documents
    df_ = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .distinct()
        .groupBy("term")
        .agg(F.count("*").alias("doc_freq"))
    )
    nd = d.agg(F.count("*").alias("n_docs"))
    ds = F.col("doc_freq").cast("double") / F.col("n_docs").cast("double")
    return (
        df_.crossJoin(F.broadcast(nd))
        .filter(
            F.col("doc_freq").cast("double")
            > F.lit(0.6) * F.col("n_docs").cast("double")
        )
        .select("term", "doc_freq", rnd(ds, 4).alias("doc_share"))
    )


_BM25_TERMS = ("window", "filter", "stream")
_BM25_K1, _BM25_B = 1.2, 0.75


def _bm25_sql() -> str:
    tf_cols = ", ".join(
        f"len(list_filter(ts, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ", ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    def term(i: int) -> str:
        idf = (
            f"ln((CAST(n AS DOUBLE) - df{i} + 0.5) / (df{i} + 0.5) + 1.0)"
        )
        denom = (
            f"(tf{i} + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} "
            f"* (CAST(len_d AS DOUBLE) / avg_len)))"
        )
        return f"({idf} * (tf{i} * ({_BM25_K1} + 1.0)) / {denom})"

    score = f"(({term(0)} + {term(1)}) + {term(2)})"
    return f"""
    WITH ds AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    tf AS (
      SELECT doc_id, len(ts) AS len_d, {tf_cols} FROM ds
    ),
    corpus AS (
      SELECT count(*) AS n,
             CAST(sum(len_d) AS DOUBLE) / count(*) AS avg_len,
             {df_cols}
      FROM tf
    )
    SELECT doc_id, {{R}} AS bm25
    FROM (
      SELECT doc_id, {score} AS s,
             row_number() OVER (ORDER BY {score} DESC, doc_id) AS rn
      FROM tf CROSS JOIN corpus
      WHERE tf0 + tf1 + tf2 > 0
    ) WHERE rn <= 10
    """


@query("text_bm25_search", oracle=_bm25_sql().replace("{R}", R("s", 4)))
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval: top-10 documents for the fixed 3-term query
    ('window','filter','stream') under Okapi BM25 (k1=1.2, b=0.75,
    +1-smoothed idf) — the ranking function behind classic search and
    the lexical half of hybrid retrieval; in a training-data pipeline it
    surfaces query-relevant documents for targeted curation. Per-doc
    term frequencies come from array `filter` lengths (no explode —
    a narrow map), corpus stats (N, avg len, per-term df) are ONE tiny
    aggregate broadcast back, and the 3-term score is a fixed
    left-associated expression — deterministic bits, rank on the raw
    score with doc_id tiebreak."""
    d = load_tables(spark, sf_dir).documents
    ts = F.split("text", " ")

    def tf_of(term: str):
        # NB: a 1-arg lambda, built via closure — a `t=t` default arg
        # would make pyspark see TWO params and pass the array INDEX as
        # the second, silently comparing tokens to positions.
        return F.size(F.filter(ts, lambda x: x == F.lit(term)))

    tf = d.select(
        "doc_id",
        F.size(ts).alias("len_d"),
        *[tf_of(t).alias(f"tf{i}") for i, t in enumerate(_BM25_TERMS)],
    )
    corpus = tf.agg(
        F.count("*").alias("n"),
        (F.sum("len_d").cast("double") / F.count(F.lit(1))).alias(
            "avg_len"
        ),
        *[
            F.sum(
                F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)
            ).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )

    def term(i: int):
        idf = F.log(
            (F.col("n").cast("double") - F.col(f"df{i}") + F.lit(0.5))
            / (F.col(f"df{i}") + F.lit(0.5))
            + F.lit(1.0)
        )
        denom = F.col(f"tf{i}") + F.lit(_BM25_K1) * (
            F.lit(1.0)
            - F.lit(_BM25_B)
            + F.lit(_BM25_B)
            * (F.col("len_d").cast("double") / F.col("avg_len"))
        )
        return idf * (F.col(f"tf{i}") * F.lit(_BM25_K1 + 1.0)) / denom

    score = (term(0) + term(1)) + term(2)
    # top-10 via sort+limit → TakeOrderedAndProject, not a global window
    return (
        tf.crossJoin(F.broadcast(corpus))
        .filter((F.col("tf0") + F.col("tf1") + F.col("tf2")) > 0)
        .withColumn("s", score)
        .orderBy(F.col("s").desc(), "doc_id")
        .limit(10)
        .select("doc_id", rnd(F.col("s"), 4).alias("bm25"))
    )


@query(
    "text_diversity_simpson",
    oracle="""
    WITH tc AS (
      SELECT source, t.term, count(*) AS c
      FROM documents, unnest(string_split(text, ' ')) AS t(term)
      GROUP BY source, t.term
    )
    SELECT source, n_terms, n_tokens, {R} AS simpson_diversity
    FROM (
      SELECT source,
             count(*) AS n_terms,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             1.0 - CAST(sum(c * (c - 1)) AS DOUBLE)
                   / CAST(sum(c) * (sum(c) - 1) AS DOUBLE) AS sd
      FROM tc GROUP BY source
    )
    """.replace("{R}", R("sd", 6)),
)
def text_diversity_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini-Simpson lexical diversity per source: the probability two
    randomly drawn tokens differ, 1 − Σc(c−1)/(N(N−1)) — the diversity
    gauge whose arithmetic is ENTIRELY integer until one final division
    (unlike entropy's per-term logs), so it is order-free with no fold
    tricks: the determinism-cheapest diversity metric and the one to
    prefer at scale. Low diversity = repetitive/boilerplate source.
    One explode + two nested integer aggregates keyed on source."""
    d = load_tables(spark, sf_dir).documents
    tc = (
        d.select("source", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").alias("c"))
    )
    agg = tc.groupBy("source").agg(
        F.count("*").alias("n_terms"),
        F.sum("c").alias("n_tokens"),
        F.sum(F.col("c") * (F.col("c") - 1)).alias("coll"),
    )
    sd = F.lit(1.0) - F.col("coll").cast("double") / (
        F.col("n_tokens") * (F.col("n_tokens") - 1)
    ).cast("double")
    return agg.select(
        "source", "n_terms", "n_tokens", rnd(sd, 6).alias("simpson_diversity")
    )


@query(
    "dedup_source_attribution",
    oracle="""
    WITH hashed AS (
      SELECT doc_id, source, md5(text) AS h FROM documents
    ),
    keepers AS (
      SELECT h, min(doc_id) AS keeper FROM hashed GROUP BY h
    )
    SELECT source, n_docs, n_dupes_removed, {R} AS dup_rate
    FROM (
      SELECT hd.source,
             count(*) AS n_docs,
             CAST(sum(CASE WHEN hd.doc_id <> k.keeper THEN 1 ELSE 0 END)
               AS BIGINT) AS n_dupes_removed,
             CAST(sum(CASE WHEN hd.doc_id <> k.keeper THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*) AS dr
      FROM hashed hd JOIN keepers k ON hd.h = k.h
      GROUP BY hd.source
    )
    """.replace("{R}", R("dr", 4)),
)
def dedup_source_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup accounting: after exact content-hash dedup (keep-lowest-id,
    same rule as dedup_exact), how many docs EACH SOURCE loses and its
    dup rate — the attribution table that tells a pipeline owner which
    feeds are recycled content (drop the feed, not just the dupes).
    Hash-groupBy for keepers, join back, per-source conditional count —
    two shuffles (hash, then source), both uniform keys."""
    d = load_tables(spark, sf_dir).documents
    hashed = d.select("doc_id", "source", F.md5("text").alias("h"))
    keepers = hashed.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    joined = hashed.join(keepers, "h")
    agg = joined.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(
            F.when(F.col("doc_id") != F.col("keeper"), 1).otherwise(0)
        ).alias("n_dupes_removed"),
    )
    dr = F.col("n_dupes_removed").cast("double") / F.col("n_docs")
    return agg.select(
        "source", "n_docs", "n_dupes_removed", rnd(dr, 4).alias("dup_rate")
    )


@query(
    "text_train_split",
    oracle="""
    SELECT CASE WHEN substr(md5(text), 1, 2) < 'e6' THEN 'train'
                WHEN substr(md5(text), 1, 2) < 'f3' THEN 'val'
                ELSE 'test' END AS split,
           lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY split, lang
    """,
)
def text_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (~90/5/5) for a training
    corpus. The split key is md5 of the CONTENT, not the doc id — exact
    duplicates land in the same split by construction, so dedup order
    can't leak train text into test. Hex-prefix range comparison ('e6' =
    230/256 ≈ 89.8%) keeps the whole decision inside the scan's codegen
    span: no shuffle, no rand(), replayable on any partitioning — the
    property that makes the split stable when the 100 TB corpus is
    re-ingested or re-partitioned. Emits per-(split, lang) doc counts and
    char volume as the audit table."""
    d = load_tables(spark, sf_dir).documents
    prefix = F.substring(F.md5("text"), 1, 2)
    split = (
        F.when(prefix < "e6", "train")
        .when(prefix < "f3", "val")
        .otherwise("test")
    )
    return (
        d.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@query(
    "text_lang_id_trigram",
    oracle="""
    WITH grams AS (
      SELECT doc_id, lang,
             unnest(list_transform(
               range(1, greatest(length(text) - 1, 1)),
               i -> substr(text, i, 3))) AS tri
      FROM documents
    ),
    profile AS (
      SELECT lang AS model_lang, tri
      FROM (
        SELECT lang, tri, count(*) AS c
        FROM grams GROUP BY lang, tri
      )
      QUALIFY row_number() OVER (
        PARTITION BY lang ORDER BY c DESC, tri) <= 40
    ),
    hits AS (
      SELECT g.doc_id, g.lang AS labeled_lang, p.model_lang,
             count(*) AS n_hits
      FROM (SELECT DISTINCT doc_id, lang, tri FROM grams) g
      JOIN profile p ON g.tri = p.tri
      GROUP BY g.doc_id, g.lang, p.model_lang
    )
    SELECT doc_id, labeled_lang, model_lang AS predicted_lang, n_hits
    FROM hits
    QUALIFY row_number() OVER (
      PARTITION BY doc_id ORDER BY n_hits DESC, model_lang) = 1
    """,
)
def text_lang_id_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram-profile language ID (Cavnar & Trenkle n-gram
    categorization): FIT per-language profiles (top-40 character
    trigrams by frequency, tie-broken lexically) from the labeled
    corpus, then SCORE every document by distinct-trigram overlap with
    each profile and take the argmax (ties → lexically-first language).

    The fit→broadcast→apply shape is the one a trained scorer uses at
    100 TB: the profile table is tiny (n_langs × 40 rows) so the scoring
    join broadcasts, and the only big shuffles are the two fact-side
    aggregates. The trigram explode is the honest cost — at full scale
    the profile phase runs on a hash-sample of docs (the scoring phase
    is unchanged). Richer than `text_lang_id`'s fixed stopword lists:
    this model is learned from the data, with zero Python in the plan."""
    d = load_tables(spark, sf_dir).documents
    grams = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(length(text) - 2, 0)),"
                " i -> substring(text, i, 3))"
            )
        ).alias("tri"),
    )
    counts = grams.groupBy("lang", "tri").agg(F.count("*").alias("c"))
    w_prof = Window.partitionBy("lang").orderBy(
        F.col("c").desc(), F.col("tri")
    )
    profile = (
        counts.withColumn("_rn", F.row_number().over(w_prof))
        .filter(F.col("_rn") <= 40)
        .select(F.col("lang").alias("model_lang"), "tri")
    )
    doc_tris = grams.select("doc_id", "lang", "tri").distinct()
    hits = (
        doc_tris.join(F.broadcast(profile), "tri")
        .groupBy("doc_id", "lang", "model_lang")
        .agg(F.count("*").alias("n_hits"))
    )
    w_pick = Window.partitionBy("doc_id").orderBy(
        F.col("n_hits").desc(), F.col("model_lang")
    )
    return (
        hits.withColumn("_rn", F.row_number().over(w_pick))
        .filter(F.col("_rn") == 1)
        .select(
            "doc_id",
            F.col("lang").alias("labeled_lang"),
            F.col("model_lang").alias("predicted_lang"),
            "n_hits",
        )
    )


@query(
    "text_lm_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    pairs AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      FROM toks, UNNEST(range(1, greatest(len(t), 1))) AS u(i)
    ),
    bc AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY w1, w2),
    uc AS (SELECT w1, count(*) AS c1 FROM pairs GROUP BY w1),
    v AS (
      SELECT count(DISTINCT tok) AS vocab
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
    ),
    scored AS (
      SELECT p.doc_id,
             {FXP('log2((CAST(c12 AS DOUBLE) + 1.0)'
                  ' / (CAST(c1 AS DOUBLE) + CAST(vocab AS DOUBLE)))',
                  10**9)} AS lp_c
      FROM pairs p
      JOIN bc USING (w1, w2)
      JOIN uc USING (w1)
      CROSS JOIN v
    )
    SELECT doc_id, count(*) AS n_bigrams,
           {R('CAST(sum(lp_c) AS DOUBLE) / 1000000000.0 / count(*)', 6)}
             AS avg_log2p
    FROM scored
    GROUP BY doc_id
    """,
)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model scoring (LM-perplexity quality filtering, a
    core training-corpus op): fit add-one-smoothed bigram probabilities
    on the corpus itself, then score every document by mean log2
    p(w2|w1).

    Float determinism: each bigram's log-prob is a function of three
    INTEGERS (c12, c1, V), so both engines compute log2 on identical
    doubles; the per-doc sum — the order-sensitive step — runs in
    fixed-point nano-units (BIGINT), so partial-aggregate order can't
    move the result. Scale: the bigram/unigram count tables are
    vocab-bounded (broadcastable for real vocabularies — here left to
    AQE); the scoring join shuffles the bigram stream once on (w1, w2).
    Low avg_log2p = surprising text under the corpus model — the
    rank signal used to drop boilerplate/garbage before training."""
    d = load_tables(spark, sf_dir).documents
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    pairs = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(t) < 2 THEN"
                " CAST(array() AS array<struct<w1:string,w2:string>>)"
                " ELSE transform(sequence(1, size(t) - 1),"
                " i -> struct(element_at(t, i) AS w1,"
                " element_at(t, i + 1) AS w2)) END"
            )
        ).alias("g"),
    ).select("doc_id", "g.w1", "g.w2")
    bc = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    uc = pairs.groupBy("w1").agg(F.count("*").alias("c1"))
    v = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .agg(F.count_distinct("tok").alias("vocab"))
    )
    lp = F.log2(
        (F.col("c12").cast("double") + 1.0)
        / (F.col("c1").cast("double") + F.col("vocab").cast("double"))
    )
    scored = (
        pairs.join(bc, ["w1", "w2"])
        .join(uc, ["w1"])
        .crossJoin(F.broadcast(v))
        .select("doc_id", fxp(lp, 10**9).alias("lp_c"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        rnd(F.sum("lp_c").cast("double") / 1e9 / F.count("*"), 6).alias(
            "avg_log2p"
        ),
    )


@query(
    "dedup_allpairs_prefix",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS t
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           {R('''CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
              / CAST(len(list_distinct(list_concat(a.t, b.t))) AS DOUBLE)''', 4)}
             AS jaccard
    FROM toks a JOIN toks b ON a.doc_id < b.doc_id
    WHERE 5 * len(list_intersect(a.t, b.t))
          >= 4 * len(list_distinct(list_concat(a.t, b.t)))
    """,
)
def dedup_allpairs_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs Jaccard >= 0.8 via PREFIX FILTERING (AllPairs /
    PPJoin family — Bayardo et al. WWW'07, Xiao et al. WWW'08): the
    published scale path for exact similarity self-join, replacing
    `dedup_near_jaccard`'s blocking bound with a provably-complete
    candidate filter and NO quadratic step.

    How: order every doc's distinct tokens by ascending global frequency
    (rarest first); a doc of n tokens exposes only its first
    n - ceil(0.8·n) + 1 tokens as its "prefix". Any pair with Jaccard >=
    0.8 MUST share a prefix token (else the intersection fits inside one
    doc's suffix, which is < 0.8·n <= |intersection| — contradiction), so
    joining prefix-token postings finds every qualifying pair while the
    frequency ordering keeps postings lists short (rare tokens → tiny
    lists). Candidates are then verified with exact integer set sizes
    (5·inter >= 4·union — no float in the membership test). The oracle is
    the brute-force quadratic join: identical output, which is the whole
    claim. Shuffles: vocab-rank (tiny), posting self-join on token,
    verify joins on doc_id — all equi-joins, no cartesian anywhere."""
    d = load_tables(spark, sf_dir).documents
    toks = d.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("t")
    )
    tok_freq = (
        toks.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    # global rarity rank via the two-phase range-partition rank — at web
    # scale the vocab is billions of tokens, so a single-partition
    # Window.orderBy would funnel it through one task; global_order_rank
    # keeps the sort distributed (rank is 0-based, but only the relative
    # order feeds array_sort below)
    from pyetl_spark.operators.global_rank import global_order_rank

    ranked = global_order_rank(tok_freq, ["c", "tok"], out_col="rk").select(
        "tok", "rk"
    )
    ordered = (
        toks.select("doc_id", F.explode("t").alias("tok"))
        .join(F.broadcast(ranked), "tok")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rk", "tok"))),
                lambda s: s.getField("tok"),
            ).alias("ot"),
            F.count("*").alias("n"),
        )
    )
    # prefix length L = n - ceil(0.8 n) + 1; ceil(4n/5) = floor((4n+4)/5)
    prefix = ordered.select(
        "doc_id",
        "n",
        F.posexplode(
            F.slice(
                F.col("ot"),
                1,
                (
                    F.col("n")
                    - F.floor((4 * F.col("n") + 4) / F.lit(5)).cast("long")
                    + 1
                ).cast("int"),
            )
        ).alias("pos", "tok"),
    ).select("doc_id", "n", "tok")
    # AllPairs LENGTH filter (Bayardo et al. §3.1, r15): J >= 0.8 forces
    # 5·min(n_a,n_b) >= 4·max(n_a,n_b) (inter <= min, union >= max), so
    # size-mismatched postings pairs are pruned INSIDE the join, before
    # the distinct's exchange — candidates only shrink, the verify is
    # unchanged, output identical (necessary-condition pruning). On the
    # dup-heavy fixture this halves the candidate set (121k -> 66k at
    # sf0.01, where the 31-token vocab makes every posting hot).
    cands = (
        prefix.alias("pa")
        .join(
            prefix.alias("pb"),
            (F.col("pa.tok") == F.col("pb.tok"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id"))
            & (5 * F.col("pa.n") >= 4 * F.col("pb.n"))
            & (5 * F.col("pb.n") >= 4 * F.col("pa.n")),
        )
        .select(
            F.col("pa.doc_id").alias("doc_a"),
            F.col("pb.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    ta = toks.select(F.col("doc_id").alias("doc_a"), F.col("t").alias("t_a"))
    tb = toks.select(F.col("doc_id").alias("doc_b"), F.col("t").alias("t_b"))
    inter = F.size(F.array_intersect("t_a", "t_b"))
    union = F.size(F.array_union("t_a", "t_b"))
    return (
        cands.join(ta, "doc_a")
        .join(tb, "doc_b")
        .filter(5 * inter >= 4 * union)
        .select(
            "doc_a",
            "doc_b",
            rnd(inter.cast("double") / union.cast("double"), 4).alias(
                "jaccard"
            ),
        )
    )


@query(
    "text_chunk_overlap",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents WHERE doc_id < 200
    ),
    starts AS (
      SELECT doc_id, toks,
             unnest(generate_series(0, len(toks) - 1, 48)) AS s
      FROM t WHERE len(toks) > 0
    )
    SELECT doc_id,
           CAST(s / 48 AS BIGINT) AS chunk_idx,
           array_to_string(list_slice(toks, s + 1, s + 64), ' ')
             AS chunk_text,
           CAST(len(list_slice(toks, s + 1, s + 64)) AS INT)
             AS n_chunk_tokens
    FROM starts
    """,
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-window chunking (north star: training-data
    pipeline): each document's token stream becomes 64-token chunks on a
    48-token stride (16-token overlap) — the standard long-document →
    context-window preparation, where the overlap preserves cross-chunk
    context. chunk_idx = start/stride, so no positional explode is
    needed; one generator + narrow maps, zero shuffles — scales as a pure
    map over the corpus at any size. Tail chunks are shorter (slice
    clamps), matching every production chunker."""
    d = load_tables(spark, sf_dir).documents
    toks = F.split("text", " ")
    base = d.filter(F.col("doc_id") < 200).select(
        "doc_id", toks.alias("toks")
    ).filter(F.size("toks") > 0)
    starts = F.sequence(
        F.lit(0), F.size("toks") - F.lit(1), F.lit(48)
    )
    exploded = base.select(
        "doc_id", "toks", F.explode(starts).alias("s")
    )
    chunk = F.slice("toks", F.col("s") + F.lit(1), F.lit(64))
    return exploded.select(
        "doc_id",
        (F.col("s") / F.lit(48)).cast("long").alias("chunk_idx"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
        F.size(chunk).alias("n_chunk_tokens"),
    )


@query(
    "text_pii_redact",
    oracle="""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
               '<EMAIL>', 'g'),
             '[0-9]{6,}', '<NUM>', 'g') AS redacted,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT)
             AS n_emails,
           CAST(len(regexp_extract_all(text, '[0-9]{6,}')) AS INT)
             AS n_long_numbers
    FROM documents
    WHERE doc_id < 500
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (north star: training-data pipeline): redact email
    addresses and long digit runs to typed placeholders and count the
    redactions per document — the pre-training compliance pass. Patterns
    are deliberately limited to syntax BOTH regex engines (Java util.regex
    and RE2) interpret identically: character classes, bounded repeats,
    no lookaround. Pure narrow map — no shuffle, scales with the scan;
    the counts feed the per-source audit the same way dedup attribution
    does."""
    d = load_tables(spark, sf_dir).documents
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    num = r"[0-9]{6,}"
    return d.filter(F.col("doc_id") < 500).select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("text", email, "<EMAIL>"), num, "<NUM>"
        ).alias("redacted"),
        F.size(F.regexp_extract_all("text", F.lit(email), F.lit(0))).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all("text", F.lit(num), F.lit(0))).alias(
            "n_long_numbers"
        ),
    )


@query(
    "text_global_shuffle",
    oracle="""
    SELECT doc_id,
           CAST(row_number() OVER (
             ORDER BY md5('42|' || CAST(doc_id AS VARCHAR)), doc_id
           ) - 1 AS BIGINT) AS shuffle_rank
    FROM documents
    """,
)
def text_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle (north star: training-data
    pipeline): every doc gets a dense 0-based position in a seeded
    pseudo-random permutation — the reproducible "shuffle before
    sharding" every training run needs.

    The oracle is the single-window form; the ENGINE path is the
    distributed two-phase rank (operators/global_rank.py): range shuffle
    on the md5 key + local rank + driver-side prefix-sum of partition
    counts (one long per partition). Same output, no single-partition
    bottleneck — this query hash-matching the oracle IS the proof the
    two-phase rewrite is exact."""
    from pyetl_spark.operators.global_rank import global_shuffle_rank

    d = load_tables(spark, sf_dir).documents.select("doc_id")
    return global_shuffle_rank(d, "doc_id", seed=42).select(
        "doc_id", "shuffle_rank"
    )


@query(
    "dedup_levenshtein_snm",
    oracle="""
    WITH p AS (
      SELECT p_partkey, p_name,
             CAST(row_number() OVER (ORDER BY p_name, p_partkey) - 1
                  AS BIGINT) AS r
      FROM part
    )
    SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
           a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS edit_dist
    FROM p a JOIN p b ON b.r - a.r BETWEEN 1 AND 3
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def dedup_levenshtein_snm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood edit-distance dedup — the scale twin
    `dedup_levenshtein`'s docstring promises (SCALE.md shape 5): instead
    of a noun-blocked quadratic self-join capped by an id bound, sort ALL
    part names once and compare each name only against its next w=3
    neighbors in sort order (typo-class variants sort adjacently).

    Scale shape: the sort is the distributed two-phase global rank
    (operators/global_rank.py — pinned range shuffle + local rank +
    O(partitions) offset collect, never a single-partition window), and
    the neighbor step is an EXPLODE of w rank offsets + one equi-join on
    rank — O(n·w) rows through a uniform-key hash join, no quadratic
    block anywhere, no cap needed. The classic SNM recall trade (dups
    whose leading characters diverge sort apart) is documented; the
    oracle is the single-window row_number form, so a hash match proves
    the two-phase rank + offset join is exact."""
    from pyetl_spark.operators.global_rank import global_order_rank

    p = load_tables(spark, sf_dir).part.select("p_partkey", "p_name")
    ranked = global_order_rank(p, ["p_name", "p_partkey"], out_col="r")
    win = 3
    a = (
        ranked.select(
            F.col("p_partkey").alias("part_a"),
            F.col("p_name").alias("name_a"),
            "r",
        )
        .withColumn(
            "_i",
            F.explode(F.array(*[F.lit(i) for i in range(1, win + 1)])),
        )
        .withColumn("rb", (F.col("r") + F.col("_i")).cast("long"))
        .drop("r", "_i")
    )
    b = ranked.select(
        F.col("p_partkey").alias("part_b"),
        F.col("p_name").alias("name_b"),
        F.col("r").alias("rb"),
    )
    lev = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, "rb")
        .filter(lev <= 3)
        .select("part_a", "part_b", "name_a", "name_b",
                lev.alias("edit_dist"))
    )


@query(
    "text_winnowing_fingerprint",
    oracle=f"""
    WITH g AS (
      SELECT doc_id,
             string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents
    ), grams AS (
      SELECT doc_id,
             list_transform(
               generate_series(1, n - 2),
               i -> {TX.token_hash_sql(
                   "array_to_string(list_slice(toks, i, i + 2), ' ')")}
             ) AS gh
      FROM g WHERE n >= 6
    ), wins AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, len(gh) - 3),
               j -> list_aggregate(list_slice(gh, j, j + 3), 'min')
             )) AS fps
      FROM grams
    )
    SELECT doc_id, unnest(fps) AS fp FROM wins
    """,
)
def text_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (north star: robust document
    fingerprinting; the MOSS algorithm): hash every k=3-gram of the token
    stream, then keep the MINIMUM hash of every sliding w=4 window of
    gram hashes — the classic guarantee that any shared substring of
    length ≥ k+w-1 tokens between two documents yields at least one
    shared fingerprint, while storing only ~1/w of the gram hashes.
    Unlike the whole-doc rolling hash (`text_fingerprint`) this
    fingerprints PARTIAL overlap: plagiarized/quoted spans, boilerplate,
    near-identical docs with edits.

    Scale shape: everything up to the final explode is per-doc ARRAY
    algebra (slice/transform/array_min folds — JVM codegen, zero
    shuffles, zero Python); output is ~grams/w rows per doc. The
    cross-engine 24-bit md5 token hash (operators/text.py) keeps both
    engines bit-identical."""
    k, w = 3, 4
    d = load_tables(spark, sf_dir).documents
    # materialize the TOKEN array, then the gram-hash array, each as its
    # own projection: referenced from inside a lambda either would be
    # RE-COMPUTED per element (O(m²) splits / md5 calls per doc); as
    # bound columns each computes once per row (plan shows a single
    # split and a single md5 transform)
    toked = d.select("doc_id", TX.tokens(F.col("text")).alias("_toks"))
    toks = F.col("_toks")
    base = toked.filter(F.size(toks) >= k + w - 1).select(
        "doc_id", TX.winnow_grams(toks, k).alias("_grams")
    )
    return base.select(
        "doc_id", F.explode(TX.winnow_fps(F.col("_grams"), w)).alias("fp")
    )


@query(
    "text_shard_assign",
    oracle="""
    WITH ranked AS (
      SELECT doc_id,
             CAST(row_number() OVER (
               ORDER BY md5('42|' || CAST(doc_id AS VARCHAR)), doc_id
             ) - 1 AS BIGINT) AS r
      FROM documents
    )
    SELECT doc_id,
           CAST(r % 8 AS BIGINT) AS shard,
           CAST(r // 8 AS BIGINT) AS shard_pos
    FROM ranked
    """,
)
def text_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-balanced corpus export assignment (north star: the step
    after "shuffle the corpus" — training runs read N equal shards in
    parallel): every doc gets (shard, shard_pos) from its position in
    the seeded global permutation. Round-robin on the shuffle rank makes
    shard sizes equal ±1 doc BY CONSTRUCTION — no skew, no reliance on
    hash uniformity — and shard_pos is the read order within the shard,
    so (shard, shard_pos) is a complete, reproducible shard layout.

    Engine path: distributed two-phase rank (operators/global_rank.py,
    pinned range shuffle, O(partitions) driver state) + two integer ops;
    the oracle is the single-window form, so the hash match proves the
    distributed rank exact. The matching SINK
    (operators/corpus_shards.write_corpus_shards) writes
    partitionBy(shard) parquet with shard_pos preserved."""
    from pyetl_spark.operators.global_rank import global_shuffle_rank

    n_shards = 8
    d = load_tables(spark, sf_dir).documents.select("doc_id")
    return global_shuffle_rank(d, "doc_id", seed=42).select(
        "doc_id",
        (F.col("shuffle_rank") % n_shards).cast("long").alias("shard"),
        # integer div, not double-divide-and-truncate: exact at any rank
        F.expr(f"shuffle_rank div {n_shards}").cast("long").alias("shard_pos"),
    )


_RAW_URL = (
    "'HTTPS://WWW.' || upper(source) || '.Example.COM:443/p/' "
    "|| (doc_id % 7) || '/?utm_source=feed&b=' || (doc_id % 3) "
    "|| '&a=' || (doc_id % 5) || '#sec' || (doc_id % 4)"
)


@query(
    "text_url_canonicalize",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, {_RAW_URL} AS url FROM documents
    ),
    parts AS (
      SELECT doc_id, url,
             regexp_replace(regexp_replace(
               lower(regexp_extract(url, '^[A-Za-z]+://([^/]+)', 1)),
               ':443$', ''), '^www\\.', '') AS host,
             regexp_replace(
               regexp_extract(url, '^[A-Za-z]+://[^/]+([^?#]*)', 1),
               '/+$', '') AS path,
             array_to_string(list_sort(list_filter(
               string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
               x -> x NOT LIKE 'utm_%' AND x != '')), '&') AS q
      FROM raw
    ),
    canon AS (
      SELECT doc_id, url,
             'https://' || host || path
               || CASE WHEN q = '' THEN '' ELSE '?' || q END AS canonical_url
      FROM parts
    )
    SELECT doc_id, url, canonical_url, md5(canonical_url) AS url_key,
           CAST(count(*) OVER (PARTITION BY md5(canonical_url)) AS BIGINT)
             AS n_same_url
    FROM canon
    """,
)
def text_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization for web-corpus dedup (the key step before
    URL-keyed exact dedup in crawl pipelines): lowercase scheme+host,
    strip default port and www., strip trailing slash and fragment, drop
    utm_* tracking params, sort the surviving query params. All JVM
    string/regexp/array algebra — one narrow pass, then one window on the
    canonical key to expose collision groups (the dedup candidates).
    Fixture URLs are synthesized deterministically from doc fields so the
    oracle builds the identical inputs."""
    d = load_tables(spark, sf_dir).documents
    url = F.concat(
        F.lit("HTTPS://WWW."),
        F.upper("source"),
        F.lit(".Example.COM:443/p/"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("/?utm_source=feed&b="),
        (F.col("doc_id") % 3).cast("string"),
        F.lit("&a="),
        (F.col("doc_id") % 5).cast("string"),
        F.lit("#sec"),
        (F.col("doc_id") % 4).cast("string"),
    )
    raw = d.select("doc_id", url.alias("url"))
    host = F.regexp_replace(
        F.regexp_replace(
            F.lower(F.regexp_extract("url", r"^[A-Za-z]+://([^/]+)", 1)),
            r":443$",
            "",
        ),
        r"^www\.",
        "",
    )
    path = F.regexp_replace(
        F.regexp_extract("url", r"^[A-Za-z]+://[^/]+([^?#]*)", 1), r"/+$", ""
    )
    q = F.concat_ws(
        "&",
        F.array_sort(
            F.filter(
                F.split(F.regexp_extract("url", r"\?([^#]*)", 1), "&"),
                lambda x: (~x.startswith("utm_")) & (x != ""),
            )
        ),
    )
    canon = raw.select(
        "doc_id",
        "url",
        F.concat(
            F.lit("https://"),
            host,
            path,
            F.when(q == "", "").otherwise(F.concat(F.lit("?"), q)),
        ).alias("canonical_url"),
    )
    w = Window.partitionBy(F.md5("canonical_url"))
    return canon.select(
        "doc_id",
        "url",
        "canonical_url",
        F.md5("canonical_url").alias("url_key"),
        F.count("*").over(w).cast("long").alias("n_same_url"),
    )


def _bpe_oracle(n_merges: int | None = None, cap: int | None = None) -> str:
    """DuckDB replay of the FULL BPE pipeline (operators/bpe.py):
    word-frequency table → frequency-capped training vocab → ``n_merges``
    textually-unrolled greedy merge rounds (weighted adjacent-pair
    counts over the capped vocab, argmax with (count desc, pair asc)
    tie-break — UTF-8 byte order equals Python's code-point order — and
    a fold-based merge application) → encoding of EVERY word.

    The merge application is a left fold with a list accumulator
    (list_reduce over singleton-lifted symbols — the r7 "DuckDB
    list_reduce broken for list accumulators" finding turns out to be
    the reduce's homogeneous-type requirement, circumvented by lifting
    each symbol to [s]): merge when the accumulator's last token equals
    pair[0] and the next symbol equals pair[1]. This is EQUIVALENT to
    the engine's greedy left-to-right scan (_merge_word): a merged
    token a||b is strictly longer than a, so it can never re-match
    pair[0] and cascade — the fold's "last" always equals the scan's
    last emitted token. Early-stop parity: when no pair reaches count 2
    the round's pair is the sentinel '' (matches no symbol — symbols
    are never empty), a no-op exactly like the engine's break, and the
    condition then repeats for every later round. Parameters default to
    the engine's bpe.N_MERGES / TRAIN_VOCAB_CAP constants."""
    from pyetl_spark.operators.bpe import N_MERGES, TRAIN_VOCAB_CAP

    n_merges = N_MERGES if n_merges is None else n_merges
    cap = TRAIN_VOCAB_CAP if cap is None else cap

    def fold(src: str, pair: str) -> str:
        return f"""
      SELECT word, freq,
             list_reduce(
               list_prepend(CAST([] AS VARCHAR[]),
                            list_transform(syms, s -> [s])),
               (acc, sl) -> CASE
                 WHEN len(acc) > 0 AND acc[-1] = b.pa AND sl[1] = b.pb
                 THEN list_append(acc[1:len(acc)-1], b.pa || b.pb)
                 ELSE list_append(acc, sl[1]) END) AS syms
      FROM {src}, {pair} b"""

    parts = [
        f"""wf AS MATERIALIZED (
      SELECT word, count(*) AS freq FROM (
        SELECT unnest(string_split_regex(lower(text), '\\s+')) AS word
        FROM documents
      ) WHERE word <> '' GROUP BY word
    ),
    cap AS MATERIALIZED (
      SELECT word FROM wf ORDER BY freq DESC, word LIMIT {cap}
    ),
    e0 AS MATERIALIZED (
      SELECT word, freq, string_split(word, '') AS syms FROM wf
    )"""
    ]
    for i in range(1, n_merges + 1):
        parts.append(f"""p{i} AS MATERIALIZED (
      SELECT s1, s2, sum(freq) AS c FROM (
        SELECT freq,
               unnest(list_transform(generate_series(1, len(syms)-1),
                                     j -> syms[j])) AS s1,
               unnest(list_transform(generate_series(1, len(syms)-1),
                                     j -> syms[j+1])) AS s2
        FROM e{i - 1} JOIN cap USING (word)
      ) GROUP BY s1, s2
    ),
    b{i} AS MATERIALIZED (
      SELECT coalesce((SELECT s1 FROM p{i}
                       WHERE c = (SELECT max(c) FROM p{i})
                         AND (SELECT max(c) FROM p{i}) >= 2
                       ORDER BY s1, s2 LIMIT 1), '') AS pa,
             coalesce((SELECT s2 FROM p{i}
                       WHERE c = (SELECT max(c) FROM p{i})
                         AND (SELECT max(c) FROM p{i}) >= 2
                       ORDER BY s1, s2 LIMIT 1), '') AS pb
    ),
    e{i} AS MATERIALIZED ({fold(f'e{i - 1}', f'b{i}')}
    )""")
    return (
        "\n    WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT word, freq,
           array_to_string(syms, ' ') AS segmentation,
           CAST(len(syms) AS INT) AS n_subwords
    FROM e{n_merges}
    ORDER BY freq DESC, word
    """
    )


@query("text_bpe_tokenize", oracle=_bpe_oracle())
def text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE subword tokenizer trained on the corpus and applied back to
    its vocabulary (operators/bpe.py): the word-frequency table is the
    only corpus-sized aggregate; the greedy merge loop runs driver-side
    on the top-``TRAIN_VOCAB_CAP`` words by frequency (TakeOrderedAnd-
    Project — a bounded collect even when the corpus's distinct-word
    tail is unbounded; industrial trainer shape — HF/SentencePiece train
    on frequency-capped word counts too); encoding is a no-shuffle Arrow
    pandas UDF. Merge-sequence exactness vs an independent reference
    implementation and the collect cap are pinned in tests/test_bpe.py.

    Tier A (r8 conversion): the training loop AND the encoding pass are
    integer/string-exact, so ``_bpe_oracle`` replays the whole pipeline
    as 24 unrolled merge rounds in DuckDB — the r7 residual note
    ("DuckDB list_reduce broken for list accumulators") fell to the
    singleton-lift trick documented there."""
    from pyetl_spark.operators.bpe import (
        N_MERGES,
        bpe_apply,
        bpe_train,
        top_word_freqs,
        word_freqs,
    )

    d = load_tables(spark, sf_dir).documents
    wf = word_freqs(d)
    rows = top_word_freqs(wf)
    merges = bpe_train(rows, n_merges=N_MERGES)
    return (
        bpe_apply(wf, merges)
        .select(
            "word",
            "freq",
            F.concat_ws(" ", "subwords").alias("segmentation"),
            F.size("subwords").alias("n_subwords"),
        )
        .orderBy(F.desc("freq"), "word")
    )


@query(
    "dedup_exact_substring_spans",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks
      FROM documents
      WHERE len(regexp_split_to_array(lower(text), '\\s+')) >= 8
    ),
    spans AS (
      SELECT doc_id,
             unnest(generate_series(0, len(toks) - 8)) AS span_start,
             unnest(list_transform(generate_series(1, len(toks) - 7),
                    i -> array_to_string(toks[i:i+7], ' '))) AS span
      FROM toks
    ),
    dup AS (
      SELECT span, count(DISTINCT doc_id) AS n_docs
      FROM spans GROUP BY span HAVING count(DISTINCT doc_id) >= 2
    ),
    hits AS (
      SELECT s.doc_id, s.span_start, d.n_docs
      FROM spans s JOIN dup d USING (span)
    ),
    isl AS (
      SELECT doc_id, span_start, n_docs,
             CASE WHEN lag(span_start) OVER w IS NULL
                       OR span_start - lag(span_start) OVER w > 8
                  THEN 1 ELSE 0 END AS ni
      FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY span_start)
    ),
    isl2 AS (
      SELECT doc_id, span_start, n_docs,
             sum(ni) OVER (PARTITION BY doc_id ORDER BY span_start
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS island
      FROM isl
    )
    SELECT doc_id,
           min(span_start) AS cut_from_token,
           max(span_start) + 7 AS cut_to_token,
           max(n_docs) AS max_span_docs
    FROM isl2
    GROUP BY doc_id, island
    ORDER BY doc_id, cut_from_token
    """,
)
def dedup_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring detection at span level (the
    'dedup training data at the substring, not document, granularity'
    op from Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better" — public method): every k-token window is hashed
    (k=8), windows whose hash occurs in >=2 DISTINCT docs are duplicated
    text, and per doc the overlapping hits merge into maximal cut ranges
    via gaps-and-islands. Cost is linear: ~n_tokens span hashes per doc,
    one groupBy on the span hash, one window per doc for the merge —
    never a doc×doc comparison. (Suffix arrays give the same answer for
    unbounded match length; fixed-k span hashing is the standard
    MapReduce-able form, catching every duplication of length >= k.)

    Tier A (r7 conversion): the span hash never reaches the output — it
    only decides which spans COLLIDE — so the engine keeps xxhash64 (at
    scale, shuffling 8-byte hashes beats shuffling 8-token strings) while
    the oracle groups by the literal span text; identical collision
    structure, no cross-engine hash pairing needed. (A truly adversarial
    xxhash64 collision would merge two distinct spans — ~2^-64 per pair,
    absent by construction on these fixtures and detectable as a hash
    mismatch if it ever occurred.)"""
    k = 8
    d = load_tables(spark, sf_dir).documents
    toks = d.select(
        "doc_id", F.split(F.lower("text"), r"\s+").alias("toks")
    ).filter(F.size("toks") >= k)
    spans = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - (k - 1)),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice("toks", i, k))),
            )
        ).alias("span_start", "span_hash"),
    )
    # spans duplicated ACROSS documents (distinct-doc count >= 2)
    dup_hashes = (
        spans.groupBy("span_hash")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )
    hits = spans.join(dup_hashes, "span_hash").select(
        "doc_id", "span_start", "n_docs"
    )
    # gaps-and-islands: overlapping/adjacent k-windows merge to one range
    w = Window.partitionBy("doc_id").orderBy("span_start")
    islands = (
        hits.withColumn(
            "new_island",
            F.when(
                F.lag("span_start").over(w).isNull()
                | (F.col("span_start") - F.lag("span_start").over(w) > k),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("new_island").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("span_start").alias("cut_from_token"),
            (F.max("span_start") + k - 1).alias("cut_to_token"),
            F.max("n_docs").alias("max_span_docs"),
        )
        .drop("island")
        .orderBy("doc_id", "cut_from_token")
    )


def _quality_classifier_oracle() -> str:
    """DuckDB replay of text_quality_classifier's replay-parity trainer
    (operators/quality_model.py, r15 conversion — the learned-scorer
    sibling of _semdedup_oracle's k-means replay): 5dp-grid features,
    phash60-ordered constant-count sample, integer-grid moments, then
    PARITY_ITERS textually-unrolled gradient steps — per step the sigmoid
    quantizes to 7dp, gradient contributions sum on a 1e9 integer grid,
    and weights re-quantize to 9dp, so both engines walk the identical
    weight sequence. Every iteration CTE is MATERIALIZED: without it
    DuckDB inlines it{t-1} into both of its two consumers and the plan
    blows up 2^30."""
    from pyetl_spark.operators.quality_model import (
        PARITY_CLAMP,
        PARITY_ITERS,
        PARITY_LR,
        TRAIN_SAMPLE_CAP,
    )
    from pyetl_spark.parity import PHASH60

    safe = "greatest(CAST(length(text) AS DOUBLE), 1.0)"
    ntoks = "greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0)"
    digits = (
        "CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)"
    )
    caps = "CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)"
    x1 = R("ln(1.0 + CAST(length(text) AS DOUBLE))", 5)
    x2 = R(f"least({safe} / {ntoks}, 64.0)", 5)
    x3 = R(f"{digits} / {safe}", 5)
    x4 = R(f"{caps} / {safe}", 5)
    feats = f"""feats AS MATERIALIZED (
      SELECT doc_id, {x1} AS x1, {x2} AS x2, {x3} AS x3, {x4} AS x4,
             (CASE WHEN length(text) > 120 AND {x3} < 0.2
                   THEN 1.0 ELSE 0.0 END) AS y
      FROM documents)"""
    rs = (
        f"rs AS MATERIALIZED (SELECT * FROM feats ORDER BY "
        f"{PHASH60('doc_id')}, doc_id LIMIT {TRAIN_SAMPLE_CAP})"
    )
    mom_terms = []
    for j in (1, 2, 3, 4):
        f5 = FXP(f"x{j}", 10**5)
        mom_terms.append(
            f"((CAST(sum({f5}) AS DOUBLE) / count(*)) / 100000.0) AS mu{j}"
        )
        mom_terms.append(
            f"((CAST(sum(({f5}) * ({f5})) AS DOUBLE) / count(*))"
            f" / 10000000000.0) AS ex{j}"
        )
    mom = (
        "mom AS MATERIALIZED (SELECT "
        + ", ".join(mom_terms)
        + " FROM rs)"
    )
    sd_terms = ", ".join(
        f"mu{j}, (CASE WHEN (ex{j} - mu{j} * mu{j}) < 1e-12 THEN 1.0 "
        f"ELSE sqrt(ex{j} - mu{j} * mu{j}) END) AS sd{j}"
        for j in (1, 2, 3, 4)
    )
    sdv = f"sdv AS MATERIALIZED (SELECT {sd_terms} FROM mom)"

    def std(j: int) -> str:
        return (
            f"least(greatest((r.x{j} - m.mu{j}) / m.sd{j}, "
            f"-{PARITY_CLAMP:.1f}), {PARITY_CLAMP:.1f})"
        )

    samp = (
        "samp AS MATERIALIZED (SELECT "
        + ", ".join(f"{std(j)} AS s{j}" for j in (1, 2, 3, 4))
        + ", r.y FROM rs r, sdv m)"
    )
    it0 = (
        "it0 AS MATERIALIZED (SELECT 0.0 AS w1, 0.0 AS w2, 0.0 AS w3, "
        "0.0 AS w4, 0.0 AS b)"
    )
    zfold = (
        "((((w.b + w.w1 * s.s1) + w.w2 * s.s2) + w.w3 * s.s3)"
        " + w.w4 * s.s4)"
    )
    its = []
    for t in range(1, PARITY_ITERS + 1):
        p = R("1.0 / (1.0 + exp(-z))", 7)
        inner = (
            f"SELECT ({p}) - y AS g, s1, s2, s3, s4 FROM "
            f"(SELECT {zfold} AS z, s.y, s.s1, s.s2, s.s3, s.s4 "
            f"FROM samp s, it{t - 1} w)"
        )
        cs = ", ".join(
            f"{FXP(f'g * s{j}', 10**9)} AS c{j}" for j in (1, 2, 3, 4)
        )
        gsel = ", ".join(
            f"((CAST(sum(c{j}) AS DOUBLE) / count(*)) / 1000000000.0)"
            f" AS g{j}"
            for j in (1, 2, 3, 4)
        )
        its.append(
            f"gr{t} AS MATERIALIZED (SELECT {gsel}, "
            f"((CAST(sum(cb) AS DOUBLE) / count(*)) / 1000000000.0) AS gb "
            f"FROM (SELECT {cs}, {FXP('g', 10**9)} AS cb FROM ({inner})))"
        )
        upd = ", ".join(
            f"{R(f'w.w{j} - {PARITY_LR} * g.g{j}', 9)} AS w{j}"
            for j in (1, 2, 3, 4)
        )
        its.append(
            f"it{t} AS MATERIALIZED (SELECT {upd}, "
            f"{R(f'w.b - {PARITY_LR} * g.gb', 9)} AS b "
            f"FROM it{t - 1} w, gr{t} g)"
        )
    zfold_f = (
        "((((w.b + w.w1 * f.s1) + w.w2 * f.s2) + w.w3 * f.s3)"
        " + w.w4 * f.s4)"
    )
    final = (
        f"SELECT doc_id, quality_prob, quality_prob > 0.5 AS accept FROM "
        f"(SELECT zq.doc_id, {R('1.0 / (1.0 + exp(-z))', 6)}"
        f" AS quality_prob FROM (SELECT f.doc_id, {zfold_f} AS z "
        f"FROM (SELECT r.doc_id, "
        + ", ".join(f"{std(j)} AS s{j}" for j in (1, 2, 3, 4))
        + f" FROM feats r, sdv m) f, it{PARITY_ITERS} w) zq) sq "
        f"ORDER BY doc_id"
    )
    ctes = [feats, rs, mom, sdv, samp, it0] + its
    return "WITH " + ",\n".join(ctes) + "\n" + final


@query("text_quality_classifier", oracle=_quality_classifier_oracle())
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-offline / score-at-scale quality filter
    (operators/quality_model.py): a deterministic CONSTANT-COUNT labeled
    sample (hash-ordered limit → TakeOrderedAndProject, O(cap) driver
    memory at any corpus size; labels from the rule-based heuristic —
    standing in for human labels) trains a logistic regression
    driver-side; the learned weights fold back into ONE sigmoid column
    expression, so the corpus-wide scoring pass is pure
    whole-stage-codegen arithmetic — no Python, no shuffle. Output:
    doc_id, quality_prob, accept flag.

    Tier A (r15 conversion, closing the last learned-scorer rows-only
    key): rides the replay-parity trainer ``train_logreg_replay`` —
    5dp-grid features, phash60 sample ordering (the cross-engine hash;
    xxhash64 stays the at-scale default in ``sample_for_training``),
    integer-grid moments and gradients, per-iteration weight
    quantization — so ``_quality_classifier_oracle``'s unrolled 30-step
    CTE chain reproduces the weights bit-for-bit and the 6dp
    quality_prob hash-matches at every SF. Model determinism,
    rule-agreement, and the training-collect cap are pinned in
    tests/test_quality_model.py."""
    from pyetl_spark.operators.quality_model import (
        TRAIN_SAMPLE_CAP,
        parity_feature_cols,
        parity_score_expr,
        train_logreg_replay,
    )
    from pyetl_spark.parity import phash60

    d = load_tables(spark, sf_dir).documents
    feats = d.select("doc_id", F.length("text").alias("_len"),
                     *parity_feature_cols(F.col("text")))
    labeled = feats.withColumn(
        "label",
        (
            (F.col("_len") > 120) & (F.col("digit_ratio") < 0.2)
        ).cast("double"),
    )
    sample = labeled.orderBy(phash60(F.col("doc_id")), "doc_id").limit(
        TRAIN_SAMPLE_CAP
    )
    rows = [
        (r.log_len, r.mean_word_len, r.digit_ratio, r.caps_ratio, r.label)
        for r in sample.select(
            "log_len", "mean_word_len", "digit_ratio", "caps_ratio", "label"
        ).collect()
    ]
    w, b, mu, sd = train_logreg_replay(rows)
    prob = parity_score_expr(w, b, mu, sd)
    return feats.select(
        "doc_id",
        prob.alias("quality_prob"),
        (prob > 0.5).alias("accept"),
    ).orderBy("doc_id")


@query(
    "text_rake_keywords",
    oracle=f"""
    WITH ph AS (
      SELECT unnest(string_split_regex(
               regexp_replace(text,
                 '\\b(the|a|of|and|to|in|is|on|for|with)\\b', '|', 'g'),
               '\\|')) AS phrase
      FROM documents
    ),
    tok AS (
      SELECT string_split_regex(trim(phrase), ' +') AS toks
      FROM ph WHERE trim(phrase) <> ''
    ),
    w AS (SELECT unnest(toks) AS word, len(toks) AS n FROM tok),
    sc AS (
      SELECT word, count(*) AS freq, sum(n) AS degree
      FROM w WHERE word <> '' GROUP BY word
    )
    SELECT word, CAST(freq AS BIGINT) AS freq,
           CAST(degree AS BIGINT) AS degree,
           {R('CAST(degree AS DOUBLE) / CAST(freq AS DOUBLE)', 6)} AS rake_score
    FROM sc WHERE freq >= 5
    ORDER BY rake_score DESC, word LIMIT 20
    """,
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword scoring (Rose et al. 2010, simplified to the
    word-score level): stopwords delimit candidate phrases, and each
    word's score is degree/frequency, where degree sums the lengths of
    every phrase the word appears in — words that ride inside LONG
    multi-word phrases outrank equally-frequent words that stand alone,
    which is what separates keyword-y terms from merely common ones
    (tf-idf can't see phrase context; this is its cheap phrase-aware
    complement for corpus exploration and tag generation).

    Determinism: freq and degree are exact integer aggregates; the score
    is ONE division of those ints rounded 6dp — no float summation chain
    anywhere (the reason this declares word-level RAKE: phrase-level
    scores would sum doubles in engine-specific order). Plan: regex
    phrase split + two explodes are map-side; the only shuffle is the
    word aggregate (uniform keys), then a 20-row TakeOrdered. At 100 TB
    this is text_top_terms' cost shape with a constant-factor wider
    explode."""
    d = load_tables(spark, sf_dir).documents
    ph = d.select(
        F.explode(
            F.split(
                F.regexp_replace(
                    "text", r"\b(the|a|of|and|to|in|is|on|for|with)\b", "|"
                ),
                r"\|",
            )
        ).alias("phrase")
    )
    ph = ph.select(F.trim("phrase").alias("p")).filter(F.col("p") != "")
    tok = ph.select(F.split("p", " +").alias("toks"))
    w = tok.select(
        F.explode("toks").alias("word"), F.size("toks").alias("n")
    ).filter(F.col("word") != "")
    sc = w.groupBy("word").agg(
        F.count("*").alias("freq"), F.sum("n").alias("degree")
    )
    return (
        sc.filter(F.col("freq") >= 5)
        .select(
            "word",
            F.col("freq").cast("bigint").alias("freq"),
            F.col("degree").cast("bigint").alias("degree"),
            rnd(
                F.col("degree").cast("double") / F.col("freq").cast("double"),
                6,
            ).alias("rake_score"),
        )
        .orderBy(F.col("rake_score").desc(), "word")
        .limit(20)
    )


@query(
    "text_boilerplate_strip",
    oracle="""
    WITH fed AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 5 = 0
                  THEN 'corpus header notice terms apply all rights reserved ' || text
                  ELSE text END AS text
      FROM documents
    ),
    pref AS (
      SELECT doc_id, source, text,
             array_to_string(string_split(text, ' ')[1:8], ' ') AS prefix8,
             len(string_split(text, ' ')) AS n_tokens
      FROM fed
    ),
    freq AS (
      SELECT prefix8, count(*) AS n_docs FROM pref GROUP BY prefix8
    )
    SELECT p.doc_id, p.source,
           f.n_docs >= 20 AS is_boilerplate,
           CAST(p.n_tokens AS BIGINT) AS n_tokens_raw,
           CAST(CASE WHEN f.n_docs >= 20 THEN p.n_tokens - 8
                     ELSE p.n_tokens END AS BIGINT) AS n_tokens_clean
    FROM pref p JOIN freq f ON p.prefix8 = f.prefix8
    """,
)
def text_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate prefix detection + stripping — the corpus-cleaning
    step that removes shared headers/licenses/cookie banners BEFORE
    dedup and quality scoring (boilerplate inflates n-gram overlap and
    drags near-dup thresholds): the 8-token document prefix is counted
    corpus-wide, prefixes shared by ≥ 20 docs are declared boilerplate
    (DETECTED from frequency, not a hard-coded pattern list), and
    flagged docs report their stripped token count. The fixture has no
    natural boilerplate, so a deterministic header is planted on
    doc_id % 5 = 0 identically on both engines.

    Plan: one narrow map pass (split + slice + count), one prefix
    aggregate (uniform md5-like keys — identical prefixes collapse
    map-side), one join back; corpus-linear. At 100 TB the prefix table
    is tiny (distinct prefixes ≪ docs) and broadcasts."""
    d = load_tables(spark, sf_dir).documents
    fed = d.select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(
                    "corpus header notice terms apply all rights reserved "
                ),
                F.col("text"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    toks = F.split("text", " ")
    pref = fed.select(
        "doc_id",
        "source",
        F.concat_ws(" ", F.slice(toks, 1, 8)).alias("prefix8"),
        F.size(toks).alias("n_tokens"),
    )
    freq = pref.groupBy("prefix8").agg(F.count("*").alias("n_docs"))
    joined = pref.join(freq, "prefix8")
    is_bp = F.col("n_docs") >= 20
    return joined.select(
        "doc_id",
        "source",
        is_bp.alias("is_boilerplate"),
        F.col("n_tokens").cast("bigint").alias("n_tokens_raw"),
        F.when(is_bp, F.col("n_tokens") - 8)
        .otherwise(F.col("n_tokens"))
        .cast("bigint")
        .alias("n_tokens_clean"),
    )


@query(
    "text_zipf_exponent",
    oracle=f"""
    WITH tf AS (
      SELECT t.term, count(*) AS freq
      FROM documents, unnest(string_split(text, ' ')) AS t(term)
      WHERE t.term <> '' GROUP BY t.term
    ),
    ranked AS (
      SELECT freq, row_number() OVER (ORDER BY freq DESC, term) AS rnk
      FROM tf
    ),
    pts AS (
      SELECT CAST(sign(ln(CAST(rnk AS DOUBLE))) *
               floor(abs(ln(CAST(rnk AS DOUBLE))) * 1000000.0 + 0.5)
               AS BIGINT) AS xs,
             CAST(sign(ln(CAST(freq AS DOUBLE))) *
               floor(abs(ln(CAST(freq AS DOUBLE))) * 1000000.0 + 0.5)
               AS BIGINT) AS ys
      FROM ranked WHERE rnk <= 1000
    )
    SELECT CAST(count(*) AS BIGINT) AS n_terms,
           {R('(CAST(count(*) AS DOUBLE) * CAST(sum(xs * ys) AS DOUBLE) - '
              'CAST(sum(xs) AS DOUBLE) * CAST(sum(ys) AS DOUBLE)) / '
              '(CAST(count(*) AS DOUBLE) * CAST(sum(xs * xs) AS DOUBLE) - '
              'CAST(sum(xs) AS DOUBLE) * CAST(sum(xs) AS DOUBLE))', 6)}
             AS zipf_slope,
           {R('(CAST(sum(ys) AS DOUBLE) - '
              '(CAST(count(*) AS DOUBLE) * CAST(sum(xs * ys) AS DOUBLE) - '
              'CAST(sum(xs) AS DOUBLE) * CAST(sum(ys) AS DOUBLE)) / '
              '(CAST(count(*) AS DOUBLE) * CAST(sum(xs * xs) AS DOUBLE) - '
              'CAST(sum(xs) AS DOUBLE) * CAST(sum(xs) AS DOUBLE)) '
              '* CAST(sum(xs) AS DOUBLE)) / CAST(count(*) AS DOUBLE) '
              '/ 1000000.0', 4)} AS log_c
    FROM pts
    """,
)
def text_zipf_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law exponent of the corpus term distribution: OLS slope of
    ln(freq) against ln(rank) over the top-1000 terms — natural corpora
    sit near -1, and a corpus that drifts far from it (too flat:
    template/generated text; too steep: vocabulary collapse) fails the
    distributional sanity check language-modeling data should pass.

    Determinism (revenue_trend_ols's recipe adapted to log space): ranks
    and freqs are exact ints, both engines take ln() of the SAME doubles
    and round half-away onto a 1e-6 grid → identical scaled-int (xs, ys)
    points; the OLS moments are then exact BIGINT sums (|xs·ys| ≤ ~2e14
    × 1000 terms ≪ 2^63), and the closed form runs once on identical
    bits. Plan: token explode → term aggregate → top-1000
    (TakeOrdered-sized) → 1-row moment aggregate; the slope costs one
    term-count pass, the same shape as text_top_terms. ln() is
    correctly-rounded for these small integer inputs on both libms —
    unlike floor(log10) digit extraction, a 1-ulp difference here moves
    a 1e-6-grid point at most one step and cancels in the 6dp-rounded
    slope (and the sweep pins it at three SFs)."""
    d = load_tables(spark, sf_dir).documents
    tf = (
        d.select(F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
    )
    # top-1000 via sort+limit first (TakeOrderedAndProject, distributed),
    # THEN rank with a window over the ≤1000 surviving rows — the
    # single-partition sort is bounded by the constant k, not the vocab
    top = tf.orderBy(F.col("freq").desc(), "term").limit(1000)
    w = Window.orderBy(F.col("freq").desc(), "term")
    ranked = top.withColumn("rnk", F.row_number().over(w))
    pts = ranked.select(
        fxp(F.log(F.col("rnk").cast("double")), 10**6).alias("xs"),
        fxp(F.log(F.col("freq").cast("double")), 10**6).alias("ys"),
    )
    n = F.count("*").cast("double")
    sxy = F.sum(F.col("xs") * F.col("ys")).cast("double")
    sx = F.sum("xs").cast("double")
    sy = F.sum("ys").cast("double")
    sxx = F.sum(F.col("xs") * F.col("xs")).cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return pts.agg(
        F.count("*").alias("n_terms"),
        rnd(slope, 6).alias("zipf_slope"),
        rnd((sy - slope * sx) / n / 1_000_000.0, 4).alias("log_c"),
    )


@query(
    "text_importance_sample_dsir",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    cr AS (SELECT tok, count(*) AS c_r FROM toks GROUP BY tok),
    ct AS (
      SELECT tok, count(*) AS c_t FROM toks WHERE lang = 'en' GROUP BY tok
    ),
    scal AS (
      SELECT (SELECT sum(c_r) FROM cr) AS r_tot,
             (SELECT count(*) FROM cr) AS v,
             (SELECT sum(c_t) FROM ct) AS t_tot
    ),
    lr AS (
      SELECT cr.tok,
             {FXP("ln((CAST(coalesce(c_t, 0) AS DOUBLE) + 1.0)"
                  " / (CAST(t_tot AS DOUBLE) + CAST(v AS DOUBLE)))"
                  " - ln((CAST(c_r AS DOUBLE) + 1.0)"
                  " / (CAST(r_tot AS DOUBLE) + CAST(v AS DOUBLE)))",
                  10**9)} AS lr_c
      FROM cr LEFT JOIN ct USING (tok) CROSS JOIN scal
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           {R("CAST(sum(lr_c) AS DOUBLE) / 1000000000.0 / count(*)", 6)}
             AS avg_log_ratio,
           sum(lr_c) > 0 AS selected
    FROM toks t JOIN lr ON t.tok = lr.tok
    GROUP BY t.doc_id
    """,
)
def text_importance_sample_dsir(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023
    — arXiv:2302.03169): score every raw document by its unigram
    log-importance weight toward a target domain (here lang='en' as the
    target slice), ln p_target(doc)/p_raw(doc) under add-1-smoothed
    unigram LMs, length-normalized; `selected` marks docs whose weight
    exceeds the p_target=p_raw break-even. The standard pretraining-
    corpus domain-targeting step between dedup and mixing.

    Determinism is the `text_lm_score` recipe: each TOKEN's log ratio is
    computed once from exact integer counts (identical doubles both
    engines), snapped to a 1e-9 fixed-point integer grid, and per-doc
    aggregation is an order-free INTEGER sum — no float-sum-order
    hazard; a 1-ulp ln() divergence moves a 1e-9 grid cell at most one
    step and is absorbed by the 6dp output rounding. Plan: two token
    aggregates (vocab-keyed), a 3-scalar crossJoin, one equi-join of
    instances to ratios, one doc-keyed aggregate — every stage
    partial/final-combinable; at 100 TB the ratio table is
    vocab-bounded and broadcast-eligible, and nothing touches Python."""
    d = load_tables(spark, sf_dir).documents
    toks = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    # r15 (guide §2.4): the raw-count and target-count tables were two
    # separate token aggregates, and each was re-derived by BOTH of its
    # consumers (the totals row and the ratio join) — five corpus-wide
    # scan+explode passes in the plan. Fuse them into ONE aggregate
    # (count_if(lang='en') over all tokens == the old en-filtered count
    # left-joined back with coalesce(c_t, 0): a token with no en
    # occurrences gets 0 either way) and pin the vocab-bounded result,
    # so the corpus is tokenized exactly twice: once for the counts,
    # once for the scoring join. Values are identical doubles — same
    # integer counts into the same expressions.
    g = (
        toks.groupBy("tok")
        .agg(
            F.count("*").alias("c_r"),
            F.count_if(F.col("lang") == "en").alias("c_t"),
        )
        .localCheckpoint(eager=True)
    )
    scal = g.agg(
        F.sum("c_r").alias("r_tot"),
        F.count("*").alias("v"),
        F.sum("c_t").alias("t_tot"),
    )
    lr_val = F.log(
        (F.col("c_t").cast("double") + 1.0)
        / (F.col("t_tot").cast("double") + F.col("v").cast("double"))
    ) - F.log(
        (F.col("c_r").cast("double") + 1.0)
        / (F.col("r_tot").cast("double") + F.col("v").cast("double"))
    )
    lr = g.crossJoin(F.broadcast(scal)).select(
        "tok", fxp(lr_val, 10**9).alias("lr_c")
    )
    return (
        toks.join(lr, "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("lr_c").alias("s"),
        )
        .select(
            "doc_id",
            "n_tokens",
            rnd(
                F.col("s").cast("double")
                / F.lit(1e9)
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("avg_log_ratio"),
            (F.col("s") > 0).alias("selected"),
        )
    )


@query(
    "text_vocab_coverage",
    oracle=f"""
    WITH tf AS (
      SELECT tok, count(*) AS c
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY tok
    ),
    ranked AS (
      SELECT tok, c,
             row_number() OVER (ORDER BY c DESC, tok) AS rn,
             sum(c) OVER (ORDER BY c DESC, tok ROWS BETWEEN UNBOUNDED
                          PRECEDING AND CURRENT ROW) AS cum
      FROM tf
    ),
    tot AS (SELECT sum(c) AS t, count(*) AS v FROM tf),
    ks AS (SELECT unnest([100, 1000, 10000]) AS k)
    SELECT CAST(k AS BIGINT) AS k,
           CAST(least(k, v) AS BIGINT) AS eff_k,
           CAST(cum AS BIGINT) AS covered_tokens,
           {R("100.0 * CAST(cum AS DOUBLE) / CAST(t AS DOUBLE)", 6)}
             AS coverage_pct
    FROM ks CROSS JOIN tot
    JOIN ranked ON rn = least(k, v)
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: what fraction of all token INSTANCES do
    the top-k most frequent terms cover, for k ∈ {100, 1k, 10k} — the
    corpus statistic that sizes tokenizer vocabularies and OOV budgets
    (Zipf in cumulative form; `text_zipf_exponent` is the slope twin).

    Built entirely from this repo's two distributed-order primitives:
    term rank via ``global_order_rank`` and the cumulative instance count
    via ``global_order_cumsum`` — both range-partitioned two-phase plans,
    so the frequency-sorted vocabulary is NEVER funneled through a
    single-partition window (billions of distinct tokens at web scale).
    All counts exact ints; the one float is the final percentage. k is
    capped at the vocab size (eff_k) so the curve is total even on small
    fixtures."""
    from pyetl_spark.operators.global_rank import (
        global_order_cumsum,
        global_order_rank,
    )

    d = load_tables(spark, sf_dir).documents
    tf = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
        .withColumn("neg_c", -F.col("c"))
    )
    ranked = global_order_rank(tf, ["neg_c", "tok"], out_col="rk")
    curve = global_order_cumsum(ranked, ["neg_c", "tok"], ["c"]).select(
        (F.col("rk") + 1).alias("rn"), F.col("cum_c").alias("cum")
    )
    tot = tf.agg(
        F.sum("c").cast("long").alias("t"),
        F.count("*").cast("long").alias("v"),
    )
    ks = spark.createDataFrame([(100,), (1000,), (10000,)], "k long")
    targets = ks.crossJoin(F.broadcast(tot)).select(
        "k", "t", F.least(F.col("k"), F.col("v")).alias("eff_k")
    )
    return (
        targets.join(curve, F.col("rn") == F.col("eff_k"))
        .select(
            "k",
            "eff_k",
            F.col("cum").alias("covered_tokens"),
            rnd(
                F.lit(100.0)
                * F.col("cum").cast("double")
                / F.col("t").cast("double"),
                6,
            ).alias("coverage_pct"),
        )
    )


from pyetl_spark.registry import ORACLE as _ORACLES  # noqa: E402

@query(
    "text_lang_id_confusion",
    oracle=f"""
    WITH pred AS ({_ORACLES["text_lang_id"]})
    SELECT labeled_lang, predicted_lang,
           CAST(count(*) AS BIGINT) AS n,
           {R("100.0 * CAST(count(*) AS DOUBLE) / CAST(sum(count(*))"
              " OVER (PARTITION BY labeled_lang) AS DOUBLE)", 4)}
             AS row_pct
    FROM pred
    GROUP BY labeled_lang, predicted_lang
    """,
)
def text_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stopword-profile language identifier
    against the labeled `lang` column — the EVALUATION query every
    classifier in the curation pipeline needs next to it (`text_lang_id`
    produces the predictions; this grades them). Cells carry the count
    and the row-normalized percentage (per-label recall on the
    diagonal).

    Composed from the registered `text_lang_id` itself on the Spark side
    and its oracle nested verbatim on the DuckDB side — grading logic
    can't drift from the classifier it grades. One extra keyed aggregate
    over the prediction frame; the row-pct window partitions by label
    (bounded domain)."""
    pred = text_lang_id(spark, sf_dir)
    w = Window.partitionBy("labeled_lang")
    return (
        pred.groupBy("labeled_lang", "predicted_lang")
        .agg(F.count("*").alias("n"))
        .select(
            "labeled_lang",
            "predicted_lang",
            "n",
            rnd(
                F.lit(100.0)
                * F.col("n").cast("double")
                / F.sum("n").over(w).cast("double"),
                4,
            ).alias("row_pct"),
        )
    )


@query(
    "dedup_containment",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS t
      FROM documents WHERE doc_id < 600
    )
    SELECT a.doc_id AS contained_doc, b.doc_id AS container_doc, a.lang,
           CAST(len(list_intersect(a.t, b.t)) AS BIGINT) AS n_shared,
           CAST(len(a.t) AS BIGINT) AS n_contained_toks
    FROM toks a JOIN toks b
      ON a.lang = b.lang AND a.doc_id <> b.doc_id
    WHERE len(b.t) > len(a.t)
      AND len(list_intersect(a.t, b.t)) * 10 >= 9 * len(a.t)
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment dedup — the ASYMMETRIC near-dup primitive
    |A∩B|/|A| ≥ 0.9 with |B| > |A|: doc A is (near-)swallowed by a
    strictly larger doc B. Symmetric Jaccard misses exactly this case
    (a paragraph quoted inside a long page scores low Jaccard but 1.0
    containment), and corpus pipelines drop the CONTAINED side, not an
    arbitrary pair member — which is why the direction is part of the
    output contract (Broder'97's containment coefficient; the
    Lee-et-al substring-span family is the positional sibling,
    dedup_exact_substring_spans).

    Determinism: the threshold is the pure-integer compare
    ``10·|A∩B| ≥ 9·|A|`` — no float division anywhere. Blocked on lang
    + id-bounded like graph_triangles (quadratic-within-block oracle
    twin by design); the 100 TB route reuses the MinHash bands with the
    containment estimator r/(r + k_A·(1-r)) on signature agreement
    rates, or the Bloom seen-set for exact small-in-big probes."""
    d = load_tables(spark, sf_dir).documents
    toks = d.filter(F.col("doc_id") < 600).select(
        "doc_id", "lang", F.array_distinct(F.split("text", " ")).alias("t")
    )
    a, b = toks.alias("a"), toks.alias("b")
    inter = F.size(F.array_intersect(F.col("a.t"), F.col("b.t")))
    n_a = F.size(F.col("a.t"))
    n_b = F.size(F.col("b.t"))
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .filter((n_b > n_a) & (inter * 10 >= 9 * n_a))
        .select(
            F.col("a.doc_id").alias("contained_doc"),
            F.col("b.doc_id").alias("container_doc"),
            F.col("a.lang").alias("lang"),
            inter.cast("long").alias("n_shared"),
            n_a.cast("long").alias("n_contained_toks"),
        )
    )


@query(
    "er_blocking_quality",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS t
      FROM documents WHERE doc_id < 600
    ),
    allp AS (
      SELECT a.lang = b.lang AS same_block,
             len(list_intersect(a.t, b.t)) * 10
               >= 8 * len(list_distinct(list_concat(a.t, b.t))) AS is_match
      FROM toks a JOIN toks b ON a.doc_id < b.doc_id
    )
    SELECT CAST(count(*) AS BIGINT) AS total_pairs,
           CAST(sum(CASE WHEN same_block THEN 1 ELSE 0 END) AS BIGINT)
             AS blocked_pairs,
           CAST(sum(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT)
             AS true_matches,
           CAST(sum(CASE WHEN same_block AND is_match THEN 1 ELSE 0 END)
                AS BIGINT) AS matches_in_blocks,
           (sign(x1) * floor(abs(x1) * 1000000.0 + 0.5) / 1000000.0)
             AS reduction_ratio,
           (sign(x2) * floor(abs(x2) * 1000000.0 + 0.5) / 1000000.0)
             AS pair_completeness
    FROM allp,
         LATERAL (SELECT 1.0 - CAST(sum(CASE WHEN same_block THEN 1 ELSE 0 END) AS DOUBLE)
                             / CAST(count(*) AS DOUBLE) AS x1,
                         CAST(sum(CASE WHEN same_block AND is_match THEN 1 ELSE 0 END) AS DOUBLE)
                             / CAST(sum(CASE WHEN is_match THEN 1 ELSE 0 END) AS DOUBLE) AS x2
                  FROM allp) s
    GROUP BY x1, x2
    """,
)
def er_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-scheme evaluation for entity resolution / dedup
    (Christen 2012's two numbers): does blocking on ``lang`` keep the
    matches while killing the pair explosion? REDUCTION RATIO = 1 −
    blocked/total candidate pairs (how much quadratic work blocking
    saves) and PAIR COMPLETENESS = matched pairs surviving the blocks /
    all matched pairs (recall the blocks cost). Ground-truth matches are
    token-Jaccard ≥ 0.8 pairs computed UNBLOCKED on the id-bounded
    slice — the match predicate is the pure-integer compare
    ``10·|A∩B| ≥ 8·|A∪B|``, so match membership cannot drift between
    engines; the two reported ratios are single double divisions of
    exact integer counts (6dp parity round).

    This is the eval harness that justifies every blocked dedup key in
    this repo (lang blocks, SNM windows, LSH bands ARE blocking
    schemes): at 100 TB you measure a scheme on a bounded stratified
    slice exactly like this before committing the corpus-wide join to
    it. One id-bounded quadratic pass by design (the subject under
    measurement); everything downstream is a 1-row aggregate."""
    d = load_tables(spark, sf_dir).documents
    toks = d.filter(F.col("doc_id") < 600).select(
        "doc_id", "lang", F.array_distinct(F.split("text", " ")).alias("t")
    )
    a, b = toks.alias("a"), toks.alias("b")
    inter = F.size(F.array_intersect(F.col("a.t"), F.col("b.t")))
    union = F.size(F.array_union(F.col("a.t"), F.col("b.t")))
    allp = a.join(b, F.col("a.doc_id") < F.col("b.doc_id")).select(
        (F.col("a.lang") == F.col("b.lang")).alias("same_block"),
        (inter * 10 >= 8 * union).alias("is_match"),
    )
    g = allp.agg(
        F.count(F.lit(1)).alias("total_pairs"),
        F.sum(F.col("same_block").cast("long")).alias("blocked_pairs"),
        F.sum(F.col("is_match").cast("long")).alias("true_matches"),
        F.sum(
            (F.col("same_block") & F.col("is_match")).cast("long")
        ).alias("matches_in_blocks"),
    )
    rr = F.lit(1.0) - F.col("blocked_pairs").cast("double") / F.col(
        "total_pairs"
    ).cast("double")
    pc = F.col("matches_in_blocks").cast("double") / F.col(
        "true_matches"
    ).cast("double")
    return g.select(
        "total_pairs",
        "blocked_pairs",
        "true_matches",
        "matches_in_blocks",
        rnd(rr, 6).alias("reduction_ratio"),
        rnd(pc, 6).alias("pair_completeness"),
    )


def _fs_weights() -> list[float]:
    """Fellegi-Sunter agreement-pattern weights, precomputed in Python
    so BOTH engines consume identical double literals (the plane-literal
    trick from vec_ann_lsh — no runtime log() whose libm could differ).
    Fields: mktsegment / acctbal-bucket / custkey-last-digit with fixed
    (m, u) priors; pattern id = 4*seg + 2*bal + dig."""
    import math

    mu = [(0.9, 0.2), (0.85, 0.1), (0.12, 0.1)]  # (m, u) per field
    out = []
    for pid in range(8):
        w = 0.0
        for bit, (m, u) in zip((4, 2, 1), mu):
            if pid & bit:
                w += math.log2(m / u)
            else:
                w += math.log2((1.0 - m) / (1.0 - u))
        out.append(w)
    return out


def _fs_weight_case_sql() -> str:
    ws = _fs_weights()
    arms = " ".join(f"WHEN {p} THEN {w!r}" for p, w in enumerate(ws))
    return f"CASE pattern_id {arms} END"


def _er_pattern_cte(count_alias: str) -> str:
    """Shared oracle CTE prefix for the record-linkage keys: the
    blocked-pair agreement-pattern table. er_fellegi_sunter (scoring)
    and er_em_mu_estimate (EM fitting) MUST consume the identical
    pattern space — one definition, parameterized only by the count
    column's name."""
    return f"""c AS (
      SELECT c_custkey, c_nationkey AS nat, c_mktsegment AS seg,
             floor(c_acctbal / 1000.0) AS bal_b,
             c_custkey % 10 AS dig
      FROM customer WHERE c_custkey < 2500
    ),
    pairs AS (
      SELECT CASE WHEN a.seg = b.seg THEN 1 ELSE 0 END AS agree_seg,
             CASE WHEN a.bal_b = b.bal_b THEN 1 ELSE 0 END AS agree_bal,
             CASE WHEN a.dig = b.dig THEN 1 ELSE 0 END AS agree_dig
      FROM c a JOIN c b ON a.nat = b.nat AND a.c_custkey < b.c_custkey
    ),
    pat AS (
      SELECT 4 * agree_seg + 2 * agree_bal + agree_dig AS pattern_id,
             agree_seg, agree_bal, agree_dig,
             CAST(count(*) AS BIGINT) AS {count_alias}
      FROM pairs GROUP BY 1, 2, 3, 4
    )"""


def _er_pattern_table(spark: SparkSession, sf_dir: str, count_alias: str):
    """Spark twin of _er_pattern_cte — the one blocked-pair pattern
    build both linkage keys share."""
    c = (
        load_tables(spark, sf_dir)
        .customer.filter(F.col("c_custkey") < 2500)
        .select(
            "c_custkey",
            F.col("c_nationkey").alias("nat"),
            F.col("c_mktsegment").alias("seg"),
            F.floor(F.col("c_acctbal") / F.lit(1000.0)).alias("bal_b"),
            F.pmod(F.col("c_custkey"), F.lit(10)).alias("dig"),
        )
    )
    a, b = c.alias("a"), c.alias("b")
    return (
        a.join(
            b,
            (F.col("a.nat") == F.col("b.nat"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .select(
            (F.col("a.seg") == F.col("b.seg")).cast("int").alias("agree_seg"),
            (F.col("a.bal_b") == F.col("b.bal_b"))
            .cast("int")
            .alias("agree_bal"),
            (F.col("a.dig") == F.col("b.dig")).cast("int").alias("agree_dig"),
        )
        .withColumn(
            "pattern_id",
            F.col("agree_seg") * 4 + F.col("agree_bal") * 2
            + F.col("agree_dig"),
        )
        .groupBy("pattern_id", "agree_seg", "agree_bal", "agree_dig")
        .agg(F.count(F.lit(1)).cast("long").alias(count_alias))
    )


@query(
    "er_fellegi_sunter",
    oracle=f"""
    WITH {_er_pattern_cte("n_pairs")},
    w AS (SELECT *, {_fs_weight_case_sql()} AS wt FROM pat)
    SELECT CAST(pattern_id AS INT) AS pattern_id,
           CAST(agree_seg AS INT) AS agree_seg,
           CAST(agree_bal AS INT) AS agree_bal,
           CAST(agree_dig AS INT) AS agree_dig,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           {R("wt", 4)} AS weight,
           CASE WHEN wt >= 4.0 THEN 'match'
                WHEN wt >= 0.0 THEN 'possible' ELSE 'non_match'
           END AS decision
    FROM w
    """,
)
def er_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic record-linkage scoring (Fellegi & Sunter 1969; the
    decision model behind every production ER engine, cf. Christen
    2012 ch. 6): candidate pairs from nation blocking are scored by
    their field-agreement PATTERN — each field contributes
    log2(m/u) when it agrees and log2((1-m)/(1-u)) when it doesn't
    (m = P[agree | same entity], u = P[agree | different]), and the
    summed weight is thresholded into match / possible / non-match.
    Output is the classic pattern table: one row per agreement pattern
    with its pair count, composite weight, and decision — the artifact
    a linkage analyst reads to set thresholds.

    Determinism: the eight pattern weights are PRECOMPUTED Python
    double literals consumed identically by both engines (no runtime
    log()), field agreements are integer compares (the acctbal bucket
    is floor(x/1000.0) — exact same IEEE divide+floor both sides), and
    the decision thresholds compare the same literal doubles.

    Scale: same stratified-slice posture as er_blocking_quality — the
    pair join is blocked (nation) AND id-bounded (the slice whose
    pattern frequencies you read before running the corpus-wide linkage
    with these weights); the pattern table is a bounded (≤8-row)
    aggregate, and at 100 TB the scored-pairs form is the same blocked
    join with the weight expression inlined — no new shuffle shape.
    Unlike its unblocked sibling this needs no plan-lint whitelist: the
    block key makes the pair build a plain hash equi-join on nat.
    The pattern space is built by the SHARED _er_pattern_table /
    _er_pattern_cte pair, so this scorer and the EM fitter
    (er_em_mu_estimate) can never drift onto different slices, blocks,
    or field sets."""
    pat = _er_pattern_table(spark, sf_dir, "n_pairs")
    ws = _fs_weights()
    wt = F.when(F.col("pattern_id") == 0, F.lit(ws[0]))
    for p in range(1, 8):
        wt = wt.when(F.col("pattern_id") == p, F.lit(ws[p]))
    pat = pat.withColumn("wt", wt)
    return pat.select(
        "pattern_id",
        "agree_seg",
        "agree_bal",
        "agree_dig",
        "n_pairs",
        rnd(F.col("wt"), 4).alias("weight"),
        F.when(F.col("wt") >= 4.0, F.lit("match"))
        .when(F.col("wt") >= 0.0, F.lit("possible"))
        .otherwise(F.lit("non_match"))
        .alias("decision"),
    ).orderBy("pattern_id")


#: EM fixed-point scale: E-step posteriors are snapped to this integer
#: grid so every M-step sum is exact BIGINT arithmetic — order-free on
#: both engines (the msum trick applied to latent responsibilities).
_EM_SCALE = 10**12
_EM_P0 = 0.05
_EM_MU0 = (("seg", 0.80, 0.25), ("bal", 0.80, 0.10), ("dig", 0.70, 0.10))


def _em_gfx1() -> list[int]:
    """Iteration-1 E-step posteriors per agreement pattern, precomputed
    in Python from the literal priors and snapped to the _EM_SCALE
    integer grid — iteration 1 therefore involves NO runtime floating
    point at all; both engines consume the same eight BIGINT literals."""
    import math

    out = []
    for pid in range(8):
        num, den = _EM_P0, 1.0 - _EM_P0
        for bit, (_, m, u) in zip((4, 2, 1), _EM_MU0):
            if pid & bit:
                num, den = num * m, den * u
            else:
                num, den = num * (1.0 - m), den * (1.0 - u)
        g = num / (num + den)
        out.append(int(math.floor(g * _EM_SCALE + 0.5)))
    return out


def _em_gfx1_case_sql() -> str:
    arms = " ".join(
        f"WHEN {p} THEN CAST({g} AS BIGINT)"
        for p, g in enumerate(_em_gfx1())
    )
    return f"CASE pattern_id {arms} END"


@query(
    "er_em_mu_estimate",
    oracle=f"""
    WITH {_er_pattern_cte("n")},
    e1 AS (SELECT *, {_em_gfx1_case_sql()} AS gfx FROM pat),
    agg1 AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn,
             CAST(sum(gfx * n) AS BIGINT) AS g,
             CAST(sum(gfx * n * agree_seg) AS BIGINT) AS gm_seg,
             CAST(sum(gfx * n * agree_bal) AS BIGINT) AS gm_bal,
             CAST(sum(gfx * n * agree_dig) AS BIGINT) AS gm_dig,
             CAST(sum(n * agree_seg) AS BIGINT) AS na_seg,
             CAST(sum(n * agree_bal) AS BIGINT) AS na_bal,
             CAST(sum(n * agree_dig) AS BIGINT) AS na_dig
      FROM e1
    ),
    par1 AS (
      SELECT nn,
        CAST(g AS DOUBLE) / (CAST(nn AS DOUBLE) * {float(_EM_SCALE)!r}) AS p1,
        CAST(gm_seg AS DOUBLE) / CAST(g AS DOUBLE) AS m_seg,
        CAST(gm_bal AS DOUBLE) / CAST(g AS DOUBLE) AS m_bal,
        CAST(gm_dig AS DOUBLE) / CAST(g AS DOUBLE) AS m_dig,
        CAST(na_seg * {_EM_SCALE} - gm_seg AS DOUBLE)
          / CAST(nn * {_EM_SCALE} - g AS DOUBLE) AS u_seg,
        CAST(na_bal * {_EM_SCALE} - gm_bal AS DOUBLE)
          / CAST(nn * {_EM_SCALE} - g AS DOUBLE) AS u_bal,
        CAST(na_dig * {_EM_SCALE} - gm_dig AS DOUBLE)
          / CAST(nn * {_EM_SCALE} - g AS DOUBLE) AS u_dig
      FROM agg1
    ),
    e2x AS (
      SELECT pat.*,
        ((p.p1
          * (CASE WHEN agree_seg = 1 THEN p.m_seg ELSE 1.0 - p.m_seg END))
          * (CASE WHEN agree_bal = 1 THEN p.m_bal ELSE 1.0 - p.m_bal END))
          * (CASE WHEN agree_dig = 1 THEN p.m_dig ELSE 1.0 - p.m_dig END)
          AS num2,
        (((1.0 - p.p1)
          * (CASE WHEN agree_seg = 1 THEN p.u_seg ELSE 1.0 - p.u_seg END))
          * (CASE WHEN agree_bal = 1 THEN p.u_bal ELSE 1.0 - p.u_bal END))
          * (CASE WHEN agree_dig = 1 THEN p.u_dig ELSE 1.0 - p.u_dig END)
          AS den2
      FROM pat, par1 p
    ),
    e2 AS (
      SELECT pattern_id, agree_seg, agree_bal, agree_dig, n,
             {FXP("num2 / (num2 + den2)", _EM_SCALE)} AS gfx
      FROM e2x
    ),
    agg2 AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn,
             CAST(sum(gfx * n) AS BIGINT) AS g,
             CAST(sum(gfx * n * agree_seg) AS BIGINT) AS gm_seg,
             CAST(sum(gfx * n * agree_bal) AS BIGINT) AS gm_bal,
             CAST(sum(gfx * n * agree_dig) AS BIGINT) AS gm_dig,
             CAST(sum(n * agree_seg) AS BIGINT) AS na_seg,
             CAST(sum(n * agree_bal) AS BIGINT) AS na_bal,
             CAST(sum(n * agree_dig) AS BIGINT) AS na_dig
      FROM e2
    )
    SELECT nn AS n_pairs,
      {R(f"CAST(g AS DOUBLE) / (CAST(nn AS DOUBLE) * {float(_EM_SCALE)!r})", 6)}
        AS p_match,
      {R("CAST(gm_seg AS DOUBLE) / CAST(g AS DOUBLE)", 6)} AS m_seg,
      {R(f"CAST(na_seg * {_EM_SCALE} - gm_seg AS DOUBLE) / CAST(nn * {_EM_SCALE} - g AS DOUBLE)", 6)}
        AS u_seg,
      {R("CAST(gm_bal AS DOUBLE) / CAST(g AS DOUBLE)", 6)} AS m_bal,
      {R(f"CAST(na_bal * {_EM_SCALE} - gm_bal AS DOUBLE) / CAST(nn * {_EM_SCALE} - g AS DOUBLE)", 6)}
        AS u_bal,
      {R("CAST(gm_dig AS DOUBLE) / CAST(g AS DOUBLE)", 6)} AS m_dig,
      {R(f"CAST(na_dig * {_EM_SCALE} - gm_dig AS DOUBLE) / CAST(nn * {_EM_SCALE} - g AS DOUBLE)", 6)}
        AS u_dig
    FROM agg2
    """,
)
def er_em_mu_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNSUPERVISED estimation of the Fellegi-Sunter m/u parameters by
    EM over agreement patterns (Winkler 1988; Herzog/Scheuren/Winkler
    2007 ch. 9) — the learning half of the linkage stack: where
    `er_fellegi_sunter` consumes given (m, u) priors to score pairs,
    this key LEARNS them from the unlabeled pair corpus, two fixed
    synchronous EM iterations from literal starting values.

    The latent-mixture EM is made driver-grade deterministic by two
    moves: (1) iteration 1's E-step depends only on the literal priors,
    so its eight pattern posteriors are precomputed in Python and enter
    both engines as BIGINT literals on the _EM_SCALE grid — no runtime
    FP at all; (2) every M-step statistic is an exact integer sum of
    (scaled posterior x count x agreement) terms — the msum trick
    applied to latent responsibilities — so partition order can't
    reorder any floating addition; the only runtime doubles are
    per-row ratios and products of identical integers, evaluated with
    the same explicit association on both engines. u-parameters derive
    by exact integer complement (na*S - gm) / (nn*S - g).

    Scale: the pair corpus never leaves the cluster and is touched
    ONCE — everything after `pat` (the <=8-row agreement-pattern
    aggregate) is constant-size; more EM iterations replay the tiny
    e/agg blocks. At 100 TB the blocked pair generation dominates
    (same posture as er_fellegi_sunter); the pattern-table EM is the
    textbook way linkage engines fit weights without labels. The
    pattern space comes from the SHARED _er_pattern_table /
    _er_pattern_cte pair, so the fitter and the scorer
    (er_fellegi_sunter) can never drift apart."""
    pat = _er_pattern_table(spark, sf_dir, "n")

    def _mstep(e: DataFrame) -> DataFrame:
        return e.agg(
            F.sum("n").cast("long").alias("nn"),
            F.sum(F.col("gfx") * F.col("n")).cast("long").alias("g"),
            *[
                F.sum(F.col("gfx") * F.col("n") * F.col(f"agree_{f}"))
                .cast("long")
                .alias(f"gm_{f}")
                for f, _, _ in _EM_MU0
            ],
            *[
                F.sum(F.col("n") * F.col(f"agree_{f}"))
                .cast("long")
                .alias(f"na_{f}")
                for f, _, _ in _EM_MU0
            ],
        )

    gfx1 = F.when(F.col("pattern_id") == 0, F.lit(_em_gfx1()[0]))
    for p in range(1, 8):
        gfx1 = gfx1.when(F.col("pattern_id") == p, F.lit(_em_gfx1()[p]))
    agg1 = _mstep(pat.withColumn("gfx", gfx1.cast("long")))

    s_f = F.lit(float(_EM_SCALE))
    s_i = F.lit(_EM_SCALE)
    par1 = agg1.select(
        (F.col("g").cast("double") / (F.col("nn").cast("double") * s_f))
        .alias("p1"),
        *[
            (F.col(f"gm_{f}").cast("double") / F.col("g").cast("double"))
            .alias(f"m_{f}")
            for f, _, _ in _EM_MU0
        ],
        *[
            (
                (F.col(f"na_{f}") * s_i - F.col(f"gm_{f}")).cast("double")
                / (F.col("nn") * s_i - F.col("g")).cast("double")
            ).alias(f"u_{f}")
            for f, _, _ in _EM_MU0
        ],
    )

    def _term(kind: str, f: str) -> F.Column:
        agree = F.col(f"agree_{f}") == 1
        return F.when(agree, F.col(f"{kind}_{f}")).otherwise(
            F.lit(1.0) - F.col(f"{kind}_{f}")
        )

    e2x = pat.crossJoin(F.broadcast(par1))
    num2 = (
        (F.col("p1") * _term("m", "seg")) * _term("m", "bal")
    ) * _term("m", "dig")
    den2 = (
        ((F.lit(1.0) - F.col("p1")) * _term("u", "seg")) * _term("u", "bal")
    ) * _term("u", "dig")
    e2 = e2x.withColumn("num2", num2).withColumn("den2", den2).withColumn(
        "gfx", fxp(F.col("num2") / (F.col("num2") + F.col("den2")), _EM_SCALE)
    )
    agg2 = _mstep(e2)
    return agg2.select(
        F.col("nn").alias("n_pairs"),
        rnd(
            F.col("g").cast("double") / (F.col("nn").cast("double") * s_f), 6
        ).alias("p_match"),
        *[
            col
            for f, _, _ in _EM_MU0
            for col in (
                rnd(
                    F.col(f"gm_{f}").cast("double") / F.col("g").cast("double"),
                    6,
                ).alias(f"m_{f}"),
                rnd(
                    (F.col(f"na_{f}") * s_i - F.col(f"gm_{f}")).cast("double")
                    / (F.col("nn") * s_i - F.col("g")).cast("double"),
                    6,
                ).alias(f"u_{f}"),
            )
        ],
    )


@query(
    "text_gopher_rules",
    oracle="""
    WITH t AS (
      SELECT source,
             len(string_split(text, ' ')) AS n_words,
             len(list_distinct(string_split(text, ' '))) AS n_distinct,
             length(replace(text, ' ', '')) AS n_nonspace,
             len(list_intersect(
               list_distinct(string_split(text, ' ')),
               ['the','be','to','of','and','that','have','with']
             )) AS n_stop
      FROM documents
    ), r AS (
      SELECT source,
             (n_words >= 50 AND n_words <= 100000) AS ok_words,
             (3 * n_words <= n_nonspace AND n_nonspace <= 10 * n_words)
               AS ok_mean_len,
             (n_stop >= 2) AS ok_stop,
             (5 * n_distinct > n_words) AS ok_rep
      FROM t
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN ok_words AND ok_mean_len AND ok_stop
                          AND ok_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(sum(CASE WHEN ok_words THEN 0 ELSE 1 END) AS BIGINT)
             AS fail_word_count,
           CAST(sum(CASE WHEN ok_mean_len THEN 0 ELSE 1 END) AS BIGINT)
             AS fail_mean_word_len,
           CAST(sum(CASE WHEN ok_stop THEN 0 ELSE 1 END) AS BIGINT)
             AS fail_stopwords,
           CAST(sum(CASE WHEN ok_rep THEN 0 ELSE 1 END) AS BIGINT)
             AS fail_repetition
    FROM r GROUP BY source
    """,
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality gate (Rae et al. 2021, "Scaling
    Language Models: ... Gopher", App. A1.1 — the published heuristics
    every big corpus pipeline starts from), as a per-source scorecard:
    word-count bounds (50..100k), mean-word-length bounds (3..10 chars),
    stop-word presence (≥2 of the canonical eight), and repetition
    (distinct-token fraction > 0.2). Complements `text_quality_score`
    (a continuous composite) with the hard pass/fail gates and PER-RULE
    failure attribution — at 100 TB you tune each rule by watching which
    one is doing the killing, exactly this output.

    Determinism: every rule is an INTEGER comparison (mean length as
    3n ≤ chars ≤ 10n, repetition as 5·distinct > n — no ratio division
    anywhere), so the scorecard has zero FP parity surface. Scale: pure
    per-row expression algebra (split/distinct/intersect are JVM
    built-ins) + one partial/final aggregate on source — map-side
    combinable, no shuffle beyond the tiny group-by."""
    d = load_tables(spark, sf_dir).documents
    toks = F.split(F.col("text"), " ")
    distinct = F.array_distinct(toks)
    stop = F.array(
        *[F.lit(w) for w in
          ("the", "be", "to", "of", "and", "that", "have", "with")]
    )
    t = d.select(
        "source",
        F.size(toks).alias("n_words"),
        F.size(distinct).alias("n_distinct"),
        F.length(F.regexp_replace(F.col("text"), " ", "")).alias(
            "n_nonspace"
        ),
        F.size(F.array_intersect(distinct, stop)).alias("n_stop"),
    )
    ok_words = (F.col("n_words") >= 50) & (F.col("n_words") <= 100000)
    ok_mean = (3 * F.col("n_words") <= F.col("n_nonspace")) & (
        F.col("n_nonspace") <= 10 * F.col("n_words")
    )
    ok_stop = F.col("n_stop") >= 2
    ok_rep = 5 * F.col("n_distinct") > F.col("n_words")
    r = t.select(
        "source",
        ok_words.alias("ok_words"),
        ok_mean.alias("ok_mean_len"),
        ok_stop.alias("ok_stop"),
        ok_rep.alias("ok_rep"),
    )
    as_fail = lambda c: F.sum(F.when(F.col(c), 0).otherwise(1))  # noqa: E731
    return r.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(
            F.when(
                F.col("ok_words")
                & F.col("ok_mean_len")
                & F.col("ok_stop")
                & F.col("ok_rep"),
                1,
            ).otherwise(0)
        ).alias("n_pass"),
        as_fail("ok_words").alias("fail_word_count"),
        as_fail("ok_mean_len").alias("fail_mean_word_len"),
        as_fail("ok_stop").alias("fail_stopwords"),
        as_fail("ok_rep").alias("fail_repetition"),
    )


@query(
    "text_budget_select",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
               AS quality
      FROM documents
    ),
    ranked AS (
      SELECT *,
             CAST(sum(n_tokens) OVER (
               PARTITION BY lang
               ORDER BY quality DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) - n_tokens AS BIGINT) AS cum_before
      FROM scored
    )
    SELECT doc_id, lang, n_tokens, quality, cum_before
    FROM ranked WHERE cum_before < 600
    """,
)
def text_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget curation: fill a fixed PER-LANGUAGE token budget
    (600) with the highest-quality documents first — the greedy
    knapsack every training-mix pipeline runs when compute, not data,
    is the binding constraint ("take the best 1B tokens per language",
    cf. the budget-constrained selections in DoReMi/DSIR-style mixing).
    Quality here is the distinct-token count (a TTR-style integer
    proxy; swapping in text_quality_score's model score changes one
    expression). A doc is kept iff the budget is not yet exhausted
    BEFORE it (exclusive running sum), so the boundary doc that
    straddles the budget is included — deterministic, no partial docs.

    Distinct from text_stratified_cap (doc-COUNT cap in hash order) and
    text_pack_sequences (bin-assignment of everything): this SELECTS a
    subset under a token budget by quality rank.

    Scale: the window is partitioned by lang and ordered by (quality,
    doc_id) — integer-exact, but per-lang volume is corpus-scale, so at
    100 TB the documented two-phase form kicks in: estimate the quality
    cutoff with an approx-quantile pass (the budget fixes the
    approximate rank), hard-filter to survivors (tiny), then run this
    exact window on the survivor set — same output, bounded sort. The
    fixture form keeps the single window so the oracle is exact."""
    d = load_tables(spark, sf_dir).documents
    toks = F.split("text", " ")
    scored = d.select(
        "doc_id",
        "lang",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("quality"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("quality").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = scored.withColumn(
        "cum_before", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return ranked.filter(F.col("cum_before") < 600).select(
        "doc_id", "lang", "n_tokens", "quality", "cum_before"
    )


@query(
    "text_contamination_check",
    oracle="""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks
      FROM documents
      WHERE len(regexp_split_to_array(lower(text), '\\s+')) >= 8
    ),
    eval_toks AS (
      SELECT doc_id, toks[1:2048] AS toks FROM toks
      WHERE doc_id % 101 = 0 AND doc_id < 101000
    ),
    eval_g AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, len(toks) - 7),
               i -> array_to_string(toks[i:i+7], ' ')))) AS gram
      FROM eval_toks
    ),
    train_g AS (
      SELECT DISTINCT unnest(list_distinct(list_transform(
               generate_series(1, len(toks) - 7),
               i -> array_to_string(toks[i:i+7], ' ')))) AS gram
      FROM toks WHERE doc_id % 101 != 0
    ),
    hits AS (
      SELECT e.doc_id, count(*) AS n_hit
      FROM eval_g e JOIN train_g t USING (gram)
      GROUP BY e.doc_id
    ),
    totals AS (
      SELECT doc_id, count(*) AS n_grams FROM eval_g GROUP BY doc_id
    )
    SELECT t.doc_id AS eval_doc_id, t.n_grams,
           coalesce(h.n_hit, 0) AS n_hit,
           (sign(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / CAST(t.n_grams AS DOUBLE))
            * floor(abs(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / CAST(t.n_grams AS DOUBLE))
                    * 10000.0 + 0.5) / 10000.0) AS contamination_frac,
           (CAST(coalesce(h.n_hit, 0) AS DOUBLE) / CAST(t.n_grams AS DOUBLE))
             >= 0.1 AS contaminated
    FROM totals t LEFT JOIN hits h USING (doc_id)
    ORDER BY eval_doc_id
    """,
)
def text_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set DECONTAMINATION check — the audit every training run
    needs before trusting its benchmarks (the n-gram overlap method of
    GPT-3 appendix C / Dodge et al. 2021, public): an eval document is
    contaminated when a meaningful fraction of its 8-gram windows also
    appear anywhere in the training corpus. The held-out rule is
    doc_id % 101 == 0 (those docs are NEVER train), and the CHECKED
    eval set is the first ≤1000 of them (doc_id < 101·1000) — a
    CONSTANT-size benchmark, the way real decontamination runs against
    fixed eval suites, and the property that makes the broadcast below
    sound (a fraction-of-corpus eval side would be the same
    unbounded-materialization bug class the quality-classifier collect
    fix removed). At every fixture SF the bound is not binding (all
    doc_ids < 101000), so fixture results are unchanged. Output is
    per-eval-doc distinct-8-gram count, hit count, overlap fraction,
    and the >= 10% contamination flag.

    Scale shape: gram extraction is linear in tokens (same span fan-out
    as dedup_exact_substring_spans); the join keys on the 8-byte
    xxhash64 of the gram, not the string (the hash never reaches the
    output — the oracle joins on the literal gram text, identical
    collision structure, same argument as dedup_exact_substring_spans).
    Join order matters at 100 TB (r7 verdict "What's wrong" #4): the
    constant-bounded eval grams are BROADCAST against the RAW
    train-gram stream —
    no corpus-wide DISTINCT exchange ever happens; duplicate train
    occurrences are absorbed by countDistinct(gram) per eval doc (eval
    grams are already per-doc distinct via array_distinct), whose
    aggregate exchange carries only the hit rows. The whole check is
    one map-side scan over the corpus grams plus a tiny shuffle.

    The broadcast bound is grams, not just docs (r8 advisory): eval
    docs are truncated to their first EVAL_TOKEN_CAP tokens before
    gram extraction, so the broadcast side is ≤ 1000 docs ×
    ≤ (cap-7) grams × 8-byte hashes ≈ 16 MB no matter how long
    individual documents get. The oracle mirrors the cap
    (toks[1:2048]); at every fixture SF docs are ≤ 100 tokens, so the
    cap is not binding and results are unchanged."""
    k = 8
    EVAL_TOKEN_CAP = 2048
    d = load_tables(spark, sf_dir).documents
    toks = d.select(
        "doc_id", F.split(F.lower("text"), r"\s+").alias("toks")
    ).filter(F.size("toks") >= k)

    def gramize(tdf: DataFrame) -> DataFrame:
        return tdf.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size("toks") - (k - 1)),
                        lambda i: F.xxhash64(
                            F.concat_ws(" ", F.slice("toks", i, k))
                        ),
                    )
                )
            ).alias("gram"),
        )

    eval_g = gramize(
        toks.filter(
            (F.col("doc_id") % 101 == 0) & (F.col("doc_id") < 101 * 1000)
        ).select("doc_id", F.slice("toks", 1, EVAL_TOKEN_CAP).alias("toks"))
    )
    train_raw = gramize(
        toks.filter(F.col("doc_id") % 101 != 0)
    ).select("gram")
    hits = (
        train_raw.join(F.broadcast(eval_g), "gram")
        .groupBy("doc_id")
        .agg(F.count_distinct("gram").alias("n_hit"))
    )
    totals = eval_g.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    frac = F.coalesce("n_hit", F.lit(0)).cast("double") / F.col(
        "n_grams"
    ).cast("double")
    return (
        totals.join(hits, "doc_id", "left")
        .select(
            F.col("doc_id").alias("eval_doc_id"),
            "n_grams",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            rnd(frac, 4).alias("contamination_frac"),
            (frac >= 0.1).alias("contaminated"),
        )
        .orderBy("eval_doc_id")
    )
