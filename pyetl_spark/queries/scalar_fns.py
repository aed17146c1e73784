"""Scalar function families (SURVEY.md §2.8, all Tier A).

One query per family, each exercising many functions at once so a single
oracle hash checks the whole family's semantics. The dialect traps the
survey flags are handled explicitly:

- weekday numbering: Spark ``weekday()+1`` == DuckDB ``isodow`` (never raw
  ``dayofweek``/``dow`` — incompatible numbering).
- ``datediff``: Spark is (end, start); DuckDB ``date_diff('day', start, end)``.
- array slicing: Spark ``slice(arr, start, LENGTH)`` vs DuckDB
  ``list_slice(arr, start, END)`` (inclusive) — end = start + length - 1.
- folds: Spark ``aggregate`` takes an explicit zero; DuckDB ``list_reduce``
  seeds from the first element, so the oracle prepends the zero.
- floats: parity rounding only (see parity.py); transcendentals (exp/ln)
  may differ in the last ULP between libm implementations, which 4dp
  rounding absorbs (tie risk is measure-zero off the decimal grid).

Everything is JVM-side built-ins — the whole family fuses into one
WholeStageCodegen span over the scan, no Python in the data path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyetl_spark.parity import DOT, NORM_SQ, R, dot, norm_sq, rnd
from pyetl_spark.registry import query
from pyetl_spark.tables import load_tables


@query(
    "fn_string",
    oracle="""
    SELECT p_partkey,
           concat(p_brand, ':', p_type) AS brand_type,
           upper(p_name) AS name_upper,
           lower(p_type) AS type_lower,
           trim(concat('  ', p_name, ' ')) AS trimmed,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
           substring(p_name, 1, 5) AS name_head,
           replace(p_type, 'BRASS', 'bronze') AS type_replaced,
           length(p_name) AS name_len,
           strpos(p_name, 'a') AS first_a,
           reverse(p_brand) AS brand_rev,
           levenshtein(p_brand, 'Brand#11') AS lev_to_b11,
           starts_with(p_type, 'PROMO') AS is_promo,
           ends_with(p_type, 'STEEL') AS is_steel
    FROM part
    """,
)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family (SURVEY §2.8 `fn_string`): concat/case/trim/pad/
    substr/replace/length/strpos/reverse/levenshtein/starts/ends."""
    p = load_tables(spark, sf_dir).part
    return p.select(
        "p_partkey",
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias(
            "brand_type"
        ),
        F.upper("p_name").alias("name_upper"),
        F.lower("p_type").alias("type_lower"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit(" "))).alias(
            "trimmed"
        ),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.substring("p_name", 1, 5).alias("name_head"),
        F.replace(
            F.col("p_type"), F.lit("BRASS"), F.lit("bronze")
        ).alias("type_replaced"),
        F.length("p_name").alias("name_len"),
        F.instr("p_name", "a").alias("first_a"),
        F.reverse("p_brand").alias("brand_rev"),
        F.levenshtein(F.col("p_brand"), F.lit("Brand#11")).alias("lev_to_b11"),
        F.startswith(F.col("p_type"), F.lit("PROMO")).alias("is_promo"),
        F.endswith(F.col("p_type"), F.lit("STEEL")).alias("is_steel"),
    )


@query(
    "fn_regex",
    oracle="""
    SELECT p_partkey,
           regexp_extract(p_brand, 'Brand#(\\d+)', 1) AS brand_num,
           regexp_extract(p_name, '^(\\w+)', 1) AS first_word,
           regexp_replace(p_type, '[AEIOU]', '_', 'g') AS devoweled,
           array_to_string(str_split_regex(p_type, '\\s+'), '|')
             AS type_words,
           str_split_regex(p_type, '\\s+')[1] AS type_head,
           regexp_matches(p_name, 'o.o') AS has_o_o
    FROM part
    """,
)
def fn_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex family (SURVEY §2.8 `fn_regex`): extract group / replace /
    split + element_at / boolean match. Spark and DuckDB both return '' on
    a non-matching regexp_extract (verified).

    The split result is emitted '|'-joined: array cells are unsortable in
    the driver's pandas canon (r1 agg_collect_sorted lesson), so declared
    outputs serialize arrays to scalars."""
    p = load_tables(spark, sf_dir).part
    return p.select(
        "p_partkey",
        F.regexp_extract("p_brand", r"Brand#(\d+)", 1).alias("brand_num"),
        F.regexp_extract("p_name", r"^(\w+)", 1).alias("first_word"),
        F.regexp_replace("p_type", "[AEIOU]", "_").alias("devoweled"),
        F.concat_ws("|", F.split("p_type", r"\s+")).alias("type_words"),
        F.element_at(F.split("p_type", r"\s+"), 1).alias("type_head"),
        F.col("p_name").rlike("o.o").alias("has_o_o"),
    )


@query(
    "fn_date",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate)  AS yr,
           month(o_orderdate) AS mo,
           day(o_orderdate)   AS dy,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(o_orderdate AS DATE) + 30 AS plus_30d,
           CAST(o_orderdate AS DATE) - 7  AS minus_7d,
           date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
             AS days_since_95,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           make_date(year(o_orderdate), month(o_orderdate), 1) AS first_of_month,
           isodow(o_orderdate) AS iso_weekday,
           CAST(floor(epoch(o_orderdate)) AS BIGINT) AS epoch_s
    FROM orders
    """,
)
def fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time family (SURVEY §2.8 `fn_date`). ISO weekday via Spark
    ``weekday()+1`` ≡ DuckDB ``isodow`` — the raw dayofweek/dow pair is
    banned (incompatible numbering, SURVEY §5.3)."""
    o = load_tables(spark, sf_dir).orders
    od = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(od).alias("yr"),
        F.month(od).alias("mo"),
        F.dayofmonth(od).alias("dy"),
        F.date_trunc("month", od).alias("month_start"),
        F.date_add(od.cast("date"), 30).alias("plus_30d"),
        F.date_sub(od.cast("date"), 7).alias("minus_7d"),
        F.datediff(od.cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_95"
        ),
        F.last_day(od.cast("date")).alias("month_end"),
        F.make_date(F.year(od), F.month(od), F.lit(1)).alias("first_of_month"),
        (F.weekday(od) + 1).alias("iso_weekday"),
        F.unix_timestamp(od).alias("epoch_s"),
    )


@query(
    "fn_math",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           abs(l_discount - 0.05) AS abs_centered,
           CAST(ceil(l_extendedprice / 1000.0) AS BIGINT) AS price_k_ceil,
           CAST(floor(l_extendedprice / 1000.0) AS BIGINT) AS price_k_floor,
           {R('sqrt(l_extendedprice)', 4)} AS price_sqrt,
           {R('pow(l_quantity, 2.0)', 4)} AS qty_sq,
           {R('exp(l_discount)', 4)} AS disc_exp,
           {R('ln(l_extendedprice)', 4)} AS price_ln,
           {R('log10(l_extendedprice)', 4)} AS price_log10,
           CAST(l_orderkey % 7 AS BIGINT) AS key_mod7,
           CAST(sign(l_discount - 0.05) AS INT) AS disc_sign,
           greatest(l_quantity, 25.0) AS qty_floor25,
           least(l_tax, 0.04) AS tax_cap4
    FROM lineitem
    WHERE l_linenumber = 1
    """,
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family (SURVEY §2.8 `fn_math`). `abs_centered` stays unrounded:
    it's a single subtraction of identical bits. `%` (not pmod) keeps
    dividend-sign semantics identical on both engines."""
    li = load_tables(spark, sf_dir).lineitem
    price, qty = F.col("l_extendedprice"), F.col("l_quantity")
    return li.filter(F.col("l_linenumber") == 1).select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("abs_centered"),
        F.ceil(price / 1000.0).alias("price_k_ceil"),
        F.floor(price / 1000.0).alias("price_k_floor"),
        rnd(F.sqrt(price), 4).alias("price_sqrt"),
        rnd(F.pow(qty, 2.0), 4).alias("qty_sq"),
        rnd(F.exp("l_discount"), 4).alias("disc_exp"),
        rnd(F.log(price), 4).alias("price_ln"),
        rnd(F.log10(price), 4).alias("price_log10"),
        (F.col("l_orderkey") % 7).alias("key_mod7"),
        F.signum(F.col("l_discount") - 0.05).cast("int").alias("disc_sign"),
        F.greatest(qty, F.lit(25.0)).alias("qty_floor25"),
        F.least(F.col("l_tax"), F.lit(0.04)).alias("tax_cap4"),
    )


@query(
    "fn_conditional",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 300000 THEN 'BIG'
                WHEN o_totalprice > 100000 THEN 'MID'
                ELSE 'SMALL' END AS size_band,
           coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_or_open,
           if(o_orderpriority = '1-URGENT', 1, 0) AS urgent_flag,
           CASE WHEN o_orderstatus = 'F' AND o_totalprice > 200000
                THEN 'BIG_FINAL' ELSE 'OTHER' END AS combo
    FROM orders
    """,
)
def fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional family (SURVEY §2.8 `fn_conditional`): CASE chains,
    coalesce, nullif, if, boolean short-circuit."""
    o = load_tables(spark, sf_dir).orders
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 300000, "BIG")
        .when(F.col("o_totalprice") > 100000, "MID")
        .otherwise("SMALL")
        .alias("size_band"),
        F.coalesce(
            F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN")
        ).alias("status_or_open"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("urgent_flag"),
        F.when(
            (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 200000),
            "BIG_FINAL",
        )
        .otherwise("OTHER")
        .alias("combo"),
    )


@query(
    "fn_array",
    oracle="""
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS tok,
           len(string_split(text, ' ')) AS n_tokens,
           list_contains(string_split(text, ' '), 'data') AS has_data,
           array_to_string(list_slice(string_split(text, ' '), 2, 4), '|')
             AS toks_2_4,
           array_to_string(list_sort(list_distinct(string_split(text, ' '))),
                           '|') AS vocab,
           array_to_string(generate_series(1, 3), '|') AS one_two_three
    FROM documents
    WHERE doc_id < 50
    """,
)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family (SURVEY §2.8 `fn_array`): explode/unnest, contains,
    size, slice, distinct+sort, sequence. Spark slice(arr,2,3) == DuckDB
    list_slice(arr,2,4) (length vs inclusive-end). Array-typed outputs
    serialize '|'-joined for the driver's pandas canon (int elements cast
    to string element-wise — both engines print bare integers)."""
    d = load_tables(spark, sf_dir).documents
    toks = F.split(F.col("text"), " ")
    seq = F.sequence(F.lit(1), F.lit(3))
    return d.filter(F.col("doc_id") < 50).select(
        "doc_id",
        F.explode(toks).alias("tok"),
        F.size(toks).alias("n_tokens"),
        F.array_contains(toks, "data").alias("has_data"),
        F.concat_ws("|", F.slice(toks, 2, 3)).alias("toks_2_4"),
        F.concat_ws("|", F.sort_array(F.array_distinct(toks))).alias(
            "vocab"
        ),
        F.concat_ws(
            "|", F.transform(seq, lambda x: x.cast("string"))
        ).alias("one_two_three"),
    )


@query(
    "fn_array_higher_order",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings WHERE vec_id < 100
    )
    SELECT vec_id,
           {R(NORM_SQ('e'), 4)} AS norm_sq,
           len(list_filter(e, x -> x > 0)) AS n_pos,
           {R(DOT('e', 'list_reverse(e)'), 4)} AS dot_rev,
           {R('list_reduce(list_prepend(CAST(0 AS DOUBLE), e), (a, x) -> a + CASE WHEN x > 0 THEN x ELSE CAST(0 AS DOUBLE) END)', 4)}
             AS sum_pos
    FROM v
    """,
)
def fn_array_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array family (SURVEY §2.8 `fn_array_higher_order`):
    transform / filter / aggregate-fold / zip_with, showcased as vector
    arithmetic on embeddings. Both engines left-fold with an explicit zero
    (DuckDB via list_prepend) over float32 values cast losslessly to
    double, so the fold order and bits agree exactly.
    """
    e = load_tables(spark, sf_dir).embeddings
    ed = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = e.filter(F.col("vec_id") < 100).select("vec_id", ed.alias("e"))
    sum_pos = F.aggregate(
        F.col("e"),
        F.lit(0.0),
        lambda a, x: a + F.when(x > 0, x).otherwise(0.0),
    )
    return base.select(
        "vec_id",
        rnd(norm_sq(F.col("e")), 4).alias("norm_sq"),
        F.size(F.filter(F.col("e"), lambda x: x > 0)).alias("n_pos"),
        rnd(dot(F.col("e"), F.reverse(F.col("e"))), 4).alias("dot_rev"),
        rnd(sum_pos, 4).alias("sum_pos"),
    )


@query(
    "fn_map",
    oracle="""
    SELECT event_id,
           unnest(json_keys(props)) AS k,
           CAST(json_extract(props, '$.' || unnest(json_keys(props))) AS INT)
             AS v,
           len(json_keys(props)) AS n_keys
    FROM events
    WHERE event_id < 500
    """,
)
def fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map family (SURVEY §2.8 `fn_map`): JSON object → MAP<STRING,INT> →
    exploded (key, value) rows — exploded form sidesteps DuckDB MAP-literal
    comparison quirks."""
    ev = load_tables(spark, sf_dir).events
    m = F.from_json("props", "map<string,int>")
    return (
        ev.filter(F.col("event_id") < 500)
        .select(
            "event_id",
            F.explode(m).alias("k", "v"),
            F.size(F.map_keys(m)).alias("n_keys"),
        )
    )


@query(
    "fn_json",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract(props, '$.k') AS INT) AS k_int,
           json_extract_string(props, '$.missing') AS missing_field,
           CAST(json_extract(
             '{"outer": ' || props || '}', '$.outer.k') AS INT) AS k_nested
    FROM events
    WHERE event_id < 500
    """,
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON family (SURVEY §2.8 `fn_json`): string/typed path extraction,
    missing-path null, nested access (document nested via concat so both
    engines walk a 2-level path)."""
    ev = load_tables(spark, sf_dir).events
    nested = F.concat(F.lit('{"outer": '), F.col("props"), F.lit("}"))
    return ev.filter(F.col("event_id") < 500).select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").cast("int").alias("k_int"),
        F.get_json_object("props", "$.missing").alias("missing_field"),
        F.get_json_object(nested, "$.outer.k").cast("int").alias("k_nested"),
    )


@query(
    "fn_bitwise",
    oracle="""
    SELECT o_orderkey,
           o_orderkey & 255 AS low_byte,
           o_orderkey | 4096 AS with_flag,
           xor(o_orderkey, 21845) AS xored,
           o_orderkey << 2 AS shifted_up,
           o_orderkey >> 3 AS shifted_down,
           bit_count(o_orderkey) AS popcount
    FROM orders
    WHERE o_orderkey < 2000
    """,
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise family (surface completion): AND/OR/XOR, shifts, popcount —
    the building blocks the simhash/LSH operators rely on."""
    o = load_tables(spark, sf_dir).orders
    k = F.col("o_orderkey")
    return o.filter(k < 2000).select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("low_byte"),
        k.bitwiseOR(F.lit(4096)).alias("with_flag"),
        k.bitwiseXOR(F.lit(21845)).alias("xored"),
        F.shiftleft(k, 2).alias("shifted_up"),
        F.shiftright(k, 3).alias("shifted_down"),
        F.bit_count(k).alias("popcount"),
    )


@query(
    "fn_hash",
    oracle="""
    SELECT doc_id,
           md5(text) AS h_md5,
           sha256(text) AS h_sha256,
           length(md5(text)) AS md5_len,
           substring(md5(text), 1, 8) AS md5_head
    FROM documents
    WHERE doc_id < 200
    """,
)
def fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cryptographic-hash family: md5 + sha256 hex digests — the
    cross-engine content-addressing primitives the dedup operators build
    on (xxhash64 is Spark-only and stays engine-side)."""
    d = load_tables(spark, sf_dir).documents
    return d.filter(F.col("doc_id") < 200).select(
        "doc_id",
        F.md5("text").alias("h_md5"),
        F.sha2(F.col("text"), 256).alias("h_sha256"),
        F.length(F.md5("text")).alias("md5_len"),
        F.substring(F.md5("text"), 1, 8).alias("md5_head"),
    )


@query(
    "fn_string_parts",
    oracle="""
    SELECT c_custkey,
           split_part(c_name, '#', 1) AS name_prefix,
           split_part(c_name, '#', 2) AS name_num,
           translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_lower_vowels,
           repeat(c_mktsegment, 2) AS seg_x2,
           left(c_name, 5)  AS head5,
           right(c_name, 5) AS tail5,
           ascii(c_mktsegment) AS first_cp,
           chr(65 + CAST(c_custkey % 26 AS INTEGER)) AS letter,
           contains(c_name, '9') AS has_nine
    FROM customer
    WHERE c_custkey < 2000
    """,
)
def fn_string_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second string family: delimiter splitting (split_part), character
    mapping (translate), repetition, left/right slices, codepoint
    conversions, substring containment — all JVM built-ins fused into the
    scan's codegen span, same names on both engines."""
    c = load_tables(spark, sf_dir).customer
    return c.filter(F.col("c_custkey") < 2000).select(
        "c_custkey",
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(1)).alias(
            "name_prefix"
        ),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).alias(
            "name_num"
        ),
        F.translate(F.col("c_mktsegment"), "AEIOU", "aeiou").alias(
            "seg_lower_vowels"
        ),
        F.repeat(F.col("c_mktsegment"), 2).alias("seg_x2"),
        F.left(F.col("c_name"), F.lit(5)).alias("head5"),
        F.right(F.col("c_name"), F.lit(5)).alias("tail5"),
        F.ascii(F.col("c_mktsegment")).alias("first_cp"),
        F.chr(F.lit(65) + (F.col("c_custkey") % 26).cast("int")).alias(
            "letter"
        ),
        F.contains(F.col("c_name"), F.lit("9")).alias("has_nine"),
    )


@query(
    "fn_trig",
    oracle=f"""
    SELECT angle_deg,
           {R('sin(radians(angle_deg))', 4)} AS sin_a,
           {R('cos(radians(angle_deg))', 4)} AS cos_a,
           {R('tan(radians(angle_deg) / 2.0 + 0.1)', 4)} AS tan_half,
           {R('atan2(CAST(angle_deg AS DOUBLE), 100.0)', 4)} AS atan2_a,
           {R('degrees(atan(angle_deg / 360.0))', 4)} AS atan_deg,
           {R('asin(angle_deg / 360.0)', 4)} AS asin_a,
           {R('acos(angle_deg / 360.0)', 4)} AS acos_a,
           {R('cot(radians(angle_deg) + 0.05)', 4)} AS cot_a
    FROM (SELECT DISTINCT o_orderkey % 360 AS angle_deg FROM orders)
    """,
)
def fn_trig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigonometric + hyperbolic family over a bounded integer angle
    domain (0–359 — DISTINCT keeps the row set fixed at every sf, so the
    libm-vs-StrictMath last-ULP question is settled once, not re-rolled
    per row; 4dp rounding absorbs sub-ULP differences off tie
    boundaries). tan is shifted off the π/2 pole."""
    o = load_tables(spark, sf_dir).orders
    angles = o.select((F.col("o_orderkey") % 360).alias("angle_deg")).distinct()
    a = F.col("angle_deg")
    rad = F.radians(a)
    x = a / F.lit(360.0)
    return angles.select(
        "angle_deg",
        rnd(F.sin(rad), 4).alias("sin_a"),
        rnd(F.cos(rad), 4).alias("cos_a"),
        rnd(F.tan(rad / 2.0 + 0.1), 4).alias("tan_half"),
        rnd(F.atan2(a.cast("double"), F.lit(100.0)), 4).alias("atan2_a"),
        rnd(F.degrees(F.atan(x)), 4).alias("atan_deg"),
        rnd(F.asin(x), 4).alias("asin_a"),
        rnd(F.acos(x), 4).alias("acos_a"),
        rnd(F.cot(rad + F.lit(0.05)), 4).alias("cot_a"),
    )


@query(
    "fn_printf",
    oracle="""
    SELECT o_orderkey,
           printf('ORD-%08d', o_orderkey) AS order_tag,
           printf('%s/%d', o_orderstatus, CAST(year(o_orderdate) AS INT))
             AS status_year,
           printf('%x', o_orderkey) AS key_hex,
           printf('$%.2f', {RP}) AS price_label
    FROM orders WHERE o_orderkey < 2000
    """.replace("{RP}", R("o_totalprice", 2)),
)
def fn_printf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """printf-style formatting family: zero-padded decimal, string/int
    composition, hex, and fixed-point money labels — Spark
    `format_string` (java.util.Formatter) vs DuckDB `printf` (C fmt).
    Dialect trap pinned here: %.2f on a RAW double diverges on decimal
    ties (2.675 → Java '2.68', C '2.67' — same binary, different
    tie-break), so money goes through parity.rnd FIRST; on 2dp-grid
    doubles both formatters agree. %d/%s/%x are tie-free."""
    o = load_tables(spark, sf_dir).orders.filter(F.col("o_orderkey") < 2000)
    return o.select(
        "o_orderkey",
        F.format_string("ORD-%08d", F.col("o_orderkey")).alias("order_tag"),
        F.format_string(
            "%s/%d",
            F.col("o_orderstatus"),
            F.year("o_orderdate").cast("int"),
        ).alias("status_year"),
        F.format_string("%x", F.col("o_orderkey")).alias("key_hex"),
        F.format_string(
            "$%.2f", rnd(F.col("o_totalprice"), 2)
        ).alias("price_label"),
    )
