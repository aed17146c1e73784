"""Statistical / reconciliation / skew-handling operators (round 4):
two-sample Kolmogorov-Smirnov via a distributed ECDF, Herfindahl market
concentration, Cramér's V association strength, an A/B conversion z-test,
snapshot reconciliation by row hash, and the salted-replicate skew join.
All Tier A (oracle-matched).

Determinism strategy per SURVEY §5.3: every aggregate stays on exact
integer grids (cents / counts / fixed-point) until ONE final float
expression that both engines compute from identical ints with identical
ops; float folds (Cramér's V cells) run in sorted order on both engines
via the array-fold technique (see text_chi_square).

Scale notes:
- KS uses ``global_order_cumsum`` (operators/global_rank.py) — the ECDF is
  a range-partitioned prefix sum, never a single-partition window.
- HHI's squared revenues go through decimal(38,0)/HUGEINT — supplier-level
  cents² overflows int64 at warehouse scale.
- snapshot_diff is two scans + one co-partitioned full-outer join on the
  key; row hashes are engine-internal (each engine compares ITS OWN
  hashes), so the class counts are engine-portable while the hash stays
  free to use the engine's native string rendering.
- join_skew_salted shows the manual salting pattern: S-way salt on the
  fact, S-fold replicate of the dim, equi-join on (key, salt) — the shape
  that bounds any one task to 1/S of a hot key when AQE's skew split
  can't apply (e.g. a window or stateful op keyed on the join key
  downstream).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyetl_spark.parity import (
    FXP,
    ORDERED_SUM,
    PHASH60,
    PHASH60_SEEDED,
    R,
    fxp,
    ordered_sum,
    rnd,
)
from pyetl_spark.registry import query
from pyetl_spark.tables import load_tables

_KS_FXP = FXP("o_totalprice", 100)

@query(
    "agg_ks_statistic",
    oracle=f"""
    WITH s AS (
      SELECT {_KS_FXP} AS v,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g1
      FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    counts AS (
      SELECT v, sum(g1) AS c1, sum(1 - g1) AS c2 FROM s GROUP BY v
    ),
    cums AS (
      SELECT v,
             sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum1,
             sum(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum2
      FROM counts
    ),
    tot AS (SELECT sum(g1) AS n1, sum(1 - g1) AS n2 FROM s)
    SELECT CAST(n1 AS BIGINT) AS n1,
           CAST(n2 AS BIGINT) AS n2,
           {R("CAST(max(abs(cum1 * n2 - cum2 * n1)) AS DOUBLE)"
              " / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))", 6)} AS ks_d
    FROM cums, tot
    GROUP BY n1, n2
    """,
)
def agg_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D between URGENT and LOW order-price
    distributions — the drift test a training pipeline runs between
    yesterday's and today's feature distributions.

    D = max over thresholds of |ECDF₁ − ECDF₂|. Exactness: prices land on
    an integer cent grid; per distinct value the two group counts
    aggregate exactly; the ECDF numerators are integer prefix sums from
    ``global_order_cumsum`` (range-partitioned two-phase — the scale-safe
    ECDF); and |cum1·n2 − cum2·n1| keeps the comparison in int64 (≤ ~1e11
    at sf1), dividing by n1·n2 only in the single final expression. One
    keyed aggregate + one pinned range shuffle + a k-sized driver offset
    map; at 100 TB the distinct-value table is the only shuffled state."""
    from pyetl_spark.operators.global_rank import global_order_cumsum

    o = load_tables(spark, sf_dir).orders
    s = o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        fxp(F.col("o_totalprice"), 100).alias("v"),
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("g1"),
    )
    counts = s.groupBy("v").agg(
        F.sum("g1").alias("c1"), F.sum(1 - F.col("g1")).alias("c2")
    )
    cum = global_order_cumsum(counts, ["v"], ["c1", "c2"])
    # r15 (guide §2.4): n1/n2 used to be a SECOND full scan of orders
    # (s.agg over the raw rows). The inclusive prefix sums already end
    # at the group totals — c1/c2 are non-negative, so max(cum_*) IS
    # sum(c*) — and `cum` is the pinned, distinct-value-bounded frame
    # global_order_cumsum materialized anyway: the totals become a
    # k-row aggregate over that pin instead of a corpus pass.
    tot = cum.agg(
        F.max("cum_c1").cast("long").alias("n1"),
        F.max("cum_c2").cast("long").alias("n2"),
    )
    dnum = F.max(
        F.abs(
            F.col("cum_c1") * F.col("n2") - F.col("cum_c2") * F.col("n1")
        )
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n1", "n2")
        .agg(dnum.alias("dnum"))
        .select(
            "n1",
            "n2",
            rnd(
                F.col("dnum").cast("double")
                / (F.col("n1").cast("double") * F.col("n2").cast("double")),
                6,
            ).alias("ks_d"),
        )
    )


_HHI_FXP = FXP("l_extendedprice * (1 - l_discount)", 10**4)

@query(
    "agg_hhi_concentration",
    oracle=f"""
    WITH rev AS (
      SELECT n_name, l_suppkey, sum({_HHI_FXP}) AS r
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      GROUP BY n_name, l_suppkey
    )
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           {R("10000.0 * CAST(sum(CAST(r AS HUGEINT) * CAST(r AS HUGEINT))"
              " AS DOUBLE) / (CAST(sum(r) AS DOUBLE) * CAST(sum(r) AS"
              " DOUBLE))", 4)} AS hhi
    FROM rev
    GROUP BY n_name
    """,
)
def agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman market-concentration index per nation: HHI =
    10000·Σ(share_i²) over each supplier's revenue share in its nation
    (10000 = monopoly, →0 = atomized) — the standard concentration screen.

    Exactness: revenue is an exact fixed-point sum; Σr² runs in
    decimal(38,0) (HUGEINT on the oracle) because supplier-cents² passes
    int64 at warehouse scale; the single final expression divides two
    exact aggregates in doubles. Identity 10000·Σr²/(Σr)² ≡ 10000·Σ(r/Σr)²
    avoids per-supplier float shares entirely (a float-sum-order trap).
    Plan: one partial/final agg on (nation, suppkey) with both dims
    broadcast, then a second agg on nation — no extra shuffle beyond the
    two keyed aggregates."""
    t = load_tables(spark, sf_dir)
    rev = (
        t.lineitem.join(
            F.broadcast(t.supplier),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(t.nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name", "l_suppkey")
        .agg(
            F.sum(
                fxp(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")),
                    10**4,
                )
            ).alias("r")
        )
    )
    rdec = F.col("r").cast("decimal(38,0)")
    return (
        rev.groupBy("n_name")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.sum(rdec * rdec).alias("ssq"),
            F.sum("r").alias("tot"),
        )
        .select(
            "n_name",
            "n_suppliers",
            rnd(
                F.lit(10000.0)
                * F.col("ssq").cast("double")
                / (F.col("tot").cast("double") * F.col("tot").cast("double")),
                4,
            ).alias("hhi"),
        )
    )


@query(
    "agg_cramers_v",
    oracle=f"""
    WITH m AS (
      SELECT lang, source, count(*) AS o
      FROM documents GROUP BY lang, source
    ),
    margins AS (
      SELECT lang, source, o,
             sum(o) OVER (PARTITION BY lang) AS rt,
             sum(o) OVER (PARTITION BY source) AS ct,
             sum(o) OVER () AS n
      FROM m
    ),
    cells AS (
      SELECT lang, source, n,
             ((CAST(o AS DOUBLE)
               - (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))
                 / CAST(n AS DOUBLE))
              * (CAST(o AS DOUBLE)
                 - (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))
                   / CAST(n AS DOUBLE)))
             / ((CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))
                / CAST(n AS DOUBLE)) AS x2
      FROM margins
    ),
    folded AS (
      SELECT count(*) AS n_cells,
             CAST(count(DISTINCT lang) AS BIGINT) AS r_levels,
             CAST(count(DISTINCT source) AS BIGINT) AS c_levels,
             CAST(max(n) AS BIGINT) AS n,
             {ORDERED_SUM("x2", "lang", "source")} AS chi
      FROM cells
    )
    SELECT n_cells, r_levels, c_levels,
           {R("chi", 4)} AS chi_square,
           {R("sqrt(chi / (CAST(n AS DOUBLE) * CAST(least(r_levels - 1,"
              " c_levels - 1) AS DOUBLE)))", 6)} AS cramers_v
    FROM folded
    """,
)
def agg_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V for the lang×source contingency table — the normalized
    ([0,1]) effect-size companion to `text_chi_square`: how strongly is
    language associated with source? V = sqrt(χ²/(n·min(r−1,c−1))).

    Same determinism recipe as text_chi_square: exact integer margins
    (window sums over the ≤100-cell contingency table — bounded domain,
    whitelisted), each cell's (O−E)²/E from identical ints, and the float
    fold runs in sorted (lang, source) order on BOTH engines (array-sort
    → left fold). Bounded state everywhere; the only full-data pass is
    the contingency-table aggregate."""
    d = load_tables(spark, sf_dir).documents
    m = d.groupBy("lang", "source").agg(F.count("*").alias("o"))
    w_l = Window.partitionBy("lang")
    w_s = Window.partitionBy("source")
    w_all = Window.partitionBy()
    cells = m.select(
        "lang",
        "source",
        "o",
        F.sum("o").over(w_l).alias("rt"),
        F.sum("o").over(w_s).alias("ct"),
        F.sum("o").over(w_all).alias("n"),
    )
    e = (
        F.col("rt").cast("double")
        * F.col("ct").cast("double")
        / F.col("n").cast("double")
    )
    od = F.col("o").cast("double")
    contrib = cells.select(
        "lang",
        "source",
        "n",
        (((od - e) * (od - e)) / e).alias("x2"),
    )
    folded = contrib.agg(
        F.count("*").alias("n_cells"),
        F.countDistinct("lang").alias("r_levels"),
        F.countDistinct("source").alias("c_levels"),
        F.max("n").alias("n"),
        ordered_sum("x2", "lang", "source").alias("chi"),
    )
    dof = F.least(
        F.col("r_levels") - 1, F.col("c_levels") - 1
    ).cast("double")
    return folded.select(
        "n_cells",
        "r_levels",
        "c_levels",
        rnd(F.col("chi"), 4).alias("chi_square"),
        rnd(
            F.sqrt(F.col("chi") / (F.col("n").cast("double") * dof)), 6
        ).alias("cramers_v"),
    )


@query(
    "agg_ab_test_ztest",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'purchase' AND value >= 250.0
                      THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id
    ),
    g AS (
      SELECT CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN user_id % 2 = 0 THEN conv ELSE 0 END)
                  AS BIGINT) AS conv_a,
             CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_b,
             CAST(sum(CASE WHEN user_id % 2 = 1 THEN conv ELSE 0 END)
                  AS BIGINT) AS conv_b
      FROM per_user
    )
    SELECT n_a, conv_a, n_b, conv_b,
           {R("(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)"
              " - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))"
              " / sqrt((CAST(conv_a + conv_b AS DOUBLE)"
              "         / CAST(n_a + n_b AS DOUBLE))"
              "        * (1.0 - CAST(conv_a + conv_b AS DOUBLE)"
              "            / CAST(n_a + n_b AS DOUBLE))"
              "        * (1.0 / CAST(n_a AS DOUBLE)"
              "           + 1.0 / CAST(n_b AS DOUBLE)))", 6)} AS z_score
    FROM g
    """,
)
def agg_ab_test_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test for an A/B split (variant = user_id parity):
    did variant A convert (≥1 high-value purchase, value ≥ 250 — strict
    enough that neither pooled extreme 0/1 degenerates the variance) at a
    different rate than B? The pooled-proportion z statistic, the
    workhorse experiment readout.

    Counts are exact ints from two keyed aggregates (per-user conversion,
    then per-variant totals); the z expression is ONE float formula over
    four ints — identical ops both engines. Plan: groupBy(user_id) with
    map-side combine, then a 2-group aggregate folded to one row; at
    100 TB pre-bucketing events by user_id removes the first shuffle."""
    ev = load_tables(spark, sf_dir).events
    per_user = ev.groupBy("user_id").agg(
        F.max(
            (
                (F.col("event_type") == "purchase")
                & (F.col("value") >= 250.0)
            ).cast("int")
        ).alias("conv")
    )
    is_a = (F.col("user_id") % 2 == 0).cast("int")
    g = per_user.agg(
        F.sum(is_a).cast("long").alias("n_a"),
        F.sum(is_a * F.col("conv")).cast("long").alias("conv_a"),
        F.sum(1 - is_a).cast("long").alias("n_b"),
        F.sum((1 - is_a) * F.col("conv")).cast("long").alias("conv_b"),
    )
    pa = F.col("conv_a").cast("double") / F.col("n_a").cast("double")
    pb = F.col("conv_b").cast("double") / F.col("n_b").cast("double")
    pp = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    se = F.sqrt(
        pp
        * (F.lit(1.0) - pp)
        * (
            F.lit(1.0) / F.col("n_a").cast("double")
            + F.lit(1.0) / F.col("n_b").cast("double")
        )
    )
    return g.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        rnd((pa - pb) / se, 6).alias("z_score"),
    )


@query(
    "etl_snapshot_reconcile_hash",
    oracle="""
    WITH old_snap AS (
      SELECT o_orderkey,
             md5(concat_ws('|', o_orderkey, o_custkey, o_orderstatus,
                           o_totalprice,
                           CASE WHEN o_orderkey % 13 = 0 THEN 'X-ALTERED'
                                ELSE o_orderpriority END)) AS h
      FROM orders WHERE o_orderkey % 11 <> 0
    ),
    new_snap AS (
      SELECT o_orderkey,
             md5(concat_ws('|', o_orderkey, o_custkey, o_orderstatus,
                           o_totalprice, o_orderpriority)) AS h
      FROM orders WHERE o_orderkey % 7 <> 0
    )
    SELECT change_class, CAST(count(*) AS BIGINT) AS n
    FROM (
      SELECT CASE
               WHEN o.o_orderkey IS NULL THEN 'added'
               WHEN n.o_orderkey IS NULL THEN 'removed'
               WHEN o.h = n.h THEN 'unchanged'
               ELSE 'changed'
             END AS change_class
      FROM old_snap o
      FULL OUTER JOIN new_snap n ON o.o_orderkey = n.o_orderkey
    )
    GROUP BY change_class
    """,
)
def etl_snapshot_reconcile_hash(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Snapshot reconciliation by ROW HASH (the wide-table twin of
    `etl_snapshot_diff`, which compares columns directly): classify every
    key across two table versions as added / removed / changed /
    unchanged and emit the per-class counts — the replication-audit
    primitive. Old snapshot = orders minus every 11th key with every
    13th key's priority altered; new = orders minus every 7th key
    (deterministic fixture derivation, both from one scan).

    The row hash is ENGINE-INTERNAL — each engine compares its own md5 of
    its own string rendering, so only the class counts must agree
    cross-engine (why the hash input skips the timestamp column: no
    cross-engine format contract needed even then). Plan: one full-outer
    sort-merge join on the key; both sides hash-project before the join,
    so the shuffled payload is (key, 32-byte hash), not rows. At 100 TB:
    co-partition both snapshots on the key (bucketed layout) and the join
    is shuffle-free; the hash-compare pushes no data wider than the key
    column."""
    o = load_tables(spark, sf_dir).orders

    def rowhash(priority_col):
        return F.md5(
            F.concat_ws(
                "|",
                F.col("o_orderkey"),
                F.col("o_custkey"),
                F.col("o_orderstatus"),
                F.col("o_totalprice"),
                priority_col,
            )
        )

    old_snap = o.filter(F.col("o_orderkey") % 11 != 0).select(
        F.col("o_orderkey").alias("k_old"),
        rowhash(
            F.when(F.col("o_orderkey") % 13 == 0, "X-ALTERED").otherwise(
                F.col("o_orderpriority")
            )
        ).alias("h_old"),
    )
    new_snap = o.filter(F.col("o_orderkey") % 7 != 0).select(
        F.col("o_orderkey").alias("k_new"),
        rowhash(F.col("o_orderpriority")).alias("h_new"),
    )
    cls = (
        F.when(F.col("k_old").isNull(), "added")
        .when(F.col("k_new").isNull(), "removed")
        .when(F.col("h_old") == F.col("h_new"), "unchanged")
        .otherwise("changed")
    )
    return (
        old_snap.join(
            new_snap, F.col("k_old") == F.col("k_new"), "full_outer"
        )
        .select(cls.alias("change_class"))
        .groupBy("change_class")
        .agg(F.count("*").alias("n"))
    )


_SALTS = 8

@query(
    "join_skew_salted",
    oracle=f"""
    WITH dim AS (
      SELECT DISTINCT event_type, length(event_type) AS w FROM events
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum({FXP("value", 100)} * w) AS BIGINT) AS weighted_cents
    FROM events e JOIN dim ON e.event_type = dim.event_type
    GROUP BY e.event_type
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted-replicate join on a pathologically skewed key: events has ~5
    distinct event_type values — at 100 TB that is billions of rows per
    key, and a plain shuffle join puts each key's entire volume on ONE
    task. The manual pattern: salt the fact with pmod(xxhash64(row-id), S),
    explode the dim ×S, equi-join on (key, salt) — every task now holds
    ≤1/S of a hot key. Result is IDENTICAL to the unsalted join (the
    oracle computes the plain form), which is the whole point.

    When to reach for this over AQE's skew-join split: AQE can only split
    a skewed SHUFFLE JOIN's partitions; if the join feeds a window,
    stateful op, or another join keyed on the same column, or the skewed
    side is the build side of a broadcast that won't fit, the salt must
    be explicit. S trades replication (dim ×S) for balance; pick
    S ≈ hot-key-rows / target-task-rows. Deterministic: the salt only
    routes rows; the per-key aggregate re-merges them exactly."""
    ev = load_tables(spark, sf_dir).events
    dim = ev.select("event_type").distinct().select(
        "event_type", F.length("event_type").alias("w")
    )
    fact = ev.select(
        "event_type",
        fxp(F.col("value"), 100).alias("cents"),
        F.pmod(F.xxhash64("event_id"), F.lit(_SALTS)).alias("_salt"),
    )
    dim_rep = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(_SALTS)]))
    ).withColumn("_salt", F.col("_salt").cast("long"))
    return (
        fact.join(dim_rep, ["event_type", "_salt"])
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("cents") * F.col("w")).alias("weighted_cents"),
        )
    )


_CUPED_SPLIT = "TIMESTAMP '2024-01-16 00:00:00'"

@query(
    "agg_cuped_adjusted",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(user_id % 2 AS BIGINT) AS variant,
             sum(CASE WHEN event_type = 'purchase'
                      AND ts < {_CUPED_SPLIT}
                      THEN {FXP("value", 100)} ELSE 0 END) AS x,
             sum(CASE WHEN event_type = 'purchase'
                      AND ts >= {_CUPED_SPLIT}
                      THEN {FXP("value", 100)} ELSE 0 END) AS y
      FROM events GROUP BY user_id
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(sum(CASE WHEN variant = 0 THEN x ELSE 0 END) AS BIGINT)
               AS sx_a,
             CAST(sum(CASE WHEN variant = 0 THEN y ELSE 0 END) AS BIGINT)
               AS sy_a,
             CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b,
             CAST(sum(CASE WHEN variant = 1 THEN x ELSE 0 END) AS BIGINT)
               AS sx_b,
             CAST(sum(CASE WHEN variant = 1 THEN y ELSE 0 END) AS BIGINT)
               AS sy_b
      FROM per_user
    )
    SELECT n_a, n_b,
           {R("(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
              " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
              " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
              "    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))", 6)}
             AS theta,
           {R("CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 100.0"
              " - CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE) / 100.0", 4)}
             AS diff_raw,
           {R("(CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 100.0"
              " - CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE) / 100.0)"
              " - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
              "     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
              "    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
              "       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))"
              "   * (CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 100.0"
              "      - CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE)"
              "        / 100.0)", 4)} AS diff_cuped,
           {R("100.0 * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
              " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
              " * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
              "    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
              " / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
              "     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
              "    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
              "       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))", 4)}
             AS var_reduction_pct
    FROM m
    """,
)
def agg_cuped_adjusted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng, Xu, Kohavi & Walker,
    WSDM 2013): adjust each variant's outcome-period purchase revenue by
    the pre-period covariate, Y' = Y − θ(X − X̄), θ = cov(X,Y)/var(X) —
    the industry-standard trick that cuts experiment runtimes by the
    squared pre/post correlation (reported as var_reduction_pct = 100ρ²).
    Pre-period = first half of the event month; variant = user_id parity
    (same split as `agg_ab_test_ztest`).

    Exactness: per-user x/y are integer cents; ALL moments (Σx, Σy, Σxy,
    Σx², Σy², per-variant sums) are exact int64 sums from ONE aggregate
    (xy ≤ ~1e13·users — int64-safe at sf1; decimal(38) is the 100 TB
    swap); θ and the adjusted difference are final float formulas over
    those ints — both engines compute identical doubles. Plan: one
    groupBy(user_id) with map-side combine, then a 1-row moment
    aggregate; nothing else moves."""
    ev = load_tables(spark, sf_dir).events
    split = F.lit("2024-01-16 00:00:00").cast("timestamp")
    is_purchase = F.col("event_type") == "purchase"
    cents = fxp(F.col("value"), 100)
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(is_purchase & (F.col("ts") < split), cents).otherwise(0)
        ).alias("x"),
        F.sum(
            F.when(is_purchase & (F.col("ts") >= split), cents).otherwise(0)
        ).alias("y"),
    ).withColumn("variant", (F.col("user_id") % 2).cast("long"))
    is_a = (F.col("variant") == 0).cast("long")
    m = per_user.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(is_a).cast("long").alias("n_a"),
        F.sum(is_a * F.col("x")).cast("long").alias("sx_a"),
        F.sum(is_a * F.col("y")).cast("long").alias("sy_a"),
        F.sum(1 - is_a).cast("long").alias("n_b"),
        F.sum((1 - is_a) * F.col("x")).cast("long").alias("sx_b"),
        F.sum((1 - is_a) * F.col("y")).cast("long").alias("sy_b"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    cov_n = d("n") * d("sxy") - d("sx") * d("sy")
    varx_n = d("n") * d("sxx") - d("sx") * d("sx")
    vary_n = d("n") * d("syy") - d("sy") * d("sy")
    theta = cov_n / varx_n
    mean_y_a = d("sy_a") / d("n_a") / F.lit(100.0)
    mean_y_b = d("sy_b") / d("n_b") / F.lit(100.0)
    mean_x_a = d("sx_a") / d("n_a") / F.lit(100.0)
    mean_x_b = d("sx_b") / d("n_b") / F.lit(100.0)
    return m.select(
        "n_a",
        "n_b",
        rnd(theta, 6).alias("theta"),
        rnd(mean_y_a - mean_y_b, 4).alias("diff_raw"),
        rnd(
            (mean_y_a - mean_y_b) - theta * (mean_x_a - mean_x_b), 4
        ).alias("diff_cuped"),
        rnd(F.lit(100.0) * cov_n * cov_n / (varx_n * vary_n), 4).alias(
            "var_reduction_pct"
        ),
    )


_DQ_RULES_SQL = """
      SELECT
        count(*) AS n_checked,
        sum(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS f1,
        sum(CASE WHEN o_orderstatus IN ('O', 'F', 'P') THEN 0 ELSE 1 END)
          AS f2,
        sum(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$')
                 THEN 0 ELSE 1 END) AS f3,
        sum(CASE WHEN o_custkey IS NOT NULL THEN 0 ELSE 1 END) AS f4,
        sum(CASE WHEN o_orderdate >= TIMESTAMP '1995-01-01'
                  AND o_orderdate < TIMESTAMP '2002-01-01'
                 THEN 0 ELSE 1 END) AS f5
      FROM orders
"""

@query(
    "etl_dq_scorecard",
    oracle=f"""
    WITH agg AS ({_DQ_RULES_SQL})
    SELECT rule, CAST(n_checked AS BIGINT) AS n_checked,
           CAST(n_failed AS BIGINT) AS n_failed,
           {R("100.0 * CAST(n_failed AS DOUBLE)"
              " / CAST(n_checked AS DOUBLE)", 6)} AS fail_pct
    FROM (
      SELECT 'totalprice_positive' AS rule, n_checked, f1 AS n_failed
        FROM agg
      UNION ALL SELECT 'status_in_domain', n_checked, f2 FROM agg
      UNION ALL SELECT 'priority_format', n_checked, f3 FROM agg
      UNION ALL SELECT 'custkey_not_null', n_checked, f4 FROM agg
      UNION ALL SELECT 'orderdate_in_range', n_checked, f5 FROM agg
    )
    """,
)
def etl_dq_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality rule scorecard (Great-Expectations-style suite as a
    query): evaluate five declared rules — positivity, domain membership,
    format regex, non-null FK, date range — over orders in ONE scan/ONE
    aggregate, then unpivot to a per-rule (n_checked, n_failed, fail_pct)
    report. The nightly gate a warehouse runs before publishing a
    snapshot; `etl_fk_integrity` / `etl_k_anonymity` are the deep dives,
    this is the dashboard.

    One pass regardless of rule count (each rule is a conditional-sum
    column, all combined map-side), so adding the 50th rule costs zero
    extra scans. The unpivot is an inline_outer over a 5-element struct
    array — constant-sized. All counts exact ints; the only float is the
    final percentage."""
    o = load_tables(spark, sf_dir).orders
    rules = [
        ("totalprice_positive", F.col("o_totalprice") > 0),
        (
            "status_in_domain",
            F.col("o_orderstatus").isin("O", "F", "P"),
        ),
        (
            "priority_format",
            F.col("o_orderpriority").rlike("^[1-5]-[A-Z ]+$"),
        ),
        ("custkey_not_null", F.col("o_custkey").isNotNull()),
        (
            "orderdate_in_range",
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("2002-01-01").cast("timestamp")),
        ),
    ]
    agg = o.agg(
        F.count("*").alias("n_checked"),
        *[
            F.sum(F.when(cond, 0).otherwise(1)).alias(f"f{i}")
            for i, (_, cond) in enumerate(rules)
        ],
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule"), F.col(f"f{i}").alias("n_failed")
            )
            for i, (name, _) in enumerate(rules)
        ]
    )
    return (
        agg.select("n_checked", F.inline_outer(pairs))
        .select(
            "rule",
            "n_checked",
            "n_failed",
            rnd(
                F.lit(100.0)
                * F.col("n_failed").cast("double")
                / F.col("n_checked").cast("double"),
                6,
            ).alias("fail_pct"),
        )
    )


@query(
    "win_pct_rank_twophase",
    oracle=f"""
    SELECT c_custkey, c_acctbal,
           {R("percent_rank() OVER (ORDER BY c_acctbal, c_custkey)", 6)}
             AS pct_rank
    FROM customer
    """,
)
def win_pct_rank_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global percent_rank WITHOUT a single-partition window — the
    distributed scale twin that `win_ntile_pct`'s lint-whitelist entry
    promises: rank via ``global_order_rank`` (range-partitioned
    two-phase), then pct = rank/(N−1), which equals SQL percent_rank
    exactly because (c_acctbal, c_custkey) is a total order (no tie
    groups). The oracle IS the built-in percent_rank, so the equivalence
    is hash-checked, not argued.

    Plan: one pinned range shuffle + per-partition rank + an O(partitions)
    driver offset map + a 1-row N crossJoin — at 100 TB this is the same
    cost as sorting the column once; the whitelisted single-partition
    forms stay correct but THIS is the shape to ship."""
    from pyetl_spark.operators.global_rank import global_order_rank

    c = load_tables(spark, sf_dir).customer.select(
        "c_custkey", "c_acctbal"
    )
    ranked = global_order_rank(
        c, ["c_acctbal", "c_custkey"], out_col="rk"
    )
    n = c.agg(F.count("*").cast("long").alias("n"))
    return ranked.crossJoin(F.broadcast(n)).select(
        "c_custkey",
        "c_acctbal",
        rnd(
            F.col("rk").cast("double")
            / (F.col("n") - F.lit(1)).cast("double"),
            6,
        ).alias("pct_rank"),
    )


@query(
    "etl_partition_skew_audit",
    oracle=f"""
    WITH counts AS (
      SELECT event_type, count(*) AS n_rows FROM events GROUP BY event_type
    ),
    tot AS (SELECT sum(n_rows) AS t, count(*) AS k FROM counts)
    SELECT event_type,
           CAST(n_rows AS BIGINT) AS n_rows,
           {R("100.0 * CAST(n_rows AS DOUBLE) / CAST(t AS DOUBLE)", 4)}
             AS share_pct,
           {R("CAST(n_rows AS DOUBLE) * CAST(k AS DOUBLE)"
              " / CAST(t AS DOUBLE)", 4)} AS skew_factor,
           CAST(n_rows AS DOUBLE) * CAST(k AS DOUBLE) / CAST(t AS DOUBLE)
             > 2.0 AS flagged
    FROM counts CROSS JOIN tot
    """,
)
def etl_partition_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-layout skew audit: before choosing a partition/bucket
    column, measure each candidate value's row share and skew factor
    (n · k / total — 1.0 = perfectly uniform; >2 flags values that would
    make a partition twice the average). The governance query behind
    `join_skew_salted`'s S choice and every partitionBy decision: a
    column that flags here produces straggler tasks and lopsided files
    at 100 TB.

    One keyed aggregate + a 1-row totals crossJoin; counts exact, the
    two ratios are the only floats. The same audit generalizes to any
    candidate column — event_type is the fixture's known-skewed key
    (5 values)."""
    ev = load_tables(spark, sf_dir).events
    counts = ev.groupBy("event_type").agg(F.count("*").alias("n_rows"))
    tot = counts.agg(
        F.sum("n_rows").cast("long").alias("t"),
        F.count("*").cast("long").alias("k"),
    )
    skew = (
        F.col("n_rows").cast("double")
        * F.col("k").cast("double")
        / F.col("t").cast("double")
    )
    return counts.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n_rows",
        rnd(
            F.lit(100.0)
            * F.col("n_rows").cast("double")
            / F.col("t").cast("double"),
            4,
        ).alias("share_pct"),
        rnd(skew, 4).alias("skew_factor"),
        (skew > 2.0).alias("flagged"),
    )


_H72_US = 72 * 3600 * 1_000_000
_H168_US = 168 * 3600 * 1_000_000

@query(
    "events_funnel_windowed",
    oracle=f"""
    WITH first_view AS (
      SELECT user_id, min(epoch_us(ts)) AS v_us
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    first_click AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS c_us
      FROM events e JOIN first_view f ON e.user_id = f.user_id
      WHERE e.event_type = 'click'
        AND epoch_us(e.ts) >= f.v_us
        AND epoch_us(e.ts) < f.v_us + {_H72_US}
      GROUP BY e.user_id
    ),
    first_purchase AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS p_us
      FROM events e JOIN first_click c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase'
        AND epoch_us(e.ts) >= c.c_us
        AND epoch_us(e.ts) < c.c_us + {_H168_US}
      GROUP BY e.user_id
    )
    SELECT CAST((SELECT count(*) FROM first_view) AS BIGINT) AS n_view,
           CAST((SELECT count(*) FROM first_click) AS BIGINT) AS n_click,
           CAST((SELECT count(*) FROM first_purchase) AS BIGINT)
             AS n_purchase,
           {R("CAST((SELECT count(*) FROM first_click) AS DOUBLE)"
              " / CAST((SELECT count(*) FROM first_view) AS DOUBLE)"
              " * 100.0", 4)} AS view_to_click_pct,
           {R("CAST((SELECT count(*) FROM first_purchase) AS DOUBLE)"
              " / CAST((SELECT count(*) FROM first_click) AS DOUBLE)"
              " * 100.0", 4)} AS click_to_purchase_pct
    """,
)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deadline-bounded funnel (the realistic form of `events_funnel`,
    which allows unbounded conversion lag): click must land within 72h of
    the user's FIRST view, purchase within 168h of the first qualifying
    click — attribution-window semantics, so a purchase months later no
    longer counts as funnel conversion.

    All stage boundaries compare exact epoch-microsecond integers
    (epoch_us both engines — no interval arithmetic, no tz exposure).
    Plan: three user_id-keyed min-aggregates, each joined back on
    user_id — every shuffle keys on user_id, so Spark reuses one
    exchange; at 100 TB pre-bucketing events by user_id makes the whole
    funnel shuffle-free."""
    ev = load_tables(spark, sf_dir).events
    us = F.unix_micros(F.col("ts"))
    first_view = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(us).alias("v_us"))
    )
    first_click = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", us.alias("e_us"))
        .join(first_view, "user_id")
        .filter(
            (F.col("e_us") >= F.col("v_us"))
            & (F.col("e_us") < F.col("v_us") + F.lit(_H72_US))
        )
        .groupBy("user_id")
        .agg(F.min("e_us").alias("c_us"))
    )
    first_purchase = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", us.alias("e_us"))
        .join(first_click, "user_id")
        .filter(
            (F.col("e_us") >= F.col("c_us"))
            & (F.col("e_us") < F.col("c_us") + F.lit(_H168_US))
        )
        .groupBy("user_id")
        .agg(F.min("e_us").alias("p_us"))
    )
    # ONE stage frame (view LEFT click LEFT purchase) + ONE aggregate:
    # the identical first_view/first_click subtrees appear twice in the
    # lineage and AQE collapses them via runtime ReusedExchange (2 reuses
    # in the final adaptive plan, asserted in test_stats) — versus the
    # per-stage count form, whose count-wrapped subtrees can never be
    # identical and re-execute every upstream scan
    stages = first_view.join(first_click, "user_id", "left").join(
        first_purchase, "user_id", "left"
    )
    return (
        stages.agg(
            F.count("*").cast("long").alias("n_view"),
            F.count("c_us").cast("long").alias("n_click"),
            F.count("p_us").cast("long").alias("n_purchase"),
        )
        .select(
            "n_view",
            "n_click",
            "n_purchase",
            rnd(
                F.col("n_click").cast("double")
                / F.col("n_view").cast("double")
                * F.lit(100.0),
                4,
            ).alias("view_to_click_pct"),
            rnd(
                F.col("n_purchase").cast("double")
                / F.col("n_click").cast("double")
                * F.lit(100.0),
                4,
            ).alias("click_to_purchase_pct"),
        )
    )


@query(
    "agg_mann_whitney_u",
    oracle=f"""
    WITH s AS (
      SELECT {_KS_FXP} AS v,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g1
      FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    counts AS (
      SELECT v, sum(g1) AS c1, sum(1 - g1) AS c2,
             count(*) AS c
      FROM s GROUP BY v
    ),
    ranked AS (
      SELECT v, c1, c2, c,
             sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) - c AS before,
             c * c * c - c AS tie3
      FROM counts
    ),
    m AS (
      SELECT CAST(sum(c1) AS BIGINT) AS n1,
             CAST(sum(c2) AS BIGINT) AS n2,
             CAST(sum(c1 * (2 * before + c + 1)) AS BIGINT) AS r1_2x,
             CAST(sum(tie3) AS BIGINT) AS ties3
      FROM ranked
    )
    SELECT n1, n2,
           {R("(CAST(r1_2x AS DOUBLE) / 2.0"
              " - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0) / 2.0)",
              1)} AS u1,
           {R("((CAST(r1_2x AS DOUBLE) / 2.0"
              "  - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0) / 2.0)"
              " - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)"
              " / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0"
              "   * ((CAST(n1 + n2 AS DOUBLE) + 1.0)"
              "      - CAST(ties3 AS DOUBLE)"
              "        / (CAST(n1 + n2 AS DOUBLE)"
              "           * (CAST(n1 + n2 AS DOUBLE) - 1.0))))", 6)}
             AS z_score
    FROM m
    """,
)
def agg_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test between URGENT and LOW order prices —
    the nonparametric companion to `agg_ks_statistic` (same two samples:
    KS asks "different distributions?", U asks "does one stochastically
    dominate?"). Normal approximation with the standard tie correction
    (Σ(t³−t) term).

    Exactness: tie-group MIDRANKS stay integer by carrying 2×midrank =
    2·(rank before) + t + 1, so the rank-sum R₁ is an exact int64
    (≤ ~2·N·n₁); the prefix rank-before comes from the SAME distributed
    ``global_order_cumsum`` ECDF machinery as KS (no single-partition
    window); U, μ_U, σ_U and z are one final float expression over four
    exact ints. Plan: one distinct-value aggregate + one pinned range
    shuffle + a 1-row moment fold."""
    from pyetl_spark.operators.global_rank import global_order_cumsum

    o = load_tables(spark, sf_dir).orders
    s = o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        fxp(F.col("o_totalprice"), 100).alias("v"),
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("g1"),
    )
    counts = s.groupBy("v").agg(
        F.sum("g1").alias("c1"),
        F.sum(1 - F.col("g1")).alias("c2"),
        F.count("*").alias("c"),
    )
    ranked = global_order_cumsum(counts, ["v"], ["c"]).select(
        "c1",
        "c2",
        "c",
        (F.col("cum_c") - F.col("c")).alias("before"),
        (F.col("c") * F.col("c") * F.col("c") - F.col("c")).alias("tie3"),
    )
    m = ranked.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        F.sum(
            F.col("c1") * (2 * F.col("before") + F.col("c") + 1)
        )
        .cast("long")
        .alias("r1_2x"),
        F.sum("tie3").cast("long").alias("ties3"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    u1 = d("r1_2x") / F.lit(2.0) - d("n1") * (d("n1") + F.lit(1.0)) / F.lit(
        2.0
    )
    n = (F.col("n1") + F.col("n2")).cast("double")
    mu = d("n1") * d("n2") / F.lit(2.0)
    sigma = F.sqrt(
        d("n1")
        * d("n2")
        / F.lit(12.0)
        * ((n + F.lit(1.0)) - d("ties3") / (n * (n - F.lit(1.0))))
    )
    return m.select(
        "n1",
        "n2",
        rnd(u1, 1).alias("u1"),
        rnd((u1 - mu) / sigma, 6).alias("z_score"),
    )


@query(
    "agg_welch_ttest",
    oracle=f"""
    WITH s AS (
      SELECT {_KS_FXP} AS v,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g1
      FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    m AS (
      SELECT CAST(sum(g1) AS BIGINT) AS n1,
             CAST(sum(1 - g1) AS BIGINT) AS n2,
             CAST(sum(CASE WHEN g1 = 1 THEN v ELSE 0 END) AS BIGINT) AS s1,
             CAST(sum(CASE WHEN g1 = 0 THEN v ELSE 0 END) AS BIGINT) AS s2,
             sum(CASE WHEN g1 = 1
                 THEN CAST(v AS HUGEINT) * CAST(v AS HUGEINT)
                 ELSE 0 END) AS q1,
             sum(CASE WHEN g1 = 0
                 THEN CAST(v AS HUGEINT) * CAST(v AS HUGEINT)
                 ELSE 0 END) AS q2
      FROM s
    )
    SELECT n1, n2,
           {R("(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
              " - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / 100.0", 4)}
             AS mean_diff,
           {R("(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
              " - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
              " / sqrt("
              "   ((CAST(n1 AS DOUBLE) * CAST(q1 AS DOUBLE)"
              "     - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))"
              "    / (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0)))"
              "   / CAST(n1 AS DOUBLE)"
              "   + ((CAST(n2 AS DOUBLE) * CAST(q2 AS DOUBLE)"
              "       - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))"
              "      / (CAST(n2 AS DOUBLE) * (CAST(n2 AS DOUBLE) - 1.0)))"
              "   / CAST(n2 AS DOUBLE))", 6)} AS t_stat
    FROM m
    """,
)
def agg_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t statistic between URGENT and LOW order
    prices — the parametric member of the two-sample family (KS:
    distribution shape; U: stochastic dominance; t: mean difference).

    Exactness: per-group n, Σv (int64) and Σv² (decimal(38)/HUGEINT —
    cents² × row count passes int64 at sf1) come from ONE conditional
    aggregate; sample variances via the n·Σv²−(Σv)² identity and the t
    statistic are a single final float expression over those exact
    aggregates. Plan: one scan, one partial/final aggregate, zero
    shuffles beyond it."""
    o = load_tables(spark, sf_dir).orders
    s = o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        fxp(F.col("o_totalprice"), 100).alias("v"),
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("g1"),
    )
    vdec = F.col("v").cast("decimal(38,0)")
    m = s.agg(
        F.sum("g1").cast("long").alias("n1"),
        F.sum(1 - F.col("g1")).cast("long").alias("n2"),
        F.sum(F.when(F.col("g1") == 1, F.col("v")).otherwise(0))
        .cast("long")
        .alias("s1"),
        F.sum(F.when(F.col("g1") == 0, F.col("v")).otherwise(0))
        .cast("long")
        .alias("s2"),
        F.sum(
            F.when(F.col("g1") == 1, vdec * vdec).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )
        ).alias("q1"),
        F.sum(
            F.when(F.col("g1") == 0, vdec * vdec).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )
        ).alias("q2"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    var1 = (d("n1") * d("q1") - d("s1") * d("s1")) / (
        d("n1") * (d("n1") - F.lit(1.0))
    )
    var2 = (d("n2") * d("q2") - d("s2") * d("s2")) / (
        d("n2") * (d("n2") - F.lit(1.0))
    )
    mean_diff_cents = d("s1") / d("n1") - d("s2") / d("n2")
    t = mean_diff_cents / F.sqrt(var1 / d("n1") + var2 / d("n2"))
    return m.select(
        "n1",
        "n2",
        rnd(mean_diff_cents / F.lit(100.0), 4).alias("mean_diff"),
        rnd(t, 6).alias("t_stat"),
    )


@query(
    "agg_percentile_exact_twophase",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n,
           {R("quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5)", 4)}
             AS p50,
           {R("quantile_cont(CAST(o_totalprice AS DOUBLE), 0.9)", 4)}
             AS p90,
           {R("quantile_cont(CAST(o_totalprice AS DOUBLE), 0.99)", 4)}
             AS p99
    FROM orders
    """,
)
def agg_percentile_exact_twophase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT global p50/p90/p99 of order prices computed distributed —
    the scale twin `agg_percentile`'s docstring defers to approx for:
    Spark's exact `percentile` materializes every value in ONE
    aggregation buffer (driver-sized at 100 TB), while this plan ranks
    rows with ``global_order_rank`` (range-partitioned two-phase) and
    selects the two interpolation anchors per quantile by rank — the
    oracle is the built-in quantile_cont, so exactness is hash-checked.

    quantile_cont semantics: idx = p·(n−1); result = v[⌊idx⌋]·(1−frac) +
    v[⌊idx⌋+1]·frac. n arrives as a broadcast 1-row scalar, the anchor
    filter keeps ≤6 rows, and the final 1-row aggregate computes the
    interpolation — all from exact ints and p-derived doubles both
    engines build identically. Cost: one pinned range shuffle (the same
    as sorting the column once) + an O(partitions) offset map; memory
    per task is a partition, never the column."""
    from pyetl_spark.operators.global_rank import global_order_rank

    o = load_tables(spark, sf_dir).orders.select(
        F.col("o_totalprice").cast("double").alias("v"), "o_orderkey"
    )
    ranked = global_order_rank(o, ["v", "o_orderkey"], out_col="rk")
    n = o.agg(F.count("*").cast("long").alias("n"))
    with_n = ranked.crossJoin(F.broadcast(n))
    qs = [("p50", 0.5), ("p90", 0.9), ("p99", 0.99)]

    def idx(p):
        return F.lit(p) * (F.col("n") - 1).cast("double")

    def lo(p):
        return F.floor(idx(p)).cast("long")

    anchor = None
    for _, p in qs:
        cond = (F.col("rk") == lo(p)) | (F.col("rk") == lo(p) + 1)
        anchor = cond if anchor is None else (anchor | cond)
    kept = with_n.filter(anchor)

    def interp(p):
        frac = idx(p) - lo(p).cast("double")
        return F.sum(
            F.when(F.col("rk") == lo(p), F.col("v") * (F.lit(1.0) - frac))
            .when(
                (F.col("rk") == lo(p) + 1) & (frac > 0),
                F.col("v") * frac,
            )
            .otherwise(0.0)
        )

    return kept.groupBy("n").agg(
        *[rnd(interp(p), 4).alias(name) for name, p in qs]
    )


_PSI_BUCKETS = 20

@query(
    "agg_psi_drift",
    oracle=f"""
    WITH tagged AS (
      SELECT CASE WHEN ts < {_CUPED_SPLIT} THEN 0 ELSE 1 END AS period,
             CASE WHEN value < 0.0 THEN 0
                  WHEN value >= 500.0 THEN {_PSI_BUCKETS} + 1
                  ELSE CAST(floor((value - 0.0) / 25.0) AS INT) + 1
             END AS b
      FROM events
    ),
    cells AS (
      SELECT b.b AS b,
             coalesce(rc.c, 0) AS rc,
             coalesce(cc.c, 0) AS cc
      FROM (SELECT unnest(generate_series(0, {_PSI_BUCKETS} + 1)) AS b) b
      LEFT JOIN (SELECT b, count(*) AS c FROM tagged WHERE period = 0
                 GROUP BY b) rc ON b.b = rc.b
      LEFT JOIN (SELECT b, count(*) AS c FROM tagged WHERE period = 1
                 GROUP BY b) cc ON b.b = cc.b
    ),
    tot AS (
      SELECT sum(rc) + count(*) AS rt, sum(cc) + count(*) AS ct
      FROM cells
    ),
    contrib AS (
      SELECT b,
             (CAST(cc + 1 AS DOUBLE) / CAST(ct AS DOUBLE)
              - CAST(rc + 1 AS DOUBLE) / CAST(rt AS DOUBLE))
             * ln((CAST(cc + 1 AS DOUBLE) / CAST(ct AS DOUBLE))
                  / (CAST(rc + 1 AS DOUBLE) / CAST(rt AS DOUBLE))) AS x
      FROM cells CROSS JOIN tot
    )
    SELECT CAST(count(*) AS BIGINT) AS n_buckets,
           {R(ORDERED_SUM("x", "b"), 6)} AS psi,
           {ORDERED_SUM("x", "b")} > 0.2 AS drift_alert
    FROM contrib
    """,
)
def agg_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half-month
    of event values — the BATCH twin of the streaming drift monitor
    (streaming/drift.py): same frozen equal-width buckets (+ 2 overflow),
    same Laplace smoothing, same 0.2 alert convention, here hash-checked
    against a SQL oracle so the monitor's math carries driver evidence.

    Determinism: bucket counts are exact ints; each bucket's PSI term is
    one float expression over identical ints, and the 22-term sum folds
    in bucket order on BOTH engines (the text_chi_square ordered-fold
    technique). Plan: one scan → one (period, bucket) aggregate →
    bucket-spine left join (44 rows) → ordered fold; monitor state is
    bucket-count-sized at any traffic."""
    ev = load_tables(spark, sf_dir).events
    split = F.lit("2024-01-16 00:00:00").cast("timestamp")
    lo, hi, nb = 0.0, 500.0, _PSI_BUCKETS
    width = (hi - lo) / nb
    b = (
        F.when(F.col("value") < lo, 0)
        .when(F.col("value") >= hi, nb + 1)
        .otherwise(
            F.floor((F.col("value") - F.lit(lo)) / F.lit(width)).cast("int")
            + 1
        )
    )
    tagged = ev.select(
        (F.col("ts") >= split).cast("int").alias("period"), b.alias("b")
    )
    counted = tagged.groupBy("b").agg(
        F.sum(F.when(F.col("period") == 0, 1).otherwise(0)).alias("rc0"),
        F.sum(F.when(F.col("period") == 1, 1).otherwise(0)).alias("cc0"),
    )
    spine = spark.range(0, nb + 2).select(F.col("id").cast("int").alias("b"))
    cells = spine.join(counted, "b", "left").select(
        "b",
        F.coalesce("rc0", F.lit(0)).alias("rc"),
        F.coalesce("cc0", F.lit(0)).alias("cc"),
    )
    tot = cells.agg(
        (F.sum("rc") + F.count("*")).cast("long").alias("rt"),
        (F.sum("cc") + F.count("*")).cast("long").alias("ct"),
    )
    p = (F.col("cc") + 1).cast("double") / F.col("ct").cast("double")
    q = (F.col("rc") + 1).cast("double") / F.col("rt").cast("double")
    contrib = cells.crossJoin(F.broadcast(tot)).select(
        "b", ((p - q) * F.log(p / q)).alias("x")
    )
    folded = contrib.agg(
        F.count("*").alias("n_buckets"),
        ordered_sum("x", "b").alias("psi_raw"),
    )
    return folded.select(
        "n_buckets",
        rnd(F.col("psi_raw"), 6).alias("psi"),
        (F.col("psi_raw") > 0.2).alias("drift_alert"),
    )


# centered-moment SQL building blocks for the two-feature OLS (shared
# between the Spark expression tree and the DuckDB oracle — both engines
# assemble the SAME doubles from the SAME exact integer moments)
_OLS_RAW = """
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x1) AS BIGINT) AS sx1,
             CAST(sum(x2) AS BIGINT) AS sx2,
             CAST(sum(y)  AS BIGINT) AS sy,
             CAST(sum(x1 * x1) AS BIGINT) AS sx11,
             CAST(sum(x1 * x2) AS BIGINT) AS sx12,
             CAST(sum(x2 * x2) AS BIGINT) AS sx22,
             CAST(sum(x1 * y) AS BIGINT) AS sx1y,
             CAST(sum(x2 * y) AS BIGINT) AS sx2y,
             sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
      FROM feats
"""

def _ols_sql(expr: dict[str, str]) -> dict[str, str]:
    d = {
        "nd": "CAST(n AS DOUBLE)",
        "s11": "(CAST(sx11 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE) / CAST(n AS DOUBLE))",
        "s12": "(CAST(sx12 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE))",
        "s22": "(CAST(sx22 AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE))",
        "s1y": "(CAST(sx1y AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))",
        "s2y": "(CAST(sx2y AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))",
        "syy_c": "(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))",
    }
    d["det"] = f"({d['s11']} * {d['s22']} - {d['s12']} * {d['s12']})"
    d["b1"] = f"(({d['s1y']} * {d['s22']} - {d['s2y']} * {d['s12']}) / {d['det']})"
    d["b2"] = f"(({d['s2y']} * {d['s11']} - {d['s1y']} * {d['s12']}) / {d['det']})"
    d["b0"] = (
        f"(CAST(sy AS DOUBLE) / {d['nd']}"
        f" - {d['b1']} * CAST(sx1 AS DOUBLE) / {d['nd']}"
        f" - {d['b2']} * CAST(sx2 AS DOUBLE) / {d['nd']})"
    )
    d["r2"] = f"(({d['b1']} * {d['s1y']} + {d['b2']} * {d['s2y']}) / {d['syy_c']})"
    return d

_OLS = _ols_sql({})

@query(
    "agg_ols_two_feature",
    oracle=f"""
    WITH feats AS (
      SELECT l_quantity AS x1,
             {FXP("l_discount", 100)} AS x2,
             {FXP("l_extendedprice", 100)} AS y
      FROM lineitem
    ),
    m AS ({_OLS_RAW})
    SELECT n,
           {R(_OLS["b0"], 4)} AS b0,
           {R(_OLS["b1"], 4)} AS b1,
           {R(_OLS["b2"], 4)} AS b2,
           {R(_OLS["r2"], 6)} AS r2
    FROM m
    """,
)
def agg_ols_two_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature linear regression by normal equations, solved in
    closed form (centered 2×2 Cramer): extended price ~ quantity +
    discount-points — the in-engine multivariate regression
    `revenue_trend_ols` (single-feature) generalizes to, and the shape
    every larger design matrix reduces to per pair of features.

    Exactness: all nine raw moments are exact integer sums from ONE
    partial/final aggregate (Σy² through HUGEINT/decimal(38) — cents²
    passes int64); centered moments, determinant, coefficients and R²
    are one final float expression both engines assemble from those
    identical ints (the SQL and the Spark expression tree are generated
    from the same building blocks). Plan: one scan, one 1-row aggregate;
    at 100 TB the regression costs exactly one pass regardless of
    features, since each extra feature adds moments, not passes."""
    li = load_tables(spark, sf_dir).lineitem
    feats = li.select(
        F.col("l_quantity").cast("long").alias("x1"),
        fxp(F.col("l_discount"), 100).alias("x2"),
        fxp(F.col("l_extendedprice"), 100).alias("y"),
    )
    ydec = F.col("y").cast("decimal(38,0)")
    m = feats.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x1").cast("long").alias("sx1"),
        F.sum("x2").cast("long").alias("sx2"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast("long").alias("sx11"),
        F.sum(F.col("x1") * F.col("x2")).cast("long").alias("sx12"),
        F.sum(F.col("x2") * F.col("x2")).cast("long").alias("sx22"),
        F.sum(F.col("x1") * F.col("y")).cast("long").alias("sx1y"),
        F.sum(F.col("x2") * F.col("y")).cast("long").alias("sx2y"),
        F.sum(ydec * ydec).alias("syy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    nd = d("n")
    s11 = d("sx11") - d("sx1") * d("sx1") / nd
    s12 = d("sx12") - d("sx1") * d("sx2") / nd
    s22 = d("sx22") - d("sx2") * d("sx2") / nd
    s1y = d("sx1y") - d("sx1") * d("sy") / nd
    s2y = d("sx2y") - d("sx2") * d("sy") / nd
    syy_c = d("syy") - d("sy") * d("sy") / nd
    det = s11 * s22 - s12 * s12
    b1 = (s1y * s22 - s2y * s12) / det
    b2 = (s2y * s11 - s1y * s12) / det
    b0 = d("sy") / nd - b1 * d("sx1") / nd - b2 * d("sx2") / nd
    r2 = (b1 * s1y + b2 * s2y) / syy_c
    return m.select(
        "n",
        rnd(b0, 4).alias("b0"),
        rnd(b1, 4).alias("b1"),
        rnd(b2, 4).alias("b2"),
        rnd(r2, 6).alias("r2"),
    )


# composite readout: reuse the registered sub-queries AND their oracles
# (DuckDB allows a WITH inside a parenthesized CTE body, so each
# sub-oracle nests verbatim — single source of truth for both engines)
from pyetl_spark.registry import ORACLE as _ORC  # noqa: E402

@query(
    "pipeline_experiment_readout",
    oracle=f"""
    WITH dq AS ({_ORC["etl_dq_scorecard"]}),
    z AS ({_ORC["agg_ab_test_ztest"]}),
    c AS ({_ORC["agg_cuped_adjusted"]}),
    p AS ({_ORC["agg_psi_drift"]})
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM dq WHERE n_failed > 0)
             AS dq_failed_rules,
           z.n_a, z.n_b, z.z_score,
           c.theta, c.diff_cuped, c.var_reduction_pct,
           p.psi, p.drift_alert
    FROM z, c, p
    """,
)
def pipeline_experiment_readout(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One-row experiment dashboard: DQ gate (failed-rule count), the
    pooled z-test, the CUPED-adjusted effect, and distribution drift —
    COMPOSED from the registered sub-queries themselves (same functions,
    same oracles nested verbatim), which is the composition contract an
    engine user relies on: registry queries are ordinary DataFrames that
    crossJoin/aggregate like any other. Four 1-row broadcasts; each
    sub-plan keeps its own documented scale shape."""
    dq = (
        etl_dq_scorecard(spark, sf_dir)
        .filter(F.col("n_failed") > 0)
        .agg(F.count("*").cast("long").alias("dq_failed_rules"))
    )
    z = agg_ab_test_ztest(spark, sf_dir).select("n_a", "n_b", "z_score")
    c = agg_cuped_adjusted(spark, sf_dir).select(
        "theta", "diff_cuped", "var_reduction_pct"
    )
    p = agg_psi_drift(spark, sf_dir).select("psi", "drift_alert")
    return (
        dq.crossJoin(F.broadcast(z))
        .crossJoin(F.broadcast(c))
        .crossJoin(F.broadcast(p))
    )


@query(
    "agg_ab_srm_check",
    oracle=f"""
    WITH g AS (
      SELECT CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_b
      FROM (SELECT DISTINCT user_id FROM events)
    )
    SELECT n_a, n_b,
           {R("CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)"
              " / CAST(n_a + n_b AS DOUBLE)", 6)} AS chi2,
           100 * (n_a - n_b) * (n_a - n_b) > 384 * (n_a + n_b) AS srm_flag
    FROM g
    """,
)
def agg_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample Ratio Mismatch check for the user-parity A/B split: under
    a healthy 50/50 assignment, χ²(1) = (n_a−n_b)²/n; a value past 3.84
    (95%) means the RANDOMIZATION is broken and every downstream readout
    (`agg_ab_test_ztest`, `agg_cuped_adjusted`) is invalid — the gate
    experimentation platforms run before showing anyone a p-value.

    The flag is INTEGER-decided: χ² > 3.84 ⟺ 100·(n_a−n_b)² > 384·n,
    so the alert can't flip on float rounding; χ² itself is the one
    reported float. One distinct-users aggregate — at 100 TB this is the
    same pre-bucketed user_id pass as the funnel family."""
    ev = load_tables(spark, sf_dir).events
    users = ev.select("user_id").distinct()
    is_a = (F.col("user_id") % 2 == 0).cast("long")
    g = users.agg(
        F.sum(is_a).cast("long").alias("n_a"),
        F.sum(1 - is_a).cast("long").alias("n_b"),
    )
    diff = F.col("n_a") - F.col("n_b")
    n = F.col("n_a") + F.col("n_b")
    return g.select(
        "n_a",
        "n_b",
        rnd(
            (diff * diff).cast("double") / n.cast("double"), 6
        ).alias("chi2"),
        (100 * diff * diff > 384 * n).alias("srm_flag"),
    )


_KMV_EST = (
    "CASE WHEN n_distinct < 256 THEN CAST(n_distinct AS DOUBLE) "
    "ELSE 255.0 / ((CAST(h_k AS DOUBLE) + 1.0) / 1152921504606846976.0) END"
)


@query(
    "agg_kmv_distinct",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type, {PHASH60("user_id")} AS hv FROM events
    ),
    rk AS (
      SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM h
    ),
    agg AS (
      SELECT event_type,
             CAST(count(*) FILTER (WHERE rn <= 256) AS INT) AS sketch_size,
             count(*) AS n_distinct,
             max(CASE WHEN rn = 256 THEN hv END) AS h_k
      FROM rk GROUP BY event_type
    )
    SELECT event_type, sketch_size, {R(_KMV_EST, 2)} AS approx_users
    FROM agg
    """,
)
def agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV/theta bottom-k distinct sketch per event_type (operators/kmv.py):
    the k smallest hash values of user_id, built with bounded state in
    two map-combinable passes (bucket-minima threshold, then exact refine
    — NEVER a per-group collect of all distinct hashes), then the
    Beyer-et-al (k-1)/u_k estimator. Groups with < k distinct users are
    EXACT by construction (the sketch is the whole hash set).

    Tier A via the cross-engine ``phash60`` hash (parity.py): the oracle
    replays the identical md5-prefix hash and k-th-minimum arithmetic in
    SQL, so the driver hash-checks the ENTIRE sketch pipeline — bottom-k
    selection, saturation branch, estimator grid. xxhash64 remains the
    operator's default at scale (hash choice is orthogonal to the
    algebra; tests/test_kmv.py gates both).

    vs agg_hll_sketch_merge: HLL is smaller per sketch; KMV's value lists
    additionally support lossless union and intersection/Jaccard
    estimation (agg_kmv_overlap). At 100 TB both passes are partial/final
    aggregates on (type, bucket) — no skew, no unbounded buffers."""
    from pyetl_spark.operators.kmv import kmv_estimate, kmv_sketch
    from pyetl_spark.parity import PHASH60_GRID, phash60

    ev = load_tables(spark, sf_dir).events
    k = 256
    sk = kmv_sketch(ev, ["event_type"], "user_id", k=k, hash_fn=phash60)
    return (
        sk.select(
            "event_type",
            F.size("kmv").alias("sketch_size"),
            rnd(
                kmv_estimate(F.col("kmv"), k, grid=PHASH60_GRID), 2
            ).alias("approx_users"),
        )
        .orderBy("event_type")
    )


_KMV_UEST = (
    "CASE WHEN u_size < 256 THEN CAST(u_size AS DOUBLE) "
    "ELSE 255.0 / ((CAST(h_k AS DOUBLE) + 1.0) / 1152921504606846976.0) END"
)
_KMV_JACC = "(CAST(both_cnt AS DOUBLE) / CAST(u_size AS DOUBLE))"


@query(
    "agg_kmv_overlap",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type, {PHASH60("user_id")} AS hv FROM events
    ),
    rk AS (
      SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM h
    ),
    sk AS (SELECT event_type, hv FROM rk WHERE rn <= 256),
    ty AS (SELECT DISTINCT event_type FROM events),
    pr AS (
      SELECT a.event_type AS ta, b.event_type AS tb
      FROM ty a JOIN ty b ON a.event_type < b.event_type
    ),
    m AS (
      SELECT pr.ta, pr.tb, s.hv,
             max(CASE WHEN s.event_type = pr.ta THEN 1 ELSE 0 END) AS in_a,
             max(CASE WHEN s.event_type = pr.tb THEN 1 ELSE 0 END) AS in_b
      FROM pr JOIN sk s ON s.event_type IN (pr.ta, pr.tb)
      GROUP BY pr.ta, pr.tb, s.hv
    ),
    urk AS (
      SELECT *, row_number() OVER (PARTITION BY ta, tb ORDER BY hv) AS urn
      FROM m
    ),
    u AS (
      SELECT ta, tb, count(*) AS u_size,
             max(CASE WHEN urn = 256 THEN hv END) AS h_k,
             count(*) FILTER (WHERE in_a = 1 AND in_b = 1) AS both_cnt
      FROM urk WHERE urn <= 256 GROUP BY ta, tb
    )
    SELECT ta AS type_a, tb AS type_b,
           {R(_KMV_UEST, 2)} AS approx_union,
           {R(_KMV_JACC, 4)} AS approx_jaccard,
           {R(f"{_KMV_JACC} * ({_KMV_UEST})", 2)} AS approx_intersect
    FROM u
    """,
)
def agg_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap from mergeable sketches: pairwise union size,
    Jaccard, and intersection size of per-event-type KMV user sketches —
    the theta-sketch set-operation workflow (union is LOSSLESS: the
    merged bottom-k is exactly the union's bottom-k, so only the final
    estimator carries error; intersection = Jaccard x union-estimate).

    The pair join is a 5x5 dimension crossJoin (one row per sketch) —
    the fact table is touched once to build the sketches; every set
    operation after that is array algebra on k-bounded lists. That is
    the point at 100 TB: overlap questions over any pair (or rollup) of
    pre-built sketches never rescan the corpus. Exact-overlap twin:
    events_audience_overlap. Accuracy gates in tests/test_kmv.py.

    Tier A via ``phash60`` (see agg_kmv_distinct): the oracle rebuilds
    the per-type truncated sketches with the same hash, merges them per
    pair, and replays the union/Jaccard/intersection estimators — the
    lossless-union property (bottom-k of truncated lists == bottom-k of
    the full union) is therefore hash-verified, not just unit-tested."""
    from pyetl_spark.operators.kmv import (
        kmv_estimate,
        kmv_intersect_estimate,
        kmv_jaccard,
        kmv_sketch,
        kmv_union,
    )
    from pyetl_spark.parity import PHASH60_GRID, phash60

    ev = load_tables(spark, sf_dir).events
    k = 256
    sk = kmv_sketch(ev, ["event_type"], "user_id", k=k, hash_fn=phash60)
    a = sk.select(
        F.col("event_type").alias("type_a"), F.col("kmv").alias("kmv_a")
    )
    b = sk.select(
        F.col("event_type").alias("type_b"), F.col("kmv").alias("kmv_b")
    )
    pairs = a.crossJoin(b).filter(F.col("type_a") < F.col("type_b"))
    ka, kb = F.col("kmv_a"), F.col("kmv_b")
    return pairs.select(
        "type_a",
        "type_b",
        rnd(
            kmv_estimate(kmv_union(ka, kb, k), k, grid=PHASH60_GRID), 2
        ).alias("approx_union"),
        rnd(kmv_jaccard(ka, kb, k), 4).alias("approx_jaccard"),
        rnd(
            kmv_intersect_estimate(ka, kb, k, grid=PHASH60_GRID), 2
        ).alias("approx_intersect"),
    ).orderBy("type_a", "type_b")


@query(
    "join_cardinality_estimate",
    oracle=f"""
    WITH a AS (
      SELECT o_orderkey AS k, count(*) AS c FROM orders
      WHERE {PHASH60("o_orderkey")} < 18014398509481984
      GROUP BY o_orderkey
    ),
    b AS (
      SELECT l_orderkey AS k, count(*) AS c2 FROM lineitem
      WHERE {PHASH60("l_orderkey")} < 18014398509481984
      GROUP BY l_orderkey
    )
    SELECT 'orders_x_lineitem_on_orderkey' AS join_id,
           CAST(sum(c * c2) * 64 AS BIGINT) AS est_join_rows,
           count(*) AS sampled_matched_keys,
           CAST(max(c) AS BIGINT) AS max_left_mult,
           CAST(max(c2) AS BIGINT) AS max_right_mult
    FROM a JOIN b USING (k)
    """,
)
def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight join-size estimation — the optimizer question "how big
    is orders ⋈ lineitem on orderkey?" answered WITHOUT running the join,
    by coordinated key sampling (the end-biased / correlated-sample
    estimator of Vengerov et al., VLDB'15): hash every join key with the
    SAME function on both sides, keep keys with xxhash64(key) in the
    bottom p-fraction of the hash space (a uniform-over-KEYS sample that
    picks the SAME keys on both sides — the property plain row sampling
    lacks, and why row-sample join estimates collapse), join only the
    tiny samples, and scale the matched multiplicity product by 1/p.

    |A ⋈ B| = Σ_k a_k·b_k over matched keys k; the coordinated sample
    observes that sum for a p-fraction of keys, so the scale-up is
    unbiased with variance driven by key-frequency skew (reported here
    via the sampled max multiplicities). Both full tables are scanned
    once (cheap aggregates on ~p·|keys| rows pass the shuffle); at
    100 TB p shrinks with key cardinality and the sample fits in one
    executor. Exactness and error gates: tests/test_join_estimate.py
    (the estimator is deterministic — fixed hash, fixed p).

    Tier A via ``parity.phash60`` (bottom 1/64 of the 2^60 grid): the
    oracle replays the identical coordinated sample — which keys get
    picked, every multiplicity, and the 64x scale-up are hash-checked,
    not just bound-tested."""
    from pyetl_spark.parity import phash60

    t = load_tables(spark, sf_dir)
    p_inv = 64  # sample ~1/64 of the key space
    thresh = (1 << 60) // p_inv  # bottom 1/64 of the phash60 grid

    def keyed_sample(df: DataFrame, key: str) -> DataFrame:
        return (
            df.select(F.col(key).alias("k"))
            .filter(phash60(F.col(key)) < thresh)
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    a = keyed_sample(t.orders, "o_orderkey")
    b = keyed_sample(t.lineitem, "l_orderkey").withColumnRenamed("c", "c2")
    est = a.join(b, "k").agg(
        (F.sum(F.col("c") * F.col("c2")) * p_inv)
        .cast("long")
        .alias("est_join_rows"),
        F.count(F.lit(1)).alias("sampled_matched_keys"),
        F.max("c").alias("max_left_mult"),
        F.max("c2").alias("max_right_mult"),
    )
    return est.select(
        F.lit("orders_x_lineitem_on_orderkey").alias("join_id"),
        "est_join_rows",
        "sampled_matched_keys",
        "max_left_mult",
        "max_right_mult",
    )


def _poisson1_thresholds() -> list[int]:
    """Cumulative Poisson(1) CDF cut points snapped to the 2^60 hash
    grid — the seeded hash u ~ Uniform[0, 2^60) maps to a replicate
    weight by INTEGER threshold compares (no runtime FP in the weight
    draw; both engines consume identical BIGINT literals). Weights cap
    at 6 (P[X > 6] < 1e-4 — a negligible, identical truncation on both
    engines)."""
    import math

    cum, out, fact = 0.0, [], 1
    for k in range(6):
        if k:
            fact *= k
        cum += math.exp(-1.0) / fact
        out.append(int(math.floor(cum * float(1 << 60))))
    return out


def _poisson1_case_sql(u: str) -> str:
    ths = _poisson1_thresholds()
    arms = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(ths)
    )
    return f"(CASE {arms} ELSE 6 END)"


@query(
    "agg_bootstrap_ci",
    oracle=f"""
    WITH rep AS (
      SELECT s.seed, o.o_orderkey,
             {FXP("o.o_totalprice", 100)} AS x_c,
             {_poisson1_case_sql(PHASH60_SEEDED("s.seed", "o.o_orderkey"))}
               AS w
      FROM orders o, (SELECT unnest(range(100)) AS seed) s
    ),
    means AS (
      SELECT seed,
             (CAST(sum(w * x_c) AS DOUBLE) / CAST(sum(w) AS DOUBLE))
               / 100.0 AS mean_b
      FROM rep GROUP BY seed
    ),
    ranked AS (
      SELECT mean_b,
             row_number() OVER (ORDER BY mean_b, seed) AS rn
      FROM means
    ),
    ci AS (
      SELECT max(CASE WHEN rn = 3 THEN mean_b END) AS lo,
             max(CASE WHEN rn = 98 THEN mean_b END) AS hi
      FROM ranked
    ),
    full_mean AS (
      SELECT CAST(count(*) AS BIGINT) AS n_orders,
             (CAST(sum({FXP("o_totalprice", 100)}) AS DOUBLE)
              / CAST(count(*) AS DOUBLE)) / 100.0 AS mean_price
      FROM orders
    )
    SELECT f.n_orders,
           {R("f.mean_price", 4)} AS mean_price,
           {R("c.lo", 4)} AS boot_lo,
           {R("c.hi", 4)} AS boot_hi,
           CAST(100 AS BIGINT) AS b_replicates
    FROM full_mean f, ci c
    """,
)
def agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI for the mean order price — THE
    resampling method that actually runs on clusters (Chamandy et al.
    2012, "Estimating Uncertainty for Massive Data Streams"; Kleiner's
    BLB is its batch cousin): classical bootstrap resampling needs
    n draws WITH replacement per replicate (a global shuffle per
    replicate), but for large n the multinomial replicate counts
    converge to iid Poisson(1) weights — so ALL B replicates compute in
    ONE pass: each row draws B independent hash-seeded Poisson weights
    and every replicate is a weighted aggregate, map-side combined.

    Determinism (driver-hash-checkable resampling): the per-(seed, row)
    uniform comes from the portable 60-bit seeded hash, the Poisson
    inverse-CDF is INTEGER threshold compares against precomputed
    BIGINT literals (zero runtime FP in the draw), replicate sums are
    exact integer (weight x cents) products, and the CI bounds are
    EXPLICIT rank picks (3rd / 98th of 100 ordered replicate means —
    the percentile method with ranked selection, no interpolation).

    Scale: the expanded relation is B x |rows|, but it is never
    materialized — explode(sequence) feeds straight into a partial
    aggregate inside whole-stage codegen, so the shuffle carries B
    rows per map task, and the replicate-means table is B rows total
    (the bounded global window). Tuning B trades CI resolution for
    one constant in the scan stage; no join, no second pass over the
    fact table for the replicates. The declared query draws through the
    portable md5-based phash60_seeded so the driver can hash-check the
    resampling itself; the production draw is xxhash64(seed, key) —
    ~10x cheaper per (row, replicate), same plan (the standard
    hash_fn-parameter convention of the sketch family)."""
    o = load_tables(spark, sf_dir).orders
    ths = _poisson1_thresholds()
    from pyetl_spark.parity import phash60_seeded

    rep = o.select(
        "o_orderkey",
        fxp(F.col("o_totalprice"), 100).alias("x_c"),
        F.explode(F.sequence(F.lit(0), F.lit(99))).alias("seed"),
    ).withColumn(
        "u", phash60_seeded(F.col("seed"), F.col("o_orderkey"))
    )
    w = F.when(F.col("u") < ths[0], F.lit(0))
    for k in range(1, 6):
        w = w.when(F.col("u") < ths[k], F.lit(k))
    w = w.otherwise(F.lit(6))
    means = (
        rep.withColumn("w", w)
        .groupBy("seed")
        .agg(
            (
                (
                    F.sum(F.col("w") * F.col("x_c")).cast("double")
                    / F.sum("w").cast("double")
                )
                / F.lit(100.0)
            ).alias("mean_b")
        )
    )
    ranked = means.select(
        "mean_b",
        F.row_number()
        .over(Window.orderBy("mean_b", "seed"))
        .alias("rn"),
    )
    ci = ranked.agg(
        F.max(F.when(F.col("rn") == 3, F.col("mean_b"))).alias("lo"),
        F.max(F.when(F.col("rn") == 98, F.col("mean_b"))).alias("hi"),
    )
    full_mean = o.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        (
            (
                F.sum(fxp(F.col("o_totalprice"), 100)).cast("double")
                / F.count(F.lit(1)).cast("double")
            )
            / F.lit(100.0)
        ).alias("mean_price"),
    )
    return full_mean.crossJoin(ci).select(
        "n_orders",
        rnd(F.col("mean_price"), 4).alias("mean_price"),
        rnd(F.col("lo"), 4).alias("boot_lo"),
        rnd(F.col("hi"), 4).alias("boot_hi"),
        F.lit(100).cast("long").alias("b_replicates"),
    )
