"""Time-series + table-maintenance operators: OHLC resampling, linear
interpolation over a gap-filled spine, cascading multi-grain rollups
(hypertable-style), interval-overlap joins, MERGE/upsert semantics, and
deterministic per-group sampling. All Tier A (oracle-matched).

Scale notes per operator live in the docstrings; the common theme is that
every one is a single keyed shuffle (or a broadcast), with all arithmetic
on exact integer grids (epoch-µs, cents) so the DuckDB oracle hashes
bit-identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pyetl_spark.parity import FXP, R, fxp, msum, rnd
from pyetl_spark.registry import query
from pyetl_spark.tables import load_tables

# Deterministic total-order key for arg_min/arg_max across engines: neither
# DuckDB's arg_min nor Spark's min_by accepts a composite (struct) ordering
# key, so ties on ts would be nondeterministic. A zero-padded
# "epoch_us-event_id" string orders lexicographically == numerically and
# both engines build the identical string.
_OKEY_FMT = "%020d-%020d"


@query(
    "ts_resample_ohlc",
    oracle=f"""
    SELECT user_id,
           date_trunc('hour', ts) AS bucket,
           arg_min(value, printf('{_OKEY_FMT}', epoch_us(ts), event_id))
             AS open,
           max(value) AS high,
           min(value) AS low,
           arg_max(value, printf('{_OKEY_FMT}', epoch_us(ts), event_id))
             AS close,
           count(*) AS n_ticks,
           {{msum}} AS volume
    FROM events
    GROUP BY 1, 2
    """.replace(
        "{msum}",
        R(f"CAST(sum({FXP('value', 100)}) AS DOUBLE) / 100.0", 2),
    ),
)
def ts_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bar resampling (tick stream → hourly bars): open/close via
    min_by/max_by on a deterministic (ts, event_id) order key, high/low as
    plain min/max, volume as an exact integer-cents sum. One partial+final
    hash aggregate on (user_id, hour) — the canonical map-side-combinable
    shape; at 100 TB each executor emits one partial bar per key before
    the single shuffle, so network cost is bars, not ticks."""
    ev = load_tables(spark, sf_dir).events
    okey = F.format_string(
        _OKEY_FMT, F.unix_micros(F.col("ts")), F.col("event_id")
    )
    return (
        ev.select(
            "user_id",
            F.date_trunc("hour", F.col("ts")).alias("bucket"),
            F.col("value"),
            okey.alias("okey"),
        )
        .groupBy("user_id", "bucket")
        .agg(
            F.min_by("value", F.col("okey")).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", F.col("okey")).alias("close"),
            F.count("*").alias("n_ticks"),
            msum(F.col("value"), 100).alias("volume"),
        )
    )


_INTERP = (
    "CAST(prev_v AS DOUBLE) + CAST(next_v - prev_v AS DOUBLE)"
    " * (CAST(gap_pos AS DOUBLE) / CAST(gap_span AS DOUBLE))"
)


@query(
    "ts_interpolate_linear",
    oracle=f"""
    WITH RECURSIVE spine(d) AS (
      SELECT DATE '2024-01-01'
      UNION ALL
      SELECT CAST(d + INTERVAL 1 DAY AS DATE)
      FROM spine WHERE d < DATE '2024-02-10'
    ),
    daily AS (
      SELECT CAST(ts AS DATE) AS d, sum({FXP('value', 100)}) AS cents
      FROM events GROUP BY 1
    ),
    joined AS (
      SELECT spine.d AS day, daily.cents AS known
      FROM spine LEFT JOIN daily ON spine.d = daily.d
    ),
    bounded AS (
      SELECT day, known,
             last_value(known IGNORE NULLS) OVER
               (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS prev_v,
             last_value(CASE WHEN known IS NOT NULL THEN day END
               IGNORE NULLS) OVER
               (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS prev_d,
             first_value(known IGNORE NULLS) OVER
               (ORDER BY day ROWS BETWEEN CURRENT ROW
                AND UNBOUNDED FOLLOWING) AS next_v,
             first_value(CASE WHEN known IS NOT NULL THEN day END
               IGNORE NULLS) OVER
               (ORDER BY day ROWS BETWEEN CURRENT ROW
                AND UNBOUNDED FOLLOWING) AS next_d
      FROM joined
    )
    SELECT day, (known IS NULL) AS interpolated,
           {R(f"(CASE WHEN known IS NOT NULL THEN CAST(known AS DOUBLE) "
              f"WHEN prev_v IS NOT NULL AND next_v IS NOT NULL "
              f"THEN {_INTERP} END) / 100.0", 4)} AS daily_value
    FROM (
      SELECT day, known, prev_v, next_v,
             CAST(day - prev_d AS BIGINT) AS gap_pos,
             CAST(next_d - prev_d AS BIGINT) AS gap_span
      FROM bounded
    )
    """,
)
def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of missing days in a daily revenue series:
    gap-filled spine (sequence-explode; the oracle spells it as the
    equivalent RECURSIVE CTE) left-joined with exact integer-cents daily
    sums, then prev/next known anchors via IGNORE-NULLS running windows
    and the standard lerp on integer day offsets. Head/tail gaps (no
    anchor on one side) stay NULL rather than extrapolating.

    Scale shape: the spine is rows=days (driver-trivial); the daily
    aggregate is the only data-sized shuffle. The two unbounded windows
    run over the *spine-sized* frame, not the event stream — at 100 TB of
    events this is still a few-thousand-row window after aggregation
    (partition it by series key when there are many series)."""
    ev = load_tables(spark, sf_dir).events
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"),
                F.lit("2024-02-10").cast("date"),
            )
        ).alias("day")
    )
    daily = (
        ev.groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.sum(fxp(F.col("value"), 100)).alias("known"))
    )
    joined = spine.join(daily, spine.day == daily.d, "left").select(
        "day", "known"
    )
    wb = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wf = Window.orderBy("day").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    known_day = F.when(F.col("known").isNotNull(), F.col("day"))
    bounded = joined.select(
        "day",
        "known",
        F.last("known", ignorenulls=True).over(wb).alias("prev_v"),
        F.last(known_day, ignorenulls=True).over(wb).alias("prev_d"),
        F.first("known", ignorenulls=True).over(wf).alias("next_v"),
        F.first(known_day, ignorenulls=True).over(wf).alias("next_d"),
    )
    gapped = bounded.select(
        "day",
        "known",
        "prev_v",
        "next_v",
        F.datediff("day", "prev_d").cast("long").alias("gap_pos"),
        F.datediff("next_d", "prev_d").cast("long").alias("gap_span"),
    )
    lerp = F.col("prev_v").cast("double") + (
        F.col("next_v") - F.col("prev_v")
    ).cast("double") * (
        F.col("gap_pos").cast("double") / F.col("gap_span").cast("double")
    )
    cents = F.when(
        F.col("known").isNotNull(), F.col("known").cast("double")
    ).when(F.col("prev_v").isNotNull() & F.col("next_v").isNotNull(), lerp)
    return gapped.select(
        "day",
        F.col("known").isNull().alias("interpolated"),
        rnd(cents / F.lit(100.0), 4).alias("daily_value"),
    )


_GRAIN_ORACLE = f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             count(*) AS n, sum({FXP('value', 100)}) AS cents
      FROM events GROUP BY 1, 2
    )
    SELECT 'hour' AS grain, bucket, event_type,
           n AS n_events, {R('CAST(cents AS DOUBLE) / 100.0', 2)} AS total_value
    FROM hourly
    UNION ALL
    SELECT 'day', date_trunc('day', bucket), event_type,
           CAST(sum(n) AS BIGINT), {R('CAST(sum(cents) AS DOUBLE) / 100.0', 2)}
    FROM hourly GROUP BY 2, 3
    UNION ALL
    SELECT 'week', date_trunc('week', bucket), event_type,
           CAST(sum(n) AS BIGINT), {R('CAST(sum(cents) AS DOUBLE) / 100.0', 2)}
    FROM hourly GROUP BY 2, 3
"""


@query("events_rollup_multi_grain", oracle=_GRAIN_ORACLE)
def events_rollup_multi_grain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style cascading rollup: hour bars from raw events, then
    day bars re-aggregated FROM the hour bars, week bars from the day
    bars — the continuous-aggregate pattern where each coarser grain reads
    the finer materialization, never the raw stream. Only the hourly
    aggregate touches event-sized data; day/week shuffles are bar-sized
    (thousands of rows at any corpus size). Counts and integer cents
    re-aggregate exactly, which is why the cascade is lossless."""
    ev = load_tables(spark, sf_dir).events
    hourly = (
        ev.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(fxp(F.col("value"), 100)).alias("cents"),
        )
    )
    # No persist: the three grains read one hourly aggregate, and Spark
    # reuses its shuffle stage for the day and week grains, so the events
    # scan runs once per call. A persist would outlive the call, since
    # nothing here can unpersist a frame the caller has yet to run.
    descale = lambda c: rnd(c.cast("double") / F.lit(100.0), 2)  # noqa: E731
    hour_out = hourly.select(
        F.lit("hour").alias("grain"),
        "bucket",
        "event_type",
        F.col("n").alias("n_events"),
        descale(F.col("cents")).alias("total_value"),
    )
    daily = (
        hourly.groupBy(
            F.date_trunc("day", F.col("bucket")).alias("bucket"),
            "event_type",
        )
        .agg(F.sum("n").alias("n"), F.sum("cents").alias("cents"))
    )
    day_out = daily.select(
        F.lit("day").alias("grain"),
        "bucket",
        "event_type",
        F.col("n").alias("n_events"),
        descale(F.col("cents")).alias("total_value"),
    )
    week_out = (
        daily.groupBy(
            F.date_trunc("week", F.col("bucket")).alias("bucket"),
            "event_type",
        )
        .agg(F.sum("n").alias("n"), F.sum("cents").alias("cents"))
        .select(
            F.lit("week").alias("grain"),
            "bucket",
            "event_type",
            F.col("n").alias("n_events"),
            descale(F.col("cents")).alias("total_value"),
        )
    )
    return hour_out.unionAll(day_out).unionAll(week_out)


_WINDOWS_SQL = """
      SELECT p_partkey AS window_id,
             TIMESTAMP '2024-01-01'
               + INTERVAL 1 DAY * ((p_partkey * 7) % 25)
               + INTERVAL 1 HOUR * (p_partkey % 24) AS w_start,
             TIMESTAMP '2024-01-01'
               + INTERVAL 1 DAY * ((p_partkey * 7) % 25)
               + INTERVAL 1 HOUR * (p_partkey % 24 + 6 + p_partkey % 36)
               AS w_end
      FROM part WHERE p_partkey <= 40
"""


@query(
    "join_interval_overlap",
    oracle=f"""
    WITH windows AS ({_WINDOWS_SQL}),
    spans AS (
      SELECT event_id, ts AS e_start,
             ts + INTERVAL 1 SECOND * (60 + event_id % 7200) AS e_end
      FROM events WHERE event_id % 10 = 0
    )
    SELECT w.window_id, s.event_id,
           epoch_us(CASE WHEN w.w_end < s.e_end THEN w.w_end ELSE s.e_end END)
             - epoch_us(CASE WHEN w.w_start > s.e_start THEN w.w_start
                             ELSE s.e_start END) AS overlap_us
    FROM windows w JOIN spans s
      ON w.w_start < s.e_end AND s.e_start < w.w_end
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (maintenance windows × event spans) WITHOUT a
    nested-loop scan: both interval sets are exploded onto the day buckets
    they cover (`sequence` over date_trunc'd endpoints), equi-joined on
    the bucket, de-duplicated (a pair overlapping midnight matches on two
    buckets), then the exact strict-overlap predicate filters the
    candidates. The oracle spells the same join as the plain range
    predicate.

    Scale shape: bucketing turns O(|W|·|S|) into O(candidates) with a
    hash join on the bucket key; bucket granularity is the tuning knob
    (match it to typical interval length so each interval lands in ~1-2
    buckets). The windows side here is dim-sized → broadcast, so the
    event side never shuffles at all."""
    t = load_tables(spark, sf_dir)
    t.register_views()
    windows = spark.sql(_WINDOWS_SQL)
    spans = (
        t.events.filter(F.col("event_id") % 10 == 0)
        .select(
            "event_id",
            F.col("ts").alias("e_start"),
            (
                F.col("ts")
                + F.make_interval(
                    secs=(F.lit(60) + F.col("event_id") % 7200).cast("double")
                )
            ).alias("e_end"),
        )
    )
    day = lambda c: F.date_trunc("day", c).cast("date")  # noqa: E731
    w_days = windows.select(
        "window_id",
        "w_start",
        "w_end",
        F.explode(F.sequence(day(F.col("w_start")), day(F.col("w_end")))).alias(
            "bucket"
        ),
    )
    s_days = spans.select(
        "event_id",
        "e_start",
        "e_end",
        F.explode(F.sequence(day(F.col("e_start")), day(F.col("e_end")))).alias(
            "bucket"
        ),
    )
    cand = s_days.join(F.broadcast(w_days), "bucket").filter(
        (F.col("w_start") < F.col("e_end"))
        & (F.col("e_start") < F.col("w_end"))
    )
    pairs = cand.select(
        "window_id", "event_id", "w_start", "w_end", "e_start", "e_end"
    ).distinct()
    return pairs.select(
        "window_id",
        "event_id",
        (
            F.unix_micros(F.least("w_end", "e_end"))
            - F.unix_micros(F.greatest("w_start", "e_start"))
        ).alias("overlap_us"),
    )


_UPD_PRICE = R("o_totalprice * 1.05", 2)


@query(
    "etl_merge_upsert",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 5 != 0
    ),
    updates AS (
      SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
             {_UPD_PRICE} AS o_totalprice
      FROM orders WHERE o_orderkey % 3 = 0
    )
    SELECT coalesce(u.o_orderkey, b.o_orderkey) AS o_orderkey,
           coalesce(u.o_custkey, b.o_custkey) AS o_custkey,
           coalesce(u.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
           coalesce(u.o_totalprice, b.o_totalprice) AS o_totalprice,
           CASE WHEN u.o_orderkey IS NULL THEN 'keep'
                WHEN b.o_orderkey IS NULL THEN 'insert'
                ELSE 'update' END AS merge_action
    FROM base b FULL OUTER JOIN updates u ON b.o_orderkey = u.o_orderkey
    """,
)
def etl_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics without a lakehouse format: full-outer join of
    the current snapshot against a change batch on the natural key, field
    coalescing (update wins), and a merge_action audit column (keep /
    update / insert). This is the upsert kernel Delta/Iceberg MERGE
    compiles to; expressed directly it runs as one sort-merge join
    shuffled on the key. At 100 TB the win is pre-bucketing the snapshot
    by the merge key so only the (much smaller) change batch shuffles;
    deletes are the same join with a tombstone column."""
    o = load_tables(spark, sf_dir).orders
    base = o.filter(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    updates = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        rnd(F.col("o_totalprice") * 1.05, 2).alias("o_totalprice"),
    )
    b, u = base.alias("b"), updates.alias("u")
    joined = b.join(
        u, F.col("b.o_orderkey") == F.col("u.o_orderkey"), "full_outer"
    )
    pick = lambda c: F.coalesce(F.col(f"u.{c}"), F.col(f"b.{c}"))  # noqa: E731
    return joined.select(
        pick("o_orderkey").alias("o_orderkey"),
        pick("o_custkey").alias("o_custkey"),
        pick("o_orderstatus").alias("o_orderstatus"),
        pick("o_totalprice").alias("o_totalprice"),
        F.when(F.col("u.o_orderkey").isNull(), "keep")
        .when(F.col("b.o_orderkey").isNull(), "insert")
        .otherwise("update")
        .alias("merge_action"),
    )


@query(
    "sample_hash_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, sample_rank
    FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey
             ) AS sample_rank
      FROM orders
    )
    WHERE sample_rank <= 3
    """,
)
def sample_hash_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform k-per-group sample: rank rows inside each
    group by md5(key) — a fixed pseudo-random permutation both engines
    compute identically — and keep the first k. The reproducible
    alternative to rand()-based sampling for training-data curation
    (same inputs → same sample, across engines and across reruns).
    One window shuffle on the group key; for heavy-hitter groups the
    same md5 order makes a pre-filter possible (hash < threshold) before
    the exact rank, keeping per-group sort bounded."""
    o = load_tables(spark, sf_dir).orders
    w = Window.partitionBy("o_custkey").orderBy(
        F.md5(F.col("o_orderkey").cast("string")), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).alias("sample_rank"),
        )
        .filter(F.col("sample_rank") <= 3)
    )


@query(
    "ts_seasonal_profile",
    oracle=f"""
    WITH cents AS (
      SELECT event_id, event_type, value,
             CAST(extract(hour FROM ts) AS BIGINT) AS hod,
             {FXP('value', 100)} AS c
      FROM events
    ),
    profile AS (
      SELECT hod, CAST(sum(c) AS BIGINT) AS sc, count(*) AS n
      FROM cents GROUP BY hod
    )
    SELECT cents.event_id, cents.hod, cents.value,
           {R('(CAST(profile.sc AS DOUBLE) / profile.n) / 100.0', 4)}
             AS seasonal_avg,
           {R('cents.value - ((CAST(profile.sc AS DOUBLE) / profile.n)'
              ' / 100.0)', 4)} AS residual
    FROM cents JOIN profile ON cents.hod = profile.hod
    """,
)
def ts_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal decomposition, profile form: the hour-of-day mean (the
    'seasonal' component) from one 24-row aggregate, broadcast back onto
    every event to leave the residual. Classic two-pass detrending — the
    profile is group-count-sized, so at 100 TB it's one combinable
    aggregate plus a broadcast hash join; the event stream shuffles
    never. Exactness: profile means come from integer-cent sums divided
    once, identically on both engines."""
    from pyspark.sql import Window  # noqa: F401  (module-level style parity)

    ev = load_tables(spark, sf_dir).events
    cents = ev.select(
        "event_id",
        "value",
        F.hour("ts").cast("long").alias("hod"),
        fxp(F.col("value"), 100).alias("c"),
    )
    profile = cents.groupBy("hod").agg(
        F.sum("c").alias("sc"), F.count("*").alias("n")
    )
    mean = (F.col("sc").cast("double") / F.col("n")) / F.lit(100.0)
    joined = cents.join(F.broadcast(profile), "hod")
    return joined.select(
        "event_id",
        "hod",
        "value",
        rnd(mean, 4).alias("seasonal_avg"),
        rnd(F.col("value") - mean, 4).alias("residual"),
    )


@query(
    "ts_autocorr_lag1",
    oracle=f"""
    WITH s AS (
      SELECT user_id, {FXP('value', 100)} AS x,
             lag({FXP('value', 100)}) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS y
      FROM events
    ),
    m AS (
      SELECT user_id,
             count(*) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x*y) AS BIGINT) AS sxy,
             CAST(sum(x*x) AS BIGINT) AS sxx,
             CAST(sum(y*y) AS BIGINT) AS syy
      FROM s WHERE y IS NOT NULL
      GROUP BY user_id
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_pairs,
           {R('''(n * sxy - CAST(sx AS DOUBLE) * sy)
                 / sqrt(n * sxx - CAST(sx AS DOUBLE) * sx)
                 / sqrt(n * syy - CAST(sy AS DOUBLE) * sy)''', 8)} AS acf1
    FROM m
    WHERE n * sxx - CAST(sx AS DOUBLE) * sx > 0
      AND n * syy - CAST(sy AS DOUBLE) * sy > 0
    """,
)
def ts_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation per user series (burst/trend detector for
    telemetry): one window (lag) and one aggregate on the same user key
    — a single shuffle. The Pearson algebra runs on exact integer-cent
    sums (the agg_corr_exact discipline), so both engines divide the
    same integers; degenerate zero-variance series are filtered on both
    sides rather than comparing NaN conventions."""
    from pyspark.sql import Window

    ev = load_tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    x = fxp(F.col("value"), 100)
    s = ev.select(
        "user_id", x.alias("x"), F.lag(x).over(w).alias("y")
    ).filter(F.col("y").isNotNull())
    m = s.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    vx = n * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    r = (
        (n * F.col("sxy") - F.col("sx").cast("double") * F.col("sy"))
        / F.sqrt(vx)
        / F.sqrt(vy)
    )
    return (
        m.filter((vx > 0) & (vy > 0))
        .select(
            "user_id",
            F.col("n").cast("long").alias("n_pairs"),
            rnd(r, 8).alias("acf1"),
        )
    )


def _holt_oracle(
    alpha: float | None = None,
    beta: float | None = None,
    horizon: int | None = None,
) -> str:
    """DuckDB replay of the Holt recursion (operators/holt.py): anchor
    state l=x_1, b=x_2−x_1; each step the literal same fixed-order
    expression the Python loop computes (products before adds; IEEE
    addition of the two product terms is order-insensitive bitwise).
    ``l_new`` is duplicated textually where b needs it — pure expression,
    identical bits. Depth = max days per user (≤ events/user, 99 here).
    alpha/beta/horizon default to the ENGINE's constants
    (operators/holt.ALPHA/BETA/HORIZON) — one definition, both sides."""
    from pyetl_spark.operators.holt import ALPHA, BETA, HORIZON

    alpha = ALPHA if alpha is None else alpha
    beta = BETA if beta is None else beta
    horizon = HORIZON if horizon is None else horizon
    a = f"CAST({alpha!r} AS DOUBLE)"
    oma = f"(CAST(1.0 AS DOUBLE) - CAST({alpha!r} AS DOUBLE))"
    bb = f"CAST({beta!r} AS DOUBLE)"
    omb = f"(CAST(1.0 AS DOUBLE) - CAST({beta!r} AS DOUBLE))"
    l_new = f"{a} * r.x + {oma} * (w.l + w.b)"
    return f"""
    WITH RECURSIVE daily AS MATERIALIZED (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(sum({FXP('value', 100)}) AS DOUBLE) / 100.0 AS x
      FROM events GROUP BY user_id, day
    ),
    ranked AS MATERIALIZED (
      SELECT user_id, x,
             row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM daily
    ),
    walk AS (
      SELECT r1.user_id, r1.rn, r1.n, r1.x AS l, r2.x - r1.x AS b
      FROM ranked r1 JOIN ranked r2
        ON r2.user_id = r1.user_id AND r2.rn = 2
      WHERE r1.rn = 1
      UNION ALL
      SELECT w.user_id, w.rn + 1, w.n,
             {l_new},
             {bb} * (({l_new}) - w.l) + {omb} * w.b
      FROM walk w JOIN ranked r
        ON r.user_id = w.user_id AND r.rn = w.rn + 1
    )
    SELECT user_id, level, trend, CAST(h AS INT) AS h,
           level + CAST(h AS DOUBLE) * trend AS forecast
    FROM (
      SELECT user_id, l AS level, b AS trend,
             unnest(generate_series(1, {horizon})) AS h
      FROM walk WHERE rn = n
    )
    ORDER BY user_id, h
    """


@query("ts_forecast_holt", oracle=_holt_oracle())
def ts_forecast_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend forecasting per user (operators/holt.py): daily
    exact-cents totals per user (one combinable aggregate), then the
    level/trend recursion per series inside applyInPandas — sequential
    within a series, parallel across series, two floats of state. The
    3-day-ahead forecasts are what a capacity planner joins back against
    actuals. Recursion exactness vs the pure-Python reference is pinned
    in tests/test_holt.py.

    Tier A (r7 conversion, same family as win_ewma): the recursion's
    inputs are exact (integer-cents daily sums / 100.0) and every float
    step is a fixed-order IEEE expression, so the DuckDB recursive CTE
    in ``_holt_oracle`` replays it bit-identically — full value-hash
    parity on raw doubles, no rounding, no tolerance."""
    from pyetl_spark.operators.holt import HORIZON, holt_forecast

    ev = load_tables(spark, sf_dir).events
    daily = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg((F.sum(fxp(F.col("value"), 100)) / F.lit(100.0)).alias("x"))
    return holt_forecast(daily, horizon=HORIZON).orderBy("user_id", "h")


_U52 = 4503599627370496.0  # 2^52 — md5's first 13 hex chars as uniform


@query(
    "sample_weighted_topk",
    oracle=f"""
    WITH keyed AS (
      SELECT o_orderkey, o_custkey, o_totalprice,
             ln((CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)),
                                         1, 13)) AS UBIGINT) + 1.0)
                / {_U52:.1f}) / o_totalprice AS es_key
      FROM orders
    )
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(row_number() OVER (ORDER BY es_key DESC, o_orderkey)
                AS BIGINT) AS draw_order
    FROM keyed
    ORDER BY es_key DESC, o_orderkey
    LIMIT 20
    """,
)
def sample_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, distributed (Efraimidis &
    Spirakis 2006, public algorithm): each row draws a deterministic
    pseudo-uniform u from md5(key) (first 52 bits → (0,1]), computes
    ln(u)/weight, and the k LARGEST keys are exactly a weight-
    proportional sample without replacement. The whole draw is one
    TakeOrderedAndProject — no shuffle of the population, map-side top-k
    per partition, k rows to the driver — the ONLY scalable way to
    weighted-sample 100 TB (rand()-per-row is nondeterministic across
    retries; this replays bit-identically, and both engines compute the
    identical IEEE ln/division)."""
    o = load_tables(spark, sf_dir).orders
    h = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 13), 16, 10
    ).cast("double")
    u = (h + F.lit(1.0)) / F.lit(_U52)
    keyed = o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        (F.log(u) / F.col("o_totalprice")).alias("es_key"),
    )
    top = keyed.orderBy(F.desc("es_key"), "o_orderkey").limit(20)
    w = Window.orderBy(F.desc("es_key"), "o_orderkey")
    return top.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.row_number().over(w).cast("long").alias("draw_order"),
    )


@query(
    "ts_changepoint_cusum",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(sign(value) * floor(abs(value) * 100.0 + 0.5)
                           AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    stats AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s,
             CAST(sum(x * x) AS BIGINT) AS sq
      FROM daily GROUP BY event_type
    ),
    cum AS (
      SELECT d.event_type, d.day, st.n, st.s, st.sq,
             CAST(sum(d.x) OVER (PARTITION BY d.event_type ORDER BY d.day)
                  AS BIGINT) AS prefix,
             CAST(row_number() OVER (PARTITION BY d.event_type
                                     ORDER BY d.day) AS BIGINT) AS t
      FROM daily d JOIN stats st USING (event_type)
    )
    SELECT event_type, day,
           CAST(n * prefix - t * s AS BIGINT) AS cusum_n_cents,
           (CAST(n * prefix - t * s AS DOUBLE)
            * CAST(n * prefix - t * s AS DOUBLE))
           > 4.0 * CAST(n * sq - s * s AS DOUBLE) AS is_shift
    FROM cum
    """,
)
def ts_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per series (daily cent-sums per
    event_type): the cumulative deviation from the series mean,
    flagged where |cusum_t| exceeds 2σ of the daily values — the
    classic drift detector for landed-volume monitoring (a level shift
    shows as a sustained cusum ramp long before any single day is an
    outlier).

    Exactness discipline (parity.py): everything stays INTEGER until the
    final comparison. cusum_t = prefix_t − t·S/N is scaled by N to
    N·prefix−t·S (exact bigint), and |cusum|>2σ is squared into
    (N·prefix−t·S)² > 4(N·Σx²−S²) — both sides exact bigints cast to
    double THROUGH THE SAME VALUES on both engines, so the boolean can
    never tie-flip (the square lives in double only because bigint² can
    exceed 2^63; two engines casting the same int64 get the same double).
    DuckDB's hugeint-promoting sums are pinned back to BIGINT per the
    canon rules. Plan: one daily partial/final aggregate, a ≤|types|-row
    stats join broadcast back, one window pass — Shape 4 with a
    broadcast scalar, no self-join. Works to ~sf10 before N·Σx² needs a
    dollar-scaled rebase (documented trade, same fxp-domain move)."""
    ev = load_tables(spark, sf_dir).events
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(fxp(F.col("value"), 100)).alias("x"))
    stats = daily.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("sq"),
    )
    w = Window.partitionBy("event_type").orderBy("day")
    cum = (
        daily.join(F.broadcast(stats), "event_type")
        .withColumn("prefix", F.sum("x").over(w))
        .withColumn("t", F.row_number().over(w).cast("bigint"))
    )
    cusum = (F.col("n") * F.col("prefix") - F.col("t") * F.col("s")).cast(
        "bigint"
    )
    rhs = (F.col("n") * F.col("sq") - F.col("s") * F.col("s")).cast("double")
    return cum.select(
        "event_type",
        "day",
        cusum.alias("cusum_n_cents"),
        (cusum.cast("double") * cusum.cast("double") > 4.0 * rhs).alias(
            "is_shift"
        ),
    )


_DAILY_REV_SQL = f"""
      SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
             sum({FXP("o_totalprice", 100)}) AS rev
      FROM orders GROUP BY 1
"""


@query(
    "ts_sma_crossover",
    oracle=f"""
    WITH daily AS ({_DAILY_REV_SQL}),
    w AS (
      SELECT day,
             sum(rev) OVER (ORDER BY day ROWS BETWEEN 4 PRECEDING
                            AND CURRENT ROW) AS s5,
             sum(rev) OVER (ORDER BY day ROWS BETWEEN 19 PRECEDING
                            AND CURRENT ROW) AS s20,
             count(*) OVER (ORDER BY day ROWS BETWEEN 19 PRECEDING
                            AND CURRENT ROW) AS n20
      FROM daily
    ),
    f AS (
      SELECT day, s5, s20, 4 * s5 - s20 AS d FROM w WHERE n20 = 20
    ),
    l AS (
      SELECT day, s5, s20, d, lag(d) OVER (ORDER BY day) AS pd FROM f
    )
    SELECT day,
           CASE WHEN d > 0 THEN 'golden' ELSE 'death' END AS signal,
           {R("CAST(s5 AS DOUBLE) / 500.0", 2)} AS sma5,
           {R("CAST(s20 AS DOUBLE) / 2000.0", 2)} AS sma20
    FROM l
    WHERE pd IS NOT NULL
      AND ((d > 0 AND pd <= 0) OR (d <= 0 AND pd > 0))
    """,
)
def ts_sma_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-average crossover signals over daily revenue: emit the days
    where the 5-day SMA crosses the 20-day SMA ('golden' up-cross /
    'death' down-cross) — the classic trading-signal / trend-break shape.

    Exactness: daily revenue is integer cents; the crossover comparison
    sma5 ≷ sma20 is evaluated as 4·s5 ≷ s20 — PURE INTEGER (5·4 = 20
    clears both denominators), so the signal set never depends on float
    rounding; the reported SMA values are the only floats, derived from
    the same ints on both engines. Day-spine windows are calendar-bounded
    (whitelisted in the global-window lint); partial 20-day warm-up rows
    are excluded by exact count, matching both engines' frame semantics.
    At 100 TB the daily aggregate is the only full-data pass."""
    o = load_tables(spark, sf_dir).orders
    daily = (
        o.select(
            F.date_trunc("day", F.col("o_orderdate")).alias("day"),
            fxp(F.col("o_totalprice"), 100).alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").alias("rev"))
    )
    w5 = Window.orderBy("day").rowsBetween(-4, 0)
    w20 = Window.orderBy("day").rowsBetween(-19, 0)
    full = (
        daily.select(
            "day",
            F.sum("rev").over(w5).alias("s5"),
            F.sum("rev").over(w20).alias("s20"),
            F.count("*").over(w20).alias("n20"),
        )
        .filter(F.col("n20") == 20)
        .withColumn("d", 4 * F.col("s5") - F.col("s20"))
    )
    wl = Window.orderBy("day")
    sig = full.withColumn("pd", F.lag("d").over(wl)).filter(
        F.col("pd").isNotNull()
        & (
            ((F.col("d") > 0) & (F.col("pd") <= 0))
            | ((F.col("d") <= 0) & (F.col("pd") > 0))
        )
    )
    return sig.select(
        "day",
        F.when(F.col("d") > 0, "golden").otherwise("death").alias("signal"),
        rnd(F.col("s5").cast("double") / F.lit(500.0), 2).alias("sma5"),
        rnd(F.col("s20").cast("double") / F.lit(2000.0), 2).alias("sma20"),
    )


@query(
    "ts_hampel_outliers",
    oracle=f"""
    WITH daily AS ({_DAILY_REV_SQL}),
    win AS (
      SELECT day, rev,
             list(rev) OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING
                             AND 7 FOLLOWING) AS l
      FROM daily
    ),
    med AS (
      SELECT day, rev, sl,
             sl[CAST((len(sl) + 1) // 2 AS INT)] AS med_cents
      FROM (SELECT day, rev, list_sort(l) AS sl FROM win)
    ),
    mad AS (
      SELECT day, rev, med_cents,
             ad[CAST((len(ad) + 1) // 2 AS INT)] AS mad_cents
      FROM (
        SELECT day, rev, med_cents,
               list_sort(list_transform(sl, v -> abs(v - med_cents))) AS ad
        FROM med
      )
    )
    SELECT day,
           CAST(rev AS BIGINT) AS revenue_cents,
           CAST(med_cents AS BIGINT) AS median_cents,
           CAST(mad_cents AS BIGINT) AS mad_cents
    FROM mad
    WHERE abs(rev - med_cents) * 10000 > 3 * 14826 * mad_cents
    """,
)
def ts_hampel_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel filter over daily revenue: flag days where the value
    deviates from the 15-day centered rolling MEDIAN by more than
    3·1.4826·rolling-MAD — the robust outlier detector that, unlike
    z-scores, is not dragged by the outliers it is hunting.

    Exactness: everything stays integer cents — rolling median and MAD
    are LOWER-medians picked by index from sorted arrays (element_at, no
    even-count averaging), and the threshold |x−med|·10⁴ > 3·14826·mad
    encodes the 1.4826 Gaussian consistency constant as an exact
    rational, so the flag set is integer-decided on both engines. The
    collect-over-window arrays are 15 elements — constant-bounded, and
    the day spine is calendar-bounded (whitelisted). At 100 TB the daily
    aggregate is the only full-data pass; the window state is O(days)."""
    o = load_tables(spark, sf_dir).orders
    daily = (
        o.select(
            F.date_trunc("day", F.col("o_orderdate")).alias("day"),
            fxp(F.col("o_totalprice"), 100).alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").alias("rev"))
    )
    w15 = Window.orderBy("day").rowsBetween(-7, 7)
    sl = F.array_sort(F.collect_list("rev").over(w15))
    with_med = daily.select(
        "day",
        "rev",
        sl.alias("sl"),
    ).withColumn(
        "med_cents",
        F.element_at(
            F.col("sl"), F.floor((F.size("sl") + 1) / 2).cast("int")
        ),
    )
    ad = F.array_sort(
        F.transform(F.col("sl"), lambda v: F.abs(v - F.col("med_cents")))
    )
    with_mad = with_med.withColumn(
        "mad_cents",
        F.element_at(ad, F.floor((F.size("sl") + 1) / 2).cast("int")),
    )
    return with_mad.filter(
        F.abs(F.col("rev") - F.col("med_cents")) * 10000
        > 3 * 14826 * F.col("mad_cents")
    ).select(
        "day",
        F.col("rev").alias("revenue_cents"),
        F.col("med_cents").alias("median_cents"),
        "mad_cents",
    )


@query(
    "ts_backtest_naive_mae",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             sum({FXP("value", 100)}) AS rev
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, day, rev,
             lag(rev, 1) OVER (PARTITION BY event_type ORDER BY day) AS f1,
             lag(rev, 7) OVER (PARTITION BY event_type ORDER BY day) AS f7
      FROM daily
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           {R("CAST(sum(abs(rev - f1)) AS DOUBLE) / count(*) / 100.0", 2)}
             AS mae_naive,
           {R("CAST(sum(abs(rev - f7)) AS DOUBLE) / count(*) / 100.0", 2)}
             AS mae_seasonal,
           CASE WHEN sum(abs(rev - f7)) < sum(abs(rev - f1))
                THEN 'seasonal' ELSE 'naive' END AS winner
    FROM lagged
    WHERE f1 IS NOT NULL AND f7 IS NOT NULL
    GROUP BY event_type
    """,
)
def ts_backtest_naive_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtesting inside the engine: walk-forward evaluate the
    two standard baselines — naive (yesterday's value) and seasonal-naive
    (same weekday last week) — against realized daily revenue per
    event_type, reporting MAE and the per-series winner. The sanity floor
    every production forecaster must beat; `ts_forecast_holt` is the
    model this benchmarks.

    Exactness: daily revenue is integer cents, both forecasts are lagged
    COPIES of those ints, so Σ|error| is an exact integer sum and the
    winner comparison is integer-decided; MAE divides once at the end.
    Per-series windows partition by event_type (no global window); one
    shuffle for the daily aggregate, one for the lag — at 100 TB both
    key on (event_type, day), so the exchange is reused."""
    ev = load_tables(spark, sf_dir).events
    daily = (
        ev.select(
            "event_type",
            F.date_trunc("day", F.col("ts")).alias("day"),
            fxp(F.col("value"), 100).alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").alias("rev"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "day",
        "rev",
        F.lag("rev", 1).over(w).alias("f1"),
        F.lag("rev", 7).over(w).alias("f7"),
    ).filter(F.col("f1").isNotNull() & F.col("f7").isNotNull())
    return (
        lagged.groupBy("event_type")
        .agg(
            F.count("*").alias("n_days"),
            F.sum(F.abs(F.col("rev") - F.col("f1"))).alias("e1"),
            F.sum(F.abs(F.col("rev") - F.col("f7"))).alias("e7"),
        )
        .select(
            "event_type",
            "n_days",
            rnd(
                F.col("e1").cast("double")
                / F.col("n_days").cast("double")
                / F.lit(100.0),
                2,
            ).alias("mae_naive"),
            rnd(
                F.col("e7").cast("double")
                / F.col("n_days").cast("double")
                / F.lit(100.0),
                2,
            ).alias("mae_seasonal"),
            F.when(F.col("e7") < F.col("e1"), "seasonal")
            .otherwise("naive")
            .alias("winner"),
        )
    )


@query(
    "ts_theil_sen",
    oracle=f"""
    WITH monthly AS (
      SELECT n.n_name AS nation,
             (CAST(year(o.o_orderdate) AS BIGINT) - 1992) * 12
               + (CAST(month(o.o_orderdate) AS BIGINT) - 1) AS x,
             sum({FXP("o.o_totalprice", 100)}) AS y_c
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ),
    slopes AS (
      SELECT a.nation,
             CAST(b.y_c - a.y_c AS DOUBLE)
               / CAST(b.x - a.x AS DOUBLE) AS s
      FROM monthly a JOIN monthly b
        ON a.nation = b.nation AND a.x < b.x
    ),
    ranked AS (
      SELECT nation, s,
             row_number() OVER (PARTITION BY nation ORDER BY s) AS rn,
             count(*) OVER (PARTITION BY nation) AS n
      FROM slopes
    ),
    med AS (
      SELECT nation, CAST(max(n) AS BIGINT) AS n_slopes,
             sum(s) / count(*) AS med_s
      FROM ranked
      WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
      GROUP BY nation
    ),
    mcount AS (
      SELECT nation, CAST(count(*) AS BIGINT) AS n_months FROM monthly
      GROUP BY 1
    )
    SELECT m.nation, mc.n_months, m.n_slopes,
           {R("m.med_s / 100.0", 4)} AS slope_per_month
    FROM med m JOIN mcount mc ON m.nation = mc.nation
    """,
)
def ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust trend per nation: the Theil-Sen estimator — the MEDIAN of
    all pairwise slopes of monthly revenue over month index (Theil
    1950; Sen 1968). Unlike the OLS twin (revenue_trend_ols) it has a
    29.3% breakdown point, so one promo-spike month can't hijack the
    trend — the robust default for KPI drift monitoring.

    Pairwise-slope cost is O(D^2) per series where D = CALENDAR MONTHS
    (~80 for this fixture's 7-year span) — a constant fixed by the time
    range, NOT by data volume, so at 100 TB the expensive part stays
    the monthly rollup: one map-side-combined groupBy on (nation,
    month); the 3.2k-pairs-per-series slope join and its median run on
    the tiny aggregate. Longer histories at finer grain grow D, and the
    documented fallback is the repeated-median / sampled-pairs variant
    (same shuffle shape, bounded pairs per anchor).

    Determinism: monthly y is an exact cents BIGINT (fxp), x an exact
    integer, each slope ONE double divide of identical integers;
    the median avoids percentile interpolation differences by averaging
    the explicitly-ranked middle element(s) — sum/count over the 1-or-2
    middle rows, bit-identical on both engines."""
    t = load_tables(spark, sf_dir)
    monthly = (
        t.orders.join(
            F.broadcast(t.customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t.nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            (
                (F.year("o_orderdate").cast("long") - 1992) * 12
                + (F.month("o_orderdate").cast("long") - 1)
            ).alias("x"),
        )
        .agg(F.sum(fxp(F.col("o_totalprice"), 100)).alias("y_c"))
    )
    a = monthly.select(
        "nation", F.col("x").alias("xa"), F.col("y_c").alias("ya")
    )
    b = monthly.select(
        F.col("nation").alias("nation_b"),
        F.col("x").alias("xb"),
        F.col("y_c").alias("yb"),
    )
    slopes = a.join(
        b,
        (F.col("nation") == F.col("nation_b")) & (F.col("xa") < F.col("xb")),
    ).select(
        "nation",
        (
            (F.col("yb") - F.col("ya")).cast("double")
            / (F.col("xb") - F.col("xa")).cast("double")
        ).alias("s"),
    )
    wn = Window.partitionBy("nation")
    ranked = slopes.select(
        "nation",
        "s",
        F.row_number().over(wn.orderBy("s")).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    med = (
        ranked.filter(
            (F.col("rn") == F.floor((F.col("n") + 1) / F.lit(2.0)).cast("long"))
            | (F.col("rn") == F.floor((F.col("n") + 2) / F.lit(2.0)).cast("long"))
        )
        .groupBy("nation")
        .agg(
            F.max("n").cast("long").alias("n_slopes"),
            (F.sum("s") / F.count(F.lit(1))).alias("med_s"),
        )
    )
    mcount = monthly.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n_months")
    )
    return med.join(mcount, "nation").select(
        "nation",
        "n_months",
        "n_slopes",
        rnd(F.col("med_s") / F.lit(100.0), 4).alias("slope_per_month"),
    )
