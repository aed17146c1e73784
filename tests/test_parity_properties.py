"""Property tests for the parity helpers (pyetl_spark/parity.py) — the
foundation every Tier-A hash match rests on. Adversarial values: exact
decimal ties (the case native round() gets wrong across engines),
negatives, negative ties, huge/tiny magnitudes, and a seeded random sweep.
"""

from __future__ import annotations

import math

import pytest

# fast-lane member (pyproject [tool.pytest.ini_options] markers):
# parity helpers — structural, no per-key fixture scans
pytestmark = pytest.mark.fast

import numpy as np
from pyspark.sql import functions as F

from pyetl_spark.parity import FXP, R, fxp, rnd


def _values() -> list[float]:
    vals = []
    # exact-tie neighborhood: k/100 + 0.005 (2dp ties), 4dp ties
    for k in range(-50, 50):
        vals.append(k / 100 + 0.005)
        vals.append(k / 10000 + 0.00005)
    # magnitudes + signs
    vals += [0.0, -0.0, 1e-9, -1e-9, 12345678.905, -12345678.905,
             1e12 + 0.5, -(1e12 + 0.5), 37704.575, -37704.575]
    rng = np.random.default_rng(7)
    vals += list(rng.uniform(-1e6, 1e6, 500))
    vals += list(rng.uniform(-1, 1, 500))
    return [float(v) for v in vals]


@pytest.mark.parametrize("ndp", [0, 2, 4])
def test_rnd_matches_duckdb_twin_bitwise(spark, duck, ndp):
    vals = _values()
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "i long, x double")
    got = {
        r["i"]: r["y"]
        for r in df.select("i", rnd(F.col("x"), ndp).alias("y")).collect()
    }
    import pandas as pd

    pv = pd.DataFrame({"i": range(len(vals)), "x": vals})
    duck.register("_pv", pv)  # exact doubles — SQL text literals with >17
    # significant digits route through DECIMAL in DuckDB and lose bits
    want = dict(
        duck.execute(
            f"SELECT i, {R('x', ndp)} FROM _pv"
        ).fetchall()
    )
    for i in got:
        assert got[i] == want[i] or (got[i] == 0 and want[i] == 0), (
            i, vals[i], got[i], want[i]
        )


def test_fxp_matches_duckdb_twin_exact(spark, duck):
    vals = _values()
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "i long, x double")
    got = {
        r["i"]: r["y"]
        for r in df.select("i", fxp(F.col("x"), 10**4).alias("y")).collect()
    }
    import pandas as pd

    pv2 = pd.DataFrame({"i": range(len(vals)), "x": vals})
    duck.register("_pv2", pv2)
    want = dict(
        duck.execute(f"SELECT i, {FXP('x', 10**4)} FROM _pv2").fetchall()
    )
    assert got == want


def test_fixed_point_sum_is_partitioning_invariant(spark):
    """The msum construction must give identical bits regardless of how
    rows are partitioned (the property plain double sums lack)."""
    from pyetl_spark.parity import msum

    vals = _values()
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    a = df.repartition(1).agg(msum(F.col("x"), 100).alias("s")).collect()[0]["s"]
    b = df.repartition(37).agg(msum(F.col("x"), 100).alias("s")).collect()[0]["s"]
    assert a == b


# ---------------------------------------------------------------------------
# Two-phase global-order primitives (operators/global_rank.py): rank and
# prefix sum must be partitioning-invariant — same numbers at 1, 3, and 32
# range partitions, and identical to the trivially-correct driver fold.


def _rand_keyed(spark, seed, n=777):
    rng = np.random.default_rng(seed)
    ks = rng.permutation(n * 3)[:n]  # unique, shuffled keys
    vs = rng.integers(-50, 50, n)
    return spark.createDataFrame(
        [(int(k), int(v)) for k, v in zip(ks, vs)], "k long, v long"
    ), sorted(zip(ks, vs))


@pytest.mark.parametrize("parts", [1, 3, 32])
@pytest.mark.parametrize("seed", [11, 42])
def test_global_rank_partitioning_invariant(spark, parts, seed):
    from pyetl_spark.operators.global_rank import global_order_rank

    df, ref = _rand_keyed(spark, seed)
    got = {
        r["k"]: r["rank"]
        for r in global_order_rank(df, ["k"], num_partitions=parts).collect()
    }
    for want_rank, (k, _) in enumerate(ref):
        assert got[k] == want_rank, (parts, seed, k)


@pytest.mark.parametrize("parts", [1, 3, 32])
@pytest.mark.parametrize("seed", [11, 42])
def test_global_cumsum_partitioning_invariant(spark, parts, seed):
    from pyetl_spark.operators.global_rank import global_order_cumsum

    df, ref = _rand_keyed(spark, seed)
    got = {
        r["k"]: r["cum_v"]
        for r in global_order_cumsum(
            df, ["k"], ["v"], num_partitions=parts
        ).collect()
    }
    acc = 0
    for k, v in ref:
        acc += v
        assert got[k] == acc, (parts, seed, k)


def test_global_shuffle_rank_is_seed_stable_permutation(spark):
    from pyetl_spark.operators.global_rank import global_shuffle_rank

    df, ref = _rand_keyed(spark, 5, n=300)
    a = {
        r["k"]: r["shuffle_rank"]
        for r in global_shuffle_rank(df, "k", seed=9).collect()
    }
    b = {
        r["k"]: r["shuffle_rank"]
        for r in global_shuffle_rank(
            df.repartition(7), "k", seed=9
        ).collect()
    }
    assert a == b  # same seed, any partitioning → same permutation
    assert sorted(a.values()) == list(range(len(ref)))  # dense 0..n-1
    c = {
        r["k"]: r["shuffle_rank"]
        for r in global_shuffle_rank(df, "k", seed=10).collect()
    }
    assert c != a  # different seed → different permutation


def test_phash60_matches_duckdb_twin_exact(spark, duck):
    """The portable 60-bit md5-prefix hash — the foundation of every
    hash-verified sketch key (KMV, SimHash, CMS, coordinated sampling) —
    must be bit-identical across engines for strings AND integer keys
    (stringification must agree too)."""
    from pyetl_spark.parity import PHASH60, phash60

    svals = ["", "a", "hello world", "Ünïcode-ärgh", "0", "-17",
             "a" * 500, "tab\tsep", "9" * 18]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(svals)],
                               "i long, x string")
    got = {
        r["i"]: r["y"]
        for r in df.select("i", phash60(F.col("x")).alias("y")).collect()
    }
    import pandas as pd

    duck.register("_ph1", pd.DataFrame({"i": range(len(svals)), "x": svals}))
    want = dict(duck.execute(f"SELECT i, {PHASH60('x')} FROM _ph1").fetchall())
    assert got == want
    assert all(0 <= v < (1 << 60) for v in got.values())

    ivals = [0, 1, -1, 42, 2**62, -(2**62), 98765432101]
    dfi = spark.createDataFrame([(i, v) for i, v in enumerate(ivals)],
                                "i long, x long")
    got_i = {
        r["i"]: r["y"]
        for r in dfi.select("i", phash60(F.col("x")).alias("y")).collect()
    }
    duck.register("_ph2", pd.DataFrame({"i": range(len(ivals)), "x": ivals}))
    want_i = dict(
        duck.execute(f"SELECT i, {PHASH60('x')} FROM _ph2").fetchall()
    )
    assert got_i == want_i


def test_phash60_seeded_matches_duckdb_twin_exact(spark, duck):
    from pyetl_spark.parity import PHASH60_SEEDED, phash60_seeded

    rows = [(s, t) for s in range(4) for t in ["x", "longer token", "|", ""]]
    df = spark.createDataFrame(
        [(i, s, t) for i, (s, t) in enumerate(rows)],
        "i long, seed int, tok string",
    )
    got = {
        r["i"]: r["y"]
        for r in df.select(
            "i", phash60_seeded(F.col("seed"), F.col("tok")).alias("y")
        ).collect()
    }
    import pandas as pd

    duck.register(
        "_ph3",
        pd.DataFrame(
            {
                "i": range(len(rows)),
                "seed": [s for s, _ in rows],
                "tok": [t for _, t in rows],
            }
        ),
    )
    want = dict(
        duck.execute(
            f"SELECT i, {PHASH60_SEEDED('seed', 'tok')} FROM _ph3"
        ).fetchall()
    )
    assert got == want
    # distinct seeds must decorrelate the same token (CMS depth contract)
    by_tok: dict = {}
    for (s, t), v in zip(rows, (got[i] for i in range(len(rows)))):
        by_tok.setdefault(t, set()).add(v)
    assert all(len(vs) == 4 for vs in by_tok.values())



# ---------------------------------------------------------------------------
# Fold kernels (dot / norm_sq / sq_dist / cosine / ordered_sum): every
# vector reduction is a zero-seeded ascending left fold, so the Spark
# form, the DuckDB twin and a plain Python loop give the same bits.


def _f32_vectors(n=40, dim=64, seed=5):
    """Seeded float32 vectors widened to double (lossless), the way the
    embedding columns reach the folds."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n, dim)).astype(np.float32).astype(np.float64)


def _py_fold(xs) -> float:
    acc = 0.0
    for x in xs:
        acc += x
    return acc


def _py_kernel(kernel, a, b):
    if kernel == "dot":
        return _py_fold(x * y for x, y in zip(a, b))
    if kernel == "norm_sq":
        return _py_fold(x * x for x in a)
    if kernel == "sq_dist":
        return _py_fold((x - y) * (x - y) for x, y in zip(a, b))
    return (
        _py_kernel("dot", a, b)
        / math.sqrt(_py_kernel("norm_sq", a, None))
        / math.sqrt(_py_kernel("norm_sq", b, None))
    )


@pytest.mark.parametrize("kernel", ["dot", "norm_sq", "sq_dist", "cosine"])
def test_vector_fold_kernels_match_duckdb_twin_bitwise(spark, duck, kernel):
    import pyarrow as pa

    from pyetl_spark import parity

    a, b = _f32_vectors(seed=5), _f32_vectors(seed=6)
    rows = [(i, a[i].tolist(), b[i].tolist()) for i in range(len(a))]
    df = spark.createDataFrame(rows, "i long, a array<double>, b array<double>")
    unary = kernel == "norm_sq"
    col_args = (F.col("a"),) if unary else (F.col("a"), F.col("b"))
    sql_args = ("a",) if unary else ("a", "b")
    got = {
        r["i"]: r["y"].hex()
        for r in df.select(
            "i", getattr(parity, kernel)(*col_args).alias("y")
        ).collect()
    }
    lists = pa.list_(pa.float64())
    duck.register(
        "_folds",
        pa.table(
            {
                "i": pa.array([r[0] for r in rows], pa.int64()),
                "a": pa.array([r[1] for r in rows], lists),
                "b": pa.array([r[2] for r in rows], lists),
            }
        ),
    )
    sql = getattr(parity, kernel.upper())(*sql_args)
    want = {
        i: y.hex()
        for i, y in duck.execute(f"SELECT i, {sql} FROM _folds").fetchall()
    }
    py = {i: _py_kernel(kernel, ra, rb).hex() for i, ra, rb in rows}
    assert got == want == py


def test_ordered_sum_matches_duckdb_twin_on_shuffled_rows(spark, duck):
    """The fold runs in (k1, k2) order whatever order the rows arrive
    in: shuffled input, 7 partitions, and DuckDB all give the bits of
    the sorted Python fold. Values mix magnitudes so a different add
    order would change the result."""
    import random

    import pandas as pd

    from pyetl_spark.parity import ORDERED_SUM, ordered_sum

    vals = _f32_vectors(n=6, dim=64, seed=9)
    rows = [
        (g, k % 4, k, float(vals[g, k]) * 10.0 ** (k % 9 - 4))
        for g in range(len(vals))
        for k in range(vals.shape[1])
    ]
    want = {
        g: _py_fold(v for gg, _, _, v in sorted(rows) if gg == g).hex()
        for g in range(len(vals))
    }
    shuffled = list(rows)
    random.Random(3).shuffle(shuffled)
    df = spark.createDataFrame(
        shuffled, "g long, k1 long, k2 long, v double"
    ).repartition(7)
    got = {
        r["g"]: r["s"].hex()
        for r in df.groupBy("g")
        .agg(ordered_sum("v", "k1", "k2").alias("s"))
        .collect()
    }
    duck.register("_osum", pd.DataFrame(shuffled, columns=["g", "k1", "k2", "v"]))
    duck_sum = ORDERED_SUM("v", "k1", "k2")
    duck_got = {
        g: s.hex()
        for g, s in duck.execute(
            f"SELECT g, {duck_sum} FROM _osum GROUP BY g"
        ).fetchall()
    }
    assert got == duck_got == want
    # the data is order-sensitive: the reverse fold differs somewhere
    assert any(
        _py_fold(v for gg, _, _, v in sorted(rows, reverse=True) if gg == g).hex()
        != want[g]
        for g in want
    )


def test_fold_kernels_and_worker_shipping_have_one_home():
    """Source lint: ``register_pickle_by_value`` appears only in
    session.py (``ship_by_value``), and outside parity.py no module
    writes its own double-seeded fold — neither ``F.aggregate`` with a
    double-zero seed (written inline or bound to a name), nor Spark SQL
    text ``aggregate(…, 0.0D, …)``, nor a DuckDB ``list_prepend`` of a
    double zero. The allowlist is exact: (module, function) -> number of
    folds."""
    import ast
    import pathlib
    import re

    allowed = {
        # Spark SQL text of parity.dot against literal ±1 SRP planes: one
        # string per plane bank costs one parser call instead of ~dim
        # Py4J round-trips per plane
        ("operators/knn.py", "_dot_sql"): 1,
        # the conditional sum_pos fold (Spark form + DuckDB twin): adds
        # max(x, 0), not a vector kernel
        ("queries/scalar_fns.py", "fn_array_higher_order"): 2,
    }
    duck_fold = re.compile(
        r"list_prepend\(\s*(CAST\(\s*0\s+AS\s+DOUBLE\s*\)|0\.0\b)"
    )
    spark_sql_fold = re.compile(
        r"\baggregate\s*\(.*?,\s*(0(\.0*)?D|CAST\(\s*0(\.0*)?\s+AS\s+DOUBLE\s*\))"
        r"\s*,",
        re.DOTALL | re.IGNORECASE,
    )

    def is_double_zero(seed, names):
        """``F.lit(0.0)``, ``F.lit(0).cast("double")`` and the like; a
        name is resolved to what the module assigns it, and a name the
        module never assigns (a parameter) counts as a hit."""
        if isinstance(seed, ast.Name):
            vals = names.get(seed.id)
            return vals is None or any(is_double_zero(v, {}) for v in vals)
        cast_double = (
            isinstance(seed, ast.Call)
            and isinstance(seed.func, ast.Attribute)
            and seed.func.attr in ("cast", "astype")
            and "double" in ast.unparse(seed.args).lower()
        )
        if cast_double:
            seed = seed.func.value
        return (
            isinstance(seed, ast.Call)
            and ast.unparse(seed.func) == "F.lit"
            and len(seed.args) == 1
            and isinstance(seed.args[0], ast.Constant)
            and seed.args[0].value == 0
            and (cast_double or isinstance(seed.args[0].value, float))
        )

    def str_text(node):
        """A string constant's text, f-string fields as ``{}``."""
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            return node.value
        if isinstance(node, ast.JoinedStr):
            return "".join(
                v.value if isinstance(v, ast.Constant) else "{}"
                for v in node.values
            )
        return None

    pkg = pathlib.Path(__file__).resolve().parent.parent / "pyetl_spark"
    pickles, found = [], {}
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        src = path.read_text()
        if "register_pickle_by_value" in src and rel != "session.py":
            pickles.append(rel)
        if rel == "parity.py":
            continue
        tree = ast.parse(src)
        funcs = [
            n for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        names, fstring_parts = {}, set()
        for n in ast.walk(tree):
            if isinstance(n, ast.Assign):
                for t in n.targets:
                    if isinstance(t, ast.Name):
                        names.setdefault(t.id, []).append(n.value)
            if isinstance(n, ast.JoinedStr):
                fstring_parts.update(id(v) for v in n.values)

        def owner(lineno, funcs=funcs):
            inner = [
                f for f in funcs
                if min([f.lineno] + [d.lineno for d in f.decorator_list])
                <= lineno <= f.end_lineno
            ]
            return max(inner, key=lambda f: f.lineno).name if inner else "<module>"

        hits = []
        for n in ast.walk(tree):
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "aggregate"
                and len(n.args) >= 2
                and is_double_zero(n.args[1], names)
            ):
                hits.append(n.lineno)
            text = None if id(n) in fstring_parts else str_text(n)
            if text is not None:
                hits += [n.lineno] * len(spark_sql_fold.findall(text))
        hits += [
            src.count("\n", 0, m.start()) + 1 for m in duck_fold.finditer(src)
        ]
        for lineno in hits:
            key = (rel, owner(lineno))
            found[key] = found.get(key, 0) + 1
    assert pickles == [], f"register_pickle_by_value outside session.py: {pickles}"
    assert found == allowed, (
        "hand-written double-seeded folds outside parity.py (use "
        f"parity.dot/norm_sq/sq_dist/cosine/ordered_sum): {found}"
    )


def test_poisson_thresholds_are_valid_cdf_grid():
    """agg_bootstrap_ci's integer inverse-CDF table: strictly
    increasing, inside the 2^60 hash range, and each cut matches the
    cumulative Poisson(1) CDF snapped with the same floor rule."""
    import math

    from pyetl_spark.queries.stats import _poisson1_thresholds

    ths = _poisson1_thresholds()
    assert len(ths) == 6
    assert all(a < b for a, b in zip(ths, ths[1:]))
    assert 0 < ths[0] and ths[-1] < (1 << 60)
    cum, fact = 0.0, 1
    for k, t in enumerate(ths):
        if k:
            fact *= k
        cum += math.exp(-1.0) / fact
        assert t == int(math.floor(cum * float(1 << 60)))
    # mass above the last cut (P[X >= 6] ~ 5.9e-4) all maps to weight 6,
    # so the genuine truncation error is only P[X > 6] ~ 8e-5; either
    # way it is a literal-table property — identical on both engines
    assert 1.0 - cum < 1e-3


def test_em_iteration1_posteriors_on_grid_and_monotone_in_pattern():
    """er_em_mu_estimate's precomputed E-step literals: all on the
    [0, 1e12] grid, and the all-agree pattern (7) must carry the
    highest match posterior, the all-disagree pattern (0) the lowest —
    the monotonicity that makes the priors a valid starting point."""
    from pyetl_spark.queries.llm_text import _EM_SCALE, _em_gfx1

    g = _em_gfx1()
    assert len(g) == 8
    assert all(0 < x < _EM_SCALE for x in g)
    assert max(g) == g[7] and min(g) == g[0]


def test_fs_weights_sum_structure():
    """er_fellegi_sunter's weight table: agreement on any field must
    increase the composite weight relative to disagreement on that
    field, for every setting of the other fields."""
    from pyetl_spark.queries.llm_text import _fs_weights

    ws = _fs_weights()
    assert len(ws) == 8
    for bit in (4, 2, 1):
        for pid in range(8):
            if pid & bit:
                assert ws[pid] > ws[pid ^ bit]


@pytest.mark.parametrize("n,k", [(1, 4), (3, 4), (4, 4), (7, 4), (40, 4),
                                 (41, 10), (100, 10), (9, 10)])
def test_ntile_from_rank_matches_window_ntile(spark, n, k):
    """ntile_from_rank(rank, n, k) is bit-identical to F.ntile(k) over the
    same total order — the equivalence the global-window re-routes
    (customer_rfm / agg_equidepth_histogram) rely on."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pyetl_spark.operators.global_rank import (
        global_order_rank,
        ntile_from_rank,
    )

    df = spark.range(n).select(F.col("id").cast("long").alias("id"))
    w = Window.orderBy("id")
    want = {
        r["id"]: r["b"]
        for r in df.select("id", F.ntile(k).over(w).alias("b")).collect()
    }
    ranked = global_order_rank(df, ["id"], out_col="r")
    got = {
        r["id"]: r["b"]
        for r in ranked.select(
            "id", ntile_from_rank(F.col("r"), n, k).alias("b")
        ).collect()
    }
    assert got == want
