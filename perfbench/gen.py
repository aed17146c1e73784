"""Seeded input generators.

Everything the program reads in a benchmark run is made here from the
``--seed`` argument: the same seed gives byte-identical files. Two
products:

- ``write_tables``: the ten fixture tables (TPC-H-like star schema plus
  ``events``, ``documents`` and ``embeddings``) at a scale factor, with the
  schemas, value domains and row counts of the fixtures the registry is
  verified against (sf0.1 = 600k lineitem rows). Documents carry the
  fixture's near-duplicate structure (5 % are another document's text plus
  a trailing ``dup`` token) so the dedup operators find work.
- ``write_events_feed``: a JSON-lines event feed for ``app.run_batch`` /
  ``app.run_streaming``, split into many files, with a fixed share of
  records that fail ``quality_filter`` (negative value or null id).

Each writer returns a manifest (row counts, expected valid rows) that the
benchmark's output checks compare against.
"""

from __future__ import annotations

import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "fr", "es", "zh", "de")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PART_ADJ = ("large", "hot", "blue", "old", "cold", "red", "small", "bright")
PART_NOUN = ("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "pipe")
PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
ORDER_STATUS = ("O", "P", "F")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Share of documents that are another document's text plus `` dup``.
NEAR_DUP_SHARE = 0.05
#: Share of feed records that fail ``quality_filter``.
BAD_SHARE = 0.1

_DAY_US = 86_400 * 1_000_000
_EPOCH = datetime.datetime(1970, 1, 1)


def _us(d: datetime.datetime) -> int:
    return (d - _EPOCH) // datetime.timedelta(microseconds=1)


def table_rows(sf: float) -> dict[str, int]:
    """Row count of each table at scale factor ``sf`` (fixture sizing)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": round(150_000 * sf),
        "supplier": round(10_000 * sf),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, table) so tables don't couple."""
    return np.random.default_rng([seed, TABLES.index(stream) + 1])


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, lo: datetime.datetime, hi: datetime.datetime, n: int) -> pa.Array:
    days = rng.integers(0, (hi - lo).days + 1, n)
    return pa.array(_us(lo) + days * _DAY_US, type=pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Random texts over the fixture vocabulary; ``NEAR_DUP_SHARE`` of them
    are another document's text plus `` dup``. Sources are drawn without
    replacement, so no two documents share a text."""
    lengths = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), lengths.sum())]
    bounds = np.concatenate(([0], np.cumsum(lengths)))
    texts = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(n)]
    n_dup = int(n * NEAR_DUP_SHARE)
    slots = rng.choice(n, 2 * n_dup, replace=False)
    for dst, src in zip(slots[:n_dup], slots[n_dup:]):
        texts[dst] = texts[src] + " dup"
    return texts


def _make_table(name: str, n: int, rows: dict[str, int], seed: int) -> pa.Table:
    rng = _rng(seed, name)
    i64 = lambda a: pa.array(a, type=pa.int64())  # noqa: E731
    i32 = lambda a: pa.array(a, type=pa.int32())  # noqa: E731
    if name == "region":
        return pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)})
    if name == "nation":
        return pa.table(
            {
                "n_nationkey": i32(range(25)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": i32([i % 5 for i in range(25)]),
            }
        )
    if name == "customer":
        return pa.table(
            {
                "c_custkey": i64(np.arange(n)),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
                "c_nationkey": i32(rng.integers(0, 25, n)),
                "c_acctbal": _money(rng, -999.99, 9999.99, n),
                "c_mktsegment": _pick(rng, SEGMENTS, n),
            }
        )
    if name == "supplier":
        return pa.table(
            {
                "s_suppkey": i64(np.arange(n)),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
                "s_nationkey": i32(rng.integers(0, 25, n)),
                "s_acctbal": _money(rng, -999.99, 9999.99, n),
            }
        )
    if name == "part":
        adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, 8, n)]
        noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, 8, n)]
        return pa.table(
            {
                "p_partkey": i64(np.arange(n)),
                "p_name": pa.array(adj + " " + noun),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
                "p_type": _pick(rng, PART_TYPES, n),
                "p_size": i32(rng.integers(1, 51, n)),
                "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 1),
            }
        )
    if name == "orders":
        return pa.table(
            {
                "o_orderkey": i64(np.arange(n)),
                "o_custkey": i64(rng.integers(0, rows["customer"], n)),
                "o_orderstatus": _pick(rng, ORDER_STATUS, n),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n),
                "o_orderdate": _dates(
                    rng, datetime.datetime(1995, 1, 1), datetime.datetime(2001, 8, 1), n
                ),
                "o_orderpriority": _pick(rng, PRIORITIES, n),
            }
        )
    if name == "lineitem":
        return pa.table(
            {
                "l_orderkey": i64(rng.integers(0, rows["orders"], n)),
                "l_partkey": i64(rng.integers(0, rows["part"], n)),
                "l_suppkey": i64(rng.integers(0, rows["supplier"], n)),
                "l_linenumber": i32(rng.integers(1, 8, n)),
                "l_quantity": rng.integers(1, 51, n).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, n),
                "l_discount": rng.integers(0, 11, n) / 100.0,
                "l_tax": rng.integers(0, 9, n) / 100.0,
                "l_returnflag": _pick(rng, ("N", "A", "R"), n),
                "l_linestatus": _pick(rng, ("O", "F"), n),
                "l_shipdate": _dates(
                    rng, datetime.datetime(1995, 1, 2), datetime.datetime(2001, 11, 4), n
                ),
            }
        )
    if name == "events":
        return _events(rng, n, max(1, round(rows["customer"] / 10)))
    if name == "documents":
        texts = _documents(rng, n)
        return pa.table(
            {
                "doc_id": i64(np.arange(n)),
                "text": pa.array(texts),
                "lang": _pick(rng, LANGS, n, p=LANG_P),
                "source": pa.array([f"src{i % 20}" for i in range(n)]),
                "n_chars": i64([len(t) for t in texts]),
            }
        )
    if name == "embeddings":
        vecs = rng.standard_normal((n, 64))
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        values = pa.array(vecs.astype(np.float32).ravel())
        offsets = pa.array(np.arange(0, 64 * n + 1, 64, dtype=np.int32))
        return pa.table(
            {
                "vec_id": i64(np.arange(n)),
                "embedding": pa.ListArray.from_arrays(
                    offsets, values, type=pa.list_(pa.field("element", pa.float32()))
                ),
                "label": i32(rng.integers(0, 10, n)),
            }
        )
    raise ValueError(f"unknown table: {name}")


def _events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    """Event log over 30 days, ids ordered by time (fixture layout)."""
    start = _us(datetime.datetime(2024, 1, 1))
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n)) + start
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), type=pa.int64()),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n), type=pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def write_tables(out_dir: str, sf: float, seed: int) -> dict:
    """Write the ten tables as ``<out_dir>/<table>.parquet``.

    The seed sets every value and the row order of each file (rows are
    written in a seeded permutation), not the sizes.
    """
    os.makedirs(out_dir, exist_ok=True)
    rows = table_rows(sf)
    for name in TABLES:
        table = _make_table(name, rows[name], rows, seed)
        order = _rng(seed, name).permutation(table.num_rows)
        pq.write_table(table.take(order), os.path.join(out_dir, f"{name}.parquet"))
    return {"sf": sf, "seed": seed, "rows": rows}


def _write_jsonl(out_dir: str, lines: list[str], files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for f, chunk in enumerate(np.array_split(np.arange(len(lines)), files)):
        with open(os.path.join(out_dir, f"part-{f:05d}.json"), "w") as fh:
            fh.writelines(lines[i] + "\n" for i in chunk)


def _iso_ms(us: int) -> str:
    t = _EPOCH + datetime.timedelta(microseconds=int(us))
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}Z"


def write_events_feed(out_dir: str, rows: int, files: int, seed: int) -> dict:
    """JSON-lines event feed in ``files`` files, records shuffled.

    ``BAD_SHARE`` of the records fail ``quality_filter``: nine in ten of
    them carry a negative value, the rest a null ``event_id``.
    """
    rng = np.random.default_rng([seed, 101])
    ev = _events(rng, rows, max(1, rows // 60)).to_pylist()
    order = rng.permutation(rows)
    bad = rng.random(rows) < BAD_SHARE
    null_id = bad & (rng.random(rows) < 0.1)
    lines = []
    for i in order:
        rec = ev[i]
        rec["ts"] = _iso_ms(_us(rec["ts"]))
        if bad[i]:
            rec["value"] = -rec["value"] - 1.0
        if null_id[i]:
            rec["event_id"] = None
        lines.append(json.dumps(rec))
    _write_jsonl(out_dir, lines, files)
    return {"rows": rows, "valid": int(rows - bad.sum()), "files": files}
