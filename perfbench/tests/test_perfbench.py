"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

- the generators are deterministic per seed (and differ across seeds);
- the result line carries every metric named in BENCHMARK.json, with its
  unit, in both modes;
- on one key, two traced executions count identical jobs, stages, tasks
  and input records (starts a local Spark session, ~30 s).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
from types import SimpleNamespace

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, harness, report, summary  # noqa: E402
from perfbench.spans import Recorder, SparkCounters  # noqa: E402


def _digest(path: str) -> dict[str, str]:
    out = {}
    for dirpath, _dirs, names in os.walk(path):
        for n in sorted(names):
            full = os.path.join(dirpath, n)
            with open(full, "rb") as fh:
                out[os.path.relpath(full, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _write_all(base: str, seed: int) -> dict:
    manifest = {
        "tables": gen.write_tables(os.path.join(base, "tables"), 0.001, seed),
        "events": gen.write_events_feed(os.path.join(base, "events"), 500, 4, seed),
    }
    return {"manifest": manifest, "files": _digest(base)}


def test_generators_are_deterministic_per_seed(tmp_path):
    a = _write_all(str(tmp_path / "a"), 5)
    b = _write_all(str(tmp_path / "b"), 5)
    c = _write_all(str(tmp_path / "c"), 6)
    assert a == b
    assert len(a["files"]) == 10 + 4
    # the seed sets values and row order, so every file moves with it
    assert all(a["files"][k] != c["files"][k] for k in a["files"])


def test_events_feed_counts_valid_records(tmp_path):
    m = gen.write_events_feed(str(tmp_path), 2000, 4, 1)
    rows = [json.loads(line) for f in sorted(os.listdir(tmp_path))
            for line in open(tmp_path / f)]
    valid = sum(r["event_id"] is not None and r["value"] >= 0 for r in rows)
    assert (len(rows), valid) == (m["rows"], m["valid"])
    assert 0.85 * len(rows) < valid < 0.95 * len(rows)


def _fake_run() -> tuple[SimpleNamespace, dict]:
    wl = harness.WORKLOADS["llm_ingest"]
    bench = SimpleNamespace(manifest={}, wl=wl)
    setup = {"session_s": 1.0, "load_all_s": 0.5, "total_s": 1.5}
    res = {
        "setups": [setup] * 3,
        "warmup_s": 4.0,
        "gen_s": 0.3,
        "index_build_s": 5.0,
        "latencies": [(op.name, 1.0 + i) for i, op in enumerate(wl.ops)],
        "passes": [6.0],
        "calib_ms": [100.0, 101.0, 102.0],
        "recorder": Recorder(None),
    }
    return bench, res


@pytest.mark.parametrize("trace", [False, True])
def test_result_line_names_every_metric_with_unit(trace):
    spec = report.load_spec()
    bench, res = _fake_run()
    values, _record = summary.end_to_end(res)
    if trace:
        values = summary.per_layer(bench, res, cores=4)
    line = json.loads(report.result_line(spec, trace, values, 10, 0, True))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    want = {m["name"]: m["unit"] for m in report.metric_list(spec, trace)}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == want
    assert set(values) == set(want)  # nothing measured that the spec lacks


def test_result_line_refuses_a_missing_metric():
    spec = report.load_spec()
    with pytest.raises(KeyError):
        report.result_line(spec, False, {"setup_s": 1.0}, 1, 0, True)


def test_tail_needs_ten_samples_beyond():
    assert report.tail(range(10)) == (None, None)
    pct, value = report.tail(range(100))
    assert (pct, value) == (90.0, 89)


def test_traced_counts_repeat_on_one_key(tmp_path):
    op = harness.Op("query", "join_multi_3way")
    wl = harness.Workload("determinism", (op,), sf=0.001)
    bench = harness.Bench(str(tmp_path), wl, seed=3, seconds=1, trace=True)
    try:
        bench.prepare_inputs()
        bench.setup_once()
        bench.attempt(op)  # warm the key up
        assert bench.failed == 0, bench.failures
        rec = Recorder(SparkCounters(bench.spark))
        for i in range(2):
            with rec.span(op.name, "op", f"run{i}") as root:
                bench.execute(op, rec=rec, request=f"run{i}", parent=root["id"])
    finally:
        bench.close()
    fields = ("jobs", "stages", "tasks", "input_records")
    runs = [
        {s["name"]: {f: s["counters"][f] for f in fields}
         for s in rec.spans if s["request"] == f"run{i}" and "counters" in s}
        for i in range(2)
    ]
    assert runs[0] == runs[1]
    assert runs[0]["exec"]["jobs"] > 0 and runs[0]["exec"]["input_records"] > 0
