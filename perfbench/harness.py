"""Workloads and the run loop.

One run is one driver process on ``local[2]`` (see ``run.CORES``), closed
loop, one client: each operation starts when the previous one has returned.

1. Inputs are generated from the seed (``gen.py``), cached by seed in the
   checkout's ``.perfbench/data``.
2. Set-up runs three times: start a SparkContext through
   ``pyetl_spark.session.get_session`` (the first start launches the JVM),
   import ``pyetl_spark`` afresh and call ``registry.load_all``. Two
   warm-up passes follow; the first collects every output for the checks,
   and an IVF-PQ index is built once, just before the first search.
   ``setup_s`` is the median set-up plus the warm-up passes.
3. Timed passes run until ``--seconds`` have elapsed; each pass runs every
   operation once, in an order the seed shuffles per pass.
4. Output checks run outside every timed region: on the warm-up outputs,
   and on one more output of every search, collected after the timed loop.
5. With ``--trace 1`` the index build and two more passes run under the
   span recorder.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib
import json
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass
from types import SimpleNamespace

import numpy as np

from perfbench import gen
from perfbench.spans import Recorder, SparkCounters, count_py4j_calls

SETUPS = 3
#: The JIT keeps speeding passes up for several passes after a cold start,
#: at a pace that varies from run to run; a second warm-up pass keeps the
#: steepest part of that slope out of the timed loop.
WARMUP_PASSES = 2
TRACED_PASSES = 2


@dataclass(frozen=True)
class Op:
    kind: str  # query | search | batch | stream
    name: str


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[Op, ...]
    sf: float  # scale factor of the generated tables
    events_feed: tuple[int, int] | None = None  # (records, files)


#: Why these operations: analytics runs Tier-A relational keys whose work
#: is scan, shuffle and aggregate execution (few jobs fire while the plan is
#: built); llm_ingest runs the keys and pipeline calls whose cost is job
#: latency: an iterative graph key that fires most of its jobs while its
#: plan is built, an IVF-PQ search, and pyetl's JSON ETL loop in batch and
#: streaming mode into Parquet and JSON sinks.
WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "analytics_sf0.01",
            tuple(
                Op("query", k)
                for k in (
                    "agg_groupby_pricing",
                    "join_multi_3way",
                    "win_topk_per_group",
                    "win_running_sum",
                    "agg_cube",
                    "etl_latest_per_key",
                    "ts_resample_ohlc",
                    "events_rollup_multi_grain",
                )
            ),
            sf=0.01,
        ),
        Workload(
            "llm_ingest",
            (
                Op("query", "graph_label_propagation"),
                Op("search", "ivfpq_search"),
                Op("batch", "run_batch"),
                Op("stream", "run_streaming"),
            ),
            sf=0.001,
            events_feed=(12_000, 8),
        ),
    )
}

#: Feed files per streaming micro-batch (two batches for the 8-file feed).
FILES_PER_TRIGGER = 4


def calibrate() -> float:
    """Ambient probe: a fixed pure-Python CPU kernel, no Spark, in ms."""
    t = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x = (x * 31 + i) % 1_000_003
    return (time.perf_counter() - t) * 1000.0


def _null_span(*_a, **_k):
    return contextlib.nullcontext({"attrs": {}, "extra_groups": []})


def _frame_hash(canon, pdf) -> str:
    rows = canon.frame_rows(canon.canon_frame(pdf))
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def _dir_files(path: str) -> tuple[int, int]:
    """(data files, bytes) under a sink directory, metadata files excluded."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


class Bench:
    def __init__(self, root: str, workload: Workload, seed: int, seconds: int, trace: bool):
        self.wl = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.rng = np.random.default_rng([seed, 7])
        work = os.path.join(root, ".perfbench")
        self.data = os.path.join(work, "data", f"{workload.name}-seed{seed}")
        self.out = os.path.join(work, "out")
        self.spark = None
        self.m = None
        self.index_base = None
        self.manifest: dict = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[dict] = []
        self.checks: list[dict] = []
        self.hashes: dict[str, list[str]] = {}
        self._duck = None

    # ------------------------------------------------------------ inputs

    def prepare_inputs(self) -> float:
        """Generate (or reuse) this seed's inputs; returns seconds spent."""
        t = time.perf_counter()
        done = os.path.join(self.data, "manifest.json")
        if os.path.exists(done):
            with open(done) as fh:
                self.manifest = json.load(fh)
            return time.perf_counter() - t
        parent = os.path.dirname(self.data)
        if os.path.isdir(parent):
            shutil.rmtree(parent)  # keep one seed's inputs on disk
        self.manifest["tables"] = gen.write_tables(self.data, self.wl.sf, self.seed)
        if self.wl.events_feed:
            self.manifest["events"] = gen.write_events_feed(
                os.path.join(self.data, "events_feed"), *self.wl.events_feed, self.seed)
        with open(done, "w") as fh:
            json.dump(self.manifest, fh)
        return time.perf_counter() - t

    # ------------------------------------------------------------ set-up

    def setup_once(self) -> dict:
        """Stop any running context, then re-import the program, start a
        session and load the registry."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        for name in [n for n in sys.modules if n == "pyetl_spark" or n.startswith("pyetl_spark.")]:
            del sys.modules[name]
        t0 = time.perf_counter()
        session = importlib.import_module("pyetl_spark.session")
        self.spark = session.get_session("perfbench")
        t1 = time.perf_counter()
        registry = importlib.import_module("pyetl_spark.registry")
        registry.load_all()
        self.m = SimpleNamespace(
            registry=registry,
            app=importlib.import_module("pyetl_spark.app"),
            pipeline=importlib.import_module("pyetl_spark.streaming.pipeline"),
            llm_scale=importlib.import_module("pyetl_spark.queries.llm_scale"),
            canon=importlib.import_module("pyetl_spark.canon"),
        )
        t2 = time.perf_counter()
        return {"session_s": t1 - t0, "load_all_s": t2 - t1, "total_s": t2 - t0}

    def build_index(self, rec: Recorder | None) -> float:
        t = time.perf_counter()
        span = rec.span("ivfpq_build", "operators", "index", spark_group=True) if rec else _null_span()
        with span:
            self.index_base = self.m.llm_scale.ivfpq_bench_build(self.spark, self.data)
        return time.perf_counter() - t

    # ------------------------------------------------------------ operations

    def _paths(self, op: Op) -> SimpleNamespace:
        base = os.path.join(self.out, op.kind)
        return SimpleNamespace(
            base=base,
            parquet=os.path.join(base, "parquet"),
            json=os.path.join(base, "json"),
            checkpoint=os.path.join(base, "checkpoint"),
        )

    def _events_spec(self, p, files_per_trigger):
        app = self.m.app
        return app.PipelineSpec(
            source=app.JsonSource(
                path=os.path.join(self.data, "events_feed"),
                schema=self.m.pipeline.EVENTS_STREAM_SCHEMA,
                max_files_per_trigger=files_per_trigger,
            ),
            transforms=[
                app.parse_props_transform(),
                app.enrich_time_transform(),
                app.quality_filter_transform(min_value=0.0),
            ],
            sinks=[app.ParquetSink(path=p.parquet, partition_by="dt"), app.JsonSink(path=p.json)],
        )

    def execute(self, op: Op, action: str = "noop", rec: Recorder | None = None,
                request: str = "", parent: int | None = None):
        """Run one operation. ``action`` is the terminal action of a frame
        operation: ``noop`` (the timed path) or ``collect`` (pandas result,
        for the output checks). With ``rec``, each call into the program
        runs under a span: ``build`` (the registry function), ``catalyst``
        (planning forced on the returned frame) and ``exec`` (the terminal
        action); an ingest operation runs under one ``call`` span."""
        spark = self.spark
        if rec is None:
            span = _null_span
        else:
            def span(name, layer, spark_group=False):
                return rec.span(name, layer, request, parent, spark_group)

        if op.kind in ("query", "search"):
            if op.kind == "query":
                fn = self.m.registry.QUERIES[op.name]
            else:
                fn = self.m.llm_scale.ivfpq_bench_search(self.index_base)
            with span("build", "queries", spark_group=True) as s:
                if rec is None:
                    df = fn(spark, self.data)
                else:
                    with count_py4j_calls() as calls:
                        df = fn(spark, self.data)
                    s["attrs"]["py4j_calls"] = calls["n"]
            if rec is not None:
                with span("catalyst", "catalyst") as s:
                    s["attrs"].update(_catalyst_phases(df))
            with span("exec", "execution", spark_group=True):
                if action == "collect":
                    return df.toPandas()
                df.write.format("noop").mode("overwrite").save()
                return None

        p = self._paths(op)
        if op.kind == "batch":
            with span("call", "app", spark_group=True) as s:
                landed = self.m.app.run_batch(spark, self._events_spec(p, None))
            if rec is not None:
                s["attrs"]["files"], s["attrs"]["bytes"] = _dir_files(p.base)
            return landed
        with span("call", "streaming", spark_group=True) as s:
            q = self.m.app.run_streaming(
                spark, self._events_spec(p, FILES_PER_TRIGGER), p.checkpoint)
            q.awaitTermination()
            # Spark runs a streaming query's jobs in a group named by its run id
            s["extra_groups"].append(str(q.runId))
        if rec is not None:
            s["attrs"].update(_progress(q.recentProgress))
        return None

    def attempt(self, op: Op, **kw):
        """Execute with failure accounting: returns (seconds, result), and
        (None, None) when the operation raised."""
        if op.kind in ("batch", "stream"):
            shutil.rmtree(self._paths(op).base, ignore_errors=True)
        self.attempted += 1
        t = time.perf_counter()
        try:
            result = self.execute(op, **kw)
        except Exception:  # one failed operation must not end the run
            self.failed += 1
            self.failures.append({"op": op.name, "error": traceback.format_exc(limit=4)[-1500:]})
            return None, None
        return time.perf_counter() - t, result

    def shuffled(self) -> list[Op]:
        return [self.wl.ops[i] for i in self.rng.permutation(len(self.wl.ops))]

    def timed_pass(self) -> list[tuple[str, float]]:
        """Every operation once, in seeded order, noop sink; returns
        (operation, seconds) of those that did not raise."""
        ran = []
        for op in self.shuffled():
            secs, _ = self.attempt(op)
            if secs is not None:
                ran.append((op.name, secs))
        return ran

    # ------------------------------------------------------------ checks

    def _check(self, op: Op, what: str, ok: bool, detail: str = "") -> None:
        entry = {"op": op.name, "check": what, "ok": ok}
        if not ok:
            entry["detail"] = detail[:500]
            self.failed += 1
        self.checks.append(entry)

    def record_output(self, op: Op, result) -> None:
        """Check one collected output (outside any timed region): frame
        operations keep a canonical hash, compared with the DuckDB oracle
        (Tier-A keys) or across outputs (searches); ingest operations
        compare sink row counts with the generator's count."""
        if op.kind == "query":
            self._check_oracle(op, result, self.m.registry.ORACLE[op.name])
        elif op.kind == "search":
            self.hashes.setdefault(op.name, []).append(_frame_hash(self.m.canon, result))
        else:
            self._check_ingest(op, result)

    def _check_oracle(self, op: Op, pdf, oracle: str) -> None:
        canon = self.m.canon
        try:
            ref = canon.canon_frame(self._duckdb().execute(oracle).df())
        except Exception:  # a broken oracle fails the check, not the run
            self._check(op, "oracle", False, traceback.format_exc(limit=2))
            return
        got = canon.canon_frame(pdf)
        if list(got.columns) != list(ref.columns):
            self._check(op, "oracle", False, f"columns {list(got.columns)} != {list(ref.columns)}")
        else:
            same = canon.frame_rows(got) == canon.frame_rows(ref)
            self._check(op, "oracle", same, f"rows differ ({len(got)} vs {len(ref)})")

    def _duckdb(self):
        if self._duck is None:
            import duckdb

            self._duck = duckdb.connect()
            for name in gen.TABLES:
                self._duck.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(self.data, name)}.parquet')")
        return self._duck

    def _check_ingest(self, op: Op, landed) -> None:
        p = self._paths(op)
        want = self.manifest["events"]["valid"]
        counts = [self.spark.read.parquet(p.parquet).count(), self.spark.read.json(p.json).count()]
        if op.kind == "batch":
            counts.append(landed)
        self._check(op, f"{op.kind}: sink rows == valid feed rows",
                    counts == [want] * len(counts), f"got {counts}, want {want}")

    # ------------------------------------------------------------ the run

    def run(self) -> dict:
        res: dict = {"calib_ms": [calibrate()]}
        res["gen_s"] = self.prepare_inputs()
        res["setups"] = [self.setup_once() for _ in range(SETUPS)]
        rec = Recorder(SparkCounters(self.spark)) if self.trace else None

        res["warmup_s"] = 0.0
        res["index_build_s"] = 0.0
        for op in self.wl.ops:
            if op.kind == "search" and self.index_base is None:
                res["index_build_s"] = self.build_index(rec)
            secs, result = self.attempt(op, action="collect")
            if secs is not None:
                res["warmup_s"] += secs
                self.record_output(op, result)
        for _ in range(WARMUP_PASSES - 1):
            res["warmup_s"] += sum(s for _, s in self.timed_pass())
        res["calib_ms"].append(calibrate())

        passes, lat = [], []
        deadline = time.perf_counter() + self.seconds
        while not passes or time.perf_counter() < deadline:
            ran = self.timed_pass()
            passes.append(sum(s for _, s in ran))
            lat.extend(ran)
        res["calib_ms"].append(calibrate())
        res["passes"], res["latencies"] = passes, lat

        for op in self.wl.ops:  # searches have no oracle: their output must repeat
            if op.kind == "search":
                secs, result = self.attempt(op, action="collect")
                if secs is not None:
                    self.record_output(op, result)
        for name, digests in self.hashes.items():
            self._check(Op("search", name), f"same hash over {len(digests)} outputs",
                        len(digests) > 1 and len(set(digests)) == 1, repr(digests))

        if rec is not None:
            self.traced_passes(rec)
            res["recorder"] = rec
        return res

    def traced_passes(self, rec: Recorder) -> None:
        """TRACED_PASSES passes, each operation under a root span."""
        for i in range(TRACED_PASSES):
            for op in self.shuffled():
                request = f"pass{i}:{op.name}"
                with rec.span(op.name, "op", request) as root:
                    root["attrs"].update(kind=op.kind, traced_pass=i)
                    self.attempt(op, rec=rec, request=request, parent=root["id"])

    def close(self) -> None:
        """Stop Spark and wait for the JVM the first set-up launched to exit."""
        if self._duck is not None:
            self._duck.close()
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            self.spark = None
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
                SparkContext._gateway = SparkContext._jvm = None
                proc = gateway.proc
                proc.stdin.close()  # the JVM exits on EOF from its parent
                proc.wait(timeout=60)
        shutil.rmtree(self.out, ignore_errors=True)


def _catalyst_phases(df) -> dict:
    """Force optimization and physical planning on the returned frame and
    read Catalyst's phase times from its tracker. (The noop write plans
    through a fresh QueryExecution, whose tracker would show analysis
    only.)"""
    qe = df._jdf.queryExecution()
    qe.optimizedPlan()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        summary = phases.get(name)
        out[f"{name}_ms"] = summary.get().durationMs() if summary.isDefined() else 0
    return out


def _progress(progress) -> dict:
    """Micro-batch numbers of one streaming query from ``recentProgress``."""
    return {
        "batches": len(progress),
        "trigger_ms": [p.durationMs.get("triggerExecution", 0) for p in progress],
        "addbatch_ms": sum(p.durationMs.get("addBatch", 0) for p in progress),
        "walcommit_ms": sum(p.durationMs.get("walCommit", 0) for p in progress),
        "input_rows": sum(p.numInputRows for p in progress),
    }
