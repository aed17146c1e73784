"""The result line, plus the median and tail helpers the summaries use.

``BENCHMARK.json`` at the repository root is the single list of metric
names and units; ``result_line`` emits exactly that list (end-to-end
metrics for a timed run, per-layer metrics for a traced run) and refuses
to print a result with a metric missing.
"""

from __future__ import annotations

import json
import os
import statistics

SPEC_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def load_spec() -> dict:
    with open(SPEC_PATH) as fh:
        return json.load(fh)


def metric_list(spec: dict, trace: bool) -> list[dict]:
    return spec["per_layer"] if trace else spec["end_to_end"]


def result_line(spec: dict, trace: bool, values: dict, attempted: int, failed: int,
                correct: bool) -> str:
    """The final stdout line: ``correct``, ``attempted``, ``failed`` and
    every metric of the mode with its unit."""
    metrics = {}
    for m in metric_list(spec, trace):
        if m["name"] not in values:
            raise KeyError(f"metric {m['name']!r} was not measured")
        metrics[m["name"]] = {"value": float(values[m["name"]]), "unit": m["unit"]}
    return json.dumps(
        {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
         "metrics": metrics}
    )


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> tuple[float | None, float | None]:
    """Highest percentile with at least ten samples beyond it, and the
    latency there; ``(None, None)`` below eleven samples."""
    xs = sorted(xs)
    n = len(xs)
    if n < 11:
        return None, None
    return 100.0 * (n - 10) / n, xs[n - 11]
