"""Names and units of every metric the benchmark reports, as
``BENCHMARK.json`` declares them."""

from __future__ import annotations

import json
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _DECLARED = json.load(_fh)

END_TO_END = [m["name"] for m in _DECLARED["end_to_end"]]
PER_LAYER = [m["name"] for m in _DECLARED["per_layer"]]
UNITS = {m["name"]: m["unit"]
         for m in _DECLARED["end_to_end"] + _DECLARED["per_layer"]}


def payload(values: dict[str, float], names) -> dict:
    """``{name: {"value": v, "unit": u}}`` for exactly ``names``. The
    traced result line carries every per-layer metric, so a layer the
    workload never calls reports 0 there; ``exercised`` lists the ones
    it calls."""
    return {n: {"value": float(values.get(n, 0.0)), "unit": UNITS[n]}
            for n in names}


# per-layer metric prefixes each workload's traced run exercises; the
# rest read 0 there because the workload never calls that layer
_PIPELINE = ("sources.pages.", "operators.parse.", "operators.assemble.",
             "operators.enrich.", "operators.route.self_s",
             "plans.pipeline.")
EXERCISED = {
    "batch_skewed": _PIPELINE + ("operators.route.",),
    "incremental": _PIPELINE + ("operators.state.", "sources.bookmark."),
    "neardup": ("operators.dedup.", "operators.similarity.",
                "plans.pipeline.self_s", "plans.pipeline.span_coverage",
                "plans.pipeline.tracing_overhead_s"),
}


def exercised(workload: str) -> list[str]:
    return [n for n in PER_LAYER if n.startswith(EXERCISED[workload])]
