"""Metric names, units and the summary statistics the benchmark reports.

The metric names and units are read from ``BENCHMARK.json`` at the
root of the checkout: an untraced run emits every ``end_to_end`` metric,
a traced run every ``per_layer`` metric (zero where the workload does
not exercise the layer).  The self-tests check that the emitted sets
are exactly the declared ones.
"""

from __future__ import annotations

import json
import os
import statistics

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

with open(os.path.join(_ROOT, "BENCHMARK.json")) as _f:
    DECLARED = json.load(_f)

# name -> unit
END_TO_END = {m["name"]: m["unit"] for m in DECLARED["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in DECLARED["per_layer"]}

# the declared batch entries, by family (see queries.py)
NEAR_DUP = (
    "ngram_jaccard", "minhash_lsh", "simhash", "cosine_topk",
    "ann_lsh", "ann_ivf", "embed_neardup",
)
ALGEBRA = (
    "cdc_diff", "merkle_events", "sessionize", "tumbling_hourly",
    "range_join", "star_join", "pricing_summary", "topk_per_group",
    "exact_dedup",
)


PERCENTILES = (50, 75, 90, 95, 99)


def percentile(samples, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("percentile of no samples")
    k = max(1, -(-len(xs) * p // 100))  # ceil(n * p / 100)
    return xs[int(k) - 1]


def tail_percentile(samples) -> int | None:
    """The highest of PERCENTILES that leaves at least ten samples
    strictly above the reported value — the highest tail a run of this
    many samples supports.  None when even the median does not."""
    best = None
    for p in PERCENTILES:
        v = percentile(samples, p)
        if sum(1 for x in samples if x > v) >= 10:
            best = p
    return best


def median(samples) -> float:
    return float(statistics.median(samples))


def geomean(samples) -> float:
    return float(statistics.geometric_mean(samples))


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}
