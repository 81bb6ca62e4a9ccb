"""tools/ab_pairs.py's summary: medians, quartiles, wins in the metric's
direction, and the gap against the parent's interquartile range."""

from __future__ import annotations

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "ab_pairs",
    os.path.join(os.path.dirname(__file__), "..", "tools", "ab_pairs.py"),
)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)


def _run(side, seed, ms, correct=True):
    return {"workload": "w", "seed": seed, "side": side, "exit": 0,
            "correct": correct,
            "metrics": {"unit_p50_ms": {"value": ms},
                        "items_per_s": {"value": 1000 / ms}}}


def test_summary_counts_wins_and_gap():
    runs = []
    for seed, (a, b) in enumerate([(100, 60), (110, 70), (90, 95), (105, 65)]):
        runs += [_run("parent", seed, a), _run("change", seed, b)]
    runs.append(_run("change", 9, 1, correct=False))  # unpaired, failed
    out = ab.summarize(runs, {"unit_p50_ms": "lower", "items_per_s": "higher"})
    assert out[0] == "w: 4 pairs, 1 failed runs"
    assert "wins 3/4" in out[1] and "gap>parent IQR: yes" in out[1]
    assert "parent     102.50" in out[1]
    assert "wins 3/4" in out[2]  # higher is better for items_per_s
