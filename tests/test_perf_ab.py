"""The verdict scripts/perf_ab.py prints per metric, on synthetic runs."""

import importlib.util
from pathlib import Path

import pytest

_SCRIPT = Path(__file__).resolve().parent.parent / "scripts" / "perf_ab.py"
_spec = importlib.util.spec_from_file_location("perf_ab", _SCRIPT)
perf_ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(perf_ab)

# Base runs with median 10.0 and interquartile range 1.0 (9.5 to 10.5).
BASE = [9.0, 9.5, 9.5, 9.5, 10.0, 10.0, 10.5, 10.5, 10.5, 11.0]


def shifted(by: float, losses: int = 0) -> list[float]:
    """BASE moved by ``by``, with the first ``losses`` pairs moved the
    other way."""
    return [b - by if i < losses else b + by for i, b in enumerate(BASE)]


@pytest.mark.parametrize("change, better, bound, expected", [
    (shifted(-1.5), "lower", 0.25, "gain"),       # 10/10, 1.5 > IQR
    (shifted(-2.0, losses=1), "lower", 0.25, "gain"),      # 9/10
    (shifted(-2.0, losses=2), "lower", 0.25, "unresolved"),  # 8/10
    (shifted(-0.5), "lower", 0.25, "same"),        # 10/10, 0.5 < IQR
    (shifted(1.5), "higher", 0.25, "gain"),
    (shifted(3.0), "lower", 0.25, "worse"),        # +30% > 25%
    (shifted(-3.0), "higher", 0.25, "worse"),
    (shifted(2.0), "lower", 0.25, "unresolved"),   # +20%, beyond the IQR
    (shifted(3.0), "lower", None, "unresolved"),   # per-layer: no bound
    (BASE, "lower", 0.25, "same"),
    (BASE, "lower", 0.05, "unresolved"),           # IQR 10% > bound 5%
])
def test_verdict(change, better, bound, expected):
    assert perf_ab.verdict(BASE, change, better, bound) == expected


def test_pairs_won_counts_strict_wins_in_the_better_direction():
    change = shifted(-1.0, losses=3)
    assert perf_ab.pairs_won(BASE, change, "lower") == 7
    assert perf_ab.pairs_won(BASE, change, "higher") == 3
    assert perf_ab.pairs_won(BASE, BASE, "lower") == 0
