"""scripts/ab.py verdicts on synthetic interleaved pairs (no Spark)."""

import importlib.util
import os

import pytest

_PATH = os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts", "ab.py")
_spec = importlib.util.spec_from_file_location("ab", _PATH)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

BASE = [100.0, 102.0, 98.0, 101.0, 99.0, 103.0, 97.0, 100.0, 101.0, 99.0]


@pytest.mark.parametrize(
    "head, better, want",
    [
        # 10/10 wins, median 40% lower, far outside the base IQR
        ([x * 0.6 for x in BASE], "lower", "gain"),
        # higher-is-better metric, mirrored
        ([x * 1.4 for x in BASE], "higher", "gain"),
        # 8/10 wins is short of 9/10, the 5% shift is inside the bound
        ([x * 0.95 for x in BASE[:8]] + [x * 1.01 for x in BASE[8:]], "lower", "no change"),
        # ties count for neither side: 9 ties + 1 win is not a gain
        (BASE[:9] + [BASE[9] - 10.0], "lower", "no change"),
        # median 30% worse than base, bound 25%
        ([x * 1.3 for x in BASE], "lower", "regression"),
        ([x * 0.7 for x in BASE], "higher", "regression"),
        # identical runs
        (list(BASE), "lower", "no change"),
    ],
)
def test_verdict(head, better, want):
    assert ab.verdict(BASE, head, better, 0.25) == want


def test_gain_needs_median_shift_beyond_base_iqr():
    # HEAD wins every pair by a hair, but the base runs spread far wider
    # than the shift: not a gain
    base = [60.0, 140.0, 80.0, 120.0, 100.0, 70.0, 130.0, 90.0, 110.0, 100.0]
    head = [x - 1.0 for x in base]
    assert ab.verdict(base, head, "lower", 0.5) == "no change"


def test_unresolved_when_base_spread_exceeds_bound():
    base = [60.0, 140.0, 80.0, 120.0, 100.0, 70.0, 130.0, 90.0, 110.0, 100.0]
    head = [100.0, 95.0, 105.0, 100.0, 98.0, 102.0, 99.0, 101.0, 97.0, 103.0]
    assert ab.verdict(base, head, "lower", 0.25) == "unresolved"
    # unless every HEAD run beats every base run
    assert ab.verdict(base, [x - 100.0 for x in head], "lower", 0.25) == "gain"
    assert ab.verdict(base, [95.0] * 9 + [150.0], "lower", 0.25) == "unresolved"
