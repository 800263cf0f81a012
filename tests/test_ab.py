"""tools/ab.py's verdict: a difference counts as resolved only with enough
pairs, a near-unanimous winner and a gap wider than A's spread. Pure
Python, no Spark session."""

from __future__ import annotations

import importlib.util
import pathlib

_AB = pathlib.Path(__file__).parent.parent / "tools" / "ab.py"


def _verdict():
    spec = importlib.util.spec_from_file_location("ab", _AB)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.verdict


def test_three_nil_split_of_an_a_a_run_is_unresolved():
    """Identical code on both sides can split 3-0 by chance."""
    a, b = [1.00, 1.10, 1.20], [1.05, 1.15, 1.25]
    v = _verdict()(a, b, list(zip(a, b)))
    assert (v["a_wins"], v["b_wins"]) == (3, 0)
    assert v["resolved"] is False


def test_resolved_needs_ten_pairs_nine_wins_and_a_gap_beyond_the_iqr():
    verdict = _verdict()
    a = [1.00 + 0.01 * i for i in range(10)]
    b = [x * 0.7 for x in a]
    assert verdict(a, b, list(zip(a, b)))["resolved"] is True
    assert verdict(a[:9], b[:9], list(zip(a[:9], b[:9])))["resolved"] is False
    split = b[:8] + [2.0, 2.0]  # B wins 8 of 10
    assert verdict(a, split, list(zip(a, split)))["resolved"] is False
    close = [x - 0.001 for x in a]  # B wins 10 of 10 inside A's spread
    assert verdict(a, close, list(zip(a, close)))["resolved"] is False
