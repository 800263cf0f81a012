"""tools/ab.py's verdict: a difference counts as resolved only with enough
pairs, a near-unanimous winner and a gap wider than A's spread, and a
stopped A/B keeps the verdict of the pairs it finished. Pure Python, no
Spark session."""

from __future__ import annotations

import importlib.util
import json
import pathlib
import subprocess
import sys

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


_FAKE_SWEEP = """
import json, os, sys
out = sys.argv[sys.argv.index("--out") + 1]
if os.path.basename(out) == "1-b.jsonl":
    sys.exit(1)  # the A/B stops during its second pair
with open(out, "a") as f:
    f.write(json.dumps({"query": "q", "median_s": float(os.environ["FAKE_S"])}) + "\\n")
"""


def test_a_stopped_ab_keeps_the_verdict_of_its_finished_pairs(tmp_path):
    """After each finished pair ``DIR/verdict.jsonl`` holds the summary so
    far, so a run that dies in pair 2 still has pair 1's verdict."""
    import json
    import subprocess
    import sys

    checkout = tmp_path / "checkout"
    (checkout / "tools").mkdir(parents=True)
    (checkout / "tools" / "sweep.py").write_text(_FAKE_SWEEP)
    out = tmp_path / "ab"
    proc = subprocess.run(
        [sys.executable, str(_AB), "--a", f"{checkout} FAKE_S=1.0",
         "--b", f"{checkout} FAKE_S=0.5", "--pairs", "3", "--out", str(out)],
        capture_output=True, text=True,
    )
    assert proc.returncode != 0
    lines = (out / "verdict.jsonl").read_text().splitlines()
    assert [json.loads(line) for line in lines] == [
        {"query": "q", "a_s": 1.0, "b_s": 0.5, "a_wins": 0, "b_wins": 1,
         "a_iqr_frac": None, "resolved": False}
    ]
    assert sorted(p.name for p in out.iterdir()) == ["0-a.jsonl", "0-b.jsonl", "verdict.jsonl"]
