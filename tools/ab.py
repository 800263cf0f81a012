"""Interleaved A/B of two sweep settings.

    python3 tools/ab.py --a SIDE --b SIDE [--pairs N] --out DIR [SWEEP_ARG ...]

Runs ``tools/sweep.py`` in a child process per side, in the order
A,B,B,A,A,B… for ``--pairs`` pairs, so slow drift of the host favours
neither side. A SIDE is one shell-quoted string
``[CHECKOUT] [KEY=VALUE ...] [SWEEP_ARG ...]``: a first word naming a
checkout (a directory holding ``tools/sweep.py``) runs that checkout's
sweep from its root (default: this one), the ``KEY=VALUE`` words that
follow set the child's environment, and the rest are sweep arguments
added to the shared SWEEP_ARGs. Each child appends to
``DIR/<pair>-<side>.jsonl``; DIR must not exist yet.

After every finished pair it rewrites ``DIR/verdict.jsonl`` atomically,
so a stopped A/B keeps the summary of the pairs it finished, and after the
last pair it prints the same lines: one JSON line per query with each
side's median of its per-run medians, the pairs each side won (lower time
wins, a tie counts for neither), A's inter-quartile range over its median
(``stats.relative_spread``), and ``resolved``. A difference is resolved
only with at least 10 pairs, one side winning at least 9 in 10 of them,
and ``|a_s - b_s| / a_s`` above ``a_iqr_frac``; a 3-0 split of three
pairs is not.

Two core counts over three queries:

    python3 tools/ab.py --a SPARK_GRAFT_CPUS=2 --b SPARK_GRAFT_CPUS=4 \\
        --pairs 3 --out ab-cores agg_pricing_summary agg_market_share \\
        graph_triangles --sf SF_DIR
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shlex
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "perfbench"))

from stats import median, relative_spread  # noqa: E402

ENV_WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*=")
MIN_PAIRS = 10
MIN_WIN_FRAC = 0.9


def parse_side(spec: str) -> tuple[str, dict[str, str], list[str]]:
    """(checkout root, environment, sweep arguments) of one SIDE."""
    words = shlex.split(spec)
    root = REPO
    if words and os.path.isfile(os.path.join(words[0], "tools", "sweep.py")):
        root = os.path.abspath(words.pop(0))
    env = {}
    while words and ENV_WORD.match(words[0]):
        key, value = words.pop(0).split("=", 1)
        env[key] = value
    return root, env, words


def read_medians(path: str) -> dict[str, float]:
    with open(path) as f:
        lines = [json.loads(line) for line in f]
    return {r["query"]: r["median_s"] for r in lines if "median_s" in r}


def verdict(a: list[float], b: list[float], pairs: list[tuple[float, float]]) -> dict:
    """One query's summary over A's and B's run medians and the (a, b)
    pairs that both sides finished."""
    a_s = median(a) if a else None
    b_s = median(b) if b else None
    a_wins = sum(x < y for x, y in pairs)
    b_wins = sum(y < x for x, y in pairs)
    a_iqr_frac = relative_spread(a) if len(a) > 1 else None
    resolved = (
        len(pairs) >= MIN_PAIRS
        and max(a_wins, b_wins) >= MIN_WIN_FRAC * len(pairs)
        and a_iqr_frac is not None
        and abs(a_s - b_s) / a_s > a_iqr_frac
    )
    return {"a_s": a_s, "b_s": b_s, "a_wins": a_wins, "b_wins": b_wins,
            "a_iqr_frac": a_iqr_frac, "resolved": resolved}


def verdict_lines(runs: dict[str, list[dict[str, float]]]) -> list[str]:
    """One JSON verdict line per query over each side's finished runs."""
    lines = []
    for q in dict.fromkeys(q for r in runs["a"] + runs["b"] for q in r):
        a = [r[q] for r in runs["a"] if q in r]
        b = [r[q] for r in runs["b"] if q in r]
        pairs = [(ra[q], rb[q]) for ra, rb in zip(runs["a"], runs["b"]) if q in ra and q in rb]
        lines.append(json.dumps({"query": q, **verdict(a, b, pairs)}))
    return lines


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0], allow_abbrev=False)
    ap.add_argument("--a", required=True, metavar="SIDE")
    ap.add_argument("--b", required=True, metavar="SIDE")
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--out", required=True, metavar="DIR")
    args, sweep_args = ap.parse_known_args()
    if args.pairs < 1:
        ap.error("--pairs must be >= 1")
    sides = {"a": parse_side(args.a), "b": parse_side(args.b)}
    os.makedirs(args.out)

    runs: dict[str, list[dict[str, float]]] = {"a": [], "b": []}
    for i in range(args.pairs):
        for s in "ab" if i % 2 == 0 else "ba":
            root, env, extra = sides[s]
            path = os.path.join(args.out, f"{i}-{s}.jsonl")
            subprocess.run(
                [sys.executable, os.path.join(root, "tools", "sweep.py"),
                 *sweep_args, *extra, "--out", path],
                env={**os.environ, **env}, cwd=root, check=True,
            )
            runs[s].append(read_medians(path))
        lines = verdict_lines(runs)
        tmp = os.path.join(args.out, "verdict.jsonl.tmp")
        with open(tmp, "w") as f:
            f.writelines(line + "\n" for line in lines)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(args.out, "verdict.jsonl"))

    print("\n".join(lines), flush=True)


if __name__ == "__main__":
    main()
