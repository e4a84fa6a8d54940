"""Interleaved A/B of two git revisions on ``bench.py``.

Checks REV_A and REV_B out as detached git worktrees under a temp dir
and runs ``--pairs`` pairs of fresh ``bench.py`` processes over the
QUERIES subset (``bench_protocol.run_once``, one process per arm).
The arm that runs first alternates from pair to pair, so host heat
hits both arms equally. The worktrees are removed on exit, also when
a run fails.

Prints one JSON line per query: each arm's raw runs and median,
REV_A's interquartile range, and how many pairs REV_B won (ran
faster). A gain is resolved when REV_B wins nearly every pair and
the median moved by more than REV_A's IQR.

Usage: python scripts/ab_revs.py REV_A REV_B QUERIES [--pairs N]
  QUERIES: comma-separated registered query names
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (passed through to bench.py)
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from bench_protocol import REPO, run_once  # noqa: E402


def _git(*args: str, check: bool = True) -> None:
    subprocess.run(
        ["git", "-C", str(REPO), *args], check=check, capture_output=True
    )


def _iqr(xs: list[float]) -> float:
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return round(q3 - q1, 3)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("rev_a")
    ap.add_argument("rev_b")
    ap.add_argument("queries", help="comma-separated query names")
    ap.add_argument("--pairs", type=int, default=5)
    args = ap.parse_args()
    queries = [q.strip() for q in args.queries.split(",") if q.strip()]

    runs: dict[str, list[dict]] = {"a": [], "b": []}
    with tempfile.TemporaryDirectory(prefix="ab_revs_") as tmp:
        trees: dict[str, Path] = {}
        try:
            for arm, rev in (("a", args.rev_a), ("b", args.rev_b)):
                path = Path(tmp) / arm
                _git("worktree", "add", "--detach", str(path), rev)
                trees[arm] = path
            for i in range(args.pairs):
                for arm in ("a", "b") if i % 2 == 0 else ("b", "a"):
                    runs[arm].append(run_once(queries, trees[arm])["queries"])
        finally:
            for path in trees.values():
                _git("worktree", "remove", "--force", str(path), check=False)
            _git("worktree", "prune", check=False)

    for q in queries:
        a = [r[q] for r in runs["a"]]
        b = [r[q] for r in runs["b"]]
        print(
            json.dumps(
                {
                    "query": q,
                    "rev_a": args.rev_a,
                    "rev_b": args.rev_b,
                    "runs_a": a,
                    "runs_b": b,
                    "median_a": statistics.median(a),
                    "median_b": statistics.median(b),
                    "iqr_a": _iqr(a),
                    "b_wins": sum(y < x for x, y in zip(a, b)),
                    "pairs": len(a),
                }
            )
        )


if __name__ == "__main__":
    main()
