"""Builder-side steady-state bench protocol (r12, VERDICT r11 #5):
min-of-N fresh-session readings for a query family, written to
BENCH_PROTOCOL.json — a file the DRIVER NEVER WRITES, so builder
protocol evidence (standalone re-measures, canary notes, attempt
lists) survives the driver's per-round BENCH_FULL.json overwrite
(which clobbered the r10 and r11 protocol sections in the working
tree — NOTES.md).

Each attempt is one fresh bench.py process over BENCH_QUERIES (the
same one-session-many-queries shape the full-bench per-query numbers
come from, so readings are comparable); per-query results record the
min across attempts plus every raw attempt and its canary. Sections
merge by name: re-running a section replaces it, others survive.

Usage:
    BENCH_PROTOCOL_SECTION=index_family_r12 \
    BENCH_PROTOCOL_QUERIES=a,b,c [BENCH_PROTOCOL_ATTEMPTS=3] \
        python scripts/bench_protocol.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def parse_bench_stdout(stdout: str) -> dict:
    """Scan bench.py stdout from the END for the first parseable JSON
    object carrying a ``queries`` map (ADVICE r12 #3): stray trailing
    stdout noise (log4j, deprecation warnings, an atexit print) must
    not crash a long protocol or scale run and lose every reading.
    The ONE copy — bench_scale imports it too (r13 review #4: its
    inline splitlines()[-1] parse had the exact fragility this
    function was written to fix)."""
    for line in reversed(stdout.strip().splitlines()):
        line = line.strip()
        if not (line.startswith("{") and line.endswith("}")):
            continue
        try:
            r = json.loads(line)
        except ValueError:
            continue
        if isinstance(r, dict) and "queries" in r:
            return r
    raise RuntimeError(
        f"no bench JSON line found in bench.py stdout "
        f"(last 500 chars: {stdout[-500:]!r})"
    )


def run_once(queries: list[str], repo: Path = REPO) -> dict:
    """One fresh ``bench.py`` process of checkout ``repo`` over
    ``queries``; returns its parsed JSON line."""
    env = dict(os.environ, BENCH_QUERIES=",".join(queries))
    out = subprocess.run(
        [sys.executable, str(repo / "bench.py")],
        env=env, capture_output=True, text=True, check=True,
    )
    return parse_bench_stdout(out.stdout)


def main() -> None:
    section = os.environ.get("BENCH_PROTOCOL_SECTION")
    qlist = os.environ.get("BENCH_PROTOCOL_QUERIES")
    if not section or not qlist:
        raise SystemExit(
            "set BENCH_PROTOCOL_SECTION and BENCH_PROTOCOL_QUERIES"
        )
    queries = [q.strip() for q in qlist.split(",") if q.strip()]
    if "popular_parts" not in queries:
        queries.insert(0, "popular_parts")  # in-subset canary
    attempts = int(os.environ.get("BENCH_PROTOCOL_ATTEMPTS", "3"))
    path = REPO / "BENCH_PROTOCOL.json"

    def write_section(runs: list[dict], done: bool) -> None:
        # persist after EVERY attempt (ADVICE r12 #3): a crash or a
        # kill mid-protocol keeps the minutes of readings already
        # taken, marked partial until the last attempt lands
        per_q = {
            q: {
                "min_sec": min(r["queries"][q] for r in runs),
                "attempts_sec": [r["queries"][q] for r in runs],
            }
            for q in queries
        }
        art = json.loads(path.read_text()) if path.is_file() else {}
        art[section] = {
            "sf": runs[0].get("sf"),
            "attempts": attempts,
            "canaries_sec": [r.get("canary_sec") for r in runs],
            "canary_steady_sec": runs[0].get("canary_steady_sec"),
            "queries": per_q,
        }
        if not done:
            art[section]["partial"] = f"{len(runs)}/{attempts}"
        path.write_text(json.dumps(art, indent=1) + "\n")

    runs = []
    for i in range(attempts):
        r = run_once(queries)
        runs.append(r)
        write_section(runs, done=(i + 1 == attempts))
        print(
            f"attempt {i + 1}/{attempts}: total {r['value']}s "
            f"canary {r.get('canary_sec')}",
            flush=True,
        )
    print(json.dumps({"section": section, "queries": len(queries)}))


if __name__ == "__main__":
    main()
