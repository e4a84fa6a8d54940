"""Pure helpers of the benchmark: no Spark, no I/O beyond ``/proc``.

Everything here is unit-tested in ``test_lib.py`` without a session:
parsing Spark's REST metric strings, the tail-percentile rule, span
self time, assigning Spark jobs to query spans by time, and the
order-insensitive result digest the correctness pass compares.
"""

from __future__ import annotations

import bisect
import datetime as _dt
import decimal
import hashlib
import math
import os
import re

# ---------------------------------------------------------------- REST metrics

# unit -> factor to seconds (times), bytes (sizes) or 1 (plain counts)
_UNIT_SCALE = {
    "": 1,
    "ns": 1e-9,
    "ms": 1e-3,
    "s": 1.0,
    "min": 60.0,
    "h": 3600.0,
    "B": 1,
    "KiB": 1024,
    "MiB": 1024**2,
    "GiB": 1024**3,
    "TiB": 1024**4,
}
_VALUE_RE = re.compile(r"^\s*(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Parse one SQL-node metric value from Spark's REST API.

    Times come back in seconds, sizes in bytes and plain counts as
    numbers. Spark prints aggregated task metrics as ``"total (min, med,
    max ...)\\n7.6 s (0 ms, ...)"``; only the total is read.
    """
    line = text.split("\n", 1)[1] if text.startswith("total") and "\n" in text else text
    m = _VALUE_RE.match(line)
    if not m:
        raise ValueError(f"unparseable metric value {text!r}")
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit not in _UNIT_SCALE:
        raise ValueError(f"unknown unit {unit!r} in metric value {text!r}")
    return number * _UNIT_SCALE[unit]


def parse_rest_time(stamp: str) -> float:
    """UTC ``"2026-10-17T02:48:15.123GMT"`` (REST API) or ``...123Z``
    (streaming progress) -> epoch seconds."""
    return (
        _dt.datetime.strptime(stamp.removesuffix("GMT").removesuffix("Z"), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=_dt.timezone.utc)
        .timestamp()
    )


# ---------------------------------------------------------------- statistics


def tail_percentile(
    samples: list[float], beyond: int = 10, min_samples: int = 0
) -> tuple[int, float, int]:
    """The highest whole percentile with at least ``beyond`` samples above it.

    Nearest-rank percentile ``p`` is ``xs[ceil(p*n/100) - 1]``; the
    samples beyond it number ``n - ceil(p*n/100)``. Returns ``(p,
    value, n)``. With fewer than ``max(beyond + 1, min_samples)``
    samples that percentile does not exist or lies below the median,
    so the maximum is returned as ``(100, max, n)``.
    """
    n = len(samples)
    if n == 0:
        raise ValueError("no samples")
    xs = sorted(samples)
    if n <= beyond or n < min_samples:
        return 100, xs[-1], n
    p = (100 * (n - beyond)) // n
    rank = max(1, math.ceil(p * n / 100))
    return p, xs[rank - 1], n


# ---------------------------------------------------------------- spans


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    end = -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover.

    Each span is a dict with ``id``, ``parent``, ``start`` and ``end``.
    Child intervals are clipped to the parent and overlapping children
    count once.
    """
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        parent = by_id.get(s["parent"])
        if parent is None:
            continue
        a, b = max(s["start"], parent["start"]), min(s["end"], parent["end"])
        if b > a:
            children.setdefault(parent["id"], []).append((a, b))
    return {
        s["id"]: (s["end"] - s["start"]) - union_length(children.get(s["id"], []))
        for s in spans
    }


def assign_to_spans(
    times: list[tuple[object, float]], spans: list[tuple[object, float, float]]
) -> dict[object, object]:
    """Map each ``(key, t)`` to the span ``(span_id, start, end)`` holding t.

    Spans must not overlap (one sequential client: one query at a
    time); a time outside every span maps to ``None``. Jobs are
    assigned by submission time, which also catches jobs launched from
    threads (``foreachBatch``) that carry no job group.
    """
    ordered = sorted(spans, key=lambda s: s[1])
    starts = [s[1] for s in ordered]
    out: dict[object, object] = {}
    for key, t in times:
        i = bisect.bisect_right(starts, t) - 1
        out[key] = ordered[i][0] if i >= 0 and t <= ordered[i][2] else None
    return out


# ---------------------------------------------------------------- result digest


def canonical(value):
    """Engine-neutral form of one result value (Spark collect vs DuckDB).

    Integral numbers become ``int`` whatever their engine type; other
    finite numbers keep their float ``repr``; NaN compares equal to
    NaN; structs and maps become sorted key/value tuples.
    """
    if value is None or isinstance(value, (bool, str)):
        return value
    if isinstance(value, (int, float, decimal.Decimal)) or type(value).__module__ == "numpy":
        if hasattr(value, "tolist"):
            value = value.tolist()
            if isinstance(value, list):
                return tuple(canonical(v) for v in value)
            if isinstance(value, (bool, str)) or value is None:
                return value
        if isinstance(value, int):
            return value
        f = float(value)
        if math.isnan(f):
            return "NaN"
        if math.isinf(f) or f != math.floor(f) or abs(f) >= 2**53:
            return repr(f)
        return int(f)
    if isinstance(value, (bytes, bytearray, memoryview)):
        return bytes(value).hex()
    if isinstance(value, (_dt.datetime, _dt.date, _dt.time)):
        return value.isoformat()
    if hasattr(value, "asDict"):  # a Spark struct Row
        value = value.asDict(recursive=False)
    if isinstance(value, dict):
        return tuple(sorted((str(k), canonical(v)) for k, v in value.items()))
    if isinstance(value, (list, tuple)):
        return tuple(canonical(v) for v in value)
    return repr(value)


def result_digest(columns: list[str], rows) -> tuple[str, int]:
    """Order-insensitive digest of a result: ``(sha256 hex, row count)``.

    Columns are matched by name, so the two engines may order them
    differently; rows are sorted by their canonical ``repr``.
    """
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(repr(tuple(canonical(row[i]) for i in order)) for row in rows)
    h = hashlib.sha256(repr([columns[i] for i in order]).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest(), len(lines)


# ---------------------------------------------------------------- /proc


def _children(pid: int) -> list[int]:
    """Children of every thread of ``pid`` (the JVM forks from many)."""
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(p) for p in fh.read().split())
        except OSError:
            pass
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def tree_rss_bytes(root: int) -> int:
    """RSS summed over ``root`` and all its descendants (driver Python,
    the JVM it launched, and the JVM's Python workers). Read from
    ``statm``, which costs microseconds; ``smaps_rollup`` (PSS) takes
    tens of milliseconds on the JVM and holds its address-space lock."""
    return sum(_rss_bytes(pid) for pid in [root, *tree_pids(root)])


def tree_pids(root: int) -> list[int]:
    """All descendants of ``root`` (not ``root`` itself)."""
    out, stack = [], _children(root)
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(_children(pid))
    return out
