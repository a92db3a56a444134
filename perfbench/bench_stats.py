"""Pure helpers of the benchmark: percentiles, span self time, event-log
job attribution and the order-independent digest of a query's output.

Nothing here touches Spark, so ``perfbench/test_bench_stats.py`` checks it
without a session.
"""

from __future__ import annotations

import hashlib
import math
import statistics
from dataclasses import dataclass

# percentiles a latency summary may report, lowest first
PERCENTILE_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_SAMPLES = 10


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (the 'inclusive' definition)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile with at least ``TAIL_SAMPLES`` samples
    beyond it among ``n`` samples; None when even the median lacks them."""
    best = None
    for pct in PERCENTILE_LADDER:
        if n * (100.0 - pct) / 100.0 >= TAIL_SAMPLES - 1e-9:
            best = pct
    return best


def latency_summary(values: list[float]) -> dict:
    """Median, the tail percentile the sample count supports, and n."""
    out = {"n": len(values)}
    if not values:
        return out
    out["p50"] = statistics.median(values)
    pct = tail_percentile(len(values))
    if pct is not None and pct > 50.0:
        out[f"p{pct:g}"] = percentile(values, pct)
    return out


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float  # epoch seconds
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span id -> duration minus the part of it its child spans cover."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [
            (max(a, s.start), min(b, s.end)) for a, b in kids.get(s.id, [])
        ]
        out[s.id] = s.dur - union_length(clipped)
    return out


# ---------------------------------------------------------------------------
# event-log job attribution
# ---------------------------------------------------------------------------


@dataclass
class Job:
    id: int
    group: str | None
    submit: float  # epoch seconds
    end: float


def attribute_jobs(jobs: list[Job], spans: list[Span]) -> dict[str, list[Job]]:
    """Span id -> the jobs whose job group is that span id.  The tracer
    sets the group to the innermost open span, so a job belongs to the
    span that ran it and not to that span's parents."""
    out: dict[str, list[Job]] = {s.id: [] for s in spans}
    for j in jobs:
        if j.group in out:
            out[j.group].append(j)
    return out


def subtree_ids(spans: list[Span], root: str) -> set[str]:
    """Ids of ``root`` and every span below it."""
    kids: dict[str, list[str]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.id)
    out, todo = set(), [root]
    while todo:
        sid = todo.pop()
        out.add(sid)
        todo.extend(kids.get(sid, []))
    return out


# ---------------------------------------------------------------------------
# output digest
# ---------------------------------------------------------------------------


def _canon(v) -> str:
    """One cell as text, equal for values ``tools/check_entry.compare``
    calls equal: numbers by value (an integral float reads as the
    integer, as a nullable integer column does in pandas), nulls and NaN
    alike, sequences element by element."""
    if v is None:
        return "null"
    if hasattr(v, "tolist"):  # numpy scalar or array
        v = v.tolist()
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "null"
        if v.is_integer() and abs(v) < 2**53:
            return str(int(v))
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if type(v).__name__ in ("NAType", "NaTType"):
        return "null"
    return str(v)


def frame_digest(df) -> str:
    """Digest of a pandas DataFrame that ignores row and column order:
    the sorted column names, then the sorted rows of canonical cells."""
    cols = sorted(df.columns)
    rows = sorted(
        "\x1f".join(_canon(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\x1f".join(cols).encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return f"{len(rows)}:{h.hexdigest()[:32]}"
