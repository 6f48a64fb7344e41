"""Statistics used by the benchmark: percentiles, failure counting, span
self times, the plan-cache hit ratio and the tracing overhead. Pure
Python, no Spark, so the rules are unit-tested on their own
(test_stats.py)."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field

#: percentiles a timing may be reported at, highest first
TAIL_CANDIDATES = (99, 95, 90, 75, 50)
#: a percentile is reported only with at least this many samples beyond it
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def samples_beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank p-th percentile of n."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_percentile(n: int) -> int | None:
    """The highest reportable percentile for n samples: the one with at
    least MIN_BEYOND samples beyond it, or None when even the median
    has fewer."""
    for p in TAIL_CANDIDATES:
        if samples_beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def summarize(values: list[float]) -> dict:
    """Median, sample count, and the highest percentile the count supports."""
    out = {"n": len(values), "median": statistics.median(values) if values else None}
    p = tail_percentile(len(values))
    if p is not None and p != 50:
        out[f"p{p}"] = percentile(values, p)
    return out


@dataclass
class Outcomes:
    """Operations attempted and failed. A failure is an operation that
    raised, or whose output did not match the reference."""

    attempted: int = 0
    errors: list[str] = field(default_factory=list)
    mismatches: list[str] = field(default_factory=list)

    def attempt(self) -> None:
        self.attempted += 1

    def error(self, what: str) -> None:
        self.errors.append(what)

    def mismatch(self, what: str) -> None:
        self.mismatches.append(what)

    @property
    def failed(self) -> int:
        return len(self.errors) + len(self.mismatches)

    @property
    def failed_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name, the summed self time: each span's duration minus
    the part of its interval that its direct children cover. Spans are
    dicts with `id`, `parent`, `name`, `start` and `end`."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        covered, cursor = 0.0, s["start"]
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, cursor), min(b, s["end"])
            if b > a:
                covered += b - a
                cursor = b
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered)
    return out


def plan_cache_hit_ratio(spans: list[dict]) -> float:
    """Share of read statements answered from the plan cache. A read is
    an `engine.dispatch` span that parsed its text, returned a plan
    (`returned`) and did not run the write runner; all-CREATE
    statements return none, DDL and SQL never parse. A read that did
    not compile was a hit."""
    kids: dict[int, set[str]] = {}
    for s in spans:
        kids.setdefault(s["parent"], set()).add(s["name"])
    reads = hits = 0
    for s in spans:
        below = kids.get(s["id"], set())
        if (s["name"] != "engine.dispatch" or not s.get("returned")
                or "parser.parse" not in below or "writes.run" in below):
            continue
        reads += 1
        hits += "compiler.compile" not in below
    return hits / reads if reads else 0.0


def overhead_ratio(traced: dict[str, list[float]], untraced: dict[str, list[float]]) -> float | None:
    """Tracing overhead from operations run with tracing on and off in
    one run, matched by operation kind: the extra time the traced
    operations took, as a share of what they take untraced. Kinds seen
    only one way are skipped; None when no kind was seen both ways."""
    extra = base = 0.0
    for kind, on in traced.items():
        off = untraced.get(kind)
        if not on or not off:
            continue
        mean_off = statistics.fmean(off)
        extra += (statistics.fmean(on) - mean_off) * len(on)
        base += mean_off * len(on)
    return extra / base if base else None
