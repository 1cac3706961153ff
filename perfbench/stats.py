"""The benchmark's own arithmetic: medians, tail percentiles, prefix-delta
layer self times, failure accounting and the stream file → batch mapping.

Pure Python, no Spark: ``perfbench/tests/test_stats.py`` pins every rule.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field
from typing import Iterable, Mapping, Sequence

#: a reported tail percentile must have at least this many samples beyond it
TAIL_BEYOND = 10


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail(values: Sequence[float], beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """The highest percentile that still has ``beyond`` samples above it.

    Returns ``(value, percentile)``. With ``n`` sorted samples the value
    at 1-based rank ``n - beyond`` has exactly ``beyond`` samples beyond
    it, so it is reported as the ``100 * (n - beyond) / n`` percentile.
    A sample of ``beyond`` or fewer values supports no such point: the
    maximum is returned, labelled as the 100th percentile, and the caller
    states the sample count next to it.
    """
    if not values:
        raise ValueError("tail of no samples")
    s = sorted(values)
    n = len(s)
    if n <= beyond:
        return float(s[-1]), 100.0
    rank = n - beyond
    return float(s[rank - 1]), 100.0 * rank / n


def prefix_self_times(
    prefix_totals: Sequence[tuple[str, float]],
) -> dict[str, float]:
    """Layer self times from cumulative prefix passes.

    ``prefix_totals`` lists ``(layer, seconds)`` where each pass runs
    every earlier layer too (scan, scan+parse, scan+parse+enrich, ...).
    A layer's self time is its pass minus the previous pass; the first
    layer keeps its whole pass. Noise can make a delta negative, and it
    is reported as measured rather than clamped, so the deltas always sum
    back to the last pass.
    """
    out: dict[str, float] = {}
    prev = 0.0
    for name, total in prefix_totals:
        if name in out:
            raise ValueError(f"layer {name!r} listed twice")
        out[name] = total - prev
        prev = total
    return out


def span_self_time(
    span: tuple[float, float], children: Iterable[tuple[float, float]]
) -> float:
    """A span's duration minus the part of its interval that its child
    spans cover (overlapping children are counted once)."""
    start, end = span
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


@dataclass
class Ledger:
    """Failure accounting. Every operation is recorded exactly once; it
    fails if it raised, failed its output check, or never committed."""

    attempted: int = 0
    failed: int = 0
    reasons: list[str] = field(default_factory=list)

    def record(self, ok: bool, reason: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.reasons.append(reason or "failed")
        return ok

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def file_batches(entries: Iterable[Mapping]) -> dict[str, int]:
    """Map each stream input file to the micro-batch that read it.

    ``entries`` are the file-source log records of a streaming
    checkpoint (``{"path": ..., "batchId": ...}``). A file listed more
    than once keeps its earliest batch. Paths are reduced to their base
    name, because the log stores URIs and the generator knows plain names.
    """
    out: dict[str, int] = {}
    for e in entries:
        name = str(e["path"]).rstrip("/").rsplit("/", 1)[-1]
        b = int(e["batchId"])
        if name not in out or b < out[name]:
            out[name] = b
    return out


def file_latencies(
    landed: Mapping[str, float],
    batch_of: Mapping[str, int],
    committed_at: Mapping[int, float],
) -> tuple[dict[str, float], list[str]]:
    """Latency of each landed file: commit time of the batch that read
    it minus the time the file landed.

    Returns ``(latency by file, files never committed)``.
    """
    lat: dict[str, float] = {}
    missing: list[str] = []
    for name, t_landed in landed.items():
        b = batch_of.get(name)
        if b is None or b not in committed_at:
            missing.append(name)
            continue
        lat[name] = committed_at[b] - t_landed
    return lat, sorted(missing)

