"""Pure arithmetic of the benchmark: timing readouts, span self time,
ratios with their base, and the text-identity comparator.

Nothing here imports Spark, so the unit tests in ``test_stats.py`` run in
milliseconds.
"""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field


def median(values) -> float:
    vals = list(values)
    if not vals:
        raise ValueError("median of no samples")
    return float(statistics.median(vals))


def tail_percentile(samples, min_beyond: int = 10):
    """Highest nearest-rank percentile that still has at least
    ``min_beyond`` samples above it, as ``(percentile, value)``; None when
    there are too few samples for any such tail."""
    vals = sorted(samples)
    n = len(vals)
    if n <= min_beyond:
        return None
    rank = n - min_beyond  # 1-based rank: exactly min_beyond samples above
    pct = math.floor(100.0 * rank / n)
    return pct, float(vals[rank - 1])


def timing_readout(samples) -> dict:
    """Median plus the highest percentile with ten samples beyond it, with
    the sample count — the readout every timing in the benchmark uses."""
    out = {"n": len(samples), "median": median(samples)}
    tail = tail_percentile(samples)
    if tail is not None:
        out["tail_pct"], out["tail_value"] = tail
    return out


def iqr_share(values) -> float:
    """(Q3 - Q1) / median with ``statistics.quantiles(n=4)`` — the spread
    rule a benchmark metric must stay within across seeds."""
    q1, _, q3 = statistics.quantiles(list(values), n=4)
    return (q3 - q1) / median(values)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None = None
    run_id: str = ""
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals) -> float:
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: Span, spans) -> float:
    """A span's duration minus the part of its interval that its direct
    child spans cover (children clipped to the parent; overlaps counted
    once)."""
    kids = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in spans
        if c.parent == span.name and c.run_id == span.run_id and c is not span
    ]
    kids = [(s, e) for s, e in kids if e > s]
    return span.duration - _covered(kids)


def ratio(num: float, base: float) -> dict:
    """A ratio with its base kept beside it; 0.0 when the base is 0."""
    return {"value": (num / base) if base else 0.0, "num": num, "base": base}


def kernel_share(oracle_us_per_doc: float, rows: int, cores: int,
                 extract_s: float) -> dict:
    """Share of the extraction span the single-core oracle kernel would
    need on ``cores`` cores: base is the kernel seconds,
    ``oracle_us_per_doc * rows / cores``."""
    kernel_s = oracle_us_per_doc * rows / 1e6 / cores
    out = ratio(kernel_s, extract_s)
    out["kernel_s"] = kernel_s
    return out


def candidate_precision(verified_pairs: int, candidates: int) -> dict:
    """Near-dup candidates that survive the Jaccard verify, over all LSH
    candidates."""
    return ratio(verified_pairs, candidates)


def input_bytes_per_corpus_byte(input_bytes: int, corpus_bytes: int) -> dict:
    """Bytes the resumable extraction's scans read (Spark's ``inputBytes``)
    per byte of the corpus file. Every bucket re-scans the corpus, so
    the ratio grows with the bucket count."""
    return ratio(input_bytes, corpus_bytes)


def compare_identity(actual: dict, expected: dict) -> tuple[float, list]:
    """Share of ``expected`` urls whose record in ``actual`` is equal.

    Both map url -> tuple of compared fields (doc_status, extracted_text,
    fields_json). A url missing from ``actual`` counts as a mismatch.
    Returns (rate, sorted mismatched urls)."""
    if not expected:
        raise ValueError("identity sample is empty")
    bad = sorted(u for u, rec in expected.items() if actual.get(u) != rec)
    return (len(expected) - len(bad)) / len(expected), bad
