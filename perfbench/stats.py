"""Arithmetic of the benchmark's reported figures, kept free of Spark so it
can be tested on synthetic inputs (``python3 -m pytest perfbench``).

- ``tail``: the highest percentile that still has at least ``beyond``
  samples above it, reported with the sample count and the percentile it
  landed on, so a tail is never quoted from a handful of samples.
- ``self_time``: a span's duration minus the part of its interval that its
  child spans cover (overlapping children are counted once).
- ``write_amp`` / ``space_amp``: amplification from manifest entries (file
  sizes recorded at commit), never from ``du``, whose total also counts
  metadata files that carry timestamps.
"""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10


def median(values) -> float:
    vals = list(values)
    if not vals:
        raise ValueError("median of no samples")
    return float(statistics.median(vals))


def tail(values, beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """(value, percentile, n): the sample with exactly ``beyond`` samples
    above it in sorted order, i.e. the highest percentile that has at least
    ``beyond`` samples beyond it. Needs ``n > beyond`` samples."""
    vals = sorted(values)
    n = len(vals)
    if n <= beyond:
        raise ValueError(f"tail needs more than {beyond} samples, got {n}")
    rank = n - beyond  # 1-based rank of the reported sample
    return float(vals[rank - 1]), 100.0 * rank / n, n


def summarize(values, beyond: int = TAIL_BEYOND) -> dict:
    """Median plus, from ``2 * beyond + 1`` samples on, the tail. The tail of
    one op type can never sit below its own median: that would mean the
    two were taken over different sets of operations."""
    vals = list(values)
    out = {"n": len(vals), "p50": median(vals)}
    if len(vals) > 2 * beyond:
        value, pct, _ = tail(vals, beyond)
        if value < out["p50"]:
            raise AssertionError(
                f"tail {value} below median {out['p50']} over {len(vals)} "
                f"samples; take more than {2 * beyond} samples for a tail")
        out.update(tail=value, tail_pct=pct)
    return out


def self_time(start: float, end: float, children) -> float:
    """Duration of [start, end] minus the union of the child intervals
    ``(child_start, child_end)`` clipped to it."""
    clipped = sorted((max(s, start), min(e, end)) for s, e in children
                     if min(e, end) > max(s, start))
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


def write_amp(entries) -> float:
    """Data-file bytes added by all snapshots ÷ bytes added by APPEND
    snapshots. ``entries`` are ``(commit_kind, entry_kind, file_size)``
    triples taken from each snapshot's delta manifest."""
    added = appended = 0
    for commit_kind, entry_kind, size in entries:
        if entry_kind != "ADD":
            continue
        added += size
        if commit_kind == "APPEND":
            appended += size
    if appended == 0:
        raise ValueError("no APPEND bytes: write amplification undefined")
    return added / appended


def space_amp(live_sizes, compacted_sizes) -> float:
    """Live data bytes ÷ live bytes of the same state after one full
    compaction (both lists of file sizes of live manifest entries)."""
    after = sum(compacted_sizes)
    if after == 0:
        raise ValueError("empty table after compaction: space amplification undefined")
    return sum(live_sizes) / after
