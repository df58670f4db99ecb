"""Arithmetic shared by the workloads: percentiles, the tail rule, storage
amplification and span self time.  Pure functions, tested in
``test_perfbench.py``."""

from __future__ import annotations

import statistics

ID_BYTES = 8
FLOAT_BYTES = 4


def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs) -> tuple[float, float, int] | None:
    """(value, percentile, n) at the highest percentile that still has at
    least ten samples above it: the sample of rank n-10 in ascending order.
    None below 20 samples, where that rank would not reach the median."""
    n = len(xs)
    if n < 20:
        return None
    rank = n - 10
    return sorted(xs)[rank - 1], 100.0 * rank / n, n


def user_bytes(payload: str, dim: int) -> int:
    """Bytes a user stores per doc: its id, its payload and its float
    vector."""
    return ID_BYTES + len(payload.encode()) + dim * FLOAT_BYTES


def space_amp(stored_bytes: int, live_payloads, dim: int) -> float:
    """Bytes on disk per byte of live user data."""
    live = sum(user_bytes(p, dim) for p in live_payloads)
    return stored_bytes / live


def dir_sizes(root: str) -> dict[str, int]:
    import os
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[os.path.relpath(p, root)] = os.path.getsize(p)
            except FileNotFoundError:
                pass  # removed by a concurrent GC between listing and stat
    return out


DATA_TABLES = ("index", "documents")


def write_diff(before: dict[str, int], after: dict[str, int]) -> dict:
    """Data files a write added, from two ``dir_sizes`` listings of the DB
    folder: count, bytes, and distinct buckets they landed in."""
    new = [p for p in after if p not in before
           and p.split("/", 1)[0] in DATA_TABLES and p.endswith(".parquet")]
    buckets = {seg for p in new for seg in p.split("/")
               if seg.startswith("bucket=")}
    return {"files": len(new), "bytes": sum(after[p] for p in new),
            "buckets": len(buckets)}


def write_amp(new_data_bytes: int, op_user_bytes: int) -> float:
    return new_data_bytes / op_user_bytes


def self_time(span: tuple[float, float],
              children: list[tuple[float, float]]) -> float:
    """Span duration minus the part of it its children cover (overlapping
    children counted once)."""
    s, e = span
    covered = 0.0
    cur_s = cur_e = None
    for cs, ce in sorted((max(s, a), min(e, b)) for a, b in children):
        if ce <= cs:
            continue
        if cur_e is None or cs > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = cs, ce
        else:
            cur_e = max(cur_e, ce)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (e - s) - covered


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    if not intervals:
        return 0.0
    lo = min(a for a, _ in intervals)
    hi = max(b for _, b in intervals)
    return (hi - lo) - self_time((lo, hi), intervals)
