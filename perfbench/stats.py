"""Spark-free helpers of the benchmark: sample statistics, span self time,
output fingerprints and the cluster checks. Kept free of Spark so
``perfbench/tests`` can check them in milliseconds."""

from __future__ import annotations

import hashlib
import math
import statistics
from collections import defaultdict
from typing import Iterable, Sequence

# Percentiles the report may name, lowest first.
PERCENTILE_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def nearest_rank(sorted_values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile ``p`` (0 < p <= 100) of ascending values."""
    rank = max(1, math.ceil(p / 100.0 * len(sorted_values)))
    return sorted_values[rank - 1]


def tail_percentile(values: Iterable[float]) -> dict:
    """The median plus the highest ladder percentile that has at least
    ``MIN_BEYOND`` samples ranked above it, and the sample count.

    ``{"n": 12, "p50": ..., "tail_p": None, "tail": None}`` when no
    percentile qualifies (fewer than ``2 * MIN_BEYOND`` samples)."""
    xs = sorted(values)
    n = len(xs)
    out = {"n": n, "p50": statistics.median(xs) if xs else None, "tail_p": None, "tail": None}
    for p in PERCENTILE_LADDER:
        if n and n - max(1, math.ceil(p / 100.0 * n)) >= MIN_BEYOND:
            out["tail_p"], out["tail"] = p, nearest_rank(xs, p)
    return out


def self_times(spans: Sequence[dict]) -> dict:
    """Self time per span id: the span's wall minus the part of its interval
    that its direct children cover (overlapping children count once, and
    only inside the parent's interval). Spans are dicts with ``id``,
    ``parent`` (id or None), ``start`` and ``end``."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children[s["id"]], key=lambda c: c["start"]):
            a, b = max(lo, c["start"]), min(hi, c["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (hi - lo) - covered
    return out


def fingerprint(rows: Iterable[tuple]) -> str:
    """SHA-256 of the sorted output rows, e.g. ``(conv_id, cluster_id,
    cluster_size)``: equal for equal row multisets in any order."""
    h = hashlib.sha256()
    for row in sorted(tuple(map(str, r)) for r in rows):
        h.update("\t".join(row).encode())
        h.update(b"\n")
    return h.hexdigest()


def check_clusters(rows: Sequence[tuple], n_conversations: int) -> list[str]:
    """Structural checks of a clustering ``(conv_id, cluster_id[, size])``:
    one row per input conversation, cluster ids are the minimum member id
    (the engine's min-id components; singletons keep their own id) and, when
    given, sizes equal the member counts. Returns the failures found."""
    errors = []
    ids = [r[0] for r in rows]
    if len(ids) != n_conversations or len(set(ids)) != len(ids):
        errors.append(
            f"{len(ids)} rows / {len(set(ids))} distinct conv_ids for "
            f"{n_conversations} input conversations"
        )
    members = defaultdict(list)
    for r in rows:
        members[r[1]].append(r[0])
    bad_ids = [c for c, ms in members.items() if min(ms) != c]
    if bad_ids:
        errors.append(f"{len(bad_ids)} clusters whose id is not their minimum member, e.g. {bad_ids[0]}")
    if rows and len(rows[0]) > 2:
        bad_sizes = [r for r in rows if r[2] != len(members[r[1]])]
        if bad_sizes:
            errors.append(f"{len(bad_sizes)} rows with a wrong cluster_size, e.g. {bad_sizes[0]}")
    return errors

