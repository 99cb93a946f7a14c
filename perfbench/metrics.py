"""Names, units and directions of every metric the benchmark reports —
the lists ``BENCHMARK.json`` declares (a test keeps the two equal).

End-to-end metrics carry the same names on every workload; what each one
measures on a batch and on the stream workload is in ``perfbench/README.md``.
"""

from __future__ import annotations

E2E = (
    ("setup_s", "s", "lower"),
    ("first_s", "s", "lower"),
    ("step_p50_s", "s", "lower"),
    ("turns_per_s", "turns/s", "higher"),
    ("pair_f1", "ratio", "higher"),
)

_UNITS = {
    "wall_s": "s",
    "self_s": "s",
    "task_s": "s",
    "calls": "count",
    "jobs": "count",
    "stages": "count",
    "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes",
}
_FULL = tuple(_UNITS)

# Span layers, named after the module and function the span wraps, and the
# span fields reported for each.
SPAN_LAYERS = {
    "pipeline.pass": ("wall_s", "self_s"),
    "pipeline.featurize": _FULL,
    "pipeline.match_edges": _FULL,
    "operators.clustering.assign": _FULL,
    "pipeline.sizes": _FULL,
    "pipeline.prefix_candidates": ("wall_s",),
    "operators.blocking.lsh_candidates": ("wall_s",),
    "streaming.job.process_batch": _FULL,
    "streaming.sinks.apply_delta": _FULL,
    "streaming.sinks.read_for": _FULL,
    "streaming.sinks.bucket_ids_for": _FULL,
    "streaming.sinks.prune": ("wall_s", "self_s", "calls"),
    "operators.clustering.connected_components": _FULL,
}

# Counts taken at layer boundaries: (unit, better). Records, edges,
# components and the broadcast side are invariants of the input and output;
# a change in them means the plan or the result changed, not a gain.
COUNTS = {
    "pipeline.records": ("count", "lower"),
    "pipeline.broadcast_side": ("count", "lower"),
    "pipeline.match_edges.edges": ("count", "lower"),
    "pipeline.prefix_candidates.pairs": ("count", "lower"),
    "operators.blocking.lsh_candidates.pairs": ("count", "lower"),
    "pipeline.match_edges.yield": ("ratio", "higher"),
    "pipeline.pass.coverage": ("ratio", "higher"),
    "operators.clustering.assign.components": ("count", "lower"),
    "streaming.job.process_batch.jobs_per_batch": ("count", "lower"),
    "streaming.job.process_batch.rows_per_batch": ("count", "lower"),
    "streaming.sinks.apply_delta.files_written": ("count", "lower"),
    "streaming.sinks.apply_delta.bytes_written": ("bytes", "lower"),
    "streaming.sinks.prune.files_deleted": ("count", "lower"),
    "streaming.sinks.state_files": ("count", "lower"),
    "streaming.sinks.state_bytes": ("bytes", "lower"),
    "session.peak_rss_mb": ("MB", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.pass_delta_s": ("s", "lower"),
}


def per_layer() -> list[tuple[str, str, str]]:
    """Every per-layer metric as (name, unit, better)."""
    out = [
        (f"{layer}.{field}", _UNITS[field], "lower")
        for layer, fields in SPAN_LAYERS.items()
        for field in fields
    ]
    return out + [(name, unit, better) for name, (unit, better) in COUNTS.items()]


def layer_values(layers: dict[str, dict], counts: dict[str, float]) -> dict[str, float]:
    """Per-layer metric values of one traced run; a layer the workload does
    not run reports 0."""
    out = {}
    for layer, fields in SPAN_LAYERS.items():
        for field in fields:
            out[f"{layer}.{field}"] = layers.get(layer, {}).get(field, 0)
    for name in COUNTS:
        out[name] = counts.get(name, 0)
    return out
