"""The three workloads and how each is driven, checked and traced.

Every workload is a closed loop driven from one process: the next pass or
micro-batch starts only when the previous one has finished. Why each one
exists is in ``perfbench/README.md``.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import statistics
import time
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapping_analysis_spark.operators.blocking import lsh_band_pairs
from mapping_analysis_spark.operators.clustering import assign_cluster_ids
from mapping_analysis_spark.operators.evaluation import pair_quality
from mapping_analysis_spark.pipeline import (
    BROADCAST_MAX_RECORDS,
    DEFAULT_LSH_BANDS,
    conversation_records,
    dedup_conversations,
    featurize_records,
    match_conversations,
    match_edges,
    pruned_block_rows,
)
from mapping_analysis_spark.streaming import job as job_module
from mapping_analysis_spark.streaming.job import IncrementalClusteringJob
from mapping_analysis_spark.streaming.sinks import SnapshotStateTable
from perfbench.stats import check_clusters, fingerprint
from perfbench.trace import Tracer, patched

# Every planted duplicate group is found at the scales used here (F1 is
# 1.000000 at sf0.1 seed 42 and 0.999957 at sf0.5 seed 7); a clustering
# below this floor is wrong, not merely different.
F1_FLOOR = 0.99
STREAM_TIMEOUT_S = 120
# The pass after the cold one is still markedly slower (JIT, Python workers:
# ~5.3 s against ~4 s at sf0.1 on 4 cores), so it is run and checked but kept
# out of the median; a floor on the measured passes keeps the median from
# depending on how many fit in --seconds.
WARMUP_PASSES = 1
MIN_MEASURED_PASSES = 3
# The layers one flagship pass is made of; their walls should add up to it.
BATCH_LAYERS = (
    "pipeline.featurize",
    "pipeline.match_edges",
    "operators.clustering.assign",
    "pipeline.sizes",
)


@dataclass(frozen=True)
class BatchSpec:
    """``dedup_conversations`` over ``generate_transcripts(sf, seed)``;
    ``broadcast`` is the side of ``BROADCAST_MAX_RECORDS`` the input's
    record count must fall on."""

    sf: float
    broadcast: bool


@dataclass(frozen=True)
class StreamSpec:
    """``IncrementalClusteringJob`` over ``generate_transcripts(sf, seed)``
    split into ``n_files`` arrival files, one per micro-batch, with state
    tables compacting every ``compact_every`` commits."""

    sf: float
    n_files: int
    compact_every: int


WORKLOADS = {
    "batch_small": BatchSpec(sf=0.1, broadcast=True),
    "batch_large": BatchSpec(sf=0.5, broadcast=False),
    "stream_revise": StreamSpec(sf=0.01, n_files=5, compact_every=4),
}


@dataclass
class Outcome:
    """What one workload run measured and checked."""

    attempted: int
    failed: int
    errors: list
    e2e: dict  # end-to-end metric name -> value
    samples: dict  # sample name -> list of seconds


def check_input_side(spec: BatchSpec, conversations: int) -> None:
    """Refuse an input on the wrong side of the broadcast gate: the workload
    exists to run one plan, and a seed or scale that flips it would silently
    measure the other one."""
    small = conversations <= BROADCAST_MAX_RECORDS
    if small != spec.broadcast:
        side = "at or below" if spec.broadcast else "above"
        raise ValueError(
            f"sf{spec.sf} gives {conversations} records; this workload needs "
            f"{side} BROADCAST_MAX_RECORDS={BROADCAST_MAX_RECORDS}"
        )


def collect_rows(df: DataFrame) -> list[tuple]:
    tb = df.toArrow()
    return list(zip(*(tb.column(c).to_pylist() for c in tb.column_names)))


def pair_f1(assign: DataFrame) -> float:
    """Pair-level F1 of ``(conv_id, cluster_id)`` against the planted entity
    (the conv_id without its ``_s<source>`` suffix), in exact millionths."""
    gold = assign.select(
        "conv_id", F.regexp_replace("conv_id", "_s[0-9]+$", "").alias("entity_id")
    )
    row = pair_quality(assign.select("conv_id", "cluster_id"), gold).collect()[0]
    return row["f1_e6"] / 1e6


def check_output(rows: list[tuple], df: DataFrame, conversations: int) -> tuple[list, float]:
    """Structural checks plus the F1 floor; returns (failures, pair F1)."""
    errors = check_clusters(rows, conversations)
    f1 = pair_f1(df)
    if f1 < F1_FLOOR:
        errors.append(f"pair F1 {f1:.6f} below the floor {F1_FLOOR}")
    return errors, f1


# -- batch -------------------------------------------------------------------


def timed_pass(t: DataFrame) -> tuple[float, DataFrame]:
    """One flagship pass, fully materialized (not collected)."""
    t0 = time.perf_counter()
    out = dedup_conversations(t).localCheckpoint(eager=True)
    return time.perf_counter() - t0, out


def traced_pass(tr: Tracer, t: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``dedup_conversations`` re-driven layer by layer: the same calls and
    forcing actions in the same order as ``match_conversations`` and
    ``dedup_conversations``, so the plan is the one the timed passes run.
    Its output fingerprint must equal theirs."""
    with tr.span("pipeline.pass"):
        with tr.span("pipeline.featurize"):
            rec = featurize_records(conversation_records(t))
            n = rec.count()
        with tr.span("pipeline.match_edges"):
            edges = match_edges(rec, n_records=n).localCheckpoint(eager=True)
        with tr.span("operators.clustering.assign"):
            nodes = rec.select(F.col("rid").alias("conv_id"))
            assign = assign_cluster_ids(
                nodes, edges, "conv_id", edges_distinct=True
            ).localCheckpoint(eager=True)
        with tr.span("pipeline.sizes"):
            sizes = assign.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
            if assign.count() <= BROADCAST_MAX_RECORDS:
                sizes = F.broadcast(sizes)
            out = (
                assign.join(sizes, "cluster_id")
                .select("conv_id", "cluster_id", "cluster_size")
                .localCheckpoint(eager=True)
            )
    tr.add("pipeline.records", n)
    tr.add("pipeline.broadcast_side", int(n <= BROADCAST_MAX_RECORDS))
    return rec, edges, out


def count_candidates(tr: Tracer, rec: DataFrame, n: int) -> None:
    """Trace-only counting calls, outside the pass: how many candidate pairs
    each path of ``match_edges`` evaluates, so its yield (edges per
    candidate) is measured where the work happens."""
    small = n <= BROADCAST_MAX_RECORDS
    with tr.span("pipeline.prefix_candidates"):
        # same-block cross-source pairs of the pruned blocks: the rows the
        # in-join Jaccard predicate is evaluated on (a pair sharing k blocks
        # counts k times, as it is evaluated k times)
        slim = pruned_block_rows(rec)
        a = slim.select("bk", F.col("rid").alias("a_rid"), F.col("source").alias("a_source"))
        b = slim.select("bk", F.col("rid").alias("b_rid"), F.col("source").alias("b_source"))
        prefix = a.join(
            F.broadcast(b) if small else b.hint("shuffle_hash"),
            (a.bk == b.bk)
            & (F.col("a_rid") < F.col("b_rid"))
            & (F.col("a_source") != F.col("b_source")),
        ).count()
    with tr.span("operators.blocking.lsh_candidates"):
        lsh = lsh_band_pairs(
            rec.select("rid", "minhash"),
            bands=DEFAULT_LSH_BANDS,
            rows_per_band=1,
            broadcast_ok=small,
        ).count()
    tr.add("pipeline.prefix_candidates.pairs", prefix)
    tr.add("operators.blocking.lsh_candidates.pairs", lsh)


def run_batch(
    spark: SparkSession, input_path: str, meta: dict, seconds: float, tracer: Tracer | None
) -> Outcome:
    t = spark.read.parquet(input_path)
    first_s, out = timed_pass(t)
    rows = collect_rows(out)
    ref = fingerprint(rows)
    errors, f1 = check_output(rows, out, meta["conversations"])
    mismatched = 0
    passes: list[float] = []
    t_loop = time.perf_counter()
    while (
        len(passes) < WARMUP_PASSES + MIN_MEASURED_PASSES
        or time.perf_counter() - t_loop < seconds
    ):
        wall, out = timed_pass(t)
        passes.append(wall)
        if fingerprint(collect_rows(out)) != ref:
            mismatched += 1
            errors.append(f"pass {len(passes) + 1}: output fingerprint differs from the first pass")
    attempted = 1 + len(passes)
    warm = passes[WARMUP_PASSES:]
    step = statistics.median(warm)
    if tracer is not None:
        rec, edges, out = traced_pass(tracer, t)
        attempted += 1
        rows = collect_rows(out)
        if fingerprint(rows) != ref:
            mismatched += 1
            errors.append("traced pass: output fingerprint differs from the untraced passes")
        n = tracer.counts["pipeline.records"]
        count_candidates(tracer, rec, n)
        n_edges = edges.count()
        tracer.add("pipeline.match_edges.edges", n_edges)
        tracer.add("operators.clustering.assign.components", len({r[1] for r in rows}))
        cand = (
            tracer.counts["pipeline.prefix_candidates.pairs"]
            + tracer.counts["operators.blocking.lsh_candidates.pairs"]
        )
        tracer.add("pipeline.match_edges.yield", n_edges / cand if cand else 0.0)
        walls = {s["name"]: s["end"] - s["start"] for s in tracer.spans}
        tracer.add("trace.pass_delta_s", walls["pipeline.pass"] - step)
        layer_sum = sum(walls[name] for name in BATCH_LAYERS)
        tracer.add("pipeline.pass.coverage", layer_sum / step)
    # a wrong first pass makes every pass that reproduces it wrong too
    failed = attempted if len(errors) > mismatched else mismatched
    return Outcome(
        attempted=attempted,
        failed=failed,
        errors=errors,
        e2e={
            "first_s": first_s,
            "step_p50_s": step,
            "turns_per_s": meta["turns"] / step,
            "pair_f1": f1,
        },
        samples={
            "first_pass_s": [first_s],
            "warmup_pass_s": passes[:WARMUP_PASSES],
            "warm_pass_s": warm,
        },
    )


# -- stream ------------------------------------------------------------------


def stage_arrivals(spark: SparkSession, input_path: str, dest: str, n_files: int) -> list[int]:
    """Split the input into ``n_files`` arrival files by
    ``pmod(xxhash64(conv_id, turn_idx), n_files)`` — every conversation is
    spread over (almost) every file, so almost every conversation is revised
    in every micro-batch. Files get increasing mtimes, which fixes the order
    the file source reads them in. Returns the rows per file."""
    split = dest + ".split"
    (
        spark.read.parquet(input_path)
        .withColumn("_slice", F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(n_files)))
        .repartition(n_files, "_slice")
        .write.partitionBy("_slice")
        .parquet(split)
    )
    os.makedirs(dest)
    rows = []
    t0 = time.time() - n_files
    for i in range(n_files):
        (src,) = glob.glob(os.path.join(split, f"_slice={i}", "*.parquet"))
        dst = os.path.join(dest, f"arrival_{i:03d}.parquet")
        shutil.move(src, dst)
        os.utime(dst, (t0 + i, t0 + i))
        rows.append(pq.read_metadata(dst).num_rows)
    shutil.rmtree(split)
    return rows


class TimedJob(IncrementalClusteringJob):
    """The streaming job with each ``process_batch`` call timed from outside."""

    def __init__(self, *args, **kwargs) -> None:
        super().__init__(*args, **kwargs)
        self.batch_walls: list[float] = []

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        t0 = time.perf_counter()
        super().process_batch(batch_df, batch_id)
        self.batch_walls.append(time.perf_counter() - t0)


def stream_probes(tr: Tracer, state_dir: str):
    """Attribute patches that put the streaming layers inside spans."""

    def delta_dir_stats(args, kwargs):
        table, batch_id = args[0], kwargs.get("batch_id", args[4] if len(args) > 4 else None)
        tag = f"{batch_id:010d}"
        for d in os.listdir(table.root):
            if d[1:] == tag:
                files, size = tr.timed_walk(os.path.join(table.root, d))
                tr.add("streaming.sinks.apply_delta.files_written", files)
                tr.add("streaming.sinks.apply_delta.bytes_written", size)

    def state_size(args, kwargs):
        files, size = tr.timed_walk(state_dir)
        tr.peak("streaming.sinks.state_files", files)
        tr.peak("streaming.sinks.state_bytes", size)

    def traced_prune(orig):
        def prune(self, *args, **kwargs):
            before = tr.timed_walk(self.root)[0]
            with tr.span("streaming.sinks.prune"):
                orig(self, *args, **kwargs)
            tr.add("streaming.sinks.prune.files_deleted", before - tr.timed_walk(self.root)[0])

        return prune

    return patched(
        (IncrementalClusteringJob, "process_batch",
         lambda f: tr.wrap("streaming.job.process_batch", f, after=state_size)),
        (SnapshotStateTable, "apply_delta",
         lambda f: tr.wrap("streaming.sinks.apply_delta", f, after=delta_dir_stats)),
        (SnapshotStateTable, "read_for", lambda f: tr.wrap("streaming.sinks.read_for", f)),
        (SnapshotStateTable, "bucket_ids_for",
         lambda f: tr.wrap("streaming.sinks.bucket_ids_for", f)),
        (SnapshotStateTable, "prune", traced_prune),
        (job_module, "connected_components",
         lambda f: tr.wrap("operators.clustering.connected_components", f)),
    )


def run_stream(
    spark: SparkSession, spec: StreamSpec, input_path: str, meta: dict,
    work: str, arrivals: str, file_rows: list[int], tracer: Tracer | None,
) -> Outcome:
    # the reference runs first: it is needed anyway, and it leaves the stream
    # measured in a session whose code paths are warm, like a long-running job
    ref = collect_rows(
        match_conversations(spark.read.parquet(input_path))
        .select("conv_id", "cluster_id")
    )
    state = os.path.join(work, "state")
    job = TimedJob(spark, state)
    for table in vars(job).values():
        if isinstance(table, SnapshotStateTable):
            table.compact_every = spec.compact_every
    errors = []
    probes = stream_probes(tracer, state) if tracer is not None else contextlib.nullcontext()
    with probes:
        t0 = time.perf_counter()
        q = job.start(arrivals, os.path.join(work, "ckpt"), max_files_per_trigger=1)
        q.awaitTermination(STREAM_TIMEOUT_S)
        wall = time.perf_counter() - t0
        if q.isActive:
            q.stop()
            errors.append(f"stream still running after {STREAM_TIMEOUT_S} s")
    if q.exception() is not None:
        errors.append(f"stream failed: {q.exception()}")
    walls = job.batch_walls
    if len(walls) < 2:
        raise RuntimeError(f"{len(walls)} of {spec.n_files} micro-batches ran; {errors}")
    failed = spec.n_files - len(walls)
    final = job.result()
    if final is None:
        raise RuntimeError("the stream committed no assignments")
    rows = collect_rows(final.select("conv_id", "cluster_id"))
    out_errors, f1 = check_output(rows, final, meta["conversations"])
    if sorted(rows) != sorted(ref):
        out_errors.append(
            f"final assignments differ from match_conversations on the same rows "
            f"({len(set(rows) ^ set(ref))} rows in one but not the other)"
        )
    if out_errors:
        failed = spec.n_files  # the stream's result as a whole is wrong
    errors += out_errors
    if tracer is not None:
        spans = [s for s in tracer.spans if s["name"] == "streaming.job.process_batch"]
        tracer.add("streaming.job.process_batch.jobs_per_batch",
                   statistics.median(s["jobs"] for s in spans))
        tracer.add("streaming.job.process_batch.rows_per_batch", statistics.median(file_rows))
    return Outcome(
        attempted=spec.n_files,
        failed=failed,
        errors=errors,
        e2e={
            "first_s": walls[0],
            "step_p50_s": statistics.median(walls[1:]),
            "turns_per_s": sum(file_rows) / wall,
            "pair_f1": f1,
        },
        samples={"batch_s": walls, "stream_s": [wall]},
    )

