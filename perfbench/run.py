"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload batch_small --seed 42 --seconds 10 --trace 0

Run from the repository root. The seed makes the input
(``generate_transcripts(sf, seed)``); ``--seconds`` bounds the warm-pass loop
of the batch workloads; ``--trace 1`` adds the layer-by-layer replay and
reports per-layer metrics instead of end-to-end ones. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``. The exit code is 1 when an output is wrong and 2 when the
run cannot start (no program to measure, or an input on the wrong side of
the broadcast gate). Everything the run writes stays under ``.bench_work/``
(deleted at exit) and ``.bench_out/`` (one JSON record per run, with the
environment block, samples and spans).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM = "mapping_analysis_spark"


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0 or args.seconds < 1:
        ap.error("--seed must be >= 0 and --seconds >= 1")
    return args


def mount_of(path: str) -> str:
    """Filesystem type and mount options of the mount holding ``path``
    (``discard`` makes every unlink of a written-back file slow)."""
    path = os.path.realpath(path)
    best = ("", "unknown")
    with open("/proc/mounts") as f:
        for line in f:
            dev, mnt, fs, opts = line.split()[:4]
            inside = path == mnt or path.startswith(mnt.rstrip("/") + "/")
            if inside and len(mnt) >= len(best[0]):
                best = (mnt, f"{mnt} {fs} {opts}")
    return best[1]


def environment(spark, args, work: str, cores: int) -> dict:
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        commit = None
    with open("/proc/meminfo") as f:
        ram_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    jvm = spark._jvm.java.lang.System
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cores,
        "master": spark.sparkContext.master,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "spark": spark.version,
        "java": jvm.getProperty("java.version"),
        "ram_gb": round(ram_kb / 2**20, 1),
        "state_dir_mount": mount_of(work),
        "temp_dir_mount": mount_of(os.path.join(work, "tmp")),
        "commit": commit or "unknown (not a git checkout)",
    }


def start_session(work: str, cores: int):
    """The program's own session factory on ``local[cores]``, with every
    scratch location Spark and the JVM use moved under ``work``."""
    from mapping_analysis_spark.session import get_spark

    jtmp = os.path.join(work, "jtmp")
    os.makedirs(jtmp)
    return get_spark(
        app_name="perfbench",
        cores=cores,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of the driver JVM plus this Python driver."""
    with open(f"/proc/{jvm_pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def print_report(record: dict) -> None:
    from perfbench.metrics import E2E, SPAN_LAYERS
    from perfbench.stats import tail_percentile

    env = record["env"]
    print(f"perfbench {env['workload']} seed={env['seed']} trace={env['trace']} on {env['master']}")
    print("env " + json.dumps(env))
    units = {name: unit for name, unit, _ in E2E}
    for name, value in record["e2e"].items():
        print(f"  {name:<14}{value:>16.6f} {units[name]}")
    print(f"  {'peak_rss_mb':<14}{record['peak_rss_mb']:>16.6f} MB (driver JVM + Python driver)")
    for name, xs in record["samples"].items():
        tp = tail_percentile(xs)
        tail = (
            f"p{tp['tail_p']:g}={tp['tail']:.3f}" if tp["tail_p"]
            else "no percentile above p50 has >=10 samples beyond it"
        )
        print(f"  {name}: n={tp['n']} p50={tp['p50']:.3f} {tail}; samples {[round(x, 3) for x in xs]}")
    if "layers" in record:
        print(f"  {'layer':<44}{'wall_s':>9}{'self_s':>9}{'calls':>6}{'jobs':>6}{'stages':>7}"
              f"{'task_s':>9}{'shuf_rd_MB':>11}{'shuf_wr_MB':>11}")
        for layer in SPAN_LAYERS:
            v = record["layers"].get(layer)
            if v:
                print(f"  {layer:<44}{v['wall_s']:>9.3f}{v['self_s']:>9.3f}{v['calls']:>6}"
                      f"{v['jobs']:>6}{v['stages']:>7}{v['task_s']:>9.2f}"
                      f"{v['shuffle_read_bytes'] / 1e6:>11.1f}{v['shuffle_write_bytes'] / 1e6:>11.1f}")
        for name, value in record["counts"].items():
            print(f"  {name:<44}{value:>16.6g}")
    if record.get("missing_stages"):
        print(f"  WARNING: {record['missing_stages']} stages were no longer in the status store")
    for err in record["errors"]:
        print(f"  CHECK FAILED: {err}")


def run(args: argparse.Namespace) -> int:
    from perfbench import metrics
    from perfbench.trace import Tracer
    from perfbench.workloads import (
        WORKLOADS, BatchSpec, check_input_side, run_batch, run_stream, stage_arrivals,
    )

    spec = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    shutil.rmtree(os.path.join(ROOT, ".bench_work"), ignore_errors=True)  # a killed run's leftovers
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    t = time.perf_counter()
    input_dir = os.path.join(work, "input")
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "gen.py"),
         "--sf", str(spec.sf), "--seed", str(args.seed), "--out", input_dir],
        check=True,
    )
    with open(os.path.join(input_dir, "meta.json")) as f:
        meta = json.load(f)
    input_path = os.path.join(input_dir, "transcripts.parquet")
    gen_s = time.perf_counter() - t
    if isinstance(spec, BatchSpec):
        try:
            check_input_side(spec, meta["conversations"])
        except ValueError as e:
            print(f"perfbench: invalid input: {e}", file=sys.stderr)
            shutil.rmtree(work, ignore_errors=True)
            return 2

    t = time.perf_counter()
    spark = start_session(work, cores)
    session_s = time.perf_counter() - t
    try:
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        staging = []
        if isinstance(spec, BatchSpec):
            for _ in range(3):
                t = time.perf_counter()
                n = spark.read.parquet(input_path).count()
                staging.append(time.perf_counter() - t)
                if n != meta["turns"]:
                    raise RuntimeError(f"staged {n} turns of {meta['turns']}")
        else:
            for i in range(3):
                t = time.perf_counter()
                file_rows = stage_arrivals(
                    spark, input_path, os.path.join(work, f"arrivals{i}"), spec.n_files
                )
                staging.append(time.perf_counter() - t)
                if sum(file_rows) != meta["turns"]:
                    raise RuntimeError(f"staged {sum(file_rows)} turns of {meta['turns']}")
        tracer = Tracer(spark, f"{args.workload}-{args.seed}-{os.getpid()}") if args.trace else None
        if isinstance(spec, BatchSpec):
            outcome = run_batch(spark, input_path, meta, args.seconds, tracer)
        else:
            outcome = run_stream(
                spark, spec, input_path, meta, work, os.path.join(work, "arrivals0"),
                file_rows, tracer,
            )
        e2e = {"setup_s": session_s + statistics.median(staging), **outcome.e2e}
        record = {
            "env": environment(spark, args, work, cores),
            "input": {**meta, "sf": spec.sf, "generate_s": gen_s},
            "e2e": {name: e2e[name] for name, _, _ in metrics.E2E},
            "peak_rss_mb": peak_rss_mb(jvm_pid),
            "samples": {"session_s": [session_s], "staging_s": staging, **outcome.samples},
            "errors": outcome.errors,
        }
        if tracer is not None:
            tracer.resolve()
            tracer.add("session.peak_rss_mb", record["peak_rss_mb"])
            tracer.add("trace.overhead_s", tracer.overhead_s)
            record["layers"] = tracer.layers()
            record["counts"] = tracer.counts
            record["missing_stages"] = tracer.missing_stages
            record["spans"] = tracer.spans
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    if tracer is None:
        values = record["e2e"]
        units = {name: unit for name, unit, _ in metrics.E2E}
    else:
        values = metrics.layer_values(record["layers"], record["counts"])
        units = {name: unit for name, unit, _ in metrics.per_layer()}
    correct = not outcome.errors and outcome.failed == 0
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print_report(record)
    print(json.dumps({
        "correct": correct,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {name: {"value": values[name], "unit": units[name]} for name in values},
    }), flush=True)
    return 0 if correct else 1


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, ROOT)
    if not os.path.isfile(os.path.join(ROOT, PROGRAM, "__init__.py")):
        print(f"perfbench: no {PROGRAM} package under {ROOT}; nothing to measure", file=sys.stderr)
        return 2
    args = parse_args(argv)
    # Python workers are forked from the JVM with its environment: without
    # the repository root on PYTHONPATH they cannot import the program's
    # UDF modules.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    try:
        return run(args)
    except Exception:
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
