#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload er_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Set-up (Spark session, seeded inputs
written to parquet, one untimed warm-up unit) is timed as ``setup_s``;
then units run back to back until ``--seconds`` have passed (at least
one). Every unit's output is checked. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` turns on the Spark event log, traces
units for ``--seconds`` between two untraced units (their mean is the
reference for the tracing overhead), prints the per-layer metrics and
writes every span to ``.perfbench/traces/``.

All scratch files live under ``.perfbench/`` in the checkout and the work
directory is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

END_TO_END = {
    "turns_per_s": "turns/s",
    "pair_recall": "ratio",
    "pair_f1": "ratio",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "canonicalize.wall_s": "s",
    "canonicalize.task_s": "s",
    "canonicalize.records_out": "count",
    "blocking.wall_s": "s",
    "blocking.task_s": "s",
    "blocking.shuffle_bytes": "bytes",
    "blocking.spill_bytes": "bytes",
    "blocking.candidates": "count",
    "blocking.golden_per_candidate": "ratio",
    "matcher.train_s": "s",
    "matcher.score_wall_s": "s",
    "matcher.task_s": "s",
    "matcher.pairs_scored": "count",
    "clustering.threshold_s": "s",
    "clustering.umc_wall_s": "s",
    "clustering.cc_wall_s": "s",
    "clustering.jobs": "count",
    "catalog.commit_s": "s",
    "catalog.commit_calls": "count",
    "catalog.append_s": "s",
    "catalog.append_calls": "count",
    "catalog.read_s": "s",
    "catalog.read_calls": "count",
    "catalog.bytes_written": "bytes",
    "stream.batch_s": "s",
    "stream.jobs_per_batch": "count",
    "stream.candidates": "count",
    "stream.verify_precision": "ratio",
    "stream.dup_recall": "ratio",
    "pipeline.jobs": "count",
    "pipeline.tasks": "count",
    "pipeline.gap_s": "s",
    "pipeline.unattributed_job_s": "s",
    "pipeline.accounted_share": "ratio",
    "dedup.jaccard_wall_s": "s",
    "dedup.jaccard_task_s": "s",
    "dedup.jaccard_shuffle_bytes": "bytes",
    "dedup.minhash_wall_s": "s",
    "dedup.minhash_task_s": "s",
    "dedup.minhash_shuffle_bytes": "bytes",
    "simsearch.embed_wall_s": "s",
    "simsearch.ann_wall_s": "s",
    "simsearch.ann_task_s": "s",
    "gridsweep.cells": "count",
    "gridsweep.cell_skew": "ratio",
    "spark.gc_s": "s",
    "spark.failed_tasks": "count",
    "trace.unit_s": "s",
    "trace.untraced_unit_s": "s",
    "trace.overhead_s": "s",
}


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def _descendants(pid: int) -> list[int]:
    out, todo = [], _children(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def reset_peak_rss(pid: int) -> None:
    """Set the resident-memory high-water mark (VmHWM) of ``pid`` and every
    process under it (the Spark JVM and its Python workers) back to each
    one's current resident size."""
    for p in [pid] + _descendants(pid):
        try:
            with open(f"/proc/{p}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


def peak_rss_kb(pid: int) -> int:
    """Sum of VmHWM over ``pid`` and every process under it. Read right
    after the measured units, while the Python workers are still alive;
    with :func:`reset_peak_rss` before the units, it is the peak of the
    measured units (and their checks), not of set-up."""
    total = 0
    for p in [pid] + _descendants(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                total += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
    return total


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM it launched and wait until the JVM and its
    Python workers have exited."""
    from pyspark import SparkContext

    spawned = _descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        # the JVM exits when the pipe to its stdin closes
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while any(_alive(p) for p in spawned) and time.monotonic() < deadline:
        time.sleep(0.1)


def parse_args(argv=None):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(work: Path, trace: bool):
    """The engine's own session factory on local[nproc], with every scratch
    path inside the checkout."""
    # Python workers import the engine (and the cell timer) from the checkout
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join([str(ROOT)] + [p for p in paths if p != str(ROOT)])
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None  # make tempfile re-read TMPDIR even if it cached /tmp already
    for d in ("spark-local", "tmp", "events"):
        (work / d).mkdir(parents=True, exist_ok=True)
    from ertransfer_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": str(work / "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", cpus=os.cpu_count(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_units(wl, seconds: float, tracer=None) -> list:
    """Closed loop: run units back to back until ``seconds`` have passed
    (at least one). A unit that raises counts all its operations as
    failed."""
    results = []
    t_end = time.perf_counter() + seconds
    while not results or time.perf_counter() < t_end:
        if tracer is not None:
            tracer.run = f"u{len(results)}"
        try:
            results.append(wl.unit(tracer))
        except Exception:  # noqa: BLE001 — a failing unit is a counted failure
            traceback.print_exc(file=sys.stderr)
            results.append(None)
    return results


def summarize_checks(results, ops_per_unit: int) -> tuple[int, int]:
    attempted = failed = 0
    print("perfbench: unit walls " + ", ".join(
        "failed" if r is None else f"{r.wall_s:.2f} s" for r in results), file=sys.stderr)
    for r in results:
        attempted += ops_per_unit if r is None else r.ops
        failed += ops_per_unit if r is None else len(r.failed)
        for msg in ([] if r is None else r.failed):
            print(f"check failed: {msg}", file=sys.stderr)
    return attempted, failed


def main(argv=None) -> int:
    sys.path.insert(0, str(ROOT))
    try:
        import ertransfer_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import tracing
    from perfbench.workloads import WORKLOADS

    args = parse_args(argv)
    work = ROOT / ".perfbench" / f"work-{os.getpid()}"
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, bool(args.trace))
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, str(work), args.seed, traced=bool(args.trace))
        wl.setup()
        inputs_s = time.perf_counter() - t0 - session_s
        warm = wl.unit()
        if warm.failed:
            raise RuntimeError(f"warm-up unit failed its checks: {warm.failed}")
        setup_s = time.perf_counter() - t0
        print(f"perfbench: session {session_s:.1f} s, inputs {inputs_s:.1f} s, "
              f"warm-up unit {warm.wall_s:.1f} s", file=sys.stderr)

        if not args.trace:
            reset_peak_rss(os.getpid())
            results = run_units(wl, args.seconds)
            rss_kb = peak_rss_kb(os.getpid())
            attempted, failed = summarize_checks(results, warm.ops)
            ok = [r for r in results if r is not None]
            metrics = {
                "turns_per_s": sum(r.turns for r in ok) / sum(r.wall_s for r in ok) if ok else 0.0,
                "pair_recall": statistics.median(r.pair_recall for r in ok) if ok else 0.0,
                "pair_f1": statistics.median(r.pair_f1 for r in ok) if ok else 0.0,
                "peak_rss_mb": rss_kb / 1024.0,
                "setup_s": setup_s,
            }
            units = END_TO_END
        else:
            # untraced units on both sides of the traced ones, so JIT
            # warm-up still in progress does not read as tracing overhead
            untraced = [wl.unit()]
            tracer = tracing.Tracer(spark)
            results = run_units(wl, args.seconds, tracer)
            untraced.append(wl.unit())
            attempted, failed = summarize_checks(results + untraced, warm.ops)
            stop_spark(spark)
            spark = None
            log = tracing.parse_event_log(tracing.event_log_file(str(work / "events")))
            per_unit = []
            for i, r in enumerate(results):
                if r is None:
                    continue
                spans = [s for s in tracer.spans if s.run == f"u{i}"]
                per_unit.append({**r.layer_counts, **wl.layer_metrics(spans, log),
                                 "trace.unit_s": r.wall_s})
            metrics = {name: 0.0 for name in PER_LAYER}
            for name in PER_LAYER:
                vals = [u[name] for u in per_unit if name in u]
                if vals:
                    metrics[name] = statistics.median(vals)
            metrics["session.start_s"] = session_s
            metrics["trace.untraced_unit_s"] = statistics.mean(u.wall_s for u in untraced)
            metrics["trace.overhead_s"] = metrics["trace.unit_s"] - metrics["trace.untraced_unit_s"]
            write_trace(args, tracer, metrics)
            units = PER_LAYER
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


def write_trace(args, tracer, metrics: dict) -> None:
    from perfbench import tracing

    out = ROOT / ".perfbench" / "traces"
    out.mkdir(parents=True, exist_ok=True)
    path = out / f"{args.workload}-seed{args.seed}.json"
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "metrics": metrics,
                   "spans": [{**s.as_dict(), "self_s": tracing.self_time(s, tracer.spans)}
                             for s in tracer.spans]}, f, indent=1)
    print(f"perfbench: spans written to {path.relative_to(ROOT)}", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
