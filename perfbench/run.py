#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload replay_trickle --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the workload's inputs from the seed,
measures for ``--seconds``, checks the outputs, and prints one JSON object
as the last line of stdout: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Progress and a readable summary go to stderr.
All scratch data (inputs, tables, checkpoints, shuffle files, Spark event
log, span dumps) lives under ``.perfbench_work/`` in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

WORKLOADS = ("replay_trickle", "xml_ingest")

END_TO_END = {
    "setup_s": "s",
    "events_per_s": "1/s",
    "freshness_s_p50": "s",
    "freshness_s_p90": "s",
    "lookup_s_p50": "s",
    "write_amp": "B/B",
}

PER_LAYER = {
    "tailer.epochs": "count",
    "tailer.files_per_epoch": "count",
    "tailer.wait_s": "s",
    "tailer.self_s": "s",
    "pipeline.apply_s": "s",
    "pipeline.self_s": "s",
    "table.merge_s": "s",
    "table.rows_written_per_epoch": "count",
    "table.rows_carried_per_epoch": "count",
    "table.files_written_per_epoch": "count",
    "table.bytes_written_per_epoch": "B",
    "table.manifest_calls_per_epoch": "count",
    "table.manifest_s": "s",
    "table.live_files": "count",
    "table.lookup_files_read": "count",
    "table.lookup_files_live": "count",
    "table.lookup_s_p90": "s",
    "replay.apply_s": "s",
    "lww.shuffle_bytes": "B",
    "lww.shuffle_records": "count",
    "lww.combine_ratio": "ratio",
    "lww.task_skew": "ratio",
    "sources.parse_s": "s",
    "sources.entities_per_zip": "count",
    "sources.quarantined_ratio": "ratio",
    "entity.apply_s": "s",
    "entity.merges_per_epoch": "count",
    "schema.infer_s": "s",
    "schema.columns_added": "count",
    "session.peak_rss_mb": "MiB",
    "session.cpu_steal": "ratio",
    "setup.session_s": "s",
    "setup.generate_s": "s",
    "setup.preload_s": "s",
    "setup.warmup_s": "s",
}

SETUP_PARTS = ("setup.session_s", "setup.generate_s", "setup.preload_s", "setup.warmup_s")


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=None,
                    help="Spark local[N] threads (default: CPUs this process may use)")
    return ap.parse_args(argv)


def _session(work: str, cores: int, trace: bool):
    from data_hub_ejp_xml_pipeline_spark.session import get_spark

    for d in ("spark-local", "tmp", "eventlog", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # shuffle files, JVM and Python temp files stay inside the work dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # session.get_spark defaults the JVM heap to 48g; bound it for a
    # 4-core / 15 GB machine shared with other jobs
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)


def _stop_spark(spark) -> None:
    """Stop the session, the JVM it launched and the JVM's Python workers;
    wait until every one of them has exited."""
    from pyspark import SparkContext

    from perfbench.common import descendants

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    workers = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gw is None:
        return
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # must not leave the JVM behind
            proc.kill()
            proc.wait()
    deadline = time.time() + 10
    for pid in workers:  # Python workers exit once the JVM is gone
        while _alive(pid) and time.time() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)


def _alive(pid: int) -> bool:
    """``pid`` is still one of Spark's Python workers (not a reused pid)."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return b"pyspark" in fh.read()
    except OSError:
        return False


def main(argv=None) -> int:
    args = _parse(argv)
    trace = bool(args.trace)
    try:
        import data_hub_ejp_xml_pipeline_spark  # noqa: F401
        from perfbench import workloads
        from perfbench.common import Ctx, cpu_steal_ticks, log, peak_rss_mb
        from perfbench.trace import Tracer, lww_stage_metrics
    except ImportError as exc:
        print(f"[perfbench] cannot import the engine package from {os.getcwd()}: {exc}",
              file=sys.stderr)
        return 3

    root = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(root, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = args.cores or len(os.sched_getaffinity(0))

    steal0, total0 = cpu_steal_ticks()
    t0 = time.time()
    spark = _session(work, cores, trace)
    ctx = Ctx(spark, args.seed, args.seconds, Tracer(trace), work)
    ctx.layers["setup.session_s"] = time.time() - t0
    log(f"{args.workload} seed={args.seed} local[{cores}] trace={args.trace}")
    try:
        getattr(workloads, args.workload)(ctx)
        ctx.layers["session.peak_rss_mb"] = peak_rss_mb()
        steal1, total1 = cpu_steal_ticks()
        ctx.layers["session.cpu_steal"] = (steal1 - steal0) / max(total1 - total0, 1)
    except Exception:  # noqa: BLE001 — report, print no result
        traceback.print_exc()
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        return 1
    _stop_spark(spark)

    ctx.metrics["setup_s"] = sum(ctx.layers.get(k, 0.0) for k in SETUP_PARTS)
    if trace and ctx.epoch_events:
        ctx.layers.update(lww_stage_metrics(os.path.join(work, "eventlog"), ctx.epoch_events))
    if trace:
        os.makedirs(os.path.join(root, "traces"), exist_ok=True)
        ctx.tracer.dump(os.path.join(root, "traces", f"{args.workload}-{args.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    for what in ctx.failures:
        log(f"FAILED: {what}")
    # the bounded end-to-end set plus the user-facing numbers too noisy
    # (or too thinly sampled) to bound: lookup p90, peak RSS, failure ratio
    summary = {k: f"{ctx.metrics.get(k, 0.0):.6g} {u}" for k, u in END_TO_END.items()}
    if args.workload == "xml_ingest":
        summary["entities_per_s"] = f"{ctx.metrics.get('events_per_s', 0.0):.6g} 1/s"
    summary["lookup_s_p90"] = f"{ctx.layers.get('table.lookup_s_p90', 0.0):.6g} s"
    summary["peak_rss_mb"] = f"{ctx.layers.get('session.peak_rss_mb', 0.0):.6g} MiB"
    summary["failed_ops_ratio"] = f"{ctx.failed / max(ctx.attempted, 1):.6g} ratio"
    summary["cpu_steal"] = f"{ctx.layers.get('session.cpu_steal', 0.0):.3g} ratio"
    log("end-to-end " + ("(traced) " if trace else "") + json.dumps(summary))
    log("layers " + json.dumps(ctx.layers, sort_keys=True))

    names = PER_LAYER if trace else END_TO_END
    metrics = {}
    for name, unit in names.items():
        value = (ctx.layers if trace else ctx.metrics).get(name, 0.0)
        metrics[name] = {"value": value, "unit": unit}
    print(json.dumps({
        "correct": ctx.failed == 0 and ctx.attempted > 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
