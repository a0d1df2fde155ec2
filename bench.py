#!/usr/bin/env python
"""Benchmark harness (driver contract: prints ONE JSON line).

Measures:
* headline query latencies at $SPARK_GRAFT_SF_DIR (default sf0.1) on
  local[$SPARK_GRAFT_CPUS];
* the primary BASELINE.json metric — sustained change-events/sec applied
  to the snapshot table (reduce + bucketed MERGE, 4 microbatches) on a
  deterministic generated changelog;
* scaling evidence per the north rule: the same apply job at two N→4N
  thread pairs — 8→32 (headline) and 4→16 (where round-1 calibration
  shows this VM can still scale); efficiency = (thpt@4N / thpt@N) / 4,
  reported against CPU and shuffle-shaped machine ceilings.

Output contract: the FINAL stdout line is ONE compact JSON object
(metric/value/unit/queries/sf + scaling summary). Full per-trial detail
is printed on an earlier "DETAIL " line and written to BENCH_DETAIL.json.

Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
SPARK_GRAFT_BENCH_EVENTS (default 1,000,000),
SPARK_GRAFT_BENCH_SCALING=0 to skip the multi-parallelism run,
SPARK_GRAFT_BENCH_QUERY_TRIALS (default 3, median reported).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_EVENTS = int(os.environ.get("SPARK_GRAFT_BENCH_EVENTS", "1000000"))
# scaling needs enough per-batch work to expose parallelism (fixed
# per-batch driver cost dominates below ~1M events/batch)
SCALING_EVENTS = int(os.environ.get("SPARK_GRAFT_BENCH_SCALING_EVENTS", "4000000"))
DO_SCALING = os.environ.get("SPARK_GRAFT_BENCH_SCALING", "1") != "0"

HEADLINE = [
    "lww_latest_event",
    "lww_salted",
    "cdc_engine_final_state",
    "cdc_mor_final_state",
    "tpch_q1",
    "top_orders_by_revenue",
    "sessionize",
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_quality",
    "token_count",
    "ann_brute_force",
    "ann_ivf",
    "sequence_pack",
    "sequence_pack_tokens",
    "pii_scrub",
    "decontaminate",
    "multimodal_decode",
    "cdc_point_lookup",
    "ivm_group_totals",
    "cdc_changefeed",
    "cdc_scd2_history",
    "cdc_txn_atomic",
    "cdc_snapshot_bootstrap",
    "cdc_secondary_index",
    "cdc_dlq_rejects",
    "partial_update_resolve",
    "cdc_delete_where",
    "cdc_schema_drift",
    "windowed_rollup_stream",
    "cdc_scd2_as_of",
    "cdc_maintenance_loop",
]

# per-query trials: the sandbox VM is noisy (identical runs vary 2-3x);
# MEDIAN-of-N damps it without letting one lucky trial set the headline,
# and the recorded trials expose the spread so a sub-second "regression"
# can be read against the noise band
QUERY_TRIALS = int(os.environ.get("SPARK_GRAFT_BENCH_QUERY_TRIALS", "3"))


def _bench_tmpdir() -> str:
    """tmpfs when available: the bench measures compute + shuffle, not the
    sandbox's virtual disk."""
    if os.path.isdir("/dev/shm"):
        d = "/dev/shm/spark_graft_bench"
        os.makedirs(d, exist_ok=True)
        return d
    return tempfile.gettempdir()


def _fresh_spark(threads: int):
    from data_hub_ejp_xml_pipeline_spark.session import get_spark

    return get_spark(
        app_name=f"bench-{threads}",
        master=f"local[{threads}]",
        shuffle_partitions=max(threads, 8),
        extra_conf={"spark.local.dir": os.path.join(_bench_tmpdir(), "spark-local")},
    )


def cpu_calibration(threads_list=(8, 32)) -> dict[str, float]:
    """Pure-CPU, shuffle-free Spark job: measures what THIS machine can
    actually scale (SMT, steal, neighbors) — the ceiling any job has.
    INTERLEAVED rounds (like the apply scaling) so one VM contention
    window cannot depress a single thread count and fake a >1 or <<1
    ceiling."""
    best: dict[int, float] = {k: 1e18 for k in threads_list}
    for _round in range(2):
        for k in threads_list:
            s = _fresh_spark(k)
            df = s.range(0, 400_000_000, numPartitions=max(k * 4, 16))
            expr = "sum(pmod(xxhash64(id, id+1, id+2), 1000000007)) s"
            df.selectExpr(expr).collect()  # warm
            for _ in range(2):
                t0 = time.time()
                df.selectExpr(expr).collect()
                best[k] = min(best[k], time.time() - t0)
            s.stop()
    return {f"local[{k}]": round(v, 3) for k, v in best.items()}


def shuffle_calibration(changelog_dir: str, threads_list=(8, 32)) -> dict[str, float]:
    """Speed-of-light for a job of the APPLY'S dataflow shape on THIS
    machine: scan the same changelog parquet, hash-shuffle it on the key
    with a map-side-combining aggregate carrying the token payload, write
    the result to tmpfs parquet. Any CDC apply — any engine — must do at
    least this; its 8→32 scaling is the fair ceiling for the apply job
    (the pure-ALU xxhash calibration scales further because it moves no
    memory: parquet decode + shuffle + write saturate the VM's memory
    bandwidth well before its 32 hardware threads). INTERLEAVED rounds +
    best-of like cpu_calibration."""
    best: dict[int, float] = {k: 1e18 for k in threads_list}
    out = os.path.join(_bench_tmpdir(), "shufcal-out")
    for _round in range(2):
        for k in threads_list:
            s = _fresh_spark(k)
            from pyspark.sql import functions as F

            df = s.read.parquet(changelog_dir)
            expr = [F.max("lsn").alias("lsn"), F.max_by("tokens", "lsn").alias("tokens")]
            df.limit(1000).groupBy("doc_id").agg(*expr).count()  # warm codegen
            for _ in range(2):
                t0 = time.time()
                df.groupBy("doc_id").agg(*expr).write.mode("overwrite").parquet(out)
                best[k] = min(best[k], time.time() - t0)
            s.stop()
    shutil.rmtree(out, ignore_errors=True)
    return {f"local[{k}]": round(v, 3) for k, v in best.items()}


def kernel_once(spark, changelog_dir: str, warm: bool = False) -> float:
    """ONE timed run of the shuffle-calibration kernel (scan the same
    changelog → hash-shuffle on the key with a map-side-combining
    max/max_by agg → write tmpfs parquet) IN the headline session. This
    is the same-window control the apply headline normalizes against:
    raw ev/s on this VM swings 2-3x with neighbor contention, and the r4
    round lost a cycle to exactly that — ``apply_over_kernel`` (the
    headline's primary cross-round form) divides the window out, because
    the kernel rides the same contention as the apply it accompanies."""
    from pyspark.sql import functions as F

    out = os.path.join(_bench_tmpdir(), "kernel-out")
    df = spark.read.parquet(changelog_dir)
    expr = [F.max("lsn").alias("lsn"), F.max_by("tokens", "lsn").alias("tokens")]
    if warm:
        df.limit(1000).groupBy("doc_id").agg(*expr).count()
    t0 = time.time()
    df.groupBy("doc_id").agg(*expr).write.mode("overwrite").parquet(out)
    elapsed = time.time() - t0
    shutil.rmtree(out, ignore_errors=True)
    return round(elapsed, 3)


def run_headline_queries(spark) -> dict[str, float]:
    from data_hub_ejp_xml_pipeline_spark.queries import QUERIES

    # measurement hygiene: pay the one-time costs (parquet listing/footers,
    # window/agg codegen, Arrow path init) before the per-query timers so
    # the first query in the list isn't charged session warmup
    for t in ("events", "documents", "embeddings", "lineitem", "orders"):
        spark.read.parquet(os.path.join(SF_DIR, f"{t}.parquet")).count()
    spark.range(1000).groupBy("id").count().count()
    # merge-path codegen (cdc_engine_final_state runs 3 real merges)
    from pyspark.sql import functions as F

    from data_hub_ejp_xml_pipeline_spark.plans.pipeline import MergePipeline

    wroot = os.path.join(_bench_tmpdir(), "warm-tbl")
    shutil.rmtree(wroot, ignore_errors=True)
    wpipe = MergePipeline(spark, wroot + "/t", n_buckets=4)
    warm_batch = spark.range(0, 2000).select(
        F.col("id").alias("lsn"), F.lit("U").alias("op"),
        F.col("id").cast("string").alias("doc_id"),
        F.array(F.lit(1)).alias("tokens"), F.lit(1).alias("n_tok"),
        F.lit("w").alias("source"),
    )
    wpipe.apply(warm_batch, batch_id=0)
    shutil.rmtree(wroot, ignore_errors=True)

    times: dict[str, float] = {}
    trials: dict[str, list[float]] = {}
    for name in HEADLINE:
        fn, _ = QUERIES[name]
        ts = []
        for _ in range(QUERY_TRIALS):
            t0 = time.time()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            ts.append(round(time.time() - t0, 3))
        times[name] = round(statistics.median(ts), 3)
        trials[name] = ts
    return times, trials


def ensure_changelog(spark, out_dir: str, n_events: int) -> str:
    """Generate the deterministic changelog once (generation excluded from
    the timed apply)."""
    from data_hub_ejp_xml_pipeline_spark.generator import generate_changelog_df

    marker = os.path.join(out_dir, "_DONE")
    if os.path.exists(marker):
        return out_dir
    shutil.rmtree(out_dir, ignore_errors=True)
    df = generate_changelog_df(spark, n_events, num_partitions=max(CPUS * 2, 16))
    df.write.mode("overwrite").parquet(out_dir)
    with open(marker, "w") as fh:
        fh.write("ok")
    return out_dir


def cdc_apply(spark, changelog_dir: str, n_events: int, n_batches: int = 4,
              n_buckets: int = 16, warmup: bool = True) -> dict[str, float]:
    """The primary metric: reduce + MERGE n_batches microbatches into a
    fresh snapshot table; report events/sec. A small warmup apply first
    pays JIT/codegen once (steady-state throughput is what a long-running
    tailer sees).

    ``n_buckets`` is sized for the DATA, exactly as it would be at 100 TB
    (target ~100-500 MB per file): at the bench's few-hundred-k-row final
    state, 16 buckets measured ~40% faster than 64 — per-file fixed cost
    (footer stats, commit bookkeeping) dominates once files get tiny."""
    from pyspark.sql import functions as F

    from data_hub_ejp_xml_pipeline_spark.plans.pipeline import MergePipeline

    changelog = spark.read.parquet(changelog_dir)
    if warmup:
        wroot = tempfile.mkdtemp(prefix="bench-warm-")
        wpipe = MergePipeline(spark, wroot + "/tbl", n_buckets=n_buckets)
        wpipe.apply(changelog.filter(F.col("lsn") <= n_events // 10), batch_id=0)
        shutil.rmtree(wroot, ignore_errors=True)

    root = tempfile.mkdtemp(prefix="bench-tbl-")
    pipe = MergePipeline(spark, root + "/tbl", n_buckets=n_buckets)
    step = n_events // n_batches + 1
    t0 = time.time()
    for i in range(n_batches):
        batch = changelog.filter(
            (F.col("lsn") > i * step) & (F.col("lsn") <= (i + 1) * step)
        )
        pipe.apply(batch, batch_id=i)
    elapsed = time.time() - t0
    rows = pipe.final_state().count()
    shutil.rmtree(root, ignore_errors=True)
    return {
        "elapsed_sec": round(elapsed, 3),
        "events_per_sec": round(n_events / elapsed, 1),
        "final_rows": rows,
    }


def streaming_apply(spark, changelog_dir: str, n_events: int,
                    files_per_trigger: int = 16, n_buckets: int = 32) -> dict:
    """The north star measured AS A STREAM: ChangelogTailer drains the
    changelog directory through readStream + foreachBatch into a fresh
    snapshot table (exactly-once ledger active), availableNow. Reports
    end-to-end events/sec including checkpoint + commit overhead.
    Env-gated (SPARK_GRAFT_BENCH_STREAMING=1): the batch cdc_apply above
    measures the same merge path without streaming machinery."""
    from data_hub_ejp_xml_pipeline_spark.plans.pipeline import MergePipeline
    from data_hub_ejp_xml_pipeline_spark.streaming.tailer import ChangelogTailer

    root = tempfile.mkdtemp(prefix="bench-stream-", dir=_bench_tmpdir())
    pipe = MergePipeline(spark, root + "/tbl", n_buckets=n_buckets)
    tailer = ChangelogTailer(spark, pipe)
    t0 = time.time()
    q = tailer.start(changelog_dir, root + "/ckpt", available_now=True,
                     max_files_per_trigger=files_per_trigger)
    q.awaitTermination()
    elapsed = time.time() - t0
    out = {
        "elapsed_sec": round(elapsed, 3),
        "events_per_sec": round(n_events / elapsed, 1),
        "n_epochs": len(tailer.metrics),
        "final_rows": pipe.table.read().count(),
    }
    shutil.rmtree(root, ignore_errors=True)
    return out


# thread counts for the north-rule scaling evidence. 8→32 is the headline
# N→4N pair; 4→16 is the SAME 4x ratio placed where this VM's memory
# bandwidth is NOT yet the wall (round-1 calibration: 1→4 and 2→8 scale
# near-linearly; 8→32 caps at ~0.5 no matter the job) — so 4→16 tests the
# ENGINE's scaling where the hardware can express it.
SCALING_THREADS = (4, 8, 16, 32)
SCALING_PAIRS = ((8, 32), (4, 16))


def run_scaling(scale_dir: str) -> dict:
    """INTERLEAVED trials per thread count: the sandbox VM has noisy
    neighbors (identical runs vary >2x, and a single contention window
    can depress ALL of one thread-count's trials, biasing the ratio in
    either direction). Alternating rounds across thread counts
    decorrelates contention from thread count; best-of de-noises the
    rest (median would still carry one bad window at 2 trials/round)."""
    trials: dict[int, list[dict]] = {k: [] for k in SCALING_THREADS}
    for _round in range(2):
        for threads in SCALING_THREADS:
            s = _fresh_spark(threads)
            for i in range(2):
                # 32 buckets = 32 write tasks: one wave at local[32],
                # 2/4/8 waves at 16/8/4 threads — same total work
                trials[threads].append(
                    cdc_apply(s, scale_dir, SCALING_EVENTS, n_batches=2,
                              n_buckets=32, warmup=(i == 0 and _round == 0))
                )
            s.stop()
    per_thread = {}
    for threads in SCALING_THREADS:
        best = min(trials[threads], key=lambda r: r["elapsed_sec"])
        best["all_trials_sec"] = [r["elapsed_sec"] for r in trials[threads]]
        per_thread[f"local[{threads}]"] = best

    calib = cpu_calibration(SCALING_THREADS)
    shuf = shuffle_calibration(scale_dir, SCALING_THREADS)
    out = {"scaling_events": SCALING_EVENTS, "per_thread": per_thread,
           "cpu_calibration_sec": calib, "shuffle_calibration_sec": shuf,
           "pairs": {}}
    for lo, hi in SCALING_PAIRS:
        ratio = hi / lo
        tlo = per_thread[f"local[{lo}]"]["events_per_sec"]
        thi = per_thread[f"local[{hi}]"]["events_per_sec"]
        eff = round(thi / tlo / ratio, 3)
        # ceilings: what a perfectly-parallel ALU-bound job (cpu) and a
        # scan→shuffle-on-key→write of the SAME changelog (shuffle — the
        # irreducible kernel of any CDC apply) achieve on this VM between
        # the same two thread counts
        machine_eff = round(calib[f"local[{lo}]"] / calib[f"local[{hi}]"] / ratio, 3)
        shuffle_eff = round(shuf[f"local[{lo}]"] / shuf[f"local[{hi}]"] / ratio, 3)
        out["pairs"][f"{lo}_to_{hi}"] = {
            "events_per_sec_lo": tlo,
            "events_per_sec_hi": thi,
            "speedup": round(thi / tlo, 3),
            "efficiency": eff,
            "machine_ceiling_efficiency": machine_eff,
            "efficiency_vs_machine_ceiling": round(eff / machine_eff, 3)
            if machine_eff else None,
            "shuffle_ceiling_efficiency": shuffle_eff,
            "efficiency_vs_shuffle_ceiling": round(eff / shuffle_eff, 3)
            if shuffle_eff else None,
        }
    return out


def main() -> None:
    gen_dir = os.path.join(_bench_tmpdir(), f"changelog_{N_EVENTS}")

    spark = _fresh_spark(CPUS)
    ensure_changelog(spark, gen_dir, N_EVENTS)
    queries, query_trials = run_headline_queries(spark)
    # STRICTLY INTERLEAVED apply/kernel trials: the kernel is the
    # same-window normalizer, so it must share each apply trial's
    # contention window, not run before or after the block
    apply_trials, kernel_trials = [], []
    for i in range(3):
        apply_trials.append(
            cdc_apply(spark, gen_dir, N_EVENTS, n_buckets=32, warmup=(i == 0))
        )
        kernel_trials.append(kernel_once(spark, gen_dir, warm=(i == 0)))
    apply_main = sorted(apply_trials, key=lambda r: r["elapsed_sec"])[1]  # median
    kernel_sec = sorted(kernel_trials)[1]  # median, same estimator
    detail = {
        "queries_trials": QUERY_TRIALS,
        "queries_trials_sec": query_trials,
        "queries_spread_sec": {
            n: round(max(ts) - min(ts), 3) for n, ts in query_trials.items()
        },
        "apply_trials_sec": [r["elapsed_sec"] for r in apply_trials],
        "kernel_trials_sec": kernel_trials,
    }
    if os.environ.get("SPARK_GRAFT_BENCH_STREAMING", "0") == "1":
        detail["streaming"] = min(
            (streaming_apply(spark, gen_dir, N_EVENTS) for _ in range(2)),
            key=lambda r: r["elapsed_sec"],
        )
    spark.stop()

    scaling_compact = None
    if DO_SCALING:
        scale_dir = os.path.join(_bench_tmpdir(), f"changelog_{SCALING_EVENTS}")
        sgen = _fresh_spark(CPUS)
        ensure_changelog(sgen, scale_dir, SCALING_EVENTS)
        sgen.stop()
        detail["scaling"] = run_scaling(scale_dir)
        scaling_compact = {
            pair: {
                k: v
                for k, v in stats.items()
                if k in ("events_per_sec_lo", "events_per_sec_hi",
                         "efficiency", "shuffle_ceiling_efficiency",
                         "efficiency_vs_shuffle_ceiling")
            }
            for pair, stats in detail["scaling"]["pairs"].items()
        }

    # full detail goes to a side file + an EARLIER stdout line; the FINAL
    # stdout line is the compact driver contract (kept small so the
    # driver's output-tail capture window always contains the whole line)
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_DETAIL.json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    print("DETAIL " + json.dumps(detail))
    sys.stdout.flush()

    result = {
        "metric": "cdc_upsert_apply_throughput",
        "value": apply_main["elapsed_sec"],
        "unit": "sec",
        "queries": queries,
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "events": N_EVENTS,
        "events_per_sec": apply_main["events_per_sec"],
        "final_rows": apply_main["final_rows"],
        "queries_stat": f"median_of_{QUERY_TRIALS}",
        # same-window control: the shuffle kernel's median sec in THIS
        # session, interleaved with the apply trials. apply_over_kernel
        # is the PRIMARY cross-round metric — raw sec/ev/s are
        # window-relative on this VM (see BENCH/BASELINE.md)
        "kernel_sec": kernel_sec,
        "apply_over_kernel": round(apply_main["elapsed_sec"] / kernel_sec, 3)
        if kernel_sec else None,
    }
    if scaling_compact is not None:
        result["scaling"] = scaling_compact
    print(json.dumps(result))


if __name__ == "__main__":
    main()
