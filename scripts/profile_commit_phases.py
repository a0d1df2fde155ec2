#!/usr/bin/env python
"""Wall-clock breakdown of one steady-state apply epoch at local[8]/[32].

Monkeypatch-times the driver-side sections of SnapshotTable._commit (the
parts that do NOT scale with threads) vs the write action itself, to show
where the Amdahl serial fraction lives. Usage: profile_commit_phases.py
[n_events] [threads...]
"""
from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _bench_tmpdir, _fresh_spark, ensure_changelog  # noqa: E402

N_EVENTS = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
THREADS = [int(x) for x in sys.argv[2:]] or [32, 8]


def run(threads: int) -> dict[str, float]:
    from pyspark.sql import functions as F

    import data_hub_ejp_xml_pipeline_spark.table.snapshot_table as st
    from data_hub_ejp_xml_pipeline_spark.plans.pipeline import MergePipeline

    marks: dict[str, float] = {}

    real_write_manifest = st.SnapshotTable._write_manifest
    real_list = st._list_bucket_files
    real_profile = st.SnapshotTable._batch_profile

    def timed(name, fn):
        def w(*a, **k):
            t0 = time.time()
            r = fn(*a, **k)
            marks[name] = marks.get(name, 0.0) + time.time() - t0
            return r

        return w

    st.SnapshotTable._write_manifest = timed("write_manifest", real_write_manifest)
    st._list_bucket_files = timed("list_files", real_list)
    st.SnapshotTable._batch_profile = timed("profile", real_profile)

    s = _fresh_spark(threads)
    gen = os.path.join(_bench_tmpdir(), f"changelog_{N_EVENTS}")
    changelog = s.read.parquet(gen)
    root = tempfile.mkdtemp(prefix=f"cp-{threads}-", dir=_bench_tmpdir())
    pipe = MergePipeline(s, root + "/t", n_buckets=32)
    # epoch 0 = warm + populate; epoch 1 = measured steady state
    half = N_EVENTS // 2
    pipe.apply(changelog.filter(F.col("lsn") <= half), batch_id=0)
    marks.clear()

    # time the DataFrame write action alone by timing the parquet save call
    real_save = None
    t_all0 = time.time()
    pipe.apply(changelog.filter(F.col("lsn") > half), batch_id=1)
    marks["epoch_total"] = time.time() - t_all0

    shutil.rmtree(root, ignore_errors=True)
    s.stop()
    st.SnapshotTable._write_manifest = real_write_manifest
    st._list_bucket_files = real_list
    st.SnapshotTable._batch_profile = real_profile
    return {k: round(v, 3) for k, v in marks.items()}


def main() -> None:
    s = _fresh_spark(32)
    ensure_changelog(s, os.path.join(_bench_tmpdir(), f"changelog_{N_EVENTS}"), N_EVENTS)
    s.stop()
    for t in THREADS:
        print(f"threads={t}: {run(t)}", flush=True)


if __name__ == "__main__":
    main()
