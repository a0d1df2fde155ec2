#!/usr/bin/env python
"""A/B shuffle + parquet compression codecs on the scaling apply workload.

Hypothesis: the 8->32 scaling wall is memory bandwidth; a denser codec
(zstd) moves fewer bytes through shuffle files and tmpfs table writes at
some CPU cost — on saturated threads that trade can pay. Interleaved
best-of as usual. Usage: python scripts/profile_codec.py [n_events]
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _bench_tmpdir, ensure_changelog  # noqa: E402

N_EVENTS = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000

CODECS = {
    "default": {},  # lz4 shuffle, snappy parquet (session.py)
    "zstd": {
        "spark.io.compression.codec": "zstd",
        "spark.sql.parquet.compression.codec": "zstd",
    },
    "lz4_parquet": {"spark.sql.parquet.compression.codec": "lz4"},
}


def fresh(threads: int, extra: dict):
    from data_hub_ejp_xml_pipeline_spark.session import get_spark

    conf = {"spark.local.dir": os.path.join(_bench_tmpdir(), "spark-local")}
    conf.update(extra)
    return get_spark(app_name=f"codec-{threads}", master=f"local[{threads}]",
                     shuffle_partitions=max(threads, 8), extra_conf=conf)


def run(threads: int, extra: dict) -> float:
    from pyspark.sql import functions as F

    from data_hub_ejp_xml_pipeline_spark.plans.pipeline import MergePipeline

    s = fresh(threads, extra)
    gen = os.path.join(_bench_tmpdir(), f"changelog_{N_EVENTS}")
    changelog = s.read.parquet(gen)
    w = tempfile.mkdtemp(prefix=f"cw-{threads}-", dir=_bench_tmpdir())
    MergePipeline(s, w + "/t", n_buckets=32).apply(
        changelog.filter(F.col("lsn") <= N_EVENTS // 10), batch_id=0)
    shutil.rmtree(w, ignore_errors=True)
    root = tempfile.mkdtemp(prefix=f"ct-{threads}-", dir=_bench_tmpdir())
    pipe = MergePipeline(s, root + "/t", n_buckets=32)
    step = N_EVENTS // 2 + 1
    t0 = time.time()
    for i in range(2):
        pipe.apply(changelog.filter(
            (F.col("lsn") > i * step) & (F.col("lsn") <= (i + 1) * step)), batch_id=i)
    el = time.time() - t0
    shutil.rmtree(root, ignore_errors=True)
    s.stop()
    return round(el, 3)


def main() -> None:
    s = fresh(32, {})
    ensure_changelog(s, os.path.join(_bench_tmpdir(), f"changelog_{N_EVENTS}"), N_EVENTS)
    s.stop()
    best: dict[str, float] = {}
    for rnd in range(2):
        for threads in (8, 32):
            for name, extra in CODECS.items():
                k = f"t{threads}_{name}"
                e = run(threads, extra)
                best[k] = min(best.get(k, 1e18), e)
                print(f"round {rnd} {k}: {e}s", file=sys.stderr)
    out = {"elapsed_best": best, "efficiency_8_to_32": {
        n: round(best[f"t8_{n}"] / best[f"t32_{n}"] / 4.0, 3) for n in CODECS}}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
