"""Shared pieces of the workloads: run context, commit recording, table
write accounting, the token-changelog oracle and small statistics."""

from __future__ import annotations

import os
import sys
import time
from dataclasses import dataclass, field
from typing import Any

import numpy as np

from perfbench.trace import Tracer, median


_T0 = time.time()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"[perfbench {time.time() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


@dataclass
class Ctx:
    spark: Any
    seed: int
    seconds: float
    tracer: Tracer
    work: str  # scratch root inside the checkout
    metrics: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    # input events per job description of the epochs whose LWW stages are
    # reported (traced runs; empty: the workload reports none)
    epoch_events: dict[str, int] = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def dir(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def check(self, ok: bool, what: str) -> None:
        """One attempted operation; a false ``ok`` counts as failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def timed(self, name: str):
        return _Timed(self, name)


class _Timed:
    def __init__(self, ctx: Ctx, name: str):
        self.ctx, self.name = ctx, name

    def __enter__(self):
        self.t0 = time.time()
        return self

    def __exit__(self, *exc):
        self.ctx.layers[self.name] = time.time() - self.t0
        return False


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q)) if values else 0.0


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this process plus the Spark JVM it
    launched, in MiB."""
    pids = [os.getpid()]
    from pyspark import SparkContext

    gw = getattr(SparkContext, "_gateway", None)
    proc = getattr(gw, "proc", None)
    if proc is not None:
        pids.append(proc.pid)
        pids += descendants(proc.pid)
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine, from /proc/stat: the
    share stolen by the hypervisor shows when other tenants slowed a run."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def descendants(pid: int) -> list[int]:
    """Child processes of ``pid``, recursively, from /proc (children are
    listed per thread, and the JVM forks from worker threads)."""
    kids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                kids += [int(x) for x in fh.read().split()]
    except OSError:
        return kids
    return kids + [g for k in kids for g in descendants(k)]


def land(src: str, dst_dir: str, mtime: float) -> None:
    """Atomically move a pre-written file into a watched directory."""
    os.utime(src, (mtime, mtime))
    os.replace(src, os.path.join(dst_dir, os.path.basename(src)))


class CommitRecorder:
    """Pipeline stand-in handed to ``ChangelogTailer(pipeline=...)``: it
    forwards ``apply`` to the real pipeline and records, per epoch, the
    start time, return time and commit; :func:`attach_files` later adds
    the files each epoch committed, from the table's lineage. ``table`` is
    exposed because the tailer derives its metrics path from it."""

    def __init__(self, pipe, tracer: Tracer, on_commit=None):
        self.pipe = pipe
        self.table = pipe.table
        self.tracer = tracer
        self.on_commit = on_commit
        self.epochs: list[dict[str, Any]] = []

    def apply(self, batch_df, batch_id=None):
        t0 = time.time()
        with self.tracer.span("pipeline.apply"):
            res = self.pipe.apply(batch_df, batch_id=batch_id)
        rec = {"batch_id": batch_id, "start": t0, "end": time.time(),
               "version": res.version, "snapshot_id": res.snapshot_id,
               "applied": res.applied, "events": res.n_events}
        self.epochs.append(rec)
        if self.on_commit is not None:
            self.on_commit(rec)
        return res


def attach_files(table, epochs: list[dict]) -> None:
    """Set ``files`` on each recorded epoch: the source files its commit
    applied, per the table's lineage sidecar."""
    by_snap: dict[str, list[str]] = {}
    for row in table.lineage():
        by_snap.setdefault(row.get("snapshot_id"), []).append(row.get("source_file"))
    for e in epochs:
        e["files"] = by_snap.get(e["snapshot_id"], [])


def write_stats(table, v_from: int, v_to: int, carried_below_lsn=None) -> list[dict]:
    """Per committed version in ``(v_from, v_to]``: data files and bytes
    the commit wrote (manifest diff + ``os.stat``), rows written and
    — when ``carried_below_lsn`` maps version → previous max LSN — rows
    rewritten unchanged (``_lsn`` at or below the previous max)."""
    import pyarrow.parquet as pq

    prev = {f["path"] for f in table.manifest(v_from)["files"]}
    out = []
    for v in range(v_from + 1, v_to + 1):
        files = table.manifest(v)["files"]
        new = [f for f in files if f["path"] not in prev]
        rec = {
            "version": v,
            "files": len(new),
            "bytes": sum(os.stat(os.path.join(table.root, f["path"])).st_size for f in new),
            "rows": sum(int(f.get("rows") or 0) for f in new),
        }
        if carried_below_lsn is not None and v in carried_below_lsn:
            bound = carried_below_lsn[v]
            carried = 0
            for f in new:
                col = pq.read_table(os.path.join(table.root, f["path"]), columns=["_lsn"])["_lsn"]
                carried += int(np.count_nonzero(col.to_numpy(zero_copy_only=False) <= bound))
            rec["carried"] = carried
        out.append(rec)
        prev = {f["path"] for f in files}
    return out


def add_write_layers(ctx: Ctx, stats: list[dict]) -> None:
    ctx.layers["table.rows_written_per_epoch"] = median(s["rows"] for s in stats)
    ctx.layers["table.files_written_per_epoch"] = median(s["files"] for s in stats)
    ctx.layers["table.bytes_written_per_epoch"] = median(s["bytes"] for s in stats)
    ctx.layers["table.rows_carried_per_epoch"] = median(
        s["carried"] for s in stats if "carried" in s
    )


# ------------------------------------------------------- token oracle
def lww_final_state(events):
    """Oracle final state of a raw token changelog (Arrow table with
    ``doc_id, lsn, offset, source_file, op, tokens``): per doc_id the event
    with the highest ``(lsn, offset, source_file)``, deletes removed, as
    ``(doc_id, lsn, tokens)`` sorted by doc_id. A plain sort-and-take-first,
    independent of the engine's ``operators.lww`` reduce."""
    import pyarrow as pa
    import pyarrow.compute as pc

    order = pc.sort_indices(events, sort_keys=[
        ("doc_id", "ascending"), ("lsn", "descending"),
        ("offset", "descending"), ("source_file", "descending"),
    ])
    ev = events.take(order)
    doc = ev["doc_id"].combine_chunks()
    first = np.ones(len(doc), dtype=bool)
    if len(doc) > 1:
        first[1:] = pc.not_equal(doc.slice(1), doc.slice(0, len(doc) - 1)).to_numpy(
            zero_copy_only=False)
    latest = ev.filter(pa.array(first))
    return latest.filter(pc.not_equal(latest["op"], "D")).select(["doc_id", "lsn", "tokens"])


def same_state(expected, actual) -> bool:
    """Exact equality on ``(doc_id, tokens)`` of the oracle state and a
    table read, ignoring row order and list field naming."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if expected.num_rows != actual.num_rows:
        return False
    actual = actual.take(pc.sort_indices(actual, sort_keys=[("doc_id", "ascending")]))
    for col in ("doc_id", "tokens"):
        a = expected[col].combine_chunks()
        b = actual[col].combine_chunks()
        if col == "tokens":
            a, b = a.cast(pa.list_(pa.int32())), b.cast(pa.list_(pa.int32()))
        if not a.equals(b):
            return False
    return True


def expected_rows(events, keys: list[str]) -> dict[str, tuple[int, list]]:
    """Oracle for a point lookup: ``{doc_id: (lsn, tokens)}`` of the keys'
    live rows, from an Arrow table of raw events."""
    import pyarrow as pa
    import pyarrow.compute as pc

    state = lww_final_state(events.filter(pc.is_in(events["doc_id"], pa.array(keys))))
    return {r["doc_id"]: (r["lsn"], r["tokens"]) for r in state.to_pylist()}


def lookup_keys(rng, n_hot: int, n_docs: int) -> list[str]:
    """A 10-key lookup: 4 hot keys, 4 cold keys, 2 absent keys."""
    hot = rng.integers(0, n_hot, 4)
    cold = rng.integers(n_hot, n_docs, 4)
    absent = rng.integers(n_docs + 1_000_000, n_docs + 2_000_000, 2)
    return sorted({f"doc-{int(i):08d}" for i in np.concatenate([hot, cold, absent])})


def timed_lookup(ctx: Ctx, table, keys: list[str], version: int, cols: tuple[str, ...]):
    """Run one lookup to ``collect()``; returns (seconds, rows, files read
    — traced runs only, else 0)."""
    t0 = time.time()
    with ctx.tracer.span("table.lookup"):
        df = table.lookup(keys, version=version)
        rows = df.select("doc_id", *cols).collect()
    dt = time.time() - t0
    files = len(df.inputFiles()) if ctx.tracer.enabled else 0
    return dt, rows, files
