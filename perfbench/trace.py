"""In-memory span recorder and Spark event-log reader for traced runs.

Spans are recorded from the benchmark's own code, around calls into the
engine's public functions (the engine itself is not instrumented). Each
span has a name, start, end, parent span and epoch id; a disabled tracer
records nothing and adds one attribute check per call.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    epoch: str | None


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, epoch: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        if epoch is None and parent is not None:
            epoch = parent.epoch
        with self._lock:
            sp = Span(len(self.spans), name, time.time(), 0.0,
                      parent.sid if parent else None, epoch)
            self.spans.append(sp)
        stack.append(sp)
        try:
            yield
        finally:
            sp.end = time.time()
            stack.pop()

    def wrap(self, obj, attr: str, name: str) -> None:
        """Shadow ``obj.attr`` with a traced call (instance attribute, so
        the engine's own ``self.attr(...)`` calls go through it too)."""
        if not self.enabled:
            return
        inner = getattr(obj, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return inner(*args, **kwargs)

        setattr(obj, attr, traced)

    # ------------------------------------------------------------ analysis
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, sp: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == sp.sid
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (sp.end - sp.start) - covered

    def per_epoch(self, name: str, self_only: bool = False) -> dict[str, float]:
        """Total (or self) time of ``name`` spans per epoch id."""
        out: dict[str, float] = {}
        for sp in self.named(name):
            v = self.self_time(sp) if self_only else sp.end - sp.start
            out[sp.epoch] = out.get(sp.epoch, 0.0) + v
        return out

    def count_per_epoch(self, name: str) -> dict[str, int]:
        out: dict[str, int] = {}
        for sp in self.named(name):
            out[sp.epoch] = out.get(sp.epoch, 0) + 1
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else default


# ------------------------------------------------------------ event log
_AGG_SCOPES = ("SortAggregate", "HashAggregate", "ObjectHashAggregate")


def lww_stage_metrics(eventlog_dir: str, events_by_tag: dict[str, int]) -> dict[str, float]:
    """Shuffle metrics of the last-writer-wins reduce, from Spark's event
    log (uncompressed, non-rolling). Jobs are matched by the job
    description the benchmark set around each epoch: the keys of
    ``events_by_tag``, whose values (each epoch's input events) are the
    base of the combine ratio.

    Per tagged epoch, the LWW *map* stage is the non-``collect`` stage that
    aggregates and writes a shuffle without reading one (the partial
    ``max_by`` over the scanned batch); its *reduce* stage is the
    aggregating stage that reads exactly the records the map stage wrote.
    Returns per-epoch medians."""
    paths = sorted(glob.glob(os.path.join(eventlog_dir, "*")))
    stage_tag: dict[int, str] = {}
    stages: dict[int, dict] = {}
    task_ms: dict[int, list[int]] = {}
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    if desc in events_by_tag:
                        for s in ev["Stage IDs"]:
                            stage_tag[s] = desc
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    task_ms.setdefault(ev["Stage ID"], []).append(
                        info["Finish Time"] - info["Launch Time"]
                    )
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    acc = {a["Name"]: a.get("Value") for a in si.get("Accumulables", [])}
                    scopes = set()
                    for r in si.get("RDD Info", []):
                        if r.get("Scope"):
                            scopes.add(json.loads(r["Scope"])["name"])
                    stages[si["Stage ID"]] = {
                        "name": si["Stage Name"],
                        "agg": any(a in scopes for a in _AGG_SCOPES),
                        "sw_rec": int(acc.get("internal.metrics.shuffle.write.recordsWritten") or 0),
                        "sw_bytes": int(acc.get("internal.metrics.shuffle.write.bytesWritten") or 0),
                        "sr_rec": int(acc.get("internal.metrics.shuffle.read.recordsRead") or 0),
                    }
    by_epoch: dict[str, dict[str, list]] = {}
    for sid, st in stages.items():
        tag = stage_tag.get(sid)
        if tag is None or not st["agg"] or st["name"].startswith("collect at"):
            continue
        d = by_epoch.setdefault(tag, {"map": [], "reduce": []})
        if st["sw_rec"] and not st["sr_rec"]:
            d["map"].append((sid, st))
        elif st["sr_rec"]:
            d["reduce"].append((sid, st))
    shuffle_bytes, shuffle_rec, combine, skew = [], [], [], []
    for tag, d in by_epoch.items():
        if not d["map"]:
            continue
        maps = [st for _, st in d["map"]]
        shuffle_bytes.append(sum(m["sw_bytes"] for m in maps))
        shuffle_rec.append(sum(m["sw_rec"] for m in maps))
        if events_by_tag[tag]:
            combine.append(shuffle_rec[-1] / events_by_tag[tag])
        written = {m["sw_rec"] for m in maps}
        for sid, st in d["reduce"]:
            ms = task_ms.get(sid) or []
            if st["sr_rec"] in written and ms:
                skew.append(max(ms) / max(statistics.median(ms), 1))
    return {
        "lww.shuffle_bytes": median(shuffle_bytes),
        "lww.shuffle_records": median(shuffle_rec),
        "lww.combine_ratio": median(combine),
        "lww.task_skew": median(skew),
    }
