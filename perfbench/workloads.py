"""The benchmark workloads.

Each takes a :class:`perfbench.common.Ctx`, builds its inputs from the
seed, warms up, measures for ``ctx.seconds``, then checks the outputs
outside the timed phase. End-to-end numbers go to ``ctx.metrics``,
per-layer numbers (traced runs) to ``ctx.layers``.

The pipelines are built the way the ``tail`` CLI builds them, with the
engine's shipped defaults: ``MergePipeline`` (16 buckets,
``profile_mode="pre"``) under ``ChangelogTailer(pipeline=...)``, and
``EntityPipeline(payload_mode="typed")`` for the XML path.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from data_hub_ejp_xml_pipeline_spark.generator import generate_changelog_df
from data_hub_ejp_xml_pipeline_spark.plans.pipeline import MergePipeline
from data_hub_ejp_xml_pipeline_spark.streaming.tailer import ChangelogTailer
from perfbench.common import (
    CommitRecorder,
    Ctx,
    add_write_layers,
    attach_files,
    expected_rows,
    land,
    log,
    lookup_keys,
    lww_final_state,
    pct,
    same_state,
    timed_lookup,
    write_stats,
)
from perfbench.trace import median


def _write_token_files(tbl, out_dir: str, n_files: int, prefix: str) -> list[str]:
    """Split an lsn-ordered Arrow changelog into ``n_files`` parquet files
    whose ``source_file`` column names the physical file, so lineage maps
    back to landed files."""
    step = -(-tbl.num_rows // n_files)
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(n_files):
        part = tbl.slice(i * step, step)
        name = f"{prefix}-{i:05d}.parquet"
        part = part.set_column(
            part.schema.get_field_index("source_file"), "source_file",
            pa.array([name] * part.num_rows, pa.string()),
        )
        path = os.path.join(out_dir, name)
        pq.write_table(part, path)
        paths.append(path)
    return paths


def _events_table(paths: list[str]):
    """Raw events of landed files as one Arrow table (lookup oracle input)."""
    cols = ["doc_id", "lsn", "offset", "source_file", "op", "tokens"]
    return pa.concat_tables(pq.read_table(p, columns=cols) for p in paths)


def _tail_layers(ctx: Ctx, epochs: list[dict], prefix: str, waits: list[float]) -> None:
    """Tailer/pipeline/table per-layer numbers from the spans of the
    epochs whose id starts with ``prefix``; ``waits`` are landing →
    epoch-start delays, one per committed file."""
    tr = ctx.tracer

    def per_epoch(name, self_only=False):
        return [v for k, v in tr.per_epoch(name, self_only).items() if (k or "").startswith(prefix)]

    ep = [e for e in epochs if e["files"]]
    ctx.layers["tailer.epochs"] = float(len(ep))
    ctx.layers["tailer.files_per_epoch"] = median(len(e["files"]) for e in ep)
    ctx.layers["tailer.wait_s"] = median(waits)
    ctx.layers["tailer.self_s"] = median(per_epoch("tailer.epoch", True))
    ctx.layers["pipeline.apply_s"] = median(per_epoch("pipeline.apply"))
    ctx.layers["pipeline.self_s"] = median(per_epoch("pipeline.apply", True))
    ctx.layers["table.merge_s"] = median(per_epoch("table.merge"))
    ctx.layers["table.manifest_calls_per_epoch"] = median(
        v for k, v in tr.count_per_epoch("table.manifest").items() if (k or "").startswith(prefix)
    )
    ctx.layers["table.manifest_s"] = median(per_epoch("table.manifest"))


def _instrument_table(ctx: Ctx, table) -> None:
    """Traced runs: spans around the table's merge and manifest reads."""
    ctx.tracer.wrap(table, "merge", "table.merge")
    ctx.tracer.wrap(table, "manifest", "table.manifest")


def _instrument_epochs(ctx: Ctx, tailer: ChangelogTailer, tag: str) -> None:
    """Traced runs: an epoch span, and a Spark job description that the
    event-log reader matches, around each ``foreachBatch`` epoch."""
    tr = ctx.tracer
    if not tr.enabled:
        return
    inner = tailer.apply_epoch
    sc = ctx.spark.sparkContext

    def apply_epoch(batch_df, batch_id):
        sc.setJobDescription(f"perfbench:{tag}:{batch_id}")
        with tr.span("tailer.epoch", epoch=f"{tag}:{batch_id}"):
            return inner(batch_df, batch_id)

    tailer.apply_epoch = apply_epoch


def _check_lineage(ctx: Ctx, table, files: list[str], what: str) -> None:
    """Every landed file is committed exactly once (lineage sidecar)."""
    seen: dict[str, int] = {}
    for row in table.lineage():
        sf = row.get("source_file", "")
        if sf in files:
            seen[sf] = seen.get(sf, 0) + 1
    ok = sorted(seen) == sorted(files) and all(v == 1 for v in seen.values())
    ctx.check(ok, f"{what}: lineage covers each landed file exactly once")


def _lookup_loop(ctx: Ctx, table, n: int, keys_fn, cols, row_fn, expect_fn) -> None:
    """``n`` closed-loop 10-key lookups on the quiet final table, each
    checked against the oracle. Lookups run after the writes stop: beside
    a merge a lookup takes about 3x longer, and a median over a mix of
    contended and quiet lookups jumps between the two. The first
    ``N_WARM_LOOKUPS`` are unmeasured warm-up."""
    v = table.current_version()
    t0 = time.time()
    for _ in range(N_WARM_LOOKUPS):
        table.lookup(keys_fn(), version=v).collect()
    ctx.layers["setup.warmup_s"] = ctx.layers.get("setup.warmup_s", 0.0) + time.time() - t0
    lat, files = [], []
    for _ in range(n):
        keys = keys_fn()
        dt, rows, nf = timed_lookup(ctx, table, keys, v, cols)
        lat.append(dt)
        files.append(nf)
        ctx.check(dict(row_fn(r) for r in rows) == expect_fn(keys), "lookup matches the oracle")
    ctx.metrics["lookup_s_p50"] = pct(lat, 50)
    ctx.layers["table.lookup_s_p90"] = pct(lat, 90)
    ctx.layers["table.lookup_files_read"] = median(files)
    ctx.layers["table.lookup_files_live"] = float(len(table.manifest(v)["files"]))


# ============================================================ replay_trickle
REPLAY_EVENTS = 200_000
REPLAY_KEYS = 140_000
REPLAY_FILES = 10
REPLAY_FILES_PER_EPOCH = 2  # five epochs of 40k events; the first warms up
TRICKLE_EVENTS_PER_FILE = 500
TRICKLE_FILES_PER_S = 12.5  # offered load: 6,250 events/s
TRICKLE_TRIGGER_S = 4
DRAIN_GRACE_S = 30.0
N_LOOKUPS = 8
N_WARM_LOOKUPS = 3  # the first lookups of a run are up to 1.5x slower


def replay_trickle(ctx: Ctx) -> None:
    """Backfill, then tail and serve, on one table and one checkpoint.

    Phase 1 (closed loop): an ``availableNow`` tailer drains a
    pre-generated token changelog into an empty table in fixed-size
    epochs (``events_per_s``). Phase 2 (``ctx.seconds`` long): the same
    directory is tailed with a 4-second processing-time trigger while a
    writer lands small changelog files on a fixed schedule (open loop) —
    freshness and write amplification. Then point lookups run on
    the table the tail produced (lookup latency)."""
    spark = ctx.spark
    n_docs = int(REPLAY_KEYS * 1.1)  # ~10% of trickle keys are new inserts
    n_hot = n_docs // 100
    n_trickle = int(np.ceil(ctx.seconds * TRICKLE_FILES_PER_S))
    landing, staging = ctx.dir("landing"), ctx.dir("staging")
    with ctx.timed("setup.generate_s"):
        replay = generate_changelog_df(
            spark, REPLAY_EVENTS, n_docs=REPLAY_KEYS, seed=ctx.seed,
            hot_fraction=0.3, delete_fraction=0.05,
        )
        trickle = generate_changelog_df(
            spark, n_trickle * TRICKLE_EVENTS_PER_FILE, n_docs=n_docs,
            seed=ctx.seed + 1, hot_fraction=0.3, delete_fraction=0.05,
        ).withColumn("lsn", F.col("lsn") + REPLAY_EVENTS)
        # one job for both; spark.range partitions keep the rows lsn-ordered
        both = replay.unionByName(trickle).toArrow()
        replay_paths = _write_token_files(both.slice(0, REPLAY_EVENTS), landing,
                                          REPLAY_FILES, "replay")
        old = time.time() - 10_000
        for i, p in enumerate(replay_paths):
            os.utime(p, (old + i, old + i))
        trickle_paths = _write_token_files(both.slice(REPLAY_EVENTS), staging,
                                           n_trickle, "trickle")
    ctx.layers["setup.preload_s"] = 0.0  # the table is built by the measured replay
    replay_files = [os.path.basename(p) for p in replay_paths]
    files = [os.path.basename(p) for p in trickle_paths]

    pipe = MergePipeline(spark, ctx.path("table"))
    table = pipe.table
    ckpt = ctx.path("ckpt")
    committed = threading.Condition()
    committed_events = [0]

    def on_commit(rec):
        with committed:
            committed_events[0] += rec["events"]
            committed.notify_all()

    def wait_events(n: int, timeout: float) -> bool:
        with committed:
            return committed.wait_for(lambda: committed_events[0] >= n, timeout)

    rec = CommitRecorder(pipe, ctx.tracer, on_commit)
    _instrument_table(ctx, table)

    # ---- phase 1: replay; its first epoch is the warm-up (the first pass
    # through the stream/merge code is 20-30% slower: JIT, codegen, Python
    # workers) and counts into set-up, not into the rate
    tailer = ChangelogTailer(spark, pipeline=rec)
    _instrument_epochs(ctx, tailer, "replay")
    t_replay = time.time()
    tailer.start(landing, ckpt, available_now=True,
                 max_files_per_trigger=REPLAY_FILES_PER_EPOCH).awaitTermination()
    ctx.layers["setup.warmup_s"] = rec.epochs[0]["end"] - t_replay
    # per epoch: its events over the time since the previous commit (stream
    # overhead between epochs included); the median shrugs off one epoch
    # that another tenant of the machine slowed
    rates = [e["events"] / (e["end"] - prev["end"])
             for prev, e in zip(rec.epochs, rec.epochs[1:])]
    ctx.metrics["events_per_s"] = median(rates)
    log(f"replay: warm-up epoch {ctx.layers['setup.warmup_s']:.2f}s, "
        f"epoch rates {[round(r) for r in rates]} events/s")
    n_replay_epochs = len(rec.epochs)

    # ---- phase 2: tail the same directory and checkpoint continuously
    tailer = ChangelogTailer(spark, pipeline=rec)
    _instrument_epochs(ctx, tailer, "trickle")
    q = tailer.start(landing, ckpt, available_now=False,
                     processing_time=f"{TRICKLE_TRIGGER_S} seconds")
    # Spark fires processing-time triggers on wall-clock multiples of the
    # interval; starting the schedule just after one makes every epoch
    # apply the same files, whatever the machine speed
    t0 = ((time.time() + 1.0) // TRICKLE_TRIGGER_S + 1) * TRICKLE_TRIGGER_S + 0.05
    interval = 1.0 / TRICKLE_FILES_PER_S
    scheduled = {f: t0 + i * interval for i, f in enumerate(files)}
    landed_at: dict[str, float] = {}
    # the writer: this thread, on a schedule that does not wait for the
    # engine (the tail runs on Spark's stream thread)
    for f in files:
        delay = scheduled[f] - time.time()
        if delay > 0:
            time.sleep(delay)
        land(os.path.join(staging, f), landing, scheduled[f])
        landed_at[f] = time.time()
    total = REPLAY_EVENTS + n_trickle * TRICKLE_EVENTS_PER_FILE
    ctx.check(wait_events(total, DRAIN_GRACE_S), "backlog drained after the landing schedule")
    q.stop()

    # ---- accounting and checks (outside the timed phases)
    attach_files(table, rec.epochs)
    measured = [e for e in rec.epochs[n_replay_epochs:] if e["files"]]
    commit_of = {f: e["end"] for e in rec.epochs for f in e["files"]}
    fresh = [commit_of[f] - scheduled[f] for f in files if f in commit_of]
    late = [landed_at[f] - scheduled[f] for f in landed_at]
    # backlog = files landed but not yet committed, sampled at every commit
    backlog = [
        sum(1 for f, t in landed_at.items() if t <= e["end"] < commit_of.get(f, float("inf")))
        for e in measured
    ]
    # a tail that keeps up commits the last file within two trigger
    # intervals of it landing; one that falls behind has a backlog left
    # when the schedule ends and needs more epochs to work it off
    growing = max(commit_of.get(f, float("inf")) for f in files) - max(
        landed_at.values()) > 2 * TRICKLE_TRIGGER_S
    ctx.check(not growing, "the tail catches up within two trigger intervals")
    log(
        f"open loop: generator lateness p50={pct(late, 50):.4f}s max={max(late, default=0):.4f}s; "
        f"max backlog {max(backlog, default=0)} files; "
        f"{len(fresh)} freshness samples"
    )
    if not growing:  # an unstable run reports no latency
        ctx.metrics["freshness_s_p50"] = pct(fresh, 50)
        ctx.metrics["freshness_s_p90"] = pct(fresh, 90)

    first_v = min((e["version"] for e in measured), default=table.current_version())
    stats = write_stats(
        table, first_v - 1, table.current_version(),
        _prev_max_lsn(rec.epochs, landing) if ctx.tracer.enabled else None,
    )
    in_bytes = sum(os.path.getsize(os.path.join(landing, f)) for e in measured for f in e["files"])
    ctx.metrics["write_amp"] = sum(s["bytes"] for s in stats) / max(in_bytes, 1)

    landed_paths = [os.path.join(landing, f) for f in replay_files + files
                    if os.path.exists(os.path.join(landing, f))]
    events = _events_table(landed_paths)
    ctx.check(
        same_state(lww_final_state(events), table.read().select("doc_id", "tokens").toArrow()),
        "final state matches the max-lsn oracle",
    )
    _check_lineage(ctx, table, replay_files + files, "replay_trickle")
    for e in rec.epochs:
        ctx.check(e["applied"], f"epoch {e['batch_id']} applied")

    rng = np.random.default_rng(ctx.seed + 17)
    _lookup_loop(
        ctx, table, N_LOOKUPS, lambda: lookup_keys(rng, n_hot, REPLAY_KEYS), ("_lsn", "tokens"),
        lambda r: (r["doc_id"], (int(r["_lsn"]), list(r["tokens"]))),
        lambda keys: expected_rows(events, keys),
    )

    if ctx.tracer.enabled:
        add_write_layers(ctx, stats)
        _tail_layers(ctx, measured, "trickle:", [
            e["start"] - landed_at[f] for e in measured for f in e["files"] if f in landed_at
        ])
        # replay epochs after the warm-up one carry the LWW numbers
        replay = rec.epochs[1:n_replay_epochs]
        replay_tags = {f"replay:{e['batch_id']}" for e in replay}
        ctx.epoch_events = {f"perfbench:replay:{e['batch_id']}": e["events"] for e in replay}
        ctx.layers["replay.apply_s"] = median(
            v for k, v in ctx.tracer.per_epoch("pipeline.apply").items() if k in replay_tags
        )
        ctx.layers["table.live_files"] = float(len(table.manifest()["files"]))


def _max_lsn(input_dir: str, files: list[str]) -> int:
    out = 0
    for f in files:
        meta = pq.ParquetFile(os.path.join(input_dir, f)).metadata
        lsn = meta.schema.names.index("lsn")
        for g in range(meta.num_row_groups):
            out = max(out, meta.row_group(g).column(lsn).statistics.max)
    return out


def _prev_max_lsn(epochs: list[dict], input_dir: str) -> dict[int, int]:
    """version → highest lsn committed before that version's epoch."""
    out, hi = {}, 0
    for e in sorted(epochs, key=lambda e: e["version"]):
        out[e["version"]] = hi
        hi = max(hi, _max_lsn(input_dir, e["files"]))
    return out


# ================================================================= xml_ingest
XML_ZIPS_PER_EPOCH = 6
XML_PERSONS_PER_ZIP = 100
XML_MANUSCRIPTS_PER_ZIP = 16
XML_NOMINAL_EPOCH_S = 4.0  # sets the epoch count: round(seconds / this)


def xml_ingest(ctx: Ctx) -> None:
    """Closed loop over the reference dataflow: synthetic zip-of-XML files
    → ``read_zip_entities`` → ``entities_to_changelog`` →
    ``EntityPipeline(payload_mode="typed")`` into four entity tables. Each
    epoch lands a fixed group of zips and drains it with an
    ``availableNow`` run of the stream on one checkpoint; epochs
    repeat ``round(ctx.seconds / XML_NOMINAL_EPOCH_S)`` times, so the run
    measures for about ``ctx.seconds`` and every run does the same work
    (the tables grow each epoch, so per-run write amplification depends on
    the epoch count)."""
    from data_hub_ejp_xml_pipeline_spark.config import PipelineConfig
    from data_hub_ejp_xml_pipeline_spark.plans import entity_pipeline
    from data_hub_ejp_xml_pipeline_spark.sources.xml_zip import (
        entities_to_changelog,
        parse_zip_bytes,
        quarantine,
        read_zip_entities,
    )
    from perfbench.xmlgen import PERSON_V2_BASE_COLUMNS, generate_zips

    spark = ctx.spark
    tr = ctx.tracer
    zpe = XML_ZIPS_PER_EPOCH
    n_epochs = max(1, round(ctx.seconds / XML_NOMINAL_EPOCH_S))
    with ctx.timed("setup.generate_s"):
        specs = generate_zips(ctx.seed, (1 + n_epochs) * zpe, zpe, XML_PERSONS_PER_ZIP,
                              XML_MANUSCRIPTS_PER_ZIP)
        staging = ctx.dir("staging")
        for z in specs:
            with open(os.path.join(staging, z.name), "wb") as fh:
                fh.write(z.data)
    ctx.layers["setup.preload_s"] = 0.0
    landing = ctx.dir("zips")
    cfg = PipelineConfig(zip_path=landing, warehouse_root=ctx.dir("warehouse"))
    pipe = entity_pipeline.EntityPipeline(spark, cfg, payload_mode="typed")

    epochs: list[dict] = []
    inner_apply = pipe.apply

    def apply(changelog, batch_id=None):
        t0 = time.time()
        with tr.span("entity.apply", epoch=f"xml:{batch_id}"):
            applied = inner_apply(changelog, batch_id=batch_id)
        epochs.append({"batch_id": batch_id, "start": t0, "end": time.time(),
                       "events": sum(applied.values())})
        return applied

    pipe.apply = apply  # attach() calls self.apply per epoch
    for t in pipe.tables.values():
        _instrument_table(ctx, t)
    if tr.enabled:
        real_infer = entity_pipeline.infer_payload_schema

        def infer(df, *a, **kw):
            with tr.span("schema.infer"):
                return real_infer(df, *a, **kw)

        entity_pipeline.infer_payload_schema = infer

    def committed_events() -> int:
        return sum(e["events"] for e in epochs)

    expected_events = [0]
    mtime = [time.time() - 1000.0]
    group_lsn: dict[int, int] = {}  # lowest lsn an epoch group can carry

    def land_group(g: int) -> float:
        """Land epoch group ``g``; return its landing time."""
        t = time.time()
        group_lsn[g] = int((mtime[0] + 1.0) * 1000) << 22  # entities_to_changelog's lsn
        for z in specs[g * zpe:(g + 1) * zpe]:
            mtime[0] += 1.0  # strictly ascending: the lsn is file-mtime-major
            land(os.path.join(staging, z.name), landing, mtime[0])
            expected_events[0] += z.entities
        return t

    stream = entities_to_changelog(read_zip_entities(spark, landing, streaming=True))
    ckpt = ctx.path("ckpt")

    def run_epoch(g: int) -> tuple[float, float]:
        """Land group ``g`` and drain it with one ``availableNow`` run of the
        stream (one epoch: a continuous trigger could list the directory
        while the group is half landed and split it)."""
        landed = land_group(g)
        pipe.attach(stream, ckpt, available_now=True).awaitTermination()
        ctx.check(committed_events() == expected_events[0], f"epoch group {g} committed")
        return landed, time.time()

    try:
        with ctx.timed("setup.warmup_s"):
            run_epoch(0)
        versions0 = {k: t.current_version() for k, t in pipe.tables.items()}
        cols0 = {k: len(t.schema().fields) for k, t in pipe.tables.items()}
        n_warm = len(epochs)
        t_start = time.time()
        groups = [(g, *run_epoch(g)) for g in range(1, 1 + n_epochs)]
    finally:
        if tr.enabled:
            entity_pipeline.infer_payload_schema = real_infer
    busy = groups[-1][2] - t_start
    measured_events = committed_events() - sum(e["events"] for e in epochs[:n_warm])
    ctx.metrics["events_per_s"] = measured_events / busy
    fresh = [c - l for _, l, c in groups for _ in range(zpe)]
    ctx.metrics["freshness_s_p50"] = pct(fresh, 50)
    ctx.metrics["freshness_s_p90"] = pct(fresh, 90)
    log(f"xml: {len(groups)} epoch groups, {len(epochs) - n_warm} epochs in {busy:.2f}s")

    # ---- accounting and checks (outside the timed phase)
    done = specs[: (1 + len(groups)) * zpe]
    measured_zips = specs[zpe: (1 + len(groups)) * zpe]
    written, stats_all = 0, []
    for name, t in pipe.tables.items():
        bounds = None
        if tr.enabled:  # rows an epoch rewrote unchanged: lsn below its group's
            bounds = {}
            for v in range(versions0[name] + 1, t.current_version() + 1):
                ts = t.manifest(v)["ts"]
                g = max((g for g, l, _ in groups if l <= ts), default=None)
                if g is not None:
                    bounds[v] = group_lsn[g] - 1
        st = write_stats(t, versions0[name], t.current_version(), bounds)
        stats_all += st
        written += sum(s["bytes"] for s in st)
    ctx.metrics["write_amp"] = written / sum(len(z.data) for z in measured_zips)

    for entity in ("person_v2", "person", "manuscript", "manuscript_version"):
        want = set().union(*(getattr(z, entity) for z in done))
        ctx.check(pipe.read(entity).count() == len(want), f"{entity}: entity count matches")
    v2_cols = set(pipe.tables["person_v2"].schema().fieldNames()) - {
        "doc_id", "modified_timestamp", "_lsn", "_deleted"}
    want_cols = set(PERSON_V2_BASE_COLUMNS).union(*(z.drift_columns for z in done))
    ctx.check(v2_cols == want_cols, "person_v2: evolved columns match the drift manifest")
    n_quarantined = quarantine(read_zip_entities(spark, landing)).count()
    ctx.check(n_quarantined == sum(z.malformed for z in done),
              "quarantine count matches the injected malformed members")

    # closed-loop point lookups on person_v2: the winning row of a person
    # seen in several zips must come from the last zip that carried it
    latest: dict[str, str] = {}
    for z in done:
        for k in z.person_v2:
            latest[k] = z.name
    seen_twice = sorted(k for k in latest if sum(k in z.person_v2 for z in done) > 1)
    once = sorted(set(latest) - set(seen_twice))
    rng = np.random.default_rng(ctx.seed + 17)

    def person_keys() -> list[str]:
        return sorted(
            {str(k) for k in rng.choice(seen_twice or once, 4)}
            | {str(k) for k in rng.choice(once or seen_twice, 4)}
            | {f"person_v2:P9{int(i):06d}" for i in rng.integers(0, 999_999, 2)}
        )

    _lookup_loop(
        ctx, pipe.tables["person_v2"], N_LOOKUPS, person_keys, ("provenance",),
        lambda r: (r["doc_id"], r["provenance"]["source_filename"].split("/")[0]),
        lambda keys: {k: latest[k] for k in keys if k in latest},
    )

    if tr.enabled:
        meas = [e for e in epochs[n_warm:]]
        tags = {f"xml:{e['batch_id']}" for e in meas}

        def per_epoch(name):
            return [val for k, val in tr.per_epoch(name).items() if k in tags]

        ctx.layers["tailer.epochs"] = float(len(meas))
        ctx.layers["tailer.files_per_epoch"] = len(measured_zips) / max(len(meas), 1)
        ctx.layers["tailer.wait_s"] = median(
            min((e["start"] for e in meas if e["start"] >= l), default=l) - l
            for _, l, _ in groups
        )
        ctx.layers["entity.apply_s"] = median(per_epoch("entity.apply"))
        ctx.layers["entity.merges_per_epoch"] = median(
            val for k, val in tr.count_per_epoch("table.merge").items() if k in tags)
        ctx.layers["schema.infer_s"] = median(per_epoch("schema.infer"))
        ctx.layers["schema.columns_added"] = float(sum(
            len(t.schema().fields) - cols0[k] for k, t in pipe.tables.items()))
        ctx.layers["table.merge_s"] = median(per_epoch("table.merge"))
        ctx.layers["table.manifest_calls_per_epoch"] = median(
            val for k, val in tr.count_per_epoch("table.manifest").items() if k in tags)
        ctx.layers["table.manifest_s"] = median(per_epoch("table.manifest"))
        n = max(len(meas), 1)
        ctx.layers["table.rows_written_per_epoch"] = sum(s["rows"] for s in stats_all) / n
        ctx.layers["table.files_written_per_epoch"] = sum(s["files"] for s in stats_all) / n
        ctx.layers["table.rows_carried_per_epoch"] = sum(s.get("carried", 0) for s in stats_all) / n
        ctx.layers["table.bytes_written_per_epoch"] = written / n
        ctx.layers["table.live_files"] = float(sum(len(t.manifest()["files"]) for t in pipe.tables.values()))
        # the parse, timed from the benchmark on the same zips the stream read
        parse_s, n_ok, n_bad = [], 0, 0
        for gi in range(1, 1 + len(groups)):
            t0 = time.time()
            for z in specs[gi * zpe:(gi + 1) * zpe]:
                for row in parse_zip_bytes(z.data, z.name):
                    if row["error"] is None:
                        n_ok += 1
                    else:
                        n_bad += 1
            parse_s.append(time.time() - t0)
        ctx.layers["sources.parse_s"] = median(parse_s)
        ctx.layers["sources.entities_per_zip"] = n_ok / max(len(measured_zips), 1)
        ctx.layers["sources.quarantined_ratio"] = n_bad / max(n_ok + n_bad, 1)
