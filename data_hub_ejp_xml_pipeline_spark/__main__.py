"""Operational CLI — the engine's answer to the reference's Airflow DAG
entry points (``dags/s3_xml_import_pipeline.py`` tasks: poll/ETL/load,
plus its maintenance chores), as subcommands over the library surface:

    python -m data_hub_ejp_xml_pipeline_spark tail --changelog DIR \
        --table ROOT --checkpoint DIR [--mor --k-compact 8] \
        [--processing-time "30 seconds"]
    python -m data_hub_ejp_xml_pipeline_spark apply --changelog PATH \
        --table ROOT --batch-id N
    python -m data_hub_ejp_xml_pipeline_spark compact --table ROOT [--mor]
    python -m data_hub_ejp_xml_pipeline_spark expire --table ROOT --keep-last N
    python -m data_hub_ejp_xml_pipeline_spark vacuum --table ROOT --older-than-lsn N
    python -m data_hub_ejp_xml_pipeline_spark show --table ROOT
    python -m data_hub_ejp_xml_pipeline_spark dedup-flags --state ROOT [--token]
    python -m data_hub_ejp_xml_pipeline_spark ivm-totals --state ROOT
    python -m data_hub_ejp_xml_pipeline_spark scd2-history --state ROOT [--as-of LSN]
    python -m data_hub_ejp_xml_pipeline_spark dlq-show --state ROOT
    python -m data_hub_ejp_xml_pipeline_spark index-lookup --state ROOT --value V
    python -m data_hub_ejp_xml_pipeline_spark scan-range --table ROOT --col C [--lo X --hi Y]
    python -m data_hub_ejp_xml_pipeline_spark rebucket --table ROOT --n-buckets N
    python -m data_hub_ejp_xml_pipeline_spark set-stats-cols --table ROOT --cols a,b
    python -m data_hub_ejp_xml_pipeline_spark tag|drop-tag --table ROOT --name N
    python -m data_hub_ejp_xml_pipeline_spark changefeed --table ROOT --from-version V [--out DIR]
    python -m data_hub_ejp_xml_pipeline_spark delete-where --table ROOT --where SQL [--hard]
    python -m data_hub_ejp_xml_pipeline_spark update-where --table ROOT --where SQL --set COL=EXPR
    python -m data_hub_ejp_xml_pipeline_spark maintain --table ROOT [--vacuum-slack-lsn N]
    python -m data_hub_ejp_xml_pipeline_spark fsck --table ROOT [--deep]

Each command prints ONE JSON line (machine-scrapeable, like bench.py).
``main(argv, spark=...)`` is injectable for tests; standalone invocation
builds a session from the usual env knobs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="data_hub_ejp_xml_pipeline_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    def table_arg(sp):
        sp.add_argument("--table", required=True, help="snapshot-table root (or MOR root)")

    t = sub.add_parser("tail", help="stream a changelog directory into a table")
    t.add_argument("--changelog", required=True)
    table_arg(t)
    t.add_argument("--checkpoint", required=True)
    t.add_argument("--processing-time", default=None,
                   help="tail continuously at this trigger; default drains once")
    t.add_argument("--max-files-per-trigger", type=int, default=None)
    t.add_argument("--n-buckets", type=int, default=16)
    t.add_argument("--key", default="doc_id",
                   help="key column when CREATING the table; an existing "
                        "table's manifest key always wins")
    t.add_argument("--mor", action="store_true", help="merge-on-read group commit")
    t.add_argument("--k-compact", type=int, default=8)

    a = sub.add_parser("apply", help="apply one changelog batch (batch mode)")
    a.add_argument("--changelog", required=True)
    table_arg(a)
    a.add_argument("--batch-id", type=int, default=None)
    a.add_argument("--n-buckets", type=int, default=16)
    a.add_argument("--key", default="doc_id",
                   help="key column when CREATING the table; an existing "
                        "table's manifest key always wins")
    a.add_argument("--inclusive-guard", action="store_true",
                   help="apply with s.lsn >= t._lsn (replication feeds "
                        "carrying row-DML changes at unchanged LSNs); "
                        "exactly-once rides --batch-id alone")

    for sp in (t, a):
        sp.add_argument("--dedup-state", default=None,
                        help="TokenDedupState root: exact token-fingerprint "
                             "dedup-on-ingest (flags + state per epoch)")
        sp.add_argument("--dedup-prefix-k", type=int, default=None,
                        help="fingerprint only the first K tokens")
        sp.add_argument("--ivm-state", default=None,
                        help="IncrementalAggState root: maintain a count/sum-"
                             "per-group view per epoch (COW pipeline only)")
        sp.add_argument("--ivm-group", default=None,
                        help="payload column to group the maintained view by "
                             "(required when creating; an existing state "
                             "adopts its stored column)")
        sp.add_argument("--ivm-value", default=None,
                        help="numeric payload column summed into the view "
                             "(omit for count-only on create / adoption on "
                             "an existing state)")
        sp.add_argument("--scd2-state", default=None,
                        help="Scd2State root: maintain a type-2 history "
                             "table per epoch (COW pipeline only); payload "
                             "schema is derived from the base table on "
                             "create, adopted on reopen")
        sp.add_argument("--index-state", default=None,
                        help="SecondaryIndexState root: maintain an "
                             "inverted (value -> keys) index on one "
                             "payload column per epoch (COW pipeline "
                             "only)")
        sp.add_argument("--index-col", default=None,
                        help="payload column to index (required when "
                             "creating; an existing state adopts its "
                             "stored column)")
        sp.add_argument("--dlq-state", default=None,
                        help="DlqState root: quarantine invalid change "
                             "events (null key/LSN, unknown op, "
                             "inconsistent payload) with a reason instead "
                             "of merging them")
        sp.add_argument("--placeholder-cols", default=None,
                        help="comma-separated string payload columns that "
                             "may carry an unchanged-TOAST placeholder; "
                             "resolved in-batch then from the pre-epoch "
                             "table (operators/partial.py)")
        sp.add_argument("--placeholder-sentinel", default=None,
                        help="wire sentinel marking an unavailable value "
                             "(default: the engine's __unavailable__; use "
                             "__debezium_unavailable_value for Debezium "
                             "feeds)")

    c = sub.add_parser("compact", help="compact data files (or fold MOR deltas)")
    table_arg(c)
    c.add_argument("--mor", action="store_true")
    c.add_argument("--cluster-by", default=None,
                   help="rewrite EVERY bucket range-partitioned on this "
                        "column (tightens its zone maps; loosens key "
                        "ranges — see SnapshotTable.compact_files)")

    e = sub.add_parser("expire", help="expire old snapshots + sweep orphans")
    table_arg(e)
    e.add_argument("--keep-last", type=int, default=2)

    v = sub.add_parser("vacuum", help="drop tombstones older than an LSN")
    table_arg(v)
    v.add_argument("--older-than-lsn", type=int, required=True)

    s = sub.add_parser("show", help="table version/schema/files summary")
    table_arg(s)
    s.add_argument("--history", action="store_true",
                   help="include per-retained-snapshot history rows "
                        "(version/operation/committed_at/files/rows)")

    cl = sub.add_parser("clone", help="export one snapshot as a new table "
                                      "(hardlinked data, carried ledger)")
    table_arg(cl)
    cl.add_argument("--dest", required=True)
    cl.add_argument("--version", type=int, default=None)

    fs = sub.add_parser("fsck", help="verify manifest/disk/footer invariants")
    table_arg(fs)
    fs.add_argument("--deep", action="store_true",
                    help="also rescan every row's bucket assignment (one "
                         "Spark scan)")

    mt = sub.add_parser("maintain",
                        help="one maintenance pass: compact + expire + "
                             "watermark-gated tombstone vacuum")
    table_arg(mt)
    mt.add_argument("--keep-snapshots", type=int, default=4)
    mt.add_argument("--max-files-per-bucket", type=int, default=None)
    mt.add_argument("--vacuum-slack-lsn", type=int, default=None,
                    help="lateness+replay bound in LSN units; omit to skip "
                         "vacuum")
    mt.add_argument("--watermark-lsn", type=int, default=None,
                    help="explicit safe watermark (default: derived from "
                         "_lsn zone maps when the table records them)")

    dw = sub.add_parser("delete-where",
                        help="predicate DELETE (soft tombstones by default)")
    table_arg(dw)
    dw.add_argument("--where", required=True, help="SQL predicate over payload columns")
    dw.add_argument("--hard", action="store_true",
                    help="remove rows outright (erasure) instead of tombstoning")
    dw.add_argument("--batch-id", type=int, default=None,
                    help="exactly-once ledger slot (replays no-op)")

    uw = sub.add_parser("update-where", help="predicate UPDATE (copy-on-write)")
    table_arg(uw)
    uw.add_argument("--where", required=True, help="SQL predicate over payload columns")
    uw.add_argument("--set", required=True, action="append", dest="assignments",
                    metavar="COL=SQL_EXPR",
                    help="assignment, repeatable (the expression may read "
                         "the row's own columns)")
    uw.add_argument("--batch-id", type=int, default=None)

    d = sub.add_parser("dedup-flags", help="summarize the dedup-on-ingest flags table")
    d.add_argument("--state", required=True, help="dedup state root")
    d.add_argument("--token", action="store_true",
                   help="TokenDedupState layout (default: MinHash DedupIngestState)")

    iv = sub.add_parser("ivm-totals", help="print the maintained per-group view")
    iv.add_argument("--state", required=True, help="IncrementalAggState root")

    sh = sub.add_parser("scd2-history", help="summarize the type-2 history")
    sh.add_argument("--state", required=True, help="Scd2State root")
    sh.add_argument("--as-of", type=int, default=None,
                    help="count rows valid AT this LSN instead")

    dq = sub.add_parser("dlq-show", help="summarize the dead-letter queue")
    dq.add_argument("--state", required=True, help="DlqState root")

    il = sub.add_parser("index-lookup", help="keys whose indexed column equals a value")
    il.add_argument("--state", required=True, help="SecondaryIndexState root")
    il.add_argument("--value", required=True)

    cf = sub.add_parser("changefeed",
                        help="emit the changes between two versions as a changelog")
    table_arg(cf)
    cf.add_argument("--from-version", type=int, required=True)
    cf.add_argument("--to-version", type=int, default=None)
    cf.add_argument("--out", default=None,
                    help="write the changelog as parquet here (else count only)")

    tg = sub.add_parser("tag", help="pin the current (or a given) version under a name")
    table_arg(tg)
    tg.add_argument("--name", required=True)
    tg.add_argument("--version", type=int, default=None)

    dt = sub.add_parser("drop-tag", help="release a pinned snapshot")
    table_arg(dt)
    dt.add_argument("--name", required=True)

    rb = sub.add_parser("rebucket", help="atomic bucket-count evolution rewrite")
    table_arg(rb)
    rb.add_argument("--n-buckets", type=int, required=True)
    rb.add_argument("--files-per-bucket", type=int, default=None)

    st = sub.add_parser("set-stats-cols",
                        help="change which columns future commits record zone maps for")
    table_arg(st)
    st.add_argument("--cols", required=True,
                    help="comma-separated column list (empty string clears)")

    rr = sub.add_parser("scan-range",
                        help="zone-map range scan on a stats column")
    table_arg(rr)
    rr.add_argument("--col", required=True)
    rr.add_argument("--lo", default=None,
                    help="lower bound (int/float/string, inferred)")
    rr.add_argument("--hi", default=None, help="upper bound")
    return p


def main(argv: list[str] | None = None, spark=None) -> dict:
    from data_hub_ejp_xml_pipeline_spark.session import get_spark
    from data_hub_ejp_xml_pipeline_spark.table.snapshot_table import SnapshotTable

    args = _build_parser().parse_args(argv)
    spark = spark or get_spark(app_name=f"cli-{args.cmd}")
    out: dict

    def _dedup_state():
        if getattr(args, "dedup_state", None) is None:
            return None
        from data_hub_ejp_xml_pipeline_spark.plans.dedup_ingest import TokenDedupState

        # only pass prefix_k when the flag was given: an existing state
        # ADOPTS its stored value (passing an explicit conflicting one,
        # including an implicit None, is a refused identity change)
        kwargs = {}
        if args.dedup_prefix_k is not None:
            kwargs["prefix_k"] = args.dedup_prefix_k
        return TokenDedupState(spark, args.dedup_state, **kwargs)

    def _ivm_state():
        if getattr(args, "ivm_state", None) is None:
            return None
        from data_hub_ejp_xml_pipeline_spark.plans.ivm import IncrementalAggState

        # pass value_col only when the flag was given: an existing state
        # ADOPTS its stored columns (a conflicting explicit value raises)
        kwargs = {}
        if args.ivm_value is not None:
            kwargs["value_col"] = args.ivm_value
        return IncrementalAggState(spark, args.ivm_state,
                                   group_col=args.ivm_group, **kwargs)

    def _dlq_state():
        if getattr(args, "dlq_state", None) is None:
            return None
        from data_hub_ejp_xml_pipeline_spark.plans.dlq import attach_dlq
        from data_hub_ejp_xml_pipeline_spark.schemas import CHANGELOG_SCHEMA

        return attach_dlq(spark, args.dlq_state, CHANGELOG_SCHEMA)

    def _index_state():
        if getattr(args, "index_state", None) is None:
            return None
        from data_hub_ejp_xml_pipeline_spark.plans.secondary_index import (
            SecondaryIndexState,
        )

        # pass index_col only when given: an existing state ADOPTS its
        # stored column (a conflicting explicit one raises)
        return SecondaryIndexState(spark, args.index_state,
                                   index_col=args.index_col, key=args.key)

    def _attach_scd2(pipe):
        """Attach an Scd2State to a constructed COW pipeline; on create the
        payload schema is the base table's schema minus internal columns
        (an existing state adopts its stored identity)."""
        if getattr(args, "scd2_state", None) is None:
            return pipe
        from pyspark.sql import types as T

        from data_hub_ejp_xml_pipeline_spark.plans.scd2 import Scd2State
        from data_hub_ejp_xml_pipeline_spark.table.snapshot_table import (
            DELETED_COL, LSN_COL,
        )

        if os.path.exists(os.path.join(args.scd2_state, "scd2_meta.json")):
            pipe.scd2_state = Scd2State(spark, args.scd2_state)  # adopt
            return pipe
        key = pipe.table.manifest()["key"]
        payload = T.StructType(
            [f for f in pipe.table.schema().fields
             if f.name not in (LSN_COL, DELETED_COL)]
        )
        pipe.scd2_state = Scd2State(spark, args.scd2_state,
                                    payload_schema=payload, key=key,
                                    n_buckets=pipe.table.manifest()["n_buckets"])
        return pipe

    def _placeholder_kw():
        if args.placeholder_cols is None:
            return {}
        return {
            "placeholder_cols": [c.strip() for c in args.placeholder_cols.split(",") if c.strip()],
            "placeholder": args.placeholder_sentinel,
        }

    if args.cmd == "tail":
        from data_hub_ejp_xml_pipeline_spark.plans.mor_pipeline import MorPipeline
        from data_hub_ejp_xml_pipeline_spark.plans.pipeline import MergePipeline
        from data_hub_ejp_xml_pipeline_spark.streaming.tailer import ChangelogTailer

        if args.mor:
            if args.ivm_state is not None:
                raise SystemExit(
                    "--ivm-state requires the COW pipeline: the IVM old-side "
                    "read observes the base table, which under merge-on-read "
                    "lags the staged deltas (maintain MOR views after compact)"
                )
            if args.scd2_state is not None:
                raise SystemExit(
                    "--scd2-state requires the COW pipeline: the history "
                    "close-side read observes the base table, which under "
                    "merge-on-read lags the staged deltas"
                )
            if args.index_state is not None:
                raise SystemExit(
                    "--index-state requires the COW pipeline: the index "
                    "close-side read observes the base table, which under "
                    "merge-on-read lags the staged deltas"
                )
            pipe = MorPipeline(spark, args.table, key=args.key,
                               n_buckets=args.n_buckets,
                               k_compact=args.k_compact,
                               dedup_state=_dedup_state(),
                               dlq_state=_dlq_state(),
                               **_placeholder_kw())
        else:
            pipe = _attach_scd2(MergePipeline(spark, args.table, key=args.key,
                                              n_buckets=args.n_buckets,
                                              dedup_state=_dedup_state(),
                                              ivm_state=_ivm_state(),
                                              dlq_state=_dlq_state(),
                                              index_state=_index_state(),
                                              **_placeholder_kw()))
        tailer = ChangelogTailer(spark, pipeline=pipe)
        q = tailer.start(
            args.changelog,
            args.checkpoint,
            available_now=args.processing_time is None,
            processing_time=args.processing_time,
            max_files_per_trigger=args.max_files_per_trigger,
        )
        q.awaitTermination()
        if args.mor:
            pipe.compact()
        out = {
            "cmd": "tail",
            "epochs": len(tailer.metrics),
            "events": sum(m["events_applied"] for m in tailer.metrics),
            "final_rows": pipe.final_state().count(),
        }

    elif args.cmd == "apply":
        from data_hub_ejp_xml_pipeline_spark.plans.pipeline import MergePipeline

        pipe = _attach_scd2(MergePipeline(spark, args.table, key=args.key,
                                          n_buckets=args.n_buckets,
                                          dedup_state=_dedup_state(),
                                          ivm_state=_ivm_state(),
                                          dlq_state=_dlq_state(),
                                          index_state=_index_state(),
                                          inclusive_guard=args.inclusive_guard,
                                          **_placeholder_kw()))
        res = pipe.apply(spark.read.parquet(args.changelog), batch_id=args.batch_id)
        out = {"cmd": "apply", "applied": res.applied, "snapshot_id": res.snapshot_id,
               "version": res.version, "n_events": res.n_events,
               "rows_written": res.rows_written}

    elif args.cmd == "compact":
        if args.mor:
            from data_hub_ejp_xml_pipeline_spark.plans.mor_pipeline import MorPipeline

            pipe = MorPipeline(spark, args.table)
            res = pipe.compact()
            out = {"cmd": "compact", "mor": True,
                   "applied": bool(res and res.applied),
                   "snapshot_id": res.snapshot_id if res else None}
        else:
            if args.cluster_by is not None and args.mor:
                raise SystemExit("--cluster-by applies to plain tables only")
            table = SnapshotTable(spark, args.table)
            res = table.compact_files(cluster_by=args.cluster_by)
            out = {"cmd": "compact", "mor": False, "applied": res.applied,
                   "snapshot_id": res.snapshot_id,
                   "cluster_by": args.cluster_by}

    elif args.cmd == "expire":
        table = SnapshotTable(spark, args.table)
        out = {"cmd": "expire", **table.expire_snapshots(keep_last=args.keep_last)}

    elif args.cmd == "vacuum":
        table = SnapshotTable(spark, args.table)
        res = table.vacuum_tombstones(older_than_lsn=args.older_than_lsn)
        out = {"cmd": "vacuum", "applied": res.applied, "snapshot_id": res.snapshot_id}

    elif args.cmd == "clone":
        table = SnapshotTable(spark, args.table)
        dst = table.clone(args.dest, version=args.version)
        out = {"cmd": "clone", "dest": args.dest,
               "version": dst.current_version(),
               "files": len(dst.manifest()["files"])}

    elif args.cmd == "fsck":
        table = SnapshotTable(spark, args.table)
        out = {"cmd": "fsck", **table.verify(deep=args.deep)}

    elif args.cmd == "maintain":
        from data_hub_ejp_xml_pipeline_spark.plans.maintenance import (
            MaintenancePolicy,
        )

        policy = MaintenancePolicy(
            SnapshotTable(spark, args.table),
            max_files_per_bucket=args.max_files_per_bucket,
            keep_snapshots=args.keep_snapshots,
            vacuum_slack_lsn=args.vacuum_slack_lsn,
            vacuum_every=1,
        )
        out = {"cmd": "maintain", **policy.run(watermark_lsn=args.watermark_lsn)}

    elif args.cmd == "delete-where":
        table = SnapshotTable(spark, args.table)
        res = table.delete_where(args.where, batch_id=args.batch_id, hard=args.hard)
        out = {"cmd": "delete-where", "applied": res.applied,
               "snapshot_id": res.snapshot_id, "version": res.version,
               "hard": args.hard}

    elif args.cmd == "update-where":
        from pyspark.sql import functions as F

        assignments = {}
        for a in args.assignments:
            col, sep, expr = a.partition("=")
            if not sep or not col:
                raise SystemExit(f"--set expects COL=SQL_EXPR, got {a!r}")
            assignments[col.strip()] = F.expr(expr)
        table = SnapshotTable(spark, args.table)
        res = table.update_where(args.where, assignments, batch_id=args.batch_id)
        out = {"cmd": "update-where", "applied": res.applied,
               "snapshot_id": res.snapshot_id, "version": res.version,
               "columns": sorted(assignments)}

    elif args.cmd == "dedup-flags":
        from data_hub_ejp_xml_pipeline_spark.plans.dedup_ingest import (
            DedupIngestState,
            TokenDedupState,
        )

        # a SUMMARY command must be read-only: constructing a state object
        # on a wrong path (or with the wrong layout flag) would CREATE
        # empty tables there — check the layout's flags table first
        layout_probe = (args.state.rstrip("/") + "/fingerprints" if args.token
                        else args.state.rstrip("/") + "/bands")
        if not SnapshotTable.exists(layout_probe) or not SnapshotTable.exists(
            args.state.rstrip("/") + "/flags"
        ):
            out = {"cmd": "dedup-flags", "error":
                   f"no {'token' if args.token else 'minhash'} dedup state "
                   f"at {args.state}"}
            print(json.dumps(out))
            return out
        # docs_provider stub keeps the MinHash open read-only too (no
        # docs-table create on a provider-mode root); all_flags never
        # touches the provider
        state = (TokenDedupState(spark, args.state) if args.token
                 else DedupIngestState(spark, args.state,
                                       docs_provider=lambda: None))
        from pyspark.sql import functions as F

        # one job over one scan (three separate actions would re-read
        # the flags table three times)
        row = state.all_flags().agg(
            F.count(F.lit(1)).alias("flags"),
            F.countDistinct("new_doc").alias("docs_flagged"),
            F.sort_array(F.collect_set("epoch")).alias("epochs"),
        ).first()
        out = {
            "cmd": "dedup-flags",
            "flags": row.flags,
            "docs_flagged": row.docs_flagged,
            "epochs": list(row.epochs),
        }

    elif args.cmd == "ivm-totals":
        from data_hub_ejp_xml_pipeline_spark.plans.ivm import IncrementalAggState

        # read-only summary: opening a wrong path would CREATE an empty
        # totals table there — probe the layout first (same rule as
        # dedup-flags)
        if not SnapshotTable.exists(args.state.rstrip("/") + "/totals"):
            out = {"cmd": "ivm-totals",
                   "error": f"no ivm state at {args.state}"}
            print(json.dumps(out))
            return out
        ivm = IncrementalAggState(spark, args.state)  # adopts stored columns
        rows = sorted(
            ivm.read_totals().collect(), key=lambda r: str(r[0])
        )
        out = {
            "cmd": "ivm-totals",
            "groups": len(rows),
            "totals": {str(r[0]): {"cnt": r[1], "total": r[2]} for r in rows},
        }

    elif args.cmd == "changefeed":
        table = SnapshotTable(spark, args.table)
        feed = table.changelog_between(args.from_version, args.to_version)
        if args.out:
            feed.write.mode("overwrite").parquet(args.out)
            n = spark.read.parquet(args.out).count()
        else:
            n = feed.count()
        out = {"cmd": "changefeed", "from": args.from_version,
               "to": args.to_version, "events": n, "out": args.out}

    elif args.cmd == "tag":
        table = SnapshotTable(spark, args.table)
        v = table.tag(args.name, version=args.version)
        out = {"cmd": "tag", "name": args.name, "version": v,
               "tags": table.tags()}

    elif args.cmd == "drop-tag":
        table = SnapshotTable(spark, args.table)
        table.drop_tag(args.name)
        out = {"cmd": "drop-tag", "name": args.name, "tags": table.tags()}

    elif args.cmd == "rebucket":
        table = SnapshotTable(spark, args.table)
        res = table.rebucket(args.n_buckets,
                             files_per_bucket=args.files_per_bucket)
        out = {"cmd": "rebucket", "applied": res.applied,
               "n_buckets": args.n_buckets, "snapshot_id": res.snapshot_id,
               "rows_rewritten": res.rows_written}

    elif args.cmd == "set-stats-cols":
        table = SnapshotTable(spark, args.table)
        cols = [c for c in args.cols.split(",") if c]
        res = table.set_stats_cols(cols)
        out = {"cmd": "set-stats-cols", "applied": res.applied, "cols": cols}

    elif args.cmd == "scan-range":
        def _bound(v):
            if v is None:
                return None
            for cast in (int, float):
                try:
                    return cast(v)
                except ValueError:
                    pass
            return v

        lo, hi = _bound(args.lo), _bound(args.hi)
        table = SnapshotTable(spark, args.table)
        m = table.manifest()
        entries = table._range_entries(args.col, lo, hi, m)
        out = {
            "cmd": "scan-range",
            "col": args.col,
            "lo": lo,
            "hi": hi,
            "rows": table.read_range(args.col, lo, hi).count(),
            "files_read": len(entries),
            "files_total": len(m["files"]),
        }

    elif args.cmd == "dlq-show":
        from data_hub_ejp_xml_pipeline_spark.plans.dlq import DlqState

        # read-only summary: probe the meta file first (same rule as
        # dedup-flags / ivm-totals / scd2-history)
        if not os.path.exists(os.path.join(args.state, "dlq_meta.json")):
            out = {"cmd": "dlq-show",
                   "error": f"no dlq state at {args.state}"}
            print(json.dumps(out))
            return out
        state = DlqState(spark, args.state)
        rows = sorted(state.counts_by_reason().collect())
        out = {
            "cmd": "dlq-show",
            "rejects": sum(r.n for r in rows),
            "by_reason": {r.reject_reason: r.n for r in rows},
        }

    elif args.cmd == "index-lookup":
        from data_hub_ejp_xml_pipeline_spark.plans.secondary_index import (
            SecondaryIndexState,
        )

        if not os.path.exists(os.path.join(args.state, "index_meta.json")):
            out = {"cmd": "index-lookup",
                   "error": f"no index state at {args.state}"}
            print(json.dumps(out))
            return out
        state = SecondaryIndexState(spark, args.state)
        keys = sorted(r[0] for r in state.lookup(args.value).collect())
        out = {"cmd": "index-lookup", "value": args.value,
               "index_col": state.index_col, "n": len(keys),
               "keys": keys[:100]}  # bounded print; n is the real count

    elif args.cmd == "scd2-history":
        from data_hub_ejp_xml_pipeline_spark.plans.scd2 import Scd2State

        # read-only summary: opening a wrong path without the meta file
        # would raise on the missing payload schema — probe first for a
        # clean one-line error (same rule as dedup-flags / ivm-totals)
        if not os.path.exists(os.path.join(args.state, "scd2_meta.json")):
            out = {"cmd": "scd2-history",
                   "error": f"no scd2 state at {args.state}"}
            print(json.dumps(out))
            return out
        state = Scd2State(spark, args.state)
        from pyspark.sql import functions as F

        if args.as_of is not None:
            n = state.read_as_of(args.as_of).count()
            out = {"cmd": "scd2-history", "as_of": args.as_of, "rows": n}
        else:
            # one job over one history scan
            row = state.read_history().agg(
                F.count(F.lit(1)).alias("versions"),
                F.sum(F.col("is_current").cast("long")).alias("current"),
                F.countDistinct(state.key).alias("keys"),
                F.max("valid_from_lsn").alias("max_lsn"),
            ).first()
            out = {
                "cmd": "scd2-history",
                "versions": row.versions,
                "current": int(row.current or 0),
                "closed": row.versions - int(row.current or 0),
                "keys": row.keys,
                "max_lsn": row.max_lsn,
            }

    else:  # show
        table = SnapshotTable(spark, args.table)
        m = table.manifest()
        out = {
            "cmd": "show",
            "version": m["version"],
            "snapshot_id": m["snapshot_id"],
            "operation": m["operation"],
            "key": m["key"],
            "n_buckets": m["n_buckets"],
            "n_files": len(m["files"]),
            "rows": sum(f["rows"] for f in m["files"]),
            "columns": [f["name"] for f in m["schema"]["fields"]],
            "ledger_entries": len(m["ledger"]),
            "snapshots": len(table.snapshots()),
            "tags": table.tags(),
        }
        if getattr(args, "history", False):
            out["history"] = [
                r.asDict() for r in table.history_df().collect()
            ]

    print(json.dumps(out))
    return out


if __name__ == "__main__":
    main(sys.argv[1:])
