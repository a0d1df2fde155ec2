"""Dead-letter queue: a ledgered quarantine table for rejected change events.

The reference writes XML parse failures next to the good output and
carries on (``ejp_xml_pipeline/transform_zip.py`` — the e2e tests assert
the error artifacts exist); the engine's analog at the changelog layer:
:func:`operators.validate.split_changelog` peels off events that cannot
participate in the merge contract, and this sink persists them with
their reason and epoch so an operator can replay or fix them later.
Nothing is ever dropped silently, and the merge path stays clean of
defensive null-handling.

Exactly-once: each epoch's rejects land as ONE ledgered append to a
:class:`SnapshotTable` keyed by a content surrogate — replaying an
epoch no-ops on the ledger, so crash/restart around the append cannot
double-quarantine. The payload schema is captured at create time as the
state's identity (adopted on reopen, conflicting schema raises), exactly
like the SCD2 and IVM states.

Scale shape: the reject stream is a trivially small fraction of the
changelog, filtered out of the SAME scan the valid side uses (two
complementary pushed-down predicates, no extra shuffle); the append is
O(rejects). Reading back by reason is a parquet-pushed filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_hub_ejp_xml_pipeline_spark.operators.validate import REASON_COL
from data_hub_ejp_xml_pipeline_spark.plans.dedup_ingest import _open_table
from data_hub_ejp_xml_pipeline_spark.table.snapshot_table import (
    CommitResult,
    SnapshotTable,
)

_RID_COL = "_rid"
_EPOCH_COL = "epoch"


def _dlq_schema(payload: T.StructType) -> T.StructType:
    fields = [
        T.StructField(_RID_COL, T.StringType(), False),
        T.StructField(REASON_COL, T.StringType(), True),
        T.StructField(_EPOCH_COL, T.LongType(), True),
    ]
    # rejects are exactly the rows where "non-nullable" changelog columns
    # (key, lsn, op) came in null — relax every payload field
    fields += [
        T.StructField(f.name, f.dataType, True)
        for f in payload.fields
        if f.name != REASON_COL
    ]
    return T.StructType(fields)


class DlqState:
    """Quarantine sink attached to a pipeline (or driven standalone).

    ``payload_schema`` — the changelog's schema (without ``reject_reason``;
    it is stripped if present). Persisted at the root on create and adopted
    on reopen; a conflicting explicit schema raises.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        payload_schema: T.StructType | None = None,
        n_buckets: int = 8,
    ):
        import json as _json
        import os as _os

        self.spark = spark
        meta_path = _os.path.join(root, "dlq_meta.json")
        if _os.path.exists(meta_path):
            with open(meta_path) as fh:
                stored = _json.load(fh)
            stored_schema = T.StructType.fromJson(stored["payload_schema"])
            if payload_schema is not None:
                given = T.StructType(
                    [f for f in payload_schema.fields if f.name != REASON_COL]
                )
                if given != stored_schema:
                    raise ValueError(
                        f"dlq state at {root} was created with a different "
                        "changelog schema; reopening with a conflicting "
                        "schema would corrupt the quarantine"
                    )
            payload_schema = stored_schema
        else:
            if payload_schema is None:
                raise ValueError(
                    "payload_schema is required when creating dlq state"
                )
            payload_schema = T.StructType(
                [f for f in payload_schema.fields if f.name != REASON_COL]
            )
            reserved = {_RID_COL, _EPOCH_COL} & {
                f.name for f in payload_schema.fields
            }
            if reserved:
                raise ValueError(
                    f"changelog columns {sorted(reserved)} collide with the "
                    "quarantine table's own columns — rename them upstream"
                )
            _os.makedirs(root, exist_ok=True)
            with open(meta_path, "w") as fh:
                _json.dump({"payload_schema": payload_schema.jsonValue()}, fh)
        self.payload_schema = payload_schema
        self.payload_cols = [f.name for f in payload_schema.fields]
        self.table = _open_table(
            spark, root + "/rejects", _dlq_schema(payload_schema),
            _RID_COL, n_buckets,
        )
        self.last_reject_count: int = 0

    def maintained_tables(self) -> dict[str, SnapshotTable]:
        """See :meth:`plans.scd2.Scd2State.maintained_tables`."""
        return {"dlq_rejects": self.table}

    # ------------------------------------------------------------- serve
    def read(self) -> DataFrame:
        """All quarantined events: original columns + reason + epoch."""
        return self.table.read().drop(_RID_COL)

    def counts_by_reason(self) -> DataFrame:
        return (
            self.read()
            .groupBy(REASON_COL)
            .agg(F.count(F.lit(1)).alias("n"))
        )

    # ------------------------------------------------------------- apply
    def apply(self, rejects: DataFrame, batch_id: int) -> CommitResult:
        """Quarantine one epoch's rejects (a frame already carrying
        ``reject_reason``) — ONE ledgered append, exactly-once."""
        if batch_id is None:
            raise ValueError(
                "DlqState.apply requires a monotone batch_id; without one "
                "the quarantine append is not exactly-once"
            )
        replayed = self.table.replayed(batch_id)
        if replayed is not None:
            self.last_reject_count = 0
            return replayed
        # the surrogate spreads buckets uniformly AND is deterministic in
        # the row content, so a replayed epoch (crash after commit) hashes
        # to identical rows — the ledger is the idempotency guard, the rid
        # just keeps the bucketing stable across replays
        rows = rejects.select(
            F.md5(
                F.to_json(F.struct(F.col(REASON_COL), *self.payload_cols))
            ).alias(_RID_COL),
            F.col(REASON_COL),
            F.lit(batch_id).cast("long").alias(_EPOCH_COL),
            *self.payload_cols,
        )
        res = self.table.append(rows, batch_id=batch_id)
        self.last_reject_count = res.rows_written if res.applied else 0
        return res

    # ------------------------------------------------------------- replay
    def replay_into(
        self,
        pipeline,
        batch_id: int,
        transform=None,
    ) -> CommitResult:
        """Dead-letter REPLAY — the verb that makes a quarantine more
        than a graveyard: after the upstream fix lands (a schema evolved,
        a connector bug patched, an enricher backfilled), feed the
        quarantined events back through ``pipeline.apply`` and retire
        them from the queue.

        ``transform(rejects_df) -> batch_df`` applies the fix: it
        receives the live quarantine rows (``reject_reason``, ``epoch``
        and the original payload columns) and must return whatever frame
        the pipeline's ``apply`` consumes (a changelog for
        ``MergePipeline``, an envelope frame for ``MultiTablePipeline``).
        Defaults to dropping the quarantine bookkeeping columns.

        Exactly-once, crash-anywhere: the pipeline apply is ledgered
        under ``batch_id`` (the quarantine's own re-reject append rides
        that id, so a replayed crash re-run no-ops it). The retirement is
        a soft ``delete_where`` whose predicate — ``epoch < batch_id``,
        live rows only — is idempotent BY CONSTRUCTION, so it carries no
        ledger id (it must not: the re-reject append already consumed
        ``batch_id`` on this very table, and a second ledgered commit
        under the same id would silently no-op). Crash between the two:
        the re-run's apply no-ops on the ledger and the retirement still
        lands — convergent, never double-applied. Rows the fix did NOT
        fix are re-quarantined under the replay epoch and survive
        retirement, so the loop can run again after the next fix without
        losing anything."""
        if batch_id is None:
            raise ValueError("replay_into requires a monotone batch_id")
        rejects = self.read()
        fixed = (
            transform(rejects)
            if transform is not None
            else rejects.drop(REASON_COL, _EPOCH_COL)
        )
        res = pipeline.apply(fixed, batch_id=batch_id)
        # retire everything this replay RESUBMITTED; re-rejects from the
        # replay itself carry epoch == batch_id and stay live
        self.table.delete_where(
            f"{_EPOCH_COL} IS NULL OR {_EPOCH_COL} < {int(batch_id)}"
        )
        return res


def attach_dlq(
    spark: SparkSession, root: str, changelog_schema: T.StructType,
    n_buckets: int = 8,
) -> DlqState:
    """Open-or-create a DLQ for a changelog schema (create derives the
    payload identity from the frame; reopen adopts the stored one)."""
    import os as _os

    if _os.path.exists(_os.path.join(root, "dlq_meta.json")):
        return DlqState(spark, root)
    return DlqState(spark, root, payload_schema=changelog_schema,
                    n_buckets=n_buckets)


__all__ = ["DlqState", "attach_dlq", "SnapshotTable"]
