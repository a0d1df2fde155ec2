"""Per-entity fan-out pipeline: one changelog stream → four entity tables.

The reference loads each entity type into its own BigQuery table
(``dag_pipeline_config/xml_config.py:96-118`` maps Person/PersonV2/
Manuscript/ManuscriptVersion → tables; ``etl.py`` writes one JSONL per
type), one table after another. The engine equivalent: ONE parsed
changelog stream fanned into one ``SnapshotTable`` per entity type inside
the same ``foreachBatch`` epoch, the tables committed concurrently
(``plans.pipeline.run_table_branches``) after one schema-inference job
for all of them.

Exactly-once across tables: every table keeps its own epoch ledger keyed
by the same ``batch_id``. A crash during the fan-out leaves any subset of
the tables committed; on replay the already-committed tables no-op on
their ledger and only the missing ones apply — the epoch converges
without coordination (each merge is idempotent, so no cross-table
transaction is needed).
"""

from __future__ import annotations

import json
from functools import partial
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_hub_ejp_xml_pipeline_spark.config import ENTITY_TYPES, PipelineConfig
from data_hub_ejp_xml_pipeline_spark.operators.lww import reduce_latest
from data_hub_ejp_xml_pipeline_spark.plans.pipeline import run_table_branches
from data_hub_ejp_xml_pipeline_spark.table import SnapshotTable
from data_hub_ejp_xml_pipeline_spark.table.snapshot_table import _NON_PAYLOAD
from data_hub_ejp_xml_pipeline_spark.table.schema_evolution import merge_schemas

ENTITY_PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("payload", T.StringType()),
        T.StructField("modified_timestamp", T.StringType()),
    ]
)

# typed mode starts from the key + timestamp only; every payload field —
# including nested array<struct> — arrives via per-batch inference +
# add-only evolution, the reference's create_or_extend_table_schema
# behavior (bq_data_service.py:142-231) end-to-end
TYPED_BASE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("modified_timestamp", T.StringType()),
    ]
)

# never promoted from a payload JSON into a table column: the entity
# changelog's own columns, the changelog envelope and engine-internal names
_RESERVED = {"doc_id", "modified_timestamp", "payload", "source"} | _NON_PAYLOAD


def infer_payload_schema(
    df: DataFrame,
    entities: Iterable[str],
    payload_col: str = "payload",
) -> dict[str, T.StructType]:
    """Distributed JSON schema inference over a batch's payload strings,
    ONE job for every entity — the engine analog of the reference's
    per-batch ``generate_schema`` (``bq_data_service.py:191-201``, which
    feeds BigQuery autodetect-style load schemas).

    Each object payload is wrapped as ``{"<source>": payload}`` (rows whose
    ``source`` is not in ``entities`` are dropped) and the wrapped strings
    go through Spark's JVM JSON reader, so no row crosses into a Python
    worker. The reader unions field sets and types across all rows, so a
    field present in ANY row of an entity lands in that entity's struct —
    the same struct a separate read of that entity's payloads infers. A
    malformed payload makes its whole wrapped row a corrupt record, so it
    contributes no field. Returns ``{entity: StructType}`` for every entity
    (an empty struct for one absent from the batch), without reserved and
    ``_corrupt*`` fields."""
    entities = list(entities)
    # entity → its JSON-quoted object key
    key = F.create_map(
        *[c for e in entities for c in (F.lit(e), F.lit(json.dumps(e)))]
    )[F.col("source")]
    wrapped = df.where(
        F.col("source").isin(entities)
        & F.ltrim(F.col(payload_col)).startswith("{")
    ).select(F.concat(F.lit("{"), key, F.lit(":"), F.col(payload_col), F.lit("}")))
    # DataFrameReader.json(Dataset[String]) has no Python binding for a
    # DataFrame; the RDD binding would ship every row through a Python worker
    spark = df.sparkSession
    strings = getattr(wrapped._jdf, "as")(spark._jvm.org.apache.spark.sql.Encoders.STRING())
    inferred = T.StructType.fromJson(
        json.loads(spark.read._jreader.json(strings).schema().json())
    )
    out = {}
    for e in entities:
        struct = inferred[e].dataType if e in inferred.names else T.StructType()
        out[e] = T.StructType(
            [
                f
                for f in struct.fields
                if not f.name.startswith("_corrupt") and f.name.lower() not in _RESERVED
            ]
        )
    return out


class EntityPipeline:
    """Fan a parsed entity changelog (``sources.xml_zip.entities_to_changelog``
    shape: ``source`` column = entity type) into one table per entity."""

    def __init__(
        self,
        spark: SparkSession,
        config: PipelineConfig,
        n_buckets: int = 16,
        payload_mode: str = "json",
        dedup_state=None,
    ):
        """``payload_mode``:

        * ``'json'``  — each entity table stores the parsed dict as one
          opaque JSON string column (compact, schema-stable).
        * ``'typed'`` — each batch's payload JSON is schema-inferred,
          parsed with ``from_json`` and stored as TYPED top-level columns
          (nested structs/arrays included); new fields in later batches
          evolve every table additively, so a user queries
          ``stages[0].stage_name`` as a real column, exactly like the
          reference's auto-extended BigQuery tables.

        A table keeps the mode it was created with — don't reopen a json
        table as typed (the payload column would be re-inferred as a
        string field).

        ``dedup_state``: an optional :class:`plans.dedup_ingest.
        DedupIngestState` — each epoch's LWW-reduced live payloads are
        flagged against the persisted corpus band state and appended to
        it (dedup-on-ingest). Requires a ``batch_id`` on every ``apply``
        (the state tables' exactly-once rides the epoch ledger).
        """
        if payload_mode not in ("json", "typed"):
            raise ValueError(f"payload_mode must be json|typed, got {payload_mode!r}")
        self.spark = spark
        self.config = config
        self.payload_mode = payload_mode
        self.dedup_state = dedup_state
        create_schema = (
            TYPED_BASE_SCHEMA if payload_mode == "typed" else ENTITY_PAYLOAD_SCHEMA
        )
        self.tables: dict[str, SnapshotTable] = {}
        for entity in ENTITY_TYPES:
            root = config.table_root(entity)
            if SnapshotTable.exists(root):
                self.tables[entity] = SnapshotTable(spark, root)
            else:
                self.tables[entity] = SnapshotTable.create(
                    spark, root, create_schema, key="doc_id",
                    n_buckets=n_buckets,
                )

    def _typed_batch(self, table: SnapshotTable, inferred: T.StructType,
                     reduced: DataFrame) -> DataFrame:
        """JSON payload strings → typed top-level columns for ONE batch.

        Schema = existing table payload fields (existing-wins) ∪ the fields
        ``inferred`` from THIS batch's JSON — so ``from_json`` keeps every
        previously-known column AND surfaces new ones; the merge commit
        then evolves the table schema additively (K3)."""
        existing = T.StructType(
            [f for f in table.schema().fields if f.name.lower() not in _RESERVED]
        )
        merged = merge_schemas(existing, inferred)
        if not merged.fields:
            return reduced.select("lsn", "op", "doc_id", "modified_timestamp")
        parsed = reduced.withColumn("_p", F.from_json("payload", merged))
        return parsed.select(
            "lsn",
            "op",
            "doc_id",
            "modified_timestamp",
            *[F.col("_p").getField(f.name).alias(f.name) for f in merged.fields],
        )

    def apply(self, changelog: DataFrame, batch_id: int | None = None) -> dict[str, int]:
        """One epoch: reduce + merge each entity slice, the tables
        concurrently. The slice filter is pushed into the shared scan;
        entity types absent from the batch are empty-batch no-ops (F4)."""
        # the shared batch feeds 4 tables × 2 jobs each — without a persist
        # the upstream plan (e.g. the zip parse mapInPandas) would re-execute
        # 8 times per epoch
        changelog = changelog.persist()
        try:
            if self.dedup_state is not None:
                if batch_id is None:
                    raise ValueError(
                        "dedup-on-ingest requires a monotone batch_id — the "
                        "band/flags state tables commit exactly-once per epoch"
                    )
                # near-dup flags over the epoch's LWW winners (live rows
                # only: a deleted doc's payload should not enter the corpus
                # state). The lineage cols ride along as the deterministic
                # tie-break for equal (doc_id, lsn) rows — without them the
                # persisted corpus/flags could differ between a run and its
                # crash replay
                live = reduce_latest(
                    changelog.select("lsn", "op", "doc_id", "payload",
                                     "source_file", "offset")
                ).filter(F.col("op") != "D")
                self.dedup_state.apply(live, batch_id=batch_id, text_col="payload")
            # one inference job for every table, from the UNREDUCED batch:
            # re-running the LWW reduce just to infer would double the
            # epoch's reduce cost, and a field seen only in LWW-losing rows
            # still evolves the schema — same as the reference, which
            # infers from the whole JSONL batch file. It also materializes
            # the persisted batch once, before the table threads read it.
            inferred = (
                infer_payload_schema(changelog, self.tables)
                if self.payload_mode == "typed"
                else {}
            )

            def branch(entity: str, table: SnapshotTable) -> int:
                slice_df = changelog.filter(F.col("source") == entity).select(
                    "lsn", "op", "doc_id", "payload", "modified_timestamp",
                    "source_file", "offset",
                )
                # the lineage cols are the reduce's deterministic tie-break;
                # the commit strips them with the rest of the envelope, so
                # the table keeps exactly its payload schema
                reduced = reduce_latest(slice_df)
                if self.payload_mode == "typed":
                    reduced = self._typed_batch(table, inferred[entity], reduced)
                return table.merge(reduced, batch_id=batch_id, stats_df=slice_df).n_events

            return run_table_branches(
                self.spark, {e: partial(branch, e, t) for e, t in self.tables.items()}
            )
        finally:
            changelog.unpersist()

    def attach(self, changelog_stream: DataFrame, checkpoint: str,
               available_now: bool = False):
        """Streaming: one foreachBatch epoch applies all entity tables."""
        writer = changelog_stream.writeStream.foreachBatch(
            lambda df, bid: self.apply(df, batch_id=bid)
        ).option("checkpointLocation", checkpoint)
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def read(self, entity: str) -> DataFrame:
        return self.tables[entity].read()
