"""Iceberg adapter: the SnapshotTable MERGE contract on a real lakehouse.

On clusters with the Iceberg runtime (``iceberg-spark-runtime`` jar + a
configured catalog), the from-scratch ``SnapshotTable`` is unnecessary —
Iceberg provides the same commit model natively (manifest lists, snapshot
isolation, file-level min/max pruning, optimistic CAS commits). This
adapter exposes the SAME API surface and compiles the engine's LSN-guarded
merge (SURVEY.md §2.5 J4; reference sink ``bq_data_service.py:17-52``
append + warehouse latest-view) to a single ``MERGE INTO`` statement that
Iceberg executes copy-on-write or merge-on-read per table config.

Exactly-once: the LSN guard itself makes replays value-idempotent (a
re-applied batch updates nothing because ``s.lsn > t._lsn`` is false), so
the adapter needs no ledger for correctness — Structured Streaming's
checkpoint provides the batch-id monotonicity, matching the semantics the
local table pins with its ledger tests.

The SQL generation is pure and unit-tested offline; execution paths are
gated on ``is_available`` (this container has no Iceberg runtime).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from data_hub_ejp_xml_pipeline_spark.schemas import ENVELOPE, LSN, OP
from data_hub_ejp_xml_pipeline_spark.table.snapshot_table import DELETED_COL, LSN_COL

_ICEBERG_EXTENSION = "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"


def is_available(spark: SparkSession) -> bool:
    """True when the Iceberg SQL extensions are on this session's classpath."""
    try:
        ext = spark.conf.get("spark.sql.extensions", "") or ""
        if _ICEBERG_EXTENSION not in ext:
            return False
        # classpath probe: the extension string can be set without the jar
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.catalog.Catalog"
        )
        return True
    except Exception:  # noqa: BLE001
        return False


def create_table_sql(
    identifier: str,
    schema: T.StructType,
    key: str = "doc_id",
    n_buckets: int = 16,
) -> str:
    """DDL matching SnapshotTable.create: payload schema + ``_lsn`` +
    ``_deleted`` tombstone flag, hash bucketing on the key (Iceberg's
    bucket transform plays the role of the engine's manifest-recorded
    bucket hash)."""
    fields = list(schema.fields)
    if not any(f.name == LSN_COL for f in fields):
        fields.append(T.StructField(LSN_COL, T.LongType(), True))
    if not any(f.name == DELETED_COL for f in fields):
        fields.append(T.StructField(DELETED_COL, T.BooleanType(), True))
    cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in fields)
    return (
        f"CREATE TABLE IF NOT EXISTS {identifier} ({cols}) USING iceberg "
        f"PARTITIONED BY (bucket({n_buckets}, {key}))"
    )


def merge_sql(
    identifier: str,
    payload_cols: list[str],
    key: str = "doc_id",
    source_view: str = "updates",
) -> str:
    """The engine's merge contract as one Iceberg MERGE INTO, with the
    SAME tombstone semantics as the local SnapshotTable:

    ``WHEN MATCHED AND s.lsn > t._lsn THEN UPDATE SET *, _deleted = (op='D')``
    ``WHEN NOT MATCHED THEN INSERT *, _deleted = (op='D')``

    Deletes become tombstone rows rather than physical DELETEs: a
    physically deleted key would be NOT MATCHED for a later out-of-order
    OLDER update, whose insert has nothing to compare its LSN against —
    the stale row would resurrect. The tombstone keeps the max LSN in
    place so the guard keeps working across batches; physical removal is
    a separate vacuum pass (DELETE WHERE _deleted AND _lsn <= watermark),
    exactly like the local table's ``vacuum_tombstones``.
    """
    sets = ", ".join(
        [f"t.{c} = s.{c}" for c in payload_cols if c != key]
        + [f"t.{LSN_COL} = s.{LSN}",
           f"t.{DELETED_COL} = (s.{OP} = 'D')"]
    )
    ins_cols = ", ".join(payload_cols + [LSN_COL, DELETED_COL])
    ins_vals = ", ".join(
        [f"s.{c}" for c in payload_cols]
        + [f"s.{LSN}", f"(s.{OP} = 'D')"]
    )
    return (
        f"MERGE INTO {identifier} t USING {source_view} s ON t.{key} = s.{key} "
        f"WHEN MATCHED AND s.{LSN} > t.{LSN_COL} THEN UPDATE SET {sets} "
        f"WHEN NOT MATCHED THEN INSERT ({ins_cols}) VALUES ({ins_vals})"
    )


def add_columns_sql(identifier: str, new_fields: list[T.StructField]) -> str:
    """Add-only schema evolution (SnapshotTable.add_columns analog):
    Iceberg ALTER TABLE ADD COLUMNS — new columns read as NULL in old
    files, exactly like the local table's explicit-schema reads."""
    cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in new_fields)
    return f"ALTER TABLE {identifier} ADD COLUMNS ({cols})"


def widen_column_sql(identifier: str, field: T.StructField) -> str:
    """Lossless scalar widening (int→bigint, float→double) — one of the
    type changes Iceberg's evolution spec permits because old data files
    need no rewrite (readers promote at scan time). The local table does
    the same through ``schema_evolution._widened``."""
    return (
        f"ALTER TABLE {identifier} ALTER COLUMN {field.name} "
        f"TYPE {field.dataType.simpleString()}"
    )


def evolution_sql(
    identifier: str,
    existing: T.StructType,
    incoming: T.StructType,
) -> list[str]:
    """The full evolution plan for one batch as ordered DDL statements:
    ADD COLUMNS for fields the table lacks, then one ALTER COLUMN TYPE
    per lossless widening (int→bigint, float→double). Pure function so
    the exact SQL a cluster deploy will run is pinned offline.

    Unlike the local table (``_pin_key_type``), the KEY may widen here:
    Iceberg's spec requires ``hashInt(v) == hashLong(v)`` (Appendix B —
    integers hash as 64-bit), so a bucket(N, key) partition spec is
    stable across int→bigint key widening; the local table's murmur3
    bucket hash is width-sensitive, which is why it pins instead."""
    from data_hub_ejp_xml_pipeline_spark.table.schema_evolution import _widened

    by_lower = {f.name.lower(): f for f in existing.fields}
    stmts: list[str] = []
    new_fields = [f for f in incoming.fields if f.name.lower() not in by_lower]
    if new_fields:
        stmts.append(add_columns_sql(identifier, new_fields))
    for f in incoming.fields:
        ex = by_lower.get(f.name.lower())
        if ex is None:
            continue
        wide = _widened(ex.dataType, f.dataType)
        if wide is not None:
            stmts.append(
                widen_column_sql(identifier, T.StructField(ex.name, wide))
            )
    return stmts


def delete_where_sql(identifier: str, condition: str, hard: bool = False) -> str:
    """Predicate DELETE (SnapshotTable.delete_where analog). Soft keeps
    the CDC guard: the row becomes a tombstone at its unchanged ``_lsn``
    (Iceberg UPDATE, a copy-on-write/merge-on-read rewrite of matched
    files only — the engine's matched-file probe is what Iceberg's own
    planning does). Hard is a physical DELETE. Both restrict to LIVE
    rows; SQL's own three-valued WHERE already treats a NULL predicate
    as no-match, mirroring the local engine's coalesce."""
    live = f"NOT coalesce({DELETED_COL}, false)"
    if hard:
        return f"DELETE FROM {identifier} WHERE ({condition}) AND {live}"
    return (
        f"UPDATE {identifier} SET {DELETED_COL} = true "
        f"WHERE ({condition}) AND {live}"
    )


def update_where_sql(
    identifier: str, condition: str, assignments: dict[str, str]
) -> str:
    """Predicate UPDATE (SnapshotTable.update_where analog): assignments
    are SQL expressions over the PRE-update row (SQL UPDATE semantics —
    the same contract the local engine enforces with its single
    projection); keys/internal columns are the caller's responsibility
    here, the local pipeline validates before compiling."""
    sets = ", ".join(f"{c} = {expr}" for c, expr in sorted(assignments.items()))
    return (
        f"UPDATE {identifier} SET {sets} "
        f"WHERE ({condition}) AND NOT coalesce({DELETED_COL}, false)"
    )


def vacuum_sql(identifier: str, older_than_lsn: int) -> str:
    """Physical tombstone removal once the stream has provably passed the
    watermark (no event with lsn <= watermark can still arrive)."""
    return (
        f"DELETE FROM {identifier} "
        f"WHERE {DELETED_COL} AND {LSN_COL} <= {older_than_lsn}"
    )


class IcebergSnapshotTable:
    """Drop-in cluster-side replacement for ``SnapshotTable``.

    Same constructor shape (identifier instead of a filesystem root) and the
    same ``merge``/``append``/``read`` verbs; batches must be pre-reduced to
    one row per key with ``operators.lww.reduce_latest``, exactly like the
    local table.
    """

    def __init__(self, spark: SparkSession, identifier: str, key: str = "doc_id"):
        if not is_available(spark):
            raise RuntimeError(
                "Iceberg runtime not on the classpath — use "
                "table.SnapshotTable (the from-scratch local engine) or add "
                "iceberg-spark-runtime + a catalog to spark.sql.extensions"
            )
        self.spark = spark
        self.identifier = identifier
        self.key = key

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        identifier: str,
        schema: T.StructType,
        key: str = "doc_id",
        n_buckets: int = 16,
    ) -> "IcebergSnapshotTable":
        table = cls(spark, identifier, key)
        spark.sql(create_table_sql(identifier, schema, key, n_buckets))
        return table

    def read(
        self,
        version: int | None = None,
        include_tombstones: bool = False,
        snapshot_id: int | None = None,
    ) -> DataFrame:
        """Read current state, or time-travel.

        ``version`` keeps SnapshotTable's drop-in contract: a small
        sequential integer (0 = first commit), translated here to the
        Iceberg snapshot id via the table's ``.snapshots`` metadata
        ordered by commit time — Iceberg's own snapshot ids are random
        longs, so passing ``v=3`` straight through would fail or read the
        wrong data. Pass a native id via ``snapshot_id`` instead to skip
        the translation.
        """
        if version is not None and snapshot_id is not None:
            raise ValueError("pass either version or snapshot_id, not both")
        if version is not None:  # sequential version → Iceberg snapshot id
            # snapshot_id tie-breaks equal committed_at timestamps (two
            # commits can land in the same timestamp granularity; without
            # a total order the version mapping is nondeterministic)
            snaps = (
                self.spark.read.table(f"{self.identifier}.snapshots")
                .orderBy("committed_at", "snapshot_id")
                .select("snapshot_id")
                .collect()
            )
            if not 0 <= version < len(snaps):
                raise ValueError(
                    f"version {version} out of range: table has {len(snaps)} "
                    "snapshots (note: expired snapshots shift the sequence — "
                    "use snapshot_id= for a stable handle)"
                )
            snapshot_id = snaps[version]["snapshot_id"]
        if snapshot_id is not None:  # Iceberg time travel
            df = self.spark.read.option("snapshot-id", snapshot_id).table(self.identifier)
        else:
            df = self.spark.read.table(self.identifier)
        if include_tombstones:
            return df
        if DELETED_COL not in df.columns:
            # pre-tombstone table (created before the column existed):
            # every row is live; merge() requires add_columns first
            return df
        from pyspark.sql import functions as F

        return df.filter(
            ~F.coalesce(F.col(DELETED_COL), F.lit(False))
        ).drop(DELETED_COL)

    def append(self, df: DataFrame) -> None:
        df.writeTo(self.identifier).append()

    def add_columns(self, new_schema: T.StructType) -> None:
        existing = self.read(include_tombstones=True).schema
        for stmt in evolution_sql(self.identifier, existing, new_schema):
            self.spark.sql(stmt)

    def delete_where(self, condition: str, hard: bool = False) -> None:
        """Predicate DELETE (``SnapshotTable.delete_where`` parity): soft
        tombstones at the unchanged ``_lsn`` by default, physical removal
        with ``hard=True``. Executes :func:`delete_where_sql` — the
        statement the goldens and the DuckDB differential suite pin."""
        self.spark.sql(delete_where_sql(self.identifier, condition, hard))

    def update_where(self, condition: str, assignments: dict[str, str]) -> None:
        """Predicate UPDATE (``SnapshotTable.update_where`` parity);
        assignments are SQL expressions over the pre-update row."""
        self.spark.sql(update_where_sql(self.identifier, condition, assignments))

    def vacuum_tombstones(self, older_than_lsn: int) -> None:
        """Physical tombstone removal at/below a passed watermark
        (``SnapshotTable.vacuum_tombstones`` parity)."""
        self.spark.sql(vacuum_sql(self.identifier, older_than_lsn))

    def merge(self, updates: DataFrame) -> None:
        payload_cols = [
            c
            for c in updates.columns
            if c not in ENVELOPE and c not in (LSN_COL, DELETED_COL)
        ]
        view = f"updates_{abs(hash(self.identifier)) % 10**8}"
        updates.createOrReplaceTempView(view)
        self.spark.sql(
            merge_sql(
                self.identifier, payload_cols, self.key, view
            )
        )
