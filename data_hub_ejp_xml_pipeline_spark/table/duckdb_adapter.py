"""DuckDB differential-execution backend for the SnapshotTable contract.

``table/iceberg_adapter.py`` compiles the engine's statement families
(create / LSN-guarded tombstone merge / schema evolution / row DML /
vacuum) to Iceberg SQL, but this container has no Iceberg runtime, so
those statements are pinned by goldens and a parser round-trip only.
This module compiles the SAME contract to DuckDB's dialect and actually
EXECUTES it — a second, independent engine running the compiled plan,
so the semantics (not just the syntax) of every statement family are
differentially checked against the local ``SnapshotTable``
(``tests/test_duckdb_differential.py`` drives both over one changelog
and asserts state equality after every family).

Dialect notes (vs the Iceberg compile):

* DuckDB 1.x has no ``MERGE INTO`` — the merge contract compiles to its
  exact relational decomposition: ``UPDATE .. FROM`` for the
  MATCHED-AND-fresher branch, then ``INSERT .. SELECT .. WHERE NOT
  EXISTS`` for the NOT-MATCHED branch. Order is irrelevant (the update
  never creates keys; batches are pre-reduced to one row per key).
* No bucket partitioning — Iceberg's ``bucket(N, key)`` transform is a
  physical layout property, not semantics; DuckDB's row storage plays
  the role of a single bucket.
* Tombstone semantics are identical: deletes write ``_deleted = true``
  at the delete's LSN so the guard keeps working across out-of-order
  batches; ``vacuum`` physically removes tombstones at or below a
  watermark the stream has provably passed.

Reference anchor: the contract under test is SURVEY.md §2.5 J4 (the
reference's WRITE_TRUNCATE/WRITE_APPEND sink + latest-view semantics,
``bq_data_service.py:17-52``), as re-expressed by ``SnapshotTable``.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import types as T

from data_hub_ejp_xml_pipeline_spark.schemas import ENVELOPE, LSN, OP
from data_hub_ejp_xml_pipeline_spark.table.snapshot_table import DELETED_COL, LSN_COL

_SCALARS: dict[type, str] = {
    T.StringType: "VARCHAR",
    T.LongType: "BIGINT",
    T.IntegerType: "INTEGER",
    T.ShortType: "SMALLINT",
    T.ByteType: "TINYINT",
    T.DoubleType: "DOUBLE",
    T.FloatType: "FLOAT",
    T.BooleanType: "BOOLEAN",
    T.TimestampType: "TIMESTAMP",
    T.TimestampNTZType: "TIMESTAMP",
    T.DateType: "DATE",
    T.BinaryType: "BLOB",
}


def duck_type(dt: T.DataType) -> str:
    """Spark type → DuckDB type (arrays recurse; the scalar table covers
    every type the engine's payloads use)."""
    if isinstance(dt, T.ArrayType):
        return duck_type(dt.elementType) + "[]"
    if isinstance(dt, T.DecimalType):
        return f"DECIMAL({dt.precision}, {dt.scale})"
    try:
        return _SCALARS[type(dt)]
    except KeyError:
        raise TypeError(f"no DuckDB mapping for Spark type {dt.simpleString()}")


def create_table_sql(name: str, schema: T.StructType, key: str = "doc_id") -> str:
    """DDL matching ``SnapshotTable.create``: payload + ``_lsn`` +
    ``_deleted``."""
    fields = list(schema.fields)
    if not any(f.name == LSN_COL for f in fields):
        fields.append(T.StructField(LSN_COL, T.LongType(), True))
    if not any(f.name == DELETED_COL for f in fields):
        fields.append(T.StructField(DELETED_COL, T.BooleanType(), True))
    cols = ", ".join(f"{f.name} {duck_type(f.dataType)}" for f in fields)
    return f"CREATE TABLE IF NOT EXISTS {name} ({cols})"


def merge_sql(
    name: str,
    payload_cols: list[str],
    key: str = "doc_id",
    source_view: str = "updates",
    inclusive_guard: bool = False,
) -> list[str]:
    """The LSN-guarded tombstone merge as its two-statement relational
    decomposition (DuckDB has no MERGE INTO):

    1. MATCHED AND fresher → UPDATE (payload, ``_lsn``, tombstone flag);
    2. NOT MATCHED → INSERT with the same derived columns.

    ``inclusive_guard`` switches the stale guard to ``>=`` — the
    replication-consumer form (equal-LSN content changes from row DML on
    the source must apply), mirroring ``SnapshotTable.merge``.
    """
    guard = ">=" if inclusive_guard else ">"
    sets = ", ".join(
        [f"{c} = s.{c}" for c in payload_cols if c != key]
        + [f"{LSN_COL} = s.{LSN}", f"{DELETED_COL} = (s.{OP} = 'D')"]
    )
    ins_cols = ", ".join(payload_cols + [LSN_COL, DELETED_COL])
    ins_vals = ", ".join(
        [f"s.{c}" for c in payload_cols]
        + [f"s.{LSN}", f"(s.{OP} = 'D')"]
    )
    return [
        f"UPDATE {name} SET {sets} FROM {source_view} s "
        f"WHERE {name}.{key} = s.{key} AND s.{LSN} {guard} {name}.{LSN_COL}",
        f"INSERT INTO {name} ({ins_cols}) SELECT {ins_vals} FROM {source_view} s "
        f"WHERE NOT EXISTS (SELECT 1 FROM {name} t WHERE t.{key} = s.{key})",
    ]


def add_columns_sql(name: str, new_fields: list[T.StructField]) -> list[str]:
    """Add-only evolution — one ALTER per column (DuckDB has no
    multi-column ADD COLUMNS form); new columns read as NULL in existing
    rows, exactly like the local table's explicit-schema reads."""
    return [
        f"ALTER TABLE {name} ADD COLUMN {f.name} {duck_type(f.dataType)}"
        for f in new_fields
    ]


def widen_column_sql(name: str, field: T.StructField) -> str:
    """Lossless scalar widening (int→bigint, float→double)."""
    return (
        f"ALTER TABLE {name} ALTER COLUMN {field.name} "
        f"SET DATA TYPE {duck_type(field.dataType)}"
    )


def evolution_sql(
    name: str, existing: T.StructType, incoming: T.StructType
) -> list[str]:
    """Ordered DDL for one drifted batch: adds first, then widenings —
    the same plan ``iceberg_adapter.evolution_sql`` emits, in this
    dialect."""
    from data_hub_ejp_xml_pipeline_spark.table.schema_evolution import _widened

    by_lower = {f.name.lower(): f for f in existing.fields}
    stmts = add_columns_sql(
        name, [f for f in incoming.fields if f.name.lower() not in by_lower]
    )
    for f in incoming.fields:
        ex = by_lower.get(f.name.lower())
        if ex is None:
            continue
        wide = _widened(ex.dataType, f.dataType)
        if wide is not None:
            stmts.append(widen_column_sql(name, T.StructField(ex.name, wide)))
    return stmts


def delete_where_sql(name: str, condition: str, hard: bool = False) -> str:
    """Predicate DELETE over LIVE rows: soft = tombstone at the
    unchanged ``_lsn``; hard = physical removal."""
    live = f"NOT coalesce({DELETED_COL}, false)"
    if hard:
        return f"DELETE FROM {name} WHERE ({condition}) AND {live}"
    return f"UPDATE {name} SET {DELETED_COL} = true WHERE ({condition}) AND {live}"


def update_where_sql(
    name: str, condition: str, assignments: dict[str, str]
) -> str:
    """Predicate UPDATE over LIVE rows; assignments evaluate against the
    PRE-update row (SQL UPDATE semantics — the contract the local engine
    enforces with its single projection)."""
    sets = ", ".join(f"{c} = {expr}" for c, expr in sorted(assignments.items()))
    return (
        f"UPDATE {name} SET {sets} "
        f"WHERE ({condition}) AND NOT coalesce({DELETED_COL}, false)"
    )


def vacuum_sql(name: str, older_than_lsn: int) -> str:
    """Physical tombstone removal at/below a passed watermark."""
    return (
        f"DELETE FROM {name} "
        f"WHERE {DELETED_COL} AND {LSN_COL} <= {older_than_lsn}"
    )


class DuckDBSnapshotTable:
    """Thin executor: compiles each verb with the functions above and
    runs it on a live DuckDB connection. Batches must be pre-reduced to
    one row per key (``operators.lww.reduce_latest`` contract), exactly
    like the local and Iceberg tables."""

    def __init__(self, con: Any, name: str, key: str = "doc_id"):
        self.con = con
        self.name = name
        self.key = key

    @classmethod
    def create(
        cls, con: Any, name: str, schema: T.StructType, key: str = "doc_id"
    ) -> "DuckDBSnapshotTable":
        con.execute(create_table_sql(name, schema, key))
        return cls(con, name, key)

    def table_schema_names(self) -> list[str]:
        return [
            r[0]
            for r in self.con.execute(
                f"SELECT column_name FROM information_schema.columns "
                f"WHERE table_name = '{self.name}' ORDER BY ordinal_position"
            ).fetchall()
        ]

    def evolve(
        self, existing: T.StructType, incoming: T.StructType
    ) -> list[str]:
        """Run the evolution plan for a drifted batch schema (adds, then
        lossless widenings); returns the executed statements so tests can
        pin them. ``existing`` carries the Spark-typed current schema —
        the widening decision (`_widened`) is type-chain logic the DuckDB
        catalog's type names would only obscure."""
        stmts = evolution_sql(self.name, existing, incoming)
        for s in stmts:
            self.con.execute(s)
        return stmts

    def merge(self, reduced, inclusive_guard: bool = False) -> None:
        """``reduced``: a pandas frame, one row per key."""
        payload_cols = [
            c for c in reduced.columns
            if c not in ENVELOPE and c not in (LSN_COL, DELETED_COL)
        ]
        self.con.register("_duck_merge_src", reduced)
        try:
            for stmt in merge_sql(
                self.name, payload_cols, self.key,
                source_view="_duck_merge_src",
                inclusive_guard=inclusive_guard,
            ):
                self.con.execute(stmt)
        finally:
            self.con.unregister("_duck_merge_src")

    def delete_where(self, condition: str, hard: bool = False) -> None:
        self.con.execute(delete_where_sql(self.name, condition, hard))

    def update_where(self, condition: str, assignments: dict[str, str]) -> None:
        self.con.execute(update_where_sql(self.name, condition, assignments))

    def vacuum(self, older_than_lsn: int) -> None:
        self.con.execute(vacuum_sql(self.name, older_than_lsn))

    def read_pandas(self, include_tombstones: bool = False):
        if include_tombstones:
            return self.con.execute(f"SELECT * FROM {self.name}").df()
        return self.con.execute(
            f"SELECT * EXCLUDE ({DELETED_COL}) FROM {self.name} "
            f"WHERE NOT coalesce({DELETED_COL}, false)"
        ).df()
