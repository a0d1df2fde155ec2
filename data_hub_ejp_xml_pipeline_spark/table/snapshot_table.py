"""Snapshot-log-over-Parquet table with Iceberg MERGE semantics.

Replaces the reference's append-only BigQuery sink + downstream
latest-view (``bq_data_service.py:17-52`` WRITE_APPEND) with an explicit
keyed MERGE (SURVEY.md §2.5 J4), and its S3 watermark state file
(``etl_state.py:14-76``) with an epoch ledger committed atomically with
the data (closes the reference's crash-between-load-and-state duplicate
hole at ``etl.py:190-195``).

Design for 100 TB:

* **Bucketed copy-on-write with file-level pruning.** Every data file
  belongs to a hash bucket ``pmod(murmur3(key), n_buckets)`` (the hash
  function is recorded in the manifest — it is part of the on-disk
  format) and carries
  its key min/max (from the parquet footer statistics — parquet-mr keeps
  truncated binary stats as valid bounds) in the manifest. A merge reads
  and rewrites only the files whose key range intersects the batch's
  per-bucket key range — Iceberg-style min/max manifest pruning, so a
  small batch against a huge, many-file bucket rewrites O(batch) files,
  not the bucket. Untouched files are carried forward by reference (no
  data movement). ``files_per_bucket`` controls write fan-out so buckets
  are multi-file in the first place.
* **Tasks sized by the rewrite, files by the layout.** A merge shuffles
  its join inputs on the key into J partitions: the smallest divisor of
  ``n_buckets`` that gives each task about 1 MiB of the bytes it
  rewrites (``n_buckets * files_per_bucket`` for multi-file buckets and
  for a first commit). Because the bucket function is Spark's hash
  partitioning, the write needs no third shuffle: a small epoch into a
  16-bucket table writes the same 16 files in one task where it ran 16.
  The layout's files per bucket hold only when J = 1 or J >= the
  session's ``spark.sql.shuffle.partitions``. Below that Spark re-plans
  both join inputs into that many partitions, and each bucket's rows
  spread over several tasks and files (a 2-bucket table with
  ``files_per_bucket=2`` under 8 shuffle partitions writes 4 files per
  bucket).
* **One commit point.** A commit = write immutable data files
  (:meth:`SnapshotTable._write_buckets`) → :meth:`SnapshotTable._publish`,
  the one step every commit after ``create`` takes: it builds the next
  manifest, advances the ledger and writes the whole manifest to a
  private, fsynced temp file in ``meta/`` →
  ``os.link`` it to ``meta/v{N}.json``. The link is atomic and fails if
  the name exists, so it is the CAS between racing writers, and no
  ``v{N}.json`` is ever torn: the manifest file IS the commit (Iceberg's
  file-system-table rule). ``meta/VERSION`` is only a hint refreshed
  after the link; :meth:`SnapshotTable.current_version` rolls forward
  past it while ``v{N+1}.json`` exists. A process crash anywhere leaves
  garbage files (swept by ``expire_snapshots``) and a consistent table;
  a crash after the link is a committed epoch whose replay is a ledger
  no-op. (Spark's data-file writes are not fsynced, so a POWER loss
  relies on the filesystem for the data files' durability.)
* **Exactly-once with a BOUNDED ledger.** The manifest embeds a sliding
  window of recent ``{batch_id → snapshot_id}`` entries plus an
  ``evicted_below`` watermark: replays inside the window hit the map,
  older (monotone streaming) replays hit the watermark — O(window), not
  O(history), per commit. :meth:`SnapshotTable.replayed` is that rule,
  and the only copy of it: every ledgered commit and every state built
  on a table (``plans.dlq``, ``ivm``, ``scd2``, ``secondary_index``,
  ``dedup_ingest``) asks it.
* **The changelog contract.** A batch is the ``schemas`` changelog:
  key, payload and the envelope (``lsn``, ``op``, ``offset``,
  ``source_file``, ``event_ts``). ``lsn`` feeds ``_lsn`` and the guard,
  ``op`` the tombstone, the rest the pre-pass; no envelope column is
  ever a table column.
* **Lineage in the manifest.** Per-source-file offset ranges
  (FIXTURES.md §5, generalizing the reference's provenance struct
  ``ejp_zip.py:66-69``) of THIS epoch only ride in the manifest the
  commit publishes, so state, ledger and lineage land in one atomic
  step. :meth:`SnapshotTable.lineage` reads the retained manifests;
  lineage retention follows ``expire_snapshots``.
* **One pre-pass per commit.** Lineage, touched buckets, per-bucket key
  ranges (for the file pruning) and batch stats all come out of a single
  ``GROUPING SETS ((source_file), (_bucket))`` aggregation over a narrow
  projection — one extra Spark job per epoch, not three.
* **Commit record.** Every applied commit times itself and returns the
  account in ``CommitResult.record``, one flat dict that is never
  persisted. A data commit (merge, append, replace) has contiguous
  phases that sum to its wall time: ``prepass_s`` (:meth:`_batch_profile`),
  ``plan_s`` (the driver-side rest before the write: manifest read,
  ledger check, schema evolution, file pruning, plan building),
  ``write_s`` (the parquet write job, which runs the reduce and join)
  and ``footers_s`` (footer reads of the new files), both timed in
  :meth:`_write_buckets`, ``hook_s`` (the pre-commit barrier) and
  ``commit_s`` (:meth:`_publish`); plus ``files_read``,
  ``files_carried``, ``files_written``, ``rows_carried``,
  ``bytes_written`` and ``write_tasks`` (the tasks that wrote the new
  files, off their names). A rewrite (DML, compaction, rebucket) carries the
  keys of :meth:`_write_buckets` and :meth:`_publish`, a metadata-only
  commit ``commit_s``, a replayed or empty batch nothing. The counts
  come from the pre-pass, the manifests and one ``stat`` per new file:
  no Spark job. ``ChangelogTailer`` writes the record into each
  ``metrics.jsonl`` row.
"""

from __future__ import annotations

import itertools
import bisect
import contextlib
import dataclasses
import json
import logging
import math
import os
import time
import uuid
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_hub_ejp_xml_pipeline_spark.schemas import ENVELOPE, LSN, OP
from data_hub_ejp_xml_pipeline_spark.table.schema_evolution import (
    conform_to_schema,
    merge_schemas,
)

_LOG = logging.getLogger(__name__)

LSN_COL = "_lsn"
DELETED_COL = "_deleted"
INTERNAL_COLS = (LSN_COL, DELETED_COL)
# never a table column: the changelog envelope and the engine's own columns
_NON_PAYLOAD = ENVELOPE | {"_bucket", *INTERNAL_COLS}


class ConcurrentCommitError(RuntimeError):
    """Another writer advanced the table while this commit was in flight."""


_DIR_SEQ = itertools.count()


def _snap_dir_name(version: int) -> str:
    """Data dirs are WRITER-UNIQUE (pid + per-process sequence), not just
    version-unique: two racers targeting the same next version must not
    overwrite each other's files — the loser's manifest CAS fails cleanly
    and its orphan dir is swept by expire_snapshots, while the winner's
    committed files are untouched. The manifest references files by path,
    so the dir name carries no semantics."""
    return os.path.join("data", f"snap-v{version:08d}-{os.getpid()}-{next(_DIR_SEQ)}")


@dataclasses.dataclass
class CommitResult:
    snapshot_id: str
    version: int
    applied: bool  # False when the batch_id was already in the ledger
    rows_written: int = 0
    n_events: int = 0  # events observed in the batch (from the stats job)
    max_event_ts: Any = None  # max event_ts in the batch, for lag metrics
    max_lsn: Any = None  # max lsn in the batch — the committed stream offset
    # a multi-table epoch (plans.multi_table): each table's own result, and
    # the events routed to no declared table
    per_table: dict[str, "CommitResult"] | None = None
    unrouted: int = 0
    # the engine's own account of THIS commit — phase wall times (``*_s``)
    # and file/row/byte counts; never persisted. Empty for replayed and
    # empty batches. See the module docstring ("Commit record").
    record: dict[str, Any] = dataclasses.field(default_factory=dict)


class SnapshotTable:
    """Iceberg-semantics table: create/append/merge/add_columns/time-travel."""

    def __init__(self, spark: SparkSession, root: str, strict_ledger: bool = False):
        self.spark = spark
        self.root = root
        # fail fast (instead of warn + skip) when a batch_id below the
        # ledger eviction watermark arrives — see replayed
        self.strict_ledger = strict_ledger

    # ---------------------------------------------------------------- setup
    # ledger entries older than (max batch_id - window) are evicted into
    # the evicted_below watermark — bounds manifest size at O(window)
    ledger_window: int = 1024

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        key: str = "doc_id",
        n_buckets: int = 16,
        files_per_bucket: int = 1,
        stats_cols: list[str] | None = None,
    ) -> "SnapshotTable":
        """Create an empty table. ``schema`` is the payload schema (must
        include ``key``); the engine appends ``_lsn`` internally.
        ``files_per_bucket`` sets the write fan-out per bucket — >1 gives
        the min/max file pruning something to prune (size it so a file is
        ~100-500 MB at the target scale).

        ``stats_cols`` — payload columns whose per-file min/max (zone
        maps) every commit records in the manifest, off the parquet
        footers the commit already reads; :meth:`read_range` then skips
        files a range predicate on those columns cannot match. Free at
        write time, Iceberg-column-stats analog at read time."""
        extra = [
            T.StructField(name, dtype, True)
            for name, dtype in ((LSN_COL, T.LongType()), (DELETED_COL, T.BooleanType()))
            if _find_field(schema, name) is None
        ]
        schema = T.StructType(list(schema.fields) + extra)
        os.makedirs(os.path.join(root, "meta"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        manifest = {
            "version": 0,
            "snapshot_id": "snap-00000000-create",
            "parent": None,
            "operation": "create",
            "key": key,
            "n_buckets": n_buckets,
            "files_per_bucket": files_per_bucket,
            "bucket_hash": "murmur3",
            "schema": json.loads(schema.json()),
            "files": [],
            "stats_cols": list(stats_cols or []),
            "ledger": {},
            "ledger_pre_versions": {},
            "ledger_evicted_below": None,
            "ts": time.time(),
        }
        table = cls(spark, root)
        table._write_manifest(manifest)
        return table

    @classmethod
    def exists(cls, root: str) -> bool:
        """True once a manifest is published, with or without a hint."""
        meta = os.path.join(root, "meta")
        return os.path.exists(os.path.join(meta, "VERSION")) or _latest_manifest(meta) is not None

    # ------------------------------------------------------------- metadata
    def current_version(self) -> int:
        """The newest committed version: the ``VERSION`` hint, rolled
        forward while the next manifest exists (a crash between the
        manifest link and the hint refresh leaves the hint behind). With
        no hint yet (a crash before the first one), the highest
        ``v{N}.json`` — a listing paid only on that path."""
        meta = os.path.join(self.root, "meta")
        try:
            with open(os.path.join(meta, "VERSION")) as fh:
                v = int(fh.read().strip())
        except FileNotFoundError:
            v = _latest_manifest(meta)
            if v is None:
                raise FileNotFoundError(f"no table at {self.root}") from None
        while os.path.exists(os.path.join(meta, f"v{v + 1:08d}.json")):
            v += 1
        return v

    def manifest(self, version: int | None = None) -> dict[str, Any]:
        v = self.current_version() if version is None else version
        with open(os.path.join(self.root, "meta", f"v{v:08d}.json")) as fh:
            return json.load(fh)

    def snapshot_id(self, version: int | None = None) -> str:
        return self.manifest(version)["snapshot_id"]

    def schema(self, version: int | None = None) -> T.StructType:
        return T.StructType.fromJson(self.manifest(version)["schema"])

    def ledger(self) -> dict[str, str]:
        return self.manifest()["ledger"]

    def history_df(self) -> DataFrame:
        """Iceberg ``.history``/``.snapshots`` metadata-table analog: one
        row per RETAINED snapshot — ``(version, snapshot_id, parent,
        operation, committed_at, n_files, total_rows)`` — straight off
        the manifests (O(retained versions) driver work, no data read).
        The observability surface an operator greps first: what committed
        when, how big, and through which verb."""
        rows = []
        meta = os.path.join(self.root, "meta")
        for name in sorted(os.listdir(meta)):
            if not (name.startswith("v") and name.endswith(".json")):
                continue
            try:
                with open(os.path.join(meta, name)) as fh:
                    m = json.load(fh)
            except (json.JSONDecodeError, OSError):
                continue  # expired mid-listing: history reports, never raises
            rows.append(
                (
                    m["version"],
                    m["snapshot_id"],
                    m.get("parent"),
                    m.get("operation"),
                    float(m.get("ts") or 0.0),
                    len(m.get("files", [])),
                    sum(f.get("rows", 0) for f in m.get("files", [])),
                )
            )
        schema = (
            "version long, snapshot_id string, parent string, "
            "operation string, committed_at double, n_files long, "
            "total_rows long"
        )
        return self.spark.createDataFrame(rows, schema).orderBy("version")

    def files_df(self, version: int | None = None) -> DataFrame:
        """Iceberg ``.files`` metadata-table analog for one snapshot:
        ``(path, bucket, rows, key_min, key_max, col_stats)`` off the
        manifest — the zone-map/pruning surface as a queryable frame."""
        m = self.manifest(version)
        rows = [
            (
                f["path"],
                f.get("bucket"),
                f.get("rows"),
                str(f.get("key_min")) if f.get("key_min") is not None else None,
                str(f.get("key_max")) if f.get("key_max") is not None else None,
                json.dumps(f.get("col_stats")) if f.get("col_stats") else None,
            )
            for f in m["files"]
        ]
        schema = (
            "path string, bucket int, rows long, key_min string, "
            "key_max string, col_stats string"
        )
        return self.spark.createDataFrame(rows, schema)

    def lineage(self) -> list[dict[str, Any]]:
        """Per-source-file lineage of the RETAINED snapshots in version
        order: ``(source_file, offset_min, offset_max, n_events,
        snapshot_id)`` rows, each committed in its snapshot's manifest —
        so rows of expired snapshots are gone with them."""
        return [
            {**r, "snapshot_id": m["snapshot_id"]}
            for m in self._retained_manifests()
            for r in m.get("lineage", [])
        ]

    def diff(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Row-level changes between two snapshots (Iceberg changelog-scan
        analog): full outer join of the two snapshots on the key, classified
        as insert / update / delete.

        File-pruned on both sides: files carried UNCHANGED between the two
        manifests (same path) cancel out exactly — only files added or
        removed between the versions are read. Returns
        ``(key..., _change_type, _from_lsn, _to_lsn)`` plus the to-side
        payload columns (from-side payload for deletes)."""
        j, key, _, out_cols = self._changed_rows_join(from_version, to_version, True)
        change = (
            F.when(F.col(f"a.{key}").isNull(), F.lit("insert"))
            .when(F.col(f"b.{key}").isNull(), F.lit("delete"))
            .when(F.col(f"a.{LSN_COL}") != F.col(f"b.{LSN_COL}"), F.lit("update"))
        )
        return (
            j.select(
                *out_cols,
                change.alias("_change_type"),
                F.col(f"a.{LSN_COL}").alias("_from_lsn"),
                F.col(f"b.{LSN_COL}").alias("_to_lsn"),
            )
            .filter(F.col("_change_type").isNotNull())
        )

    def _changed_rows_join(
        self, from_version: int, to_version: int | None, live_only: bool
    ) -> tuple[DataFrame, str, dict[str, Column], list[Column]]:
        """The pruned core of :meth:`diff` and :meth:`changelog_between`:
        files carried UNCHANGED between the two manifests (same path)
        cancel out, so only the files one side alone holds are read — as
        ``a`` (from) and ``b`` (to), tombstones dropped first when
        ``live_only`` — and full-outer-joined on the key. Returns
        ``(joined, key, a_side, out_cols)``: ``a_side`` maps each to-side
        payload column to its from-side value (NULL where the older schema
        lacks it); ``out_cols`` projects the to-side row WHOLESALE when it
        exists — a per-column coalesce would resurrect a stale value for
        an update that sets a column to NULL — else the from-side row."""
        m_from = self.manifest(from_version)
        m_to = self.manifest(to_version)
        key = m_to["key"]
        from_paths = {f["path"] for f in m_from["files"]}
        to_paths = {f["path"] for f in m_to["files"]}
        only_from = [f for f in m_from["files"] if f["path"] not in to_paths]
        only_to = [f for f in m_to["files"] if f["path"] not in from_paths]
        schema_to = T.StructType.fromJson(m_to["schema"])
        a = self._read_file_entries(only_from, T.StructType.fromJson(m_from["schema"]))
        b = self._read_file_entries(only_to, schema_to)
        if live_only:
            a, b = (df.filter(~F.coalesce(F.col(DELETED_COL), F.lit(False))) for df in (a, b))
        j = a.alias("a").join(
            b.alias("b"),
            on=F.col(f"a.{key}") == F.col(f"b.{key}"),
            how="full_outer",
        )
        a_side = {
            f.name: F.col(f"a.{f.name}") if f.name in a.columns else F.lit(None)
            for f in schema_to.fields
            if f.name not in INTERNAL_COLS
        }
        b_exists = F.col(f"b.{key}").isNotNull()
        out_cols = [
            F.when(b_exists, F.col(f"b.{c}")).otherwise(ac).alias(c)
            for c, ac in a_side.items()
        ]
        return j, key, a_side, out_cols

    def snapshots(self) -> list[dict[str, Any]]:
        return [
            {"version": m["version"], "snapshot_id": m["snapshot_id"],
             "operation": m["operation"]}
            for m in self._retained_manifests()
        ]

    def _retained_manifests(self):
        for v in range(self.current_version() + 1):
            try:
                yield self.manifest(v)
            except FileNotFoundError:
                continue  # expired by expire_snapshots(); history starts later

    # ----------------------------------------------------------------- read
    def read(
        self,
        version: int | None = None,
        buckets: set[int] | None = None,
        include_tombstones: bool = False,
    ) -> DataFrame:
        """Read a snapshot (time travel via ``version``), optionally pruned
        to a set of buckets (file-level pruning off the manifest).

        Deletes are stored as tombstone rows (``_deleted = true``) so that
        late-arriving older updates cannot resurrect a deleted key across
        batches; the default read filters them out. Tombstone GC is a
        retention/VACUUM concern (SURVEY.md §2.8 K5 analog), not done here.
        """
        m = self.manifest(version)
        schema = T.StructType.fromJson(m["schema"])
        entries = [
            f for f in m["files"] if buckets is None or f["bucket"] in buckets
        ]
        df = self._read_file_entries(entries, schema)
        if include_tombstones:
            return df
        return df.filter(~F.coalesce(F.col(DELETED_COL), F.lit(False))).drop(DELETED_COL)

    def _read_file_entries(
        self, entries: list[dict[str, Any]], schema: T.StructType
    ) -> DataFrame:
        paths = [os.path.join(self.root, f["path"]) for f in entries]
        if not paths:
            return self.spark.createDataFrame([], schema)
        # explicit schema: old files lacking newly added columns → nulls
        return self.spark.read.schema(schema).parquet(*paths)

    def touched_rows(self, batch: DataFrame) -> DataFrame:
        """The stored rows (``_lsn`` and tombstones included) of the current
        files a :meth:`merge` of ``batch`` would read: per-bucket key ranges
        from the merge's own aggregation (:meth:`_batch_profile`, one job
        over ``batch``'s key column), pruned by the same rule
        (:func:`_split_touched_files`). States kept beside a table
        (``plans.ivm``, ``plans.scd2``, ``plans.secondary_index``) read the
        pre-epoch rows their epoch replaces through this before the merge
        commits: O(touched files), never a table scan."""
        m = self.manifest()
        key = m["key"]
        keys = batch.select(key).withColumn("_bucket", _bucket_col(key, m))
        _, bucket_ranges, _ = self._batch_profile(keys, key)
        touched, _ = _split_touched_files(m["files"], bucket_ranges)
        return self._read_file_entries(touched, T.StructType.fromJson(m["schema"]))

    # --------------------------------------------------------------- lookup
    #: lookup() reads the pruned files and collects the matching rows on
    #: the driver; beyond this many keys that stops being a "point"
    #: lookup — use a join against read() (or merge machinery) instead.
    LOOKUP_MAX_KEYS = 100_000

    def lookup(
        self,
        keys,
        version: int | None = None,
        include_tombstones: bool = False,
    ) -> DataFrame:
        """Point-lookup serve path: the current (or time-traveled) rows for
        an explicit, bounded set of keys, with no Spark job at all.

        1. **bucket + range prune** (:meth:`_lookup_entries`) — only files
           in the keys' buckets whose manifest ``key_min``/``key_max`` can
           hold a key survive. O(total files) driver work.
        2. **driver-side Arrow read** — ``pyarrow.dataset`` reads the
           surviving files with ``key IN keys`` pushed into the scan
           (row-group statistics skip), conforms each file onto the
           looked-up version's schema (columns and nested fields an older
           file lacks → null, widened scalars cast, like the explicit-
           schema Spark read) and drops tombstones in Arrow.

        The rows come back as a local relation, so ``collect()`` on the
        result runs no job either. Semantics are exactly
        ``read(version=...).filter(key IN keys)`` (tombstones filtered the
        same way, same nullable schema); the plan is what differs. Raises
        on more than :attr:`LOOKUP_MAX_KEYS` keys — that is a join, not a
        lookup.
        """
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.dataset as ds
        from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type

        keys = list(keys)
        if len(keys) > self.LOOKUP_MAX_KEYS:
            raise ValueError(
                f"lookup() got {len(keys)} keys (> {self.LOOKUP_MAX_KEYS}); "
                "join the key set against read() instead"
            )
        if any(k is None for k in keys):
            # IN (NULL) is never true in SQL — a None key would silently
            # match nothing; the key column is non-null by construction,
            # so surface the caller bug instead
            raise ValueError("lookup() keys must not contain None")
        keys = list(dict.fromkeys(keys))
        m = self.manifest(version)
        schema = _as_nullable(T.StructType.fromJson(m["schema"]))
        key_field = _find_field(schema, m["key"])
        in_keys = ds.field(key_field.name).isin(
            pa.array(keys, to_arrow_type(key_field.dataType))
        )
        # Spark writes TimestampType as INT96; read it at Spark's precision
        fmt = ds.ParquetFileFormat(
            read_options=ds.ParquetReadOptions(coerce_int96_timestamp_unit="us")
        )
        target = to_arrow_schema(schema)
        parts = []
        for f in self._lookup_entries(keys, m) if keys else []:
            t = ds.dataset(os.path.join(self.root, f["path"]), format=fmt).to_table(
                filter=in_keys
            )
            if t.num_rows:
                parts.append(_conform_arrow(t, schema).cast(target))
        rows = pa.concat_tables(parts) if parts else target.empty_table()
        if not include_tombstones:
            live = pc.invert(pc.fill_null(rows[DELETED_COL], False))
            rows = rows.filter(live).drop_columns([DELETED_COL])
            schema = T.StructType([f for f in schema.fields if f.name != DELETED_COL])
        # exactly one chunk per column: createDataFrame(pa.Table) drops every
        # row from the first EMPTY record batch onward (a file whose matches
        # were all tombstones leaves one behind), and rejects a nested
        # column with no chunk at all (an empty result)
        rows = pa.Table.from_arrays(
            [c.combine_chunks() for c in rows.columns], schema=rows.schema
        )
        return self.spark.createDataFrame(rows, schema=schema)

    def _lookup_entries(self, keys: list, m: dict) -> list[dict[str, Any]]:
        """Manifest entries a :meth:`lookup` for ``keys`` must read —
        bucket-pruned with the table's recorded hash, then range-pruned
        against per-file key stats. Split out so tests can pin the pruning
        without instrumenting the scan.

        The buckets come from Spark's own hash function (never a Python
        re-implementation) without a job: over a relation built from an
        Arrow table, the optimizer evaluates the projection on the driver
        (``ConvertToLocalRelation``). Dedup is a Python set — a
        ``distinct()`` would plan an aggregate and run a job."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type

        key = m["key"]
        key_field = _find_field(T.StructType.fromJson(m["schema"]), key)
        ktype = key_field.dataType if key_field is not None else T.StringType()
        kdf = self.spark.createDataFrame(
            pa.table({key: pa.array(keys, to_arrow_type(ktype))}),
            T.StructType([T.StructField(key, ktype)]),
        )
        probed = {r[0] for r in kdf.select(_bucket_col(key, m)).collect()}
        try:
            skeys = sorted(keys)
        except TypeError:  # mixed-type key list → skip the range prune
            skeys = None

        def overlaps(f: dict[str, Any]) -> bool:
            kmin, kmax = f.get("key_min"), f.get("key_max")
            if skeys is None or kmin is None or kmax is None:
                return True  # missing stats / unsortable keys → must read
            try:
                i = bisect.bisect_left(skeys, kmin)
                return i < len(skeys) and skeys[i] <= kmax
            except TypeError:  # incomparable stat/key types → don't prune
                return True

        return [
            f for f in m["files"] if f["bucket"] in probed and overlaps(f)
        ]

    # ----------------------------------------------------------- zone maps
    def read_range(
        self,
        col: str,
        lo=None,
        hi=None,
        version: int | None = None,
        include_tombstones: bool = False,
    ) -> DataFrame:
        """Zone-map scan: rows with ``lo <= col <= hi`` (either bound may
        be None), reading only the files whose recorded per-file min/max
        for ``col`` (``stats_cols`` at :meth:`create`) can overlap the
        range — Iceberg column-stats file skipping. Files without
        recorded stats for ``col`` are always read: unpruned, never
        wrong. Semantics are exactly ``read(version).filter(range)``; the
        plan differs by the files it never opens. Pruning is only as
        tight as the physical clustering — after a sorted/range-
        partitioned rewrite the zones are tight; freshly merged epoch
        files may span wide ranges and prune weakly (same trade as the
        key-range pruning)."""
        m = self.manifest(version)
        schema = T.StructType.fromJson(m["schema"])
        entries = self._range_entries(col, lo, hi, m)
        df = self._read_file_entries(entries, schema)
        pred = F.lit(True)
        if lo is not None:
            pred = pred & (F.col(col) >= F.lit(lo))
        if hi is not None:
            pred = pred & (F.col(col) <= F.lit(hi))
        df = df.filter(pred)
        if include_tombstones:
            return df
        return df.filter(~F.coalesce(F.col(DELETED_COL), F.lit(False))).drop(DELETED_COL)

    @staticmethod
    def _range_entries(col: str, lo, hi, m: dict) -> list[dict[str, Any]]:
        """Manifest entries a :meth:`read_range` must read. Split out so
        tests can pin the skipping without instrumenting the scan."""
        out = []
        for f in m["files"]:
            st = (f.get("col_stats") or {}).get(col)
            if st is None:
                out.append(f)  # no stats recorded → must read
                continue
            cmin, cmax = st
            try:
                if lo is not None and cmax < lo:
                    continue
                if hi is not None and cmin > hi:
                    continue
            except TypeError:  # incomparable bound/stat types → don't prune
                pass
            out.append(f)
        return out

    # ----------------------------------------------------------- changefeed
    def changelog_between(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """CDC-out: the row-level changes between two snapshots rendered
        as an ``(payload..., op, lsn)`` changelog that a downstream
        :class:`plans.pipeline.MergePipeline` (or any LWW consumer) can
        apply directly — table-to-table replication without shipping
        files. Same file pruning as :meth:`diff` (unchanged files cancel
        out; only added/removed files are read).

        Unlike :meth:`diff`, tombstones are KEPT on both sides so a
        delete carries its tombstone's real LSN — the value a downstream
        LWW merge needs to outrank the row it kills. A delete whose
        tombstone was vacuumed between the versions (to-side row gone
        entirely) is emitted with the from-side row's own LSN when that
        row is ALREADY a tombstone (the delete's real LSN — vacuum only
        reclaimed its bytes), else the synthetic LSN ``from_lsn + 1``:
        the real delete outranked the live ``from_lsn``, so
        ``from_lsn + 1 <=`` the real delete LSN — it still beats the
        consumer's live row and can never outrank a later legitimate
        resurrect at exactly ``delete_lsn + 1``.

        Row-level DML (:meth:`delete_where` / :meth:`update_where`)
        changes content WITHOUT moving the row's LSN, so the feed also
        emits rows whose tombstone flag flipped or whose payload differs
        null-safely between the versions — at the row's unchanged LSN.
        A consumer replicating such feeds must apply them with
        ``merge(..., inclusive_guard=True)`` (equal-LSN changes would
        otherwise lose the strict guard) and lean on ``batch_id`` for
        replay protection. For pure WAL-fed tables nothing changes: rows
        whose LSN and content did not move are not emitted, and applying
        the same feed twice through the strict guard stays a no-op."""
        j, key, a_side, out_cols = self._changed_rows_join(from_version, to_version, False)
        a_exists = F.col(f"a.{key}").isNotNull()
        b_exists = F.col(f"b.{key}").isNotNull()
        b_deleted = F.coalesce(F.col(f"b.{DELETED_COL}"), F.lit(False))
        # op: the to-side state decides — tombstone (or vacuumed-away row
        # that existed live on the from side) ⇒ D, else U
        op = F.when(b_exists & ~b_deleted, F.lit("U")).otherwise(F.lit("D"))
        a_deleted = F.coalesce(F.col(f"a.{DELETED_COL}"), F.lit(False))
        # vanished row: a tombstone that was vacuumed carries its own
        # (real) delete LSN; a live row that disappeared gets lsn+1 —
        # never past the real delete's LSN, so a later resurrect at
        # exactly delete_lsn+1 is not outranked
        lsn = (
            F.when(b_exists, F.col(f"b.{LSN_COL}"))
            .when(a_deleted, F.col(f"a.{LSN_COL}"))
            .otherwise(F.col(f"a.{LSN_COL}") + F.lit(1))
        )
        # null-safe payload comparison over the to-side columns (a-side
        # missing columns read as NULL — schema evolution): catches
        # update_where, which rewrites values at an unchanged LSN
        same_content = F.lit(True)
        for c, ac in a_side.items():
            same_content = same_content & ac.eqNullSafe(F.col(f"b.{c}"))
        changed = (
            (~a_exists)
            | (~b_exists)
            | (F.col(f"a.{LSN_COL}") != F.col(f"b.{LSN_COL}"))
            | (a_deleted != b_deleted)
            | ~same_content
        )
        return j.filter(changed).select(
            *out_cols, op.alias(OP), lsn.cast("long").alias(LSN)
        )

    def subscribe(self, cursor: int | None = None) -> tuple[DataFrame, int]:
        """Cursor-style changefeed: ``(changes, next_cursor)`` — the
        changelog from ``cursor`` (a version previously returned by this
        method; None or -1 bootstraps from the initial empty snapshot, so
        the first call streams the full current state as inserts) up to
        the CURRENT version, plus the cursor to persist for the next
        poll. Re-calling with an unadvanced cursor returns an empty frame
        and the same cursor — a consumer loop is just

        ``df, cur = t.subscribe(cur); pipe.apply(df, batch_id=...)``

        with ``cur`` stored next to the consumer's own ledger. Same
        pruning and tombstone/DML semantics as
        :meth:`changelog_between`; a consumer replicating row-level DML
        must apply with ``inclusive_guard=True``."""
        v = self.current_version()
        frm = 0 if cursor is None or cursor < 0 else cursor
        if frm > v:
            raise ValueError(
                f"cursor {frm} is ahead of the table (version {v}) — it "
                "belongs to a different table or a rolled-back clone"
            )
        if frm == v:  # nothing new: empty frame with the feed's schema
            return (
                self.changelog_between(v, v).limit(0),
                v,
            )
        return self.changelog_between(frm, v), v

    # ---------------------------------------------------------------- write
    def _bucket_expr(self, key: str) -> F.Column:
        """bucket = pmod(murmur3(key), n) — deliberately THE SAME function
        Spark's HashPartitioning uses, so a merge result that was shuffled
        on the key into n_buckets*files_per_bucket partitions, or into a
        divisor of n_buckets, is already bucket-aligned: each bucket's rows
        sit in one write task (or files_per_bucket of them) and the final
        write needs NO extra exchange. That holds for the J partitions a
        merge plans only when J = 1 or J >= the session's
        ``spark.sql.shuffle.partitions``: below that Spark re-plans both
        join inputs into that many partitions, and a bucket's rows spread
        over several tasks, so several files. (partitionBy routes rows
        by VALUE, so a misalignment can only cost extra files, never
        correctness.)

        The hash function is RECORDED IN THE MANIFEST: a table's bucket
        assignment is part of its on-disk format, and silently changing it
        would make existing files invisible to the pruning (stale rows
        resurface as phantom inserts). This is :func:`_bucket_col` of the
        current manifest."""
        return _bucket_col(key, self.manifest())

    def add_columns(self, new_schema: T.StructType) -> CommitResult:
        """Add-only + widening recursive schema evolution (metadata-only
        commit). The KEY column never widens here either — same hazard as
        in ``_commit``: a widened key re-buckets every existing row."""
        m = self.manifest()
        existing = T.StructType.fromJson(m["schema"])
        merged = _pin_key_type(merge_schemas(existing, new_schema), existing, m["key"])
        return self._publish(m, "addcols", "add_columns", schema=json.loads(merged.json()))

    def append(
        self,
        df: DataFrame,
        batch_id: int | None = None,
        stats_df: DataFrame | None = None,
    ) -> CommitResult:
        """Blind append (no key dedup) — the reference's WRITE_APPEND analog.

        ``stats_df`` plays the same role as in :meth:`merge`: when ``df`` is
        derived through an expensive transform (e.g. an LWW reduce), pass
        the RAW batch here so the stats/lineage pre-pass aggregates a narrow
        projection instead of re-executing the transform — and lineage then
        covers the raw offsets, which is what resume wants."""
        return self._commit(df, operation="append", batch_id=batch_id, stats_df=stats_df)

    def truncate(self) -> CommitResult:
        """Metadata-only commit that empties the table: a new snapshot with
        NO data files. The ledger (and its eviction watermark) carries over
        — a replayed batch_id from before the truncate must still no-op,
        which is exactly what a delta/staging table needs after compaction
        (plans.mor_pipeline). Old data files become orphans of prior
        snapshots; ``expire_snapshots`` reclaims them."""
        return self._publish(self.manifest(), "truncate", "truncate", files=[])

    def replace(
        self,
        df: DataFrame,
        batch_id: int | None = None,
        stats_df: DataFrame | None = None,
    ) -> CommitResult:
        """Atomic full rewrite: ONE commit whose manifest references only
        the newly-written files — truncate+append fused, so there is no
        intermediate state a crash can expose (a truncate-then-append
        sequence is NOT replay-safe: the truncate is unconditional while
        the ledgered append no-ops, silently emptying the table). Ledgered
        like :meth:`append`; replaying a ledgered ``batch_id`` no-ops the
        whole rewrite. ``df`` may read FROM this table — the new files
        land in a fresh snapshot dir while the scan reads the old ones.
        The empty-batch guard applies: replacing with an EMPTY DataFrame
        is a no-op; use :meth:`truncate` to empty a table."""
        return self._commit(df, operation="replace", batch_id=batch_id, stats_df=stats_df)

    def merge(
        self,
        updates: DataFrame,
        batch_id: int | None = None,
        stats_df: DataFrame | None = None,
        commit_retries: int = 0,
        retry_backoff_sec: float = 0.5,
        inclusive_guard: bool = False,
        pre_commit_hook=None,
    ) -> CommitResult:
        """MERGE INTO semantics with an LSN guard:

        ``WHEN MATCHED AND s.lsn > t._lsn AND s.op = 'D' THEN DELETE``
        ``WHEN MATCHED AND s.lsn > t._lsn THEN UPDATE SET *``
        ``WHEN NOT MATCHED AND s.op != 'D' THEN INSERT *``

        ``updates`` must be pre-reduced to one row per key (see
        ``operators.lww.reduce_latest``) — an un-reduced batch fans out the
        outer join and duplicates keys. Late rows
        (lsn ≤ applied) are dropped by the guard, making application
        order-insensitive.

        ``batch_id`` exactly-once relies on streaming batch ids being
        MONOTONE per checkpoint: an id already in the ledger — or below its
        eviction watermark — is treated as a replay and skipped
        (``applied=False``; :meth:`replayed`). Resetting/recreating the
        checkpoint restarts ids at 0, so against a table with ``>
        ledger_window`` commits every new epoch would be silently
        swallowed: pair a fresh checkpoint with
        a fresh table, or construct with ``strict_ledger=True`` to raise on
        sub-watermark ids instead (a warning is logged either way).

        The plan: one synchronous stats/lineage pre-pass job (its
        per-bucket key ranges drive the min/max FILE PRUNING, so files the
        batch cannot touch carry forward unread), then a sort-merge full
        outer join of the batch against the touched files and the write.

        ``inclusive_guard=True`` relaxes WHEN MATCHED to ``s.lsn >=
        t._lsn`` — for REPLICATION feeds (:meth:`changelog_between`),
        where row-level DML on the source changes content without moving
        the row's LSN. With ``>=`` the lsn guard no longer rejects replays
        of the same feed window, so pair it with ``batch_id`` and apply
        windows in order, each once: exactly-once then comes from the
        ledger. Never use it for a WAL tail — equal-LSN late duplicates
        would reapply with whatever payload arrives last.

        ``commit_retries`` re-runs the whole merge on
        ``ConcurrentCommitError`` with exponential backoff (the
        reference's 10-retries-with-backoff load loop,
        ``BASELINE.md``) — safe because each attempt re-reads the
        manifest (the LSN guard + ledger make re-application
        idempotent) and a lost attempt's data files are unreferenced
        orphans that ``expire_snapshots`` sweeps.

        ``pre_commit_hook`` — called AFTER the merge's data files are
        written but BEFORE the manifest commit; if it raises,
        the commit is aborted (the written files are unreferenced
        orphans ``expire_snapshots`` sweeps). This is the overlap seam
        for sidecar states (``plans.pipeline.MergePipeline``): their
        work runs on a second driver thread concurrently with this
        merge's write job, and the hook joins that thread — preserving
        the sidecar-commits-before-base-commit crash contract while the
        epoch pays max(base write, sidecar work) wall clock instead of
        the sum. NOTE: early no-op returns (replayed batch_id, empty
        batch) do NOT invoke the hook — a caller owning a side thread
        must join it after merge() returns regardless.
        """
        attempt = 0
        while True:
            try:
                return self._commit(
                    updates, operation="merge", batch_id=batch_id, stats_df=stats_df,
                    inclusive_guard=inclusive_guard, pre_commit_hook=pre_commit_hook,
                )
            except ConcurrentCommitError:
                if attempt >= commit_retries:
                    raise
                delay = retry_backoff_sec * (2 ** attempt)
                _LOG.warning(
                    "concurrent commit lost the CAS (attempt %d/%d) — "
                    "retrying in %.2fs", attempt + 1, commit_retries, delay
                )
                time.sleep(delay)
                attempt += 1

    # ------------------------------------------------------------ internals
    def _commit(
        self,
        updates: DataFrame,
        operation: str,
        batch_id: int | None,
        stats_df: DataFrame | None = None,
        inclusive_guard: bool = False,
        pre_commit_hook=None,
    ) -> CommitResult:
        """The data commits: ``operation`` is ``merge``, ``append`` or
        ``replace``."""
        t0 = time.perf_counter()  # plan_s starts here: manifest read, ledger check
        m = self.manifest()
        replayed = self.replayed(batch_id, m)
        if replayed is not None:
            return replayed
        # Without a caller-provided stats_df the SAME ``updates`` plan feeds
        # both the stats/lineage pre-pass and the write job — an expensive
        # upstream (LWW reduce, JSON decode, a join pipeline) would execute
        # TWICE per commit. Callers with a cheap raw batch pass ``stats_df``
        # and skip the cache (see merge() docstring).
        keep = cached(updates) if stats_df is None else contextlib.nullcontext(updates)
        with keep as updates:
            return self._commit_inner(
                updates, operation, batch_id,
                stats_df, inclusive_guard, m, pre_commit_hook, t0,
            )

    def _commit_inner(
        self,
        updates: DataFrame,
        operation: str,
        batch_id: int | None,
        stats_df: DataFrame | None,
        inclusive_guard: bool,
        m: dict[str, Any],
        pre_commit_hook,
        t0: float,
    ) -> CommitResult:
        merge = operation == "merge"
        key = m["key"]
        existing_schema = T.StructType.fromJson(m["schema"])

        # ---- schema evolution: new payload columns in the batch are added
        incoming_payload = T.StructType(
            [f for f in updates.schema.fields if f.name not in _NON_PAYLOAD]
        )
        # the KEY column must NEVER widen (see _pin_key_type): incoming
        # keys are cast to the existing type instead — the ANSI cast
        # fails loudly on genuine overflow, which is the right outcome
        merged_schema = _pin_key_type(
            merge_schemas(existing_schema, incoming_payload), existing_schema, key
        )
        # value equality, not field count: nested additions and scalar
        # widening evolve the schema without changing the top-level arity
        schema_evolved = merged_schema != existing_schema

        bucket = _bucket_col(key, m)
        payload_schema = T.StructType(
            [f for f in merged_schema.fields if f.name not in INTERNAL_COLS]
        )
        # One pre-pass per commit: a single grouping-sets aggregation gives
        # lineage, touched buckets, per-bucket key ranges and the stats;
        # every other job of the commit belongs to the write (its shuffle
        # stages and the parquet write). ``stats_df`` lets callers pass the
        # RAW (un-reduced) batch for the pre-pass — a narrow projection with
        # no reduce — so the expensive LWW reduce executes exactly once (in
        # the write). Recomputing beats caching: persisting array<int>
        # payloads costs more in columnar cache serialization than the
        # re-aggregation.
        src = updates.withColumn("_bucket", bucket)
        stats_src = (
            stats_df.withColumn("_bucket", bucket) if stats_df is not None else src
        )
        t_prepass = time.perf_counter()
        lineage_rows, bucket_ranges, batch_stats = self._batch_profile(stats_src, key)
        t_plan = time.perf_counter()
        if batch_stats["n_events"] == 0:
            # empty batch (reference F4): no data files, no new snapshot, no
            # ledger advance, no count toward a MOR compaction trigger
            return CommitResult(
                m["snapshot_id"], m["version"], applied=False, n_events=0
            )
        max_parts = m["n_buckets"] * m.get("files_per_bucket", 1)
        if merge:
            src_full = src.select(
                *[conform_col(src, f).alias(f.name) for f in payload_schema.fields],
                F.col(LSN).cast("long").alias(LSN_COL),
                F.col(OP).alias("_op"),
                F.col("_bucket"),
            )
            # file-level pruning: only files whose key range can contain a
            # batch key are read and rewritten; the rest carry forward
            touched_entries, carried = _split_touched_files(m["files"], bucket_ranges)
            est_rows = sum(f["rows"] for f in touched_entries) + batch_stats["n_events"]
            join_parts = _join_partitions(
                m,
                [(f["rows"], os.path.getsize(os.path.join(self.root, f["path"])))
                 for f in touched_entries],
                batch_stats["n_events"],
                int(self.spark.conf.get("spark.sql.shuffle.partitions")),
            )
            target = self._read_file_entries(touched_entries, existing_schema)
            target = conform_to_schema(target, merged_schema).withColumn("_bucket", bucket)
            # pre-shuffle both join inputs on the key into join_parts
            # partitions, a divisor of n_buckets (or max_parts): the join
            # reuses this exchange (ENSURE_REQUIREMENTS is satisfied) and —
            # because the bucket function is the hash-partitioning function
            # — every bucket lands whole in one join task, so the join output
            # is bucket-aligned for the shuffle-free write below.
            # REPARTITION_BY_NUM also stops AQE from coalescing the layout.
            result = _merge_rows(
                target.repartition(join_parts, F.col(key)),
                src_full.repartition(join_parts, F.col(key)),
                key, payload_schema, inclusive_guard=inclusive_guard,
            )
        else:
            touched_entries = []
            carried = [] if operation == "replace" else list(m["files"])
            est_rows = batch_stats["n_events"]
            # _lsn must be derived BEFORE the conforming projection — it
            # drops every non-payload column, including the lsn source
            lsn_expr = (
                F.col(LSN).cast("long")
                if LSN in updates.columns
                else F.lit(0).cast("long")
            )
            result = (
                conform_to_schema(
                    src.withColumn(LSN_COL, lsn_expr),
                    T.StructType(
                        list(payload_schema.fields)
                        + [T.StructField(LSN_COL, T.LongType(), True)]
                    ),
                )
                .withColumn(DELETED_COL, F.lit(False))
                .withColumn("_bucket", bucket)
            )

        # output fan-out ∝ rows being rewritten: a pruned merge that touches
        # one file must not spray its few rows over n_buckets*fpb fragments.
        # target file size derives from the steady-state table shape.
        table_rows = sum(f["rows"] for f in m["files"])
        rows_per_file = max(1, -(-max(table_rows, est_rows) // max_parts))
        n_parts = min(max_parts, max(1, -(-est_rows // rows_per_file)))
        if not (merge and n_parts == max_parts):
            # small pruned merges / appends: range-partition on
            # (bucket, key) so the few rows stay in few, range-tight files
            # (with files_per_bucket > 1 the sub-files get NON-overlapping
            # key ranges — what the min/max pruning wants). A FULL-fan-out
            # merge (the streaming steady state) keeps the join's layout:
            # because the bucket function IS Spark's hash-partitioning
            # function, the key shuffle is already bucket-aligned (with
            # join_parts dividing n_buckets, partition p holds whole buckets
            # b ≡ p mod join_parts; with join_parts == max_parts, a share of
            # bucket p mod n_buckets), so the write needs no third shuffle —
            # one full-data exchange saved per epoch.
            result = result.repartitionByRange(n_parts, F.col("_bucket"), F.col(key))
        t_write = time.perf_counter()
        new_files, written = self._write_buckets(result, m)

        t_hook = time.perf_counter()
        if pre_commit_hook is not None:
            # barrier: sidecar work overlapped with the write above must be
            # durably committed before THIS table's manifest lands (a
            # raise here leaves the written data dir an unreferenced orphan
            # for expire_snapshots — never a visible snapshot)
            pre_commit_hook()
        record = {
            "prepass_s": t_plan - t_prepass,
            "plan_s": (t_prepass - t0) + (t_write - t_plan),
            **written,
            "hook_s": time.perf_counter() - t_hook,
            "files_read": len(touched_entries),
            "files_carried": len(carried),
            "rows_carried": sum(f["rows"] for f in carried),
        }
        res = self._publish(
            m, f"b{batch_id if batch_id is not None else 'x'}",
            operation + ("+evolve" if schema_evolved else ""),
            batch_id=batch_id, lineage=lineage_rows, record=record,
            schema=json.loads(merged_schema.json()), files=carried + new_files,
        )
        return dataclasses.replace(
            res,
            n_events=batch_stats["n_events"],
            max_event_ts=batch_stats["max_event_ts"],
            max_lsn=batch_stats["max_lsn"],
        )

    def _write_buckets(
        self, df: DataFrame, m: dict[str, Any], sort_by: str | None = None
    ) -> tuple[list[dict[str, Any]], dict[str, Any]]:
        """The one data write of every commit: ``df`` — ``_bucket``-tagged
        and already partitioned by the caller, which owns only that choice
        — lands as the next version's files, one ``_bucket=`` dir per
        bucket, each task's rows sorted by ``(_bucket, sort_by)`` (default:
        the key). Returns the new files' manifest entries, read off their
        footers, and the write's record: ``write_s`` (the parquet write
        job), ``footers_s`` (footer reads + one ``stat`` per new file),
        ``files_written``, ``bytes_written`` and ``write_tasks``: the tasks
        that wrote files, counted off the ``part-NNNNN`` task ids in the
        new files' names (a caller's planned partition count need not be
        what ran, see :func:`_join_partitions`)."""
        t0 = time.perf_counter()
        key = m["key"]
        snap_rel = _snap_dir_name(m["version"] + 1)
        snap_dir = os.path.join(self.root, snap_rel)
        (
            df.sortWithinPartitions("_bucket", sort_by or key)
            .write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(snap_dir)
        )
        t1 = time.perf_counter()
        files = _list_bucket_files(snap_dir, snap_rel, key, m.get("stats_cols", ()))
        nbytes = sum(os.path.getsize(os.path.join(self.root, f["path"])) for f in files)
        return files, {
            "write_s": t1 - t0,
            "footers_s": time.perf_counter() - t1,
            "files_written": len(files),
            "bytes_written": nbytes,
            "write_tasks": len({os.path.basename(f["path"]).split("-")[1] for f in files}),
        }

    def _publish(
        self,
        m: dict[str, Any],
        tag: str,
        operation: str,
        batch_id: int | None = None,
        lineage: list[dict[str, Any]] | None = None,
        record: dict[str, Any] | None = None,
        **changes: Any,
    ) -> CommitResult:
        """The one publish step of every commit after ``create``: the
        successor of manifest ``m`` — ``changes`` applied, snapshot id
        ``snap-{version}-{tag}``, the ledger advanced by ``batch_id`` (None
        carries it unchanged) and THIS commit's ``lineage`` rows — goes
        through the CAS in :meth:`_write_manifest`. ``rows_written`` counts
        the rows of the files the new manifest adds; the result's record is
        the caller's ``record`` plus this step's ``commit_s``."""
        t0 = time.perf_counter()
        version = m["version"] + 1
        snapshot_id = f"snap-{version:08d}-{tag}"
        ledger, pre_versions, evicted_below = self._advance_ledger(
            m, batch_id, snapshot_id
        )
        manifest = {
            **m,
            "version": version,
            "snapshot_id": snapshot_id,
            "parent": m["snapshot_id"],
            "operation": operation,
            "ledger": ledger,
            "ledger_pre_versions": pre_versions,
            "ledger_evicted_below": evicted_below,
            "ts": time.time(),
            **changes,
        }
        self._write_manifest(manifest, expected_parent_version=m["version"], lineage=lineage)
        old = {f["path"] for f in m["files"]}
        return CommitResult(
            snapshot_id, version, applied=True,
            rows_written=sum(f["rows"] for f in manifest["files"] if f["path"] not in old),
            record={**(record or {}), "commit_s": time.perf_counter() - t0},
        )

    # ------------------------------------------------------------- ledger
    def replayed(
        self, batch_id: int | None, m: dict[str, Any] | None = None
    ) -> CommitResult | None:
        """The applied-epoch rule, for this table and every state built on
        one: the no-op result of an epoch ``batch_id`` already applied,
        else None. Applied means in the ledger, or below its eviction
        watermark (streaming batch ids are monotone). ``m`` is a manifest
        the caller already read (default: the current one)."""
        if batch_id is None:
            return None
        if m is None:
            m = self.manifest()
        snap = m["ledger"].get(str(batch_id))
        if snap is not None:
            return CommitResult(snap, m["version"], applied=False)
        evicted_below = m.get("ledger_evicted_below")
        if (
            evicted_below is not None
            and isinstance(batch_id, int)
            and batch_id < evicted_below
        ):
            # older than the eviction watermark: streaming batch ids are
            # monotone, so this is a replay of a long-committed epoch.
            # HAZARD: a reset/recreated checkpoint restarts batch ids at 0
            # — those would all land below the watermark and be silently
            # dropped as "replays". Surface it loudly; raise under strict.
            _LOG.warning(
                "batch_id %s is below the ledger eviction watermark %s — "
                "treating as an already-applied replay and skipping. If the "
                "streaming checkpoint was reset (batch ids restarted), this "
                "is DATA LOSS: use a fresh checkpoint against a fresh table, "
                "or construct the table with strict_ledger=True to fail fast.",
                batch_id,
                evicted_below,
            )
            if self.strict_ledger:
                raise ValueError(
                    f"strict_ledger: batch_id {batch_id} is below the ledger "
                    f"eviction watermark {evicted_below}; refusing to treat a "
                    "possibly-reset checkpoint epoch as a replay"
                )
            return CommitResult(m["snapshot_id"], m["version"], applied=False)
        return None

    def _advance_ledger(
        self, m: dict[str, Any], batch_id: int | None, snapshot_id: str
    ) -> tuple[dict[str, str], dict[str, int], int | None]:
        """Returns (ledger, pre_versions, evicted_below). ``pre_versions``
        maps batch_id → the table version BEFORE that epoch's commit — the
        O(1) lookup replay needs to time-travel to the pre-epoch state
        (without it, replay walks the manifest chain, which breaks once
        ``expire_snapshots`` removes old manifests). Evicted in lockstep
        with the ledger, so its size is bounded by ``ledger_window``."""
        evicted_below = m.get("ledger_evicted_below")
        pre_versions = dict(m.get("ledger_pre_versions", {}))
        if batch_id is None:
            return m["ledger"], pre_versions, evicted_below
        ledger = {**m["ledger"], str(batch_id): snapshot_id}
        pre_versions[str(batch_id)] = m["version"]
        if len(ledger) > self.ledger_window:
            numeric = sorted(int(k) for k in ledger if k.lstrip("-").isdigit())
            if numeric:
                cutoff = numeric[-1] - self.ledger_window
                ledger = {
                    k: v
                    for k, v in ledger.items()
                    if not (k.lstrip("-").isdigit() and int(k) < cutoff)
                }
                evicted_below = max(evicted_below, cutoff) if evicted_below is not None else cutoff
        pre_versions = {k: v for k, v in pre_versions.items() if k in ledger}
        return ledger, pre_versions, evicted_below

    # ------------------------------------------------------------ maintenance
    # ---------------------------------------------------------------- tags
    def _tags_path(self) -> str:
        return os.path.join(self.root, "meta", "tags.json")

    def tags(self) -> dict[str, int]:
        """name → pinned version (Iceberg tag analog)."""
        try:
            with open(self._tags_path()) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return {}

    def _write_tags(self, tags: dict[str, int]) -> None:
        # temp + os.replace: expire_snapshots trusts tags() for retention,
        # so a crash mid-write must never leave a truncated tags.json that
        # silently un-pins snapshots
        path = self._tags_path()
        os.replace(_write_temp(os.path.dirname(path), json.dumps(tags)), path)

    def tag(self, name: str, version: int | None = None) -> int:
        """Pin a version under a name — a durable time-travel handle.
        Tagged versions are RETAINED by :meth:`expire_snapshots` (their
        manifests and data files survive any ``keep_last``) until
        :meth:`drop_tag`. Re-tagging an existing name moves it."""
        v = self.current_version() if version is None else version
        self.manifest(v)  # raises FileNotFoundError on an expired version
        tags = self.tags()
        tags[name] = v
        self._write_tags(tags)
        return v

    def drop_tag(self, name: str) -> None:
        tags = self.tags()
        if name not in tags:
            raise KeyError(f"no tag {name!r}")
        del tags[name]
        self._write_tags(tags)

    def read_tag(self, name: str, include_tombstones: bool = False) -> DataFrame:
        tags = self.tags()
        if name not in tags:
            raise KeyError(f"no tag {name!r}")
        return self.read(version=tags[name], include_tombstones=include_tombstones)

    def expire_snapshots(self, keep_last: int = 2) -> dict[str, int]:
        """Iceberg-style snapshot expiry: drop manifests older than the
        ``keep_last`` most recent versions, delete data files referenced
        ONLY by expired snapshots (the reference's consumed-temp-object
        cleanup, ``etl.py:202-213``/K5, done safely: current state and the
        retained time-travel window are untouched), and sweep ORPHAN files
        left by crashed/lost-the-CAS commits (referenced by no manifest at
        all). Single-owner maintenance op: must not run concurrently with
        a committer, whose not-yet-committed data dir would look orphaned.
        Temp files of crashed commits in ``meta/`` are swept too."""
        current = self.current_version()
        # pin the hint first: current_version() rolls forward from it and
        # must never have to step over a manifest deleted below
        self._write_hint(current)
        cutoff = max(current - keep_last + 1, 0)
        tagged = set(self.tags().values())
        retained_versions = set(range(cutoff, current + 1)) | tagged
        retained_files: set[str] = set()
        for v in sorted(retained_versions):
            try:
                retained_files.update(f["path"] for f in self.manifest(v)["files"])
            except FileNotFoundError:
                # a previous expire with a smaller keep_last already
                # removed this manifest — nothing to retain from it
                continue
        removed_files = 0
        removed_manifests = 0
        for v in range(cutoff):
            if v in tagged:
                continue  # a tag pins this snapshot (manifest + files)
            try:
                m = self.manifest(v)
            except FileNotFoundError:
                continue
            for f in m["files"]:
                if f["path"] not in retained_files:
                    fp = os.path.join(self.root, f["path"])
                    if os.path.exists(fp):
                        os.remove(fp)
                        removed_files += 1
            os.remove(os.path.join(self.root, "meta", f"v{v:08d}.json"))
            removed_manifests += 1
        # orphan sweep: anything under data/ that no retained manifest
        # references (expired-manifest files were just handled above)
        data_root = os.path.join(self.root, "data")
        for dirpath, dirnames, filenames in os.walk(data_root, topdown=False):
            for fn in filenames:
                fp = os.path.join(dirpath, fn)
                rel = os.path.relpath(fp, self.root)
                if fn.endswith(".parquet") and rel not in retained_files:
                    os.remove(fp)
                    removed_files += 1
                elif fn == "_SUCCESS":
                    os.remove(fp)  # write-completion marker, never referenced
                elif fn.startswith(".") and not os.path.exists(
                    os.path.join(dirpath, fn.lstrip(".").rsplit(".crc", 1)[0])
                ):
                    os.remove(fp)  # stale Hadoop .crc sidecar
            if not os.listdir(dirpath) and dirpath != data_root:
                os.rmdir(dirpath)
        meta = os.path.join(self.root, "meta")
        for fn in os.listdir(meta):
            if fn.startswith("."):  # see _write_temp
                os.remove(os.path.join(meta, fn))
        return {"removed_files": removed_files, "removed_manifests": removed_manifests,
                "oldest_retained_version": cutoff}

    def rebucket(self, n_buckets: int, files_per_bucket: int | None = None) -> CommitResult:
        """Bucket-count evolution: ONE atomic full rewrite under a new
        hash fan-out — the explicit answer to "the table grew 100× and
        its bucket count no longer fits" (Iceberg's partition-spec
        evolution rewrites; there is no lazy mixed-spec read here — one
        commit, one spec, every pruning path keeps working because the
        manifest's ``n_buckets`` and the files flip together).

        Content-preserving (tombstones included) and ledger-preserving —
        a replayed pre-rebucket epoch still no-ops; the stale-LSN merge
        guard is untouched. Single-owner maintenance op, O(table):
        schedule it like a full compaction. Raises on n_buckets < 1 or a
        no-op resize."""
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        m = self.manifest()
        fpb = files_per_bucket if files_per_bucket is not None \
            else m.get("files_per_bucket", 1)
        if n_buckets == m["n_buckets"] and fpb == m.get("files_per_bucket", 1):
            return CommitResult(m["snapshot_id"], m["version"], applied=False)
        key = m["key"]
        schema = T.StructType.fromJson(m["schema"])
        # the NEW bucket expression: same recorded hash fn, new modulus
        df = self._read_file_entries(m["files"], schema).withColumn(
            "_bucket", _bucket_col(key, {**m, "n_buckets": n_buckets})
        )
        new_files, written = self._write_buckets(
            df.repartitionByRange(max(n_buckets * fpb, 1), F.col("_bucket"), F.col(key)),
            m,
        )
        return self._publish(
            m, "rebucket", f"rebucket({m['n_buckets']}->{n_buckets})", record=written,
            n_buckets=n_buckets, files_per_bucket=fpb, files=new_files,
        )

    def set_stats_cols(self, cols: list[str]) -> CommitResult:
        """Metadata-only commit that changes which payload columns future
        commits record zone maps for. Existing files keep whatever stats
        they have (absent stats → unpruned, never wrong); the next
        compaction/rewrite back-fills them."""
        m = self.manifest()
        if list(cols) == m.get("stats_cols", []):
            return CommitResult(m["snapshot_id"], m["version"], applied=False)
        return self._publish(m, "stats", "set_stats_cols", stats_cols=list(cols))

    def compact_files(
        self,
        max_files_per_bucket: int | None = None,
        cluster_by: str | None = None,
    ) -> CommitResult:
        """Iceberg rewrite_data_files (binpack) analog: pruned merges add
        files over time; buckets holding more than ``max_files_per_bucket``
        (default: the table's files_per_bucket) are rewritten into their
        target fan-out, everything else carries forward by reference.
        Content-preserving (tombstones included) — state is byte-identical
        before and after. Single-owner maintenance op, like
        expire_snapshots.

        ``cluster_by`` — Iceberg sort-order analog: range-partition the
        rewrite within buckets on THIS column instead of the key, so the
        zone maps (``stats_cols``) on it come out tight and
        :meth:`read_range` skips whole files. The trade is explicit: the
        rewritten files' ``key_min``/``key_max`` go loose, weakening the
        KEY-range pruning inside each bucket until the next key-ordered
        compaction (bucket pruning is unaffected — point lookups keep
        working). When given, EVERY bucket is rewritten (a sort order is a
        whole-table property)."""
        m = self.manifest()
        key = m["key"]
        fpb = (
            max_files_per_bucket
            if max_files_per_bucket is not None
            else m.get("files_per_bucket", 1)
        )
        if fpb < 1:
            raise ValueError(f"max_files_per_bucket must be >= 1, got {fpb}")
        counts: dict[int, int] = {}
        for f in m["files"]:
            counts[f["bucket"]] = counts.get(f["bucket"], 0) + 1
        # steady state after a rewrite is fpb (+1 when a range partition
        # straddles a bucket boundary) — only rewrite above that, so
        # compact → compact is a no-op
        victims = (
            set(counts)
            if cluster_by is not None
            else {b for b, n in counts.items() if n > fpb + 1}
        )
        if not victims:
            return CommitResult(m["snapshot_id"], m["version"], applied=False)
        victim_entries = [f for f in m["files"] if f["bucket"] in victims]
        carried = [f for f in m["files"] if f["bucket"] not in victims]
        schema = T.StructType.fromJson(m["schema"])
        df = self._read_file_entries(victim_entries, schema).withColumn(
            "_bucket", _bucket_col(key, m)
        )
        order = cluster_by if cluster_by is not None else key
        # fan out to the EFFECTIVE threshold (the override, when given)
        # so a caller-requested tighter file count actually converges
        new_files, written = self._write_buckets(
            df.repartitionByRange(max(len(victims) * fpb, 1), F.col("_bucket"), F.col(order)),
            m, sort_by=order,
        )
        return self._publish(
            m, "compact", "compact_files", record=written, files=carried + new_files
        )

    def vacuum_tombstones(self, older_than_lsn: int) -> CommitResult:
        """Drop delete tombstones whose LSN is at or below a watermark the
        stream has provably passed (no event with lsn ≤ watermark can
        still arrive — exact replayed duplicates included).

        Rides the DML rewrite core: only files that actually HOLD a
        qualifying tombstone are rewritten — the probe's pushed
        ``_deleted`` predicate meets parquet's per-row-group boolean
        stats, so all-live files are skipped at row-group level and carry
        forward by reference. A table with nothing to vacuum is a
        metadata no-op (``applied=False``), where it used to be an
        unconditional O(table) rewrite."""
        cond = F.coalesce(F.col(DELETED_COL), F.lit(False)) & (
            F.col(LSN_COL) <= older_than_lsn
        )

        def transform(df: DataFrame, match) -> DataFrame:
            return df.filter(~F.coalesce(match, F.lit(False)))

        return self._rewrite_where(
            cond, transform, "vacuum_tombstones", batch_id=None,
            prune_range=None, live_only=False,
        )

    # --------------------------------------------------- row-level DML
    def delete_where(
        self,
        condition,
        batch_id: int | None = None,
        prune_range: tuple | None = None,
        hard: bool = False,
        verify_prune: bool = False,
    ) -> CommitResult:
        """Predicate DELETE — the row-level retention / right-to-erasure
        op (Iceberg ``DELETE FROM t WHERE ...`` analog, copy-on-write).

        ``condition`` (Column or SQL string over payload columns) selects
        LIVE rows. Default is a SOFT delete: each matched row becomes a
        tombstone that keeps its ``_lsn``, so the CDC stream stays
        coherent — a replayed older event (lsn ≤ _lsn) still no-ops off
        the merge guard, a genuinely newer event re-inserts the key, and
        ``vacuum_tombstones`` reclaims the bytes once the stream passes
        the watermark. Note a soft tombstone RETAINS the payload bytes;
        for erasure use ``hard=True``, which removes matched rows from the
        new snapshot outright — prior snapshots still reference them until
        ``expire_snapshots`` runs, so full erasure is
        ``delete_where(hard=True)`` + ``expire_snapshots(keep_last=1)``.
        The hard path trades the replay guard away: the key's ``_lsn``
        floor is gone, so a replayed pre-delete epoch CAN re-insert it
        (use soft + vacuum when the stream may still replay).

        Scale shape (same discipline as merge): candidates are optionally
        zone-map-pruned via ``prune_range=(col, lo, hi)``; a probe scan
        finds the files that actually HOLD a match; only those are
        rewritten — every other file carries forward by reference. Two
        scans of the candidate/matched files, never O(table) driver work.

        SUBSUMPTION CONTRACT: ``prune_range`` is an UNCHECKED hint — the
        caller asserts every row satisfying ``condition`` has ``col``
        within ``[lo, hi]``. A range that does not subsume the predicate
        silently skips matching rows in the pruned-away files (they are
        carried forward unmodified, no error). Pass
        ``verify_prune=True`` to pay one extra probe over the
        pruned-away files and raise on residual matches instead — use it
        in tests / fsck-grade runs, skip it on the hot path.

        ``batch_id`` gives the op merge/append's exactly-once ledger
        (replays no-op)."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        if hard:
            def transform(df: DataFrame, match) -> DataFrame:
                # SQL DELETE semantics: a NULL predicate is NOT a match —
                # a bare ~match would drop NULL-evaluating rows (and only
                # in files that also held a TRUE match: file-dependent loss)
                return df.filter(~F.coalesce(match, F.lit(False)))
        else:
            def transform(df: DataFrame, match) -> DataFrame:
                return df.withColumn(
                    DELETED_COL,
                    F.when(match, F.lit(True)).otherwise(
                        F.coalesce(F.col(DELETED_COL), F.lit(False))
                    ),
                )
        return self._rewrite_where(
            cond, transform, "delete_where" + ("_hard" if hard else ""),
            batch_id, prune_range, verify_prune=verify_prune,
        )

    def update_where(
        self,
        condition,
        assignments: dict[str, Any],
        batch_id: int | None = None,
        prune_range: tuple | None = None,
        verify_prune: bool = False,
    ) -> CommitResult:
        """Predicate UPDATE (Iceberg ``UPDATE t SET ... WHERE ...`` analog,
        copy-on-write): LIVE rows matching ``condition`` get the
        ``assignments`` (column → Column expression or literal; the
        expression may reference the row's own columns). Keys, ``_lsn``
        and ``_deleted`` cannot be assigned — the row keeps its LSN, so
        the CDC merge guard is unchanged (an out-of-band correction does
        not mask or get masked by in-band events any differently than the
        stored row did). Pruning (incl. the ``prune_range`` subsumption
        contract and ``verify_prune``), rewrite granularity and the
        exactly-once ``batch_id`` ledger are exactly :meth:`delete_where`'s."""
        m = self.manifest()
        schema = T.StructType.fromJson(m["schema"])
        names = {f.name for f in schema.fields}
        forbidden = {m["key"], LSN_COL, DELETED_COL} & set(assignments)
        if forbidden:
            raise ValueError(
                f"update_where cannot assign key/internal columns: {sorted(forbidden)}"
            )
        unknown = set(assignments) - names
        if unknown:
            raise ValueError(f"update_where: unknown columns {sorted(unknown)}")
        cond = F.expr(condition) if isinstance(condition, str) else condition
        types = {f.name: f.dataType for f in schema.fields}

        def transform(df: DataFrame, match) -> DataFrame:
            # ONE projection: every assignment (and the match predicate)
            # evaluates against the PRE-update row image, like SQL UPDATE —
            # sequential withColumn would feed earlier assignments' results
            # into later expressions and into the predicate itself
            out = []
            for c in df.columns:
                if c in assignments:
                    v = assignments[c]
                    vcol = v if isinstance(v, Column) else F.lit(v)
                    out.append(
                        F.when(match, vcol.cast(types[c]))
                        .otherwise(F.col(c))
                        .alias(c)
                    )
                else:
                    out.append(F.col(c))
            return df.select(*out)

        return self._rewrite_where(
            cond, transform, "update_where", batch_id, prune_range,
            verify_prune=verify_prune,
        )

    def _rewrite_where(
        self,
        cond,
        transform,
        operation: str,
        batch_id: int | None,
        prune_range: tuple | None,
        live_only: bool = True,
        verify_prune: bool = False,
    ) -> CommitResult:
        """Shared DML core: probe candidate files for matches, rewrite ONLY
        the matching files through ``transform(df, match)``, carry the rest
        by reference, commit one ledgered snapshot. ``live_only=False``
        lets the predicate target tombstone rows too (vacuum).
        ``verify_prune=True`` additionally probes the files the
        ``prune_range`` hint excluded and raises if any holds a match —
        the subsumption-contract check (costs one extra scan of the
        pruned-away files; no-op without a hint)."""
        from urllib.parse import urlparse

        m = self.manifest()
        replayed = self.replayed(batch_id, m)
        if replayed is not None:
            return replayed
        key = m["key"]
        schema = T.StructType.fromJson(m["schema"])
        if prune_range is not None:
            col, lo, hi = prune_range
            candidates = self._range_entries(col, lo, hi, m)
        else:
            candidates = list(m["files"])
        live = ~F.coalesce(F.col(DELETED_COL), F.lit(False))
        match = (cond & live) if live_only else cond
        if verify_prune and prune_range is not None:
            cand_paths = {f["path"] for f in candidates}
            excluded = [f for f in m["files"] if f["path"] not in cand_paths]
            if excluded:
                residual = (
                    self._read_file_entries(excluded, schema)
                    .filter(match)
                    .limit(1)
                    .count()
                )
                if residual:
                    raise ValueError(
                        f"prune_range {prune_range!r} does not subsume the "
                        f"{operation} predicate: matching rows exist in "
                        "files the hint excluded — widen or drop the hint "
                        "(a non-verifying run would silently skip them)"
                    )
        if candidates:
            probe = self._read_file_entries(candidates, schema).withColumn(
                "_file", F.input_file_name()
            )
            hit_uris = [
                r[0]
                for r in probe.filter(match).select("_file").distinct().collect()
            ]
        else:
            hit_uris = []
        if not hit_uris:
            # nothing matches: no snapshot, no ledger advance (re-running
            # re-probes and no-ops again — idempotent without a ledger slot,
            # same stance as merge's empty-batch guard)
            return CommitResult(m["snapshot_id"], m["version"], applied=False)

        def norm(p: str) -> str:
            parsed = urlparse(p)
            return os.path.abspath(parsed.path if parsed.scheme else p)

        by_path = {
            norm(os.path.join(self.root, f["path"])): f for f in candidates
        }
        touched = []
        for uri in hit_uris:
            entry = by_path.get(norm(uri))
            if entry is None:  # a probe hit must map back to its manifest entry
                raise RuntimeError(f"probe file {uri!r} not in the manifest")
            touched.append(entry)
        touched_paths = {f["path"] for f in touched}
        carried = [f for f in m["files"] if f["path"] not in touched_paths]

        out = transform(self._read_file_entries(touched, schema), match)
        n_parts = max(len(touched), 1)  # preserve the rewritten files' fan-out
        new_files, written = self._write_buckets(
            out.withColumn("_bucket", _bucket_col(key, m)).repartitionByRange(
                n_parts, F.col("_bucket"), F.col(key)
            ),
            m,
        )
        return self._publish(
            m, operation, operation, batch_id=batch_id, record=written,
            files=carried + new_files,
        )

    # ----------------------------------------------------------------- clone
    def clone(self, dest_root: str, version: int | None = None) -> "SnapshotTable":
        """Export one consistent snapshot as a NEW independent table at
        ``dest_root`` — the dev-copy / backup / branch-from-prod verb.

        Data files are immutable, so they are HARD-LINKED when the
        destination is on the same filesystem (zero-copy, O(files)
        metadata ops — Iceberg-snapshot-export style) and byte-copied
        otherwise; either way the clone owns its paths and neither
        table's expire/vacuum can affect the other (an unlink drops one
        directory entry, never the shared inode). The clone's manifest
        chain is COLLAPSED to the cloned version (time travel below it is
        gone), but the LEDGER carries over verbatim so a replica that
        resumes the same stream still no-ops already-applied epochs; its
        lineage is the cloned version's rows only. Tags are not copied —
        they point at versions the clone does not have."""
        import shutil

        m = self.manifest(version)
        if SnapshotTable.exists(dest_root):
            raise ValueError(f"destination already holds a table: {dest_root}")
        os.makedirs(os.path.join(dest_root, "meta"), exist_ok=True)
        for f in m["files"]:
            src = os.path.join(self.root, f["path"])
            dst = os.path.join(dest_root, f["path"])
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            if os.path.exists(dst):  # left by a clone that crashed before its manifest
                os.remove(dst)
            try:
                os.link(src, dst)
            except OSError:  # cross-device / FS without hard links
                shutil.copy2(src, dst)
        clone = SnapshotTable(self.spark, dest_root)
        clone._write_manifest(
            {**m, "parent": None, "operation": f"clone:{self.root}@v{m['version']}",
             "ts": time.time()},
            lineage=m.get("lineage", []),
        )
        return clone

    # ------------------------------------------------------------------ fsck
    def verify(self, deep: bool = False) -> dict[str, Any]:
        """Integrity check (fsck): validate the manifest↔disk↔footer
        invariants a reader relies on. Driver-side and O(files) footer
        reads by default; ``deep=True`` adds ONE Spark scan recomputing
        every row's bucket with the table's recorded hash and comparing
        row counts.

        Checks: manifest/schema parse + key field present; every data
        file exists, its footer row count matches the manifest entry, its
        recomputed key min/max match, its columns are a subset of the
        manifest schema (case-insensitive), and its ``_bucket=`` path
        component matches the entry; ledger ids are monotone-consistent
        with ``ledger_evicted_below`` and ``ledger_pre_versions`` keys are
        a subset of the ledger. Returns ``{"ok": bool, "errors": [...],
        "files_checked": n, ...}`` — it reports, never mutates."""
        import pyarrow.parquet as pq

        errors: list[str] = []
        m = self.manifest()
        key = m["key"]
        try:
            schema = T.StructType.fromJson(m["schema"])
            known = {f.name.lower() for f in schema.fields}
            if _find_field(schema, key) is None:
                errors.append(f"key column {key!r} missing from schema")
        except Exception as exc:  # noqa: BLE001 — fsck reports, not raises
            errors.append(f"unparseable schema: {exc}")
            known = None
        for f in m["files"]:
            fp = os.path.join(self.root, f["path"])
            if not os.path.exists(fp):
                errors.append(f"missing data file: {f['path']}")
                continue
            try:
                md = pq.ParquetFile(fp).metadata
            except Exception as exc:  # noqa: BLE001
                errors.append(f"unreadable footer: {f['path']}: {exc}")
                continue
            if md.num_rows != f["rows"]:
                errors.append(
                    f"row-count drift: {f['path']} manifest={f['rows']} "
                    f"footer={md.num_rows}"
                )
            kmin, kmax = _key_stats(md, key)
            if (kmin, kmax) != (f.get("key_min"), f.get("key_max")):
                errors.append(
                    f"key-stats drift: {f['path']} manifest="
                    f"({f.get('key_min')}, {f.get('key_max')}) "
                    f"footer=({kmin}, {kmax})"
                )
            if known is not None:
                # TOP-LEVEL arrow names: the raw parquet schema flattens
                # nested fields (tokens.list.element would read as a bogus
                # unknown column 'element')
                top = md.schema.to_arrow_schema().names
                extra = {
                    n for n in top
                    if not n.startswith("_") and n.lower() not in known
                }
                if extra:
                    errors.append(
                        f"columns not in manifest schema: {f['path']}: "
                        f"{sorted(extra)}"
                    )
            part = [
                p for p in f["path"].split(os.sep) if p.startswith("_bucket=")
            ]
            if not part or int(part[0].split("=", 1)[1]) != f["bucket"]:
                errors.append(
                    f"bucket/path mismatch: {f['path']} entry bucket "
                    f"{f['bucket']}"
                )
        ledger = m.get("ledger", {})
        evicted = m.get("ledger_evicted_below")
        if evicted is not None:
            low = [
                b for b in ledger
                if b.lstrip("-").isdigit() and int(b) < evicted
            ]
            if low:
                errors.append(
                    f"ledger ids below eviction watermark {evicted}: {low}"
                )
        stray = set(m.get("ledger_pre_versions", {})) - set(ledger)
        if stray:
            errors.append(f"pre_versions not in ledger: {sorted(stray)}")
        out: dict[str, Any] = {
            "version": m["version"],
            "files_checked": len(m["files"]),
            "deep": deep,
        }
        if deep and m["files"]:
            df = self._read_file_entries(
                m["files"], T.StructType.fromJson(m["schema"])
            ).withColumn("_file", F.input_file_name())
            expect = _bucket_col(key, m)
            # one scan: total rows + per-file wrong-bucket counts
            bad = (
                df.withColumn("_expected", expect)
                .withColumn(
                    "_b",
                    F.regexp_extract(F.col("_file"), r"_bucket=(\d+)", 1).cast("int"),
                )
                .agg(
                    F.count("*").alias("rows"),
                    F.sum(
                        F.when(F.col("_expected") != F.col("_b"), 1).otherwise(0)
                    ).alias("misbucketed"),
                )
                .first()
            )
            total = sum(f["rows"] for f in m["files"])
            if bad["rows"] != total:
                errors.append(
                    f"deep row-count drift: scan={bad['rows']} manifest={total}"
                )
            if bad["misbucketed"]:
                errors.append(f"misbucketed rows: {bad['misbucketed']}")
            out["rows_scanned"] = bad["rows"]
        out["ok"] = not errors
        out["errors"] = errors
        return out

    def _batch_profile(
        self, src: DataFrame, key: str
    ) -> tuple[list[dict[str, Any]], dict[int, tuple[Any, Any]], dict[str, Any]]:
        """ONE aggregation job per commit yields (a) per-source-file lineage
        rows, (b) per-bucket batch key ranges — the input to the min/max
        file pruning — and (c) batch stats (event count, max event time).

        With lineage columns present this is a
        ``GROUPING SETS ((source_file), (_bucket))`` aggregation: both
        groupings in one shuffle; ``grouping(col)`` flags tell the rows
        apart (NULL group values are ambiguous)."""
        has_ts = "event_ts" in src.columns
        has_lsn = LSN in src.columns
        has_lineage = "source_file" in src.columns and "offset" in src.columns
        aggs = [
            F.count(F.lit(1)).alias("n_events"),
            F.min(key).alias("kmin"),
            F.max(key).alias("kmax"),
            (F.max("event_ts") if has_ts else F.lit(None)).alias("max_ts"),
            # the batch's max LSN rides the same job — the stream offset a
            # tailer-driven MaintenancePolicy vacuums against
            (F.max(LSN) if has_lsn else F.lit(None)).alias("max_lsn"),
        ]
        if has_lineage:
            aggs += [
                F.min("offset").alias("offset_min"),
                F.max("offset").alias("offset_max"),
            ]
            rows = (
                src.groupingSets([["source_file"], ["_bucket"]], "source_file", "_bucket")
                .agg(F.grouping("_bucket").alias("_is_file_row"), *aggs)
                .collect()
            )
            bucket_rows = [r for r in rows if r["_is_file_row"] == 0]
            lineage = [
                {c: r[c] for c in ("source_file", "offset_min", "offset_max", "n_events")}
                for r in rows if r["_is_file_row"] == 1
            ]
        else:
            bucket_rows = src.groupBy("_bucket").agg(*aggs).collect()
            lineage = []
        bucket_ranges = {r["_bucket"]: (r["kmin"], r["kmax"]) for r in bucket_rows}
        stats = {
            "n_events": sum(r["n_events"] for r in bucket_rows),
            "max_event_ts": max(
                (r["max_ts"] for r in bucket_rows if r["max_ts"] is not None),
                default=None,
            ),
            "max_lsn": max(
                (r["max_lsn"] for r in bucket_rows if r["max_lsn"] is not None),
                default=None,
            ),
        }
        return lineage, bucket_ranges, stats

    def _write_manifest(
        self,
        manifest: dict[str, Any],
        expected_parent_version: int | None = None,
        lineage: list[dict[str, Any]] | None = None,
    ) -> None:
        """Publish ``manifest`` — carrying THIS commit's ``lineage`` rows
        and no earlier ones — as ``v{N}.json``: the link of the complete
        temp file is the commit; the ``VERSION`` hint follows it."""
        meta = os.path.join(self.root, "meta")
        if expected_parent_version is not None:
            # optimistic concurrency (Iceberg commit semantics): the commit
            # is based on a snapshot read at the start; if another writer
            # advanced the table meanwhile, fail instead of losing their
            # commit. (Streaming normally guarantees one writer via
            # checkpoint ownership — this guards misconfiguration.)
            current = self.current_version()
            if current != expected_parent_version:
                raise ConcurrentCommitError(
                    f"table advanced to v{current} while committing on top of "
                    f"v{expected_parent_version}; retry the merge"
                )
        version = manifest["version"]
        tmp = _write_temp(meta, json.dumps({**manifest, "lineage": lineage or []}))
        try:
            # the link is the CAS: atomic, and it fails if the name exists,
            # so exactly one of two racing same-parent writers wins — the
            # check-then-act pre-check above alone cannot (both can pass it)
            os.link(tmp, os.path.join(meta, f"v{version:08d}.json"))
        except FileExistsError:
            raise ConcurrentCommitError(
                f"manifest v{version} already written by a concurrent "
                "committer; retry the merge"
            ) from None
        finally:
            os.unlink(tmp)
        fd = os.open(meta, os.O_RDONLY)  # the link is durable before the hint
        os.fsync(fd)
        os.close(fd)
        self._write_hint(version)

    def _write_hint(self, version: int) -> None:
        meta = os.path.join(self.root, "meta")
        os.replace(_write_temp(meta, str(version)), os.path.join(meta, "VERSION"))


def _merge_rows(
    target: DataFrame,
    src_full: DataFrame,
    key: str,
    payload_schema: T.StructType,
    inclusive_guard: bool = False,
) -> DataFrame:
    """Produce the post-merge rows for the touched files: one sort-merge
    full outer join of the target rows against the batch on the key."""
    t = target.alias("t")
    s = src_full.alias("s")
    joined = t.join(s, on=F.col(f"t.{key}") == F.col(f"s.{key}"), how="full_outer")

    outranks = (
        F.col(f"s.{LSN_COL}") >= F.col(f"t.{LSN_COL}")
        if inclusive_guard
        else F.col(f"s.{LSN_COL}") > F.col(f"t.{LSN_COL}")
    )
    s_wins = F.col(f"s.{key}").isNotNull() & (
        F.col(f"t.{key}").isNull() | outranks
    )
    is_delete = F.col("s._op") == F.lit("D")
    # deletes become tombstone rows: late-arriving older updates must
    # not resurrect a deleted key (order-insensitivity across batches)
    deleted = F.when(s_wins, is_delete).otherwise(
        F.coalesce(F.col(f"t.{DELETED_COL}"), F.lit(False))
    )
    pick = lambda c: F.when(s_wins, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}"))  # noqa: E731
    return joined.select(
        *[pick(f.name).alias(f.name) for f in payload_schema.fields],
        pick(LSN_COL).alias(LSN_COL),
        deleted.alias(DELETED_COL),
        F.when(s_wins, F.col("s._bucket")).otherwise(F.col("t._bucket")).alias("_bucket"),
    )


def _bucket_col(key: str, m: dict[str, Any]) -> F.Column:
    """THE bucket function of the table state ``m`` (a manifest):
    ``pmod(murmur3(key), m["n_buckets"])``; the manifest must record that
    hash as ``bucket_hash``. The key is hashed in the TABLE's key type, not
    the caller's: murmur3 hashes int and long values differently, so a
    batch whose key arrives wider (long 42 vs int 42) would otherwise land
    in a different bucket than the files holding that key. The ANSI cast fails
    loudly on genuine overflow (the key column never widens — see
    _pin_key_type). Taking ``m`` rather than the current manifest keeps a
    time-travel lookup across a ``rebucket`` on its own version's
    ``n_buckets``."""
    key_field = _find_field(T.StructType.fromJson(m["schema"]), key)
    kcol = F.col(key)
    if key_field is not None:
        kcol = kcol.cast(key_field.dataType)
    if m.get("bucket_hash") != "murmur3":
        raise ValueError(
            f"manifest v{m['version']} records bucket_hash {m.get('bucket_hash')!r}; only "
            "'murmur3' tables are read (rewrite a round-1 xxhash64 table into a fresh one)"
        )
    return F.pmod(F.hash(kcol), F.lit(m["n_buckets"])).cast("int")


@contextlib.contextmanager
def cached(df: DataFrame):
    """``df`` persisted for the ``with`` block (a frame that feeds more
    than one job) and released after it, unless the caller already cached
    it and so owns the cache."""
    if df.storageLevel.useMemory or df.storageLevel.useDisk:
        yield df
        return
    df = df.persist()
    try:
        yield df
    finally:
        df.unpersist()


def _write_temp(meta: str, text: str) -> str:
    """Write ``text`` to a fresh private file in ``meta`` and return its
    path. The file is fsynced, so what is linked or renamed from it is
    complete even after a power loss. Commit temps are the only hidden
    (``.``-prefixed) files in ``meta/``; a crash leaves them for
    ``expire_snapshots`` to sweep."""
    tmp = os.path.join(meta, f".{uuid.uuid4().hex}.tmp")
    with open(tmp, "x") as fh:
        fh.write(text)
        fh.flush()
        os.fsync(fh.fileno())
    return tmp


def _latest_manifest(meta: str) -> int | None:
    """The highest published version in ``meta`` (None when there is
    none) — an O(manifests) listing, so only the missing-hint paths use it."""
    names = os.listdir(meta) if os.path.isdir(meta) else []
    return max((int(n[1:-5]) for n in names
                if n.startswith("v") and n.endswith(".json") and n[1:-5].isdigit()),
               default=None)


def _as_nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, element and value nullable — the schema a
    Spark file-source read reports (``DataType.asNullable``), which
    :meth:`SnapshotTable.lookup` matches."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
             for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def _conform_arrow(t, schema: T.StructType):
    """Arrow twin of ``conform_to_schema`` for one file's rows: project the
    pyarrow Table ``t`` onto ``schema`` by name (case-insensitive), at every
    struct nesting level and through array elements — columns and nested
    fields the file lacks become null, scalars are cast. A plain Arrow cast
    cannot add struct fields (``struct fields don't match``), and an
    explicit-schema ``pyarrow.dataset`` read fails the same way."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    def conform(arr, dt: T.DataType):
        if isinstance(dt, T.StructType):
            if not pa.types.is_struct(arr.type):
                return pa.nulls(len(arr), to_arrow_type(dt))
            idx = {arr.type.field(i).name.lower(): i for i in range(arr.type.num_fields)}
            return pa.StructArray.from_arrays(
                [
                    conform(arr.field(idx[f.name.lower()]), f.dataType)
                    if f.name.lower() in idx
                    else pa.nulls(len(arr), to_arrow_type(f.dataType))
                    for f in dt.fields
                ],
                names=dt.names,
                mask=arr.is_null(),
            )
        if isinstance(dt, T.ArrayType) and pa.types.is_list(arr.type):
            return pa.ListArray.from_arrays(
                arr.offsets, conform(arr.values, dt.elementType), mask=arr.is_null()
            )
        return arr.cast(to_arrow_type(dt))

    cols = {n.lower(): i for i, n in enumerate(t.column_names)}
    return pa.Table.from_arrays(
        [
            conform(t.column(cols[f.name.lower()]).combine_chunks(), f.dataType)
            if f.name.lower() in cols
            else pa.nulls(t.num_rows, to_arrow_type(f.dataType))
            for f in schema.fields
        ],
        names=schema.names,
    )


# bytes of rewrite per join/write task of a merge, below which it runs
# fewer tasks (never fewer files): Spark's default
# ``spark.sql.adaptive.coalescePartitions.minPartitionSize``
_MIN_TASK_BYTES = 1 << 20


def _join_partitions(
    m: dict[str, Any], touched_sizes: list[tuple[int, int]], n_events: int,
    shuffle_partitions: int,
) -> int:
    """The hash-partition count J of a merge's join, from the ``(rows,
    bytes)`` of each touched file: the smallest divisor of ``n_buckets``
    that gives each task at least :data:`_MIN_TASK_BYTES` of the estimated
    rewrite (the touched bytes scaled by ``(touched rows + batch events) /
    touched rows``). A divisor keeps every bucket inside one task —
    ``pmod(h, J) == pmod(h, n_buckets) mod J`` — so the aligned write lands
    the same one file per bucket in fewer tasks. J is 1 or at least
    ``shuffle_partitions``: when both join inputs are shuffles, Spark
    raises a smaller count to ``spark.sql.shuffle.partitions``, which need
    not divide ``n_buckets``. ``max_parts`` when the table keeps several
    files per bucket, or when no touched file has rows to size from (a
    first commit)."""
    n_buckets = m["n_buckets"]
    fpb = m.get("files_per_bucket", 1)
    touched_rows = sum(rows for rows, _ in touched_sizes)
    if fpb > 1 or touched_rows == 0:
        return n_buckets * fpb
    est_bytes = sum(b for _, b in touched_sizes) * (touched_rows + n_events) / touched_rows
    need = max(1, math.ceil(est_bytes / _MIN_TASK_BYTES))
    return next(
        (d for d in range(need, n_buckets + 1)
         if n_buckets % d == 0 and (d == 1 or d >= shuffle_partitions)),
        n_buckets,
    )


def _split_touched_files(
    files: list[dict[str, Any]], bucket_ranges: dict[int, tuple[Any, Any]]
) -> tuple[list[dict[str, Any]], list[dict[str, Any]]]:
    """(touched, carried): a file is touched iff its bucket is in the batch
    AND its key min/max range intersects the batch's key range for that
    bucket. Missing stats (old files, null-only stats) → touched (safe)."""
    touched, carried = [], []
    for f in files:
        rng = bucket_ranges.get(f["bucket"])
        if rng is None:
            carried.append(f)
            continue
        kmin, kmax = f.get("key_min"), f.get("key_max")
        try:
            disjoint = (
                kmin is not None
                and kmax is not None
                and rng[0] is not None
                and rng[1] is not None
                and (kmax < rng[0] or kmin > rng[1])
            )
        except TypeError:  # incomparable stat types → don't prune
            disjoint = False
        (carried if disjoint else touched).append(f)
    return touched, carried


def conform_col(df: DataFrame, field: T.StructField) -> F.Column:
    """Source-side single-column conform: same field-by-name struct/array
    semantics as conform_to_schema (a plain cast cannot add struct fields
    and maps equal-count structs positionally)."""
    from data_hub_ejp_xml_pipeline_spark.table.schema_evolution import _conform_expr

    names = {f.name.lower(): f for f in df.schema.fields}
    src = names.get(field.name.lower())
    if src is None:
        return F.lit(None).cast(field.dataType)
    return _conform_expr(F.col(src.name), src.dataType, field.dataType)


def _find_field(schema: T.StructType, name: str) -> T.StructField | None:
    """Case-insensitive, like every other name match in the engine —
    a case-mismatched key must not silently dodge the key-type pin."""
    low = name.lower()
    for f in schema.fields:
        if f.name.lower() == low:
            return f
    return None


def _pin_key_type(
    merged: T.StructType, existing: T.StructType, key: str
) -> T.StructType:
    """Force the KEY column's type back to its existing definition after a
    schema merge — ONE implementation for both the merge path and the
    metadata-only add_columns path. A widened key would change bucket
    hashing (murmur3 hashes int and long differently) and strand
    every existing row in a stale-hash bucket."""
    existing_key = _find_field(existing, key)
    merged_key = _find_field(merged, key)
    if (
        existing_key is None
        or merged_key is None
        or merged_key.dataType == existing_key.dataType
    ):
        return merged
    return T.StructType(
        [
            existing_key if f.name.lower() == key.lower() else f
            for f in merged.fields
        ]
    )


def _key_stats(md: Any, key: str) -> tuple[Any, Any]:
    """(min, max) of ``key`` from the parquet footer row-group statistics;
    (None, None) when any row group lacks stats. parquet-mr truncates long
    binary stats but keeps them valid bounds, so pruning on them is safe.

    Only JSON-serializable stat types (str/int/float) are captured: a
    timestamp/date/binary key yields datetime or bytes values that would
    blow up ``json.dump`` in the manifest write AFTER data files are
    already on disk (orphans until expire). Missing stats just mean the
    file is always treated as touched — correct, merely unpruned."""
    names = list(md.schema.names)
    if key not in names:
        return None, None
    col_idx = names.index(key)
    kmin = kmax = None
    for rg in range(md.num_row_groups):
        stats = md.row_group(rg).column(col_idx).statistics
        if stats is None or not stats.has_min_max:
            return None, None
        kmin = stats.min if kmin is None else min(kmin, stats.min)
        kmax = stats.max if kmax is None else max(kmax, stats.max)
    if isinstance(kmin, bool) or not isinstance(kmin, (str, int, float)):
        return None, None
    if isinstance(kmax, bool) or not isinstance(kmax, (str, int, float)):
        return None, None
    return kmin, kmax


def _list_bucket_files(
    snap_dir: str, snap_rel: str, key: str, stats_cols: tuple | list = (),
) -> list[dict[str, Any]]:
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    if not os.path.isdir(snap_dir):
        return []
    entries: list[tuple[str, int, str]] = []
    for entry in sorted(os.listdir(snap_dir)):
        if not entry.startswith("_bucket="):
            continue
        bucket = int(entry.split("=", 1)[1])
        bdir = os.path.join(snap_dir, entry)
        for fn in sorted(os.listdir(bdir)):
            if fn.endswith(".parquet"):
                entries.append((entry, bucket, fn))

    def stat(e: tuple[str, int, str]) -> dict[str, Any]:
        entry, bucket, fn = e
        fp = os.path.join(snap_dir, entry, fn)
        md = pq.ParquetFile(fp).metadata
        kmin, kmax = _key_stats(md, key)
        out = {
            "path": os.path.join(snap_rel, entry, fn),
            "bucket": bucket,
            "rows": md.num_rows,
            "key_min": kmin,
            "key_max": kmax,
        }
        if stats_cols:
            # same footer, same truncation-safe bounds as the key stats;
            # a column with unusable stats is simply absent (file treated
            # as always-overlapping — unpruned, never wrong)
            cs = {}
            for c in stats_cols:
                cmin, cmax = _key_stats(md, c)
                if cmin is not None:
                    cs[c] = [cmin, cmax]
            if cs:
                out["col_stats"] = cs
        return out

    # footer reads are tiny but serial-latency-bound; thread them
    with ThreadPoolExecutor(max_workers=min(16, max(len(entries), 1))) as ex:
        return list(ex.map(stat, entries))
