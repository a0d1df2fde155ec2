"""Dedup-on-ingest: persisted MinHash band state + exactly-once flags.

``operators.dedup.incremental_minhash_flags`` is function-level: it needs
the corpus's precomputed band table handed to it. This module makes that
state DURABLE and epoch-consistent, the way a 100 TB ingest loop runs it:

* the **band state** lives in a :class:`SnapshotTable` keyed (bucketed) by
  ``band_hash`` — the equi-join column of the LSH candidate probe — and is
  APPENDED per epoch with the batch's bands (exactly-once via the table's
  batch-id ledger);
* a **docs table** (doc_id, text) accumulates the corpus side needed for
  the exact-Jaccard verify (candidate-bounded: only matched docs are ever
  re-shingled). At full scale this duplicates corpus text held by the main
  ingest table — pass ``docs_provider=`` to read it from there instead and
  keep text stored once;
* each epoch's **flags** are appended to a flags table carrying the epoch
  id, so downstream consumers get exactly-once flag emission.

Replay stability (the CDC contract): flags for epoch *N* are always
computed against the state **as of before N** — when a replayed epoch finds
its batch_id in the band ledger, the corpus view is time-traveled to the
snapshot preceding that append. So crash anywhere between the three
appends converges: already-applied appends no-op on their ledgers, the
flag recompute sees the identical pre-N corpus, and the missing appends
apply. (With ``docs_provider`` the text side cannot be time-traveled here;
if the provider's text for a matched doc changed between run and replay,
recomputed ``jaccard`` values may differ — the flags LEDGER still
prevents double emission, so only the crash-window recompute sees drift.
Provider mode therefore keeps a slim ``texthash`` table of append-time
``md5(text)`` per doc and, on a replayed epoch, DETECTS drift by
comparing the provider's current hashes against it — surfaced as
``last_replay_drift`` / a warning, never a failure.)

Reference analog: the pipeline-level "seen files" dedup
(``dags/s3_xml_import_pipeline.py`` named-literals query) persisted as
engine state rather than a warehouse query.
"""

from __future__ import annotations

import logging
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_hub_ejp_xml_pipeline_spark.operators import dedup
from data_hub_ejp_xml_pipeline_spark.schemas import LSN, LWW_ORDER, OP
from data_hub_ejp_xml_pipeline_spark.table.snapshot_table import SnapshotTable

_LOG = logging.getLogger(__name__)

BAND_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("band_no", T.IntegerType()),
        T.StructField("band_hash", T.StringType()),
    ]
)

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)

TEXTHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("text_md5", T.StringType()),
    ]
)

FLAGS_SCHEMA = T.StructType(
    [
        T.StructField("new_doc", T.StringType()),
        T.StructField("matched_doc", T.StringType()),
        T.StructField("jaccard", T.DoubleType()),
        T.StructField("matched_in", T.StringType()),
        T.StructField("epoch", T.LongType()),
    ]
)


class DedupIngestState:
    """Durable incremental near-dup detection for an ingest loop."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        threshold: float = 0.8,
        n_hashes: int = 9,
        band_size: int = 3,
        k: int = 3,
        n_buckets: int = 16,
        docs_provider: Callable[[], DataFrame] | None = None,
    ):
        self.spark = spark
        self.threshold = threshold
        self.n_hashes = n_hashes
        self.band_size = band_size
        self.k = k
        self.docs_provider = docs_provider
        self.bands = _open_table(spark, root + "/bands", BAND_SCHEMA,
                                 "band_hash", n_buckets)
        self.flags = _open_table(spark, root + "/flags", FLAGS_SCHEMA,
                                 "new_doc", n_buckets)
        self.docs = (
            None
            if docs_provider is not None
            else _open_table(spark, root + "/docs", DOCS_SCHEMA, "doc_id",
                             n_buckets)
        )
        # provider mode cannot time-travel the text side, so a slim
        # (doc_id, md5(text)) table is kept to DETECT replay-window drift
        # (see apply); owned-docs mode time-travels and needs no detector
        self.texthash = (
            _open_table(spark, root + "/texthash", TEXTHASH_SCHEMA,
                        "doc_id", n_buckets)
            if docs_provider is not None
            else None
        )
        self.last_replay_drift: DataFrame | None = None
        self.last_replay_drift_count: int = 0

    def maintained_tables(self) -> dict:
        """See :meth:`plans.scd2.Scd2State.maintained_tables`."""
        out = {"dedup_bands": self.bands, "dedup_flags": self.flags}
        if self.docs is not None:
            out["dedup_docs"] = self.docs
        if self.texthash is not None:
            out["dedup_texthash"] = self.texthash
        return out

    def apply(self, batch_docs: DataFrame, batch_id: int,
              id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
        """One epoch: flag the batch's near-dups against the persisted
        corpus state, then append the batch's bands (+docs) and the flags
        — each append exactly-once on its own ledger. Returns this epoch's
        flags (recomputed deterministically on replay)."""
        batch = batch_docs.select(
            F.col(id_col).cast("string").alias("doc_id"),
            F.col(text_col).cast("string").alias("text"),
        )

        # provider-mode drift detection: on a REPLAYED epoch, compare the
        # provider's current text hashes against the hashes stored at
        # append time — surfaced, not fatal (the flags ledger prevents
        # double emission; only a crash-window recompute can see drift)
        self.last_replay_drift = None
        self.last_replay_drift_count = 0
        if (self.texthash is not None
                and self.bands.replayed(batch_id) is not None):
            self._check_provider_drift(id_col, text_col)

        # replay fast path: flags commit LAST, so a ledgered flags append
        # proves the whole epoch is durable — the stored flags ARE the
        # deterministic recompute (and stay available after the pre-epoch
        # manifests expire)
        if self.flags.replayed(batch_id) is not None:
            return _epoch_flags(self.flags, batch_id)

        pre_bands_v = _version_before(self.bands, batch_id)
        try:
            corpus_bands = self.bands.read(version=pre_bands_v)
            if self.docs is not None:
                pre_docs_v = _version_before(self.docs, batch_id)
                corpus_docs = self.docs.read(version=pre_docs_v)
            else:
                corpus_docs = self.docs_provider().select(
                    F.col(id_col).cast("string").alias("doc_id"),
                    F.col(text_col).cast("string").alias("text"),
                )
        except FileNotFoundError:
            # the pre-epoch version is ledger-derived, so the epoch's state
            # appends ARE applied; their pre-epoch snapshots just fell out
            # of the retention window. Provably done — converge on the
            # durable flags (possibly empty) instead of failing the replay.
            return _epoch_flags(self.flags, batch_id)

        persisted: list = []
        flags = dedup.incremental_minhash_flags(
            batch,
            corpus_docs,
            corpus_bands.select("doc_id", "band_no", "band_hash"),
            threshold=self.threshold,
            n_hashes=self.n_hashes,
            band_size=self.band_size,
            k=self.k,
            persist_registry=persisted,
        ).withColumn("epoch", F.lit(batch_id).cast("long"))

        batch_bands = dedup.minhash_band_state(
            batch, n_hashes=self.n_hashes, band_size=self.band_size, k=self.k
        )
        self.bands.append(batch_bands, batch_id=batch_id)
        if self.docs is not None:
            self.docs.append(batch, batch_id=batch_id)
        if self.texthash is not None:
            self.texthash.append(
                batch.select("doc_id", F.md5("text").alias("text_md5")),
                batch_id=batch_id,
            )
        self.flags.append(flags, batch_id=batch_id)
        # the epoch's results are durable — free this epoch's cached
        # shingles (a long-running tailer would otherwise accumulate one
        # persisted table per epoch). The returned flags recompute lazily
        # if re-collected; the pipelines consume only the durable table.
        for df_cached in persisted:
            df_cached.unpersist()
        return flags

    def _check_provider_drift(self, id_col: str, text_col: str) -> None:
        """Provider-mode replay diagnostic: anti-check the provider's
        CURRENT text hashes against the hashes stored when each doc was
        appended. A mismatch means a crash-window replay would verify
        jaccard against drifted text — surfaced via
        ``last_replay_drift`` (doc_id, stored_md5, current_md5) and a
        logged warning, never a failure. One O(corpus-hashes) scan, paid
        only on replayed epochs."""
        stored = self.texthash.read().select("doc_id", "text_md5")
        current = self.docs_provider().select(
            F.col(id_col).cast("string").alias("doc_id"),
            F.md5(F.col(text_col).cast("string")).alias("current_md5"),
        )
        drifted = (
            stored.join(current, "doc_id")
            .filter(F.col("text_md5") != F.col("current_md5"))
            .select("doc_id", F.col("text_md5").alias("stored_md5"),
                    "current_md5")
        )
        self.last_replay_drift = drifted
        self.last_replay_drift_count = drifted.count()
        if self.last_replay_drift_count:
            _LOG.warning(
                "docs_provider text drifted for %d doc(s) since their "
                "original append — a replayed epoch's recomputed jaccard "
                "may differ from the original run (flags ledger still "
                "prevents double emission)",
                self.last_replay_drift_count,
            )

    # -------------------------------------------------------------- reads
    def all_flags(self) -> DataFrame:
        return self.flags.read().drop("_lsn")

    def flagged_doc_ids(self) -> DataFrame:
        """Distinct new_doc ids ever flagged — the left-anti filter side
        for a keep-canonical ingest policy."""
        return self.flags.read().select(F.col("new_doc").alias("doc_id")).distinct()

    def expire(self, keep_last: int = 2) -> dict:
        """Reclaim old snapshots/orphans across the state tables (the
        per-epoch appends mint one snapshot per table per epoch; a
        long-running tailer needs this swept like any other table)."""
        out = {
            "bands": self.bands.expire_snapshots(keep_last=keep_last),
            "flags": self.flags.expire_snapshots(keep_last=keep_last),
        }
        if self.docs is not None:
            out["docs"] = self.docs.expire_snapshots(keep_last=keep_last)
        if self.texthash is not None:
            out["texthash"] = self.texthash.expire_snapshots(keep_last=keep_last)
        return out


TOKEN_FP_SCHEMA = T.StructType(
    [
        T.StructField("fp", T.StringType()),
        T.StructField("doc_id", T.StringType()),
    ]
)

TOKEN_FLAGS_SCHEMA = T.StructType(
    [
        T.StructField("new_doc", T.StringType()),
        T.StructField("matched_doc", T.StringType()),
        T.StructField("fp", T.StringType()),
        T.StructField("matched_in", T.StringType()),
        T.StructField("epoch", T.LongType()),
    ]
)


class TokenDedupState:
    """EXACT dedup-on-ingest for pre-tokenized sequence payloads — the
    token-pipeline (MergePipeline/MorPipeline) sibling of
    :class:`DedupIngestState`, which shingles TEXT.

    Fingerprint = md5 of the token array (or its first ``prefix_k``
    tokens — identical sequence STARTS are how exact dups of training
    sequences usually manifest after truncation/packing). The corpus
    state is one (fp, doc_id) table bucketed by fp, so the per-epoch
    probe is an equi-join of the (small) batch fingerprints against a
    co-located scan: O(batch + matches), never O(corpus). Same
    exactly-once + replay-time-travel contract as DedupIngestState; the
    fingerprint table stores NO token bytes, so unlike the docs table
    there is no text duplication at any scale.

    The state is APPEND-ONLY: when a doc's tokens change across epochs,
    its earlier fingerprints remain — a later match against a superseded
    version is still flagged (matching any HISTORICAL content is the
    conservative choice for training-data dedup). A maintenance pass can
    compact to latest-per-doc if current-content-only semantics are
    wanted."""

    _UNSET = object()

    # auto probe mode flips from broadcast to shuffle above this many batch
    # fingerprints — the documented executor broadcast budget (~10^8 keys
    # of ~50-byte rows). Class attr so tests can pin the flip.
    probe_broadcast_max_keys: int = 100_000_000

    def __init__(self, spark: SparkSession, root: str,
                 prefix_k=_UNSET, n_buckets: int = 16,
                 probe_broadcast: bool | None = None):
        self.spark = spark
        # prefix_k is part of the state's IDENTITY: fingerprints taken with
        # different K never match, so reopening with another K would
        # silently stop flagging real duplicates. The value is persisted
        # at the root on create and ADOPTED on open (like a table's key);
        # an explicitly-passed conflicting value raises.
        import json as _json
        import os as _os

        meta_path = _os.path.join(root, "dedup_meta.json")
        stored = None
        if _os.path.exists(meta_path):
            with open(meta_path) as fh:
                stored = _json.load(fh).get("prefix_k")
        if prefix_k is TokenDedupState._UNSET:
            prefix_k = stored  # adopt (None = full-array fingerprints)
        elif stored is not None or _os.path.exists(meta_path):
            if prefix_k != stored:
                raise ValueError(
                    f"state at {root} was created with prefix_k={stored}; "
                    f"reopening with prefix_k={prefix_k} would mix "
                    "incompatible fingerprints"
                )
        if prefix_k is not None and prefix_k < 1:
            raise ValueError(f"prefix_k must be >= 1, got {prefix_k}")
        self.prefix_k = prefix_k
        # broadcast the batch fingerprints into the corpus probe: right
        # whenever the corpus state dwarfs the epoch — the corpus never
        # shuffles. For extreme microbatches whose key set exceeds the
        # executor broadcast budget (~10^8 keys), both sides shuffle on fp
        # and AQE picks the join. None (default) = AUTO: decide per epoch
        # from the batch's actual fingerprint count (the count also
        # materializes the epoch cache, which every downstream action
        # reuses); an explicit bool skips the count and is always honored.
        self.probe_broadcast = probe_broadcast
        if not _os.path.exists(meta_path):
            _os.makedirs(root, exist_ok=True)
            with open(meta_path, "w") as fh:
                _json.dump({"prefix_k": prefix_k}, fh)
        self.fingerprints = _open_table(spark, root + "/fingerprints",
                                        TOKEN_FP_SCHEMA, "fp", n_buckets)
        self.flags = _open_table(spark, root + "/flags", TOKEN_FLAGS_SCHEMA,
                                 "new_doc", n_buckets)

    def maintained_tables(self) -> dict:
        """See :meth:`plans.scd2.Scd2State.maintained_tables`."""
        return {"dedup_fingerprints": self.fingerprints,
                "dedup_flags": self.flags}

    def fingerprint(self, tokens_col: Column | str) -> Column:
        """md5 over the JSON rendering of the (sliced) token array.
        ``to_json`` is INJECTIVE where a separator join is not: a
        comma-join folds ["a,b"] onto ["a","b"] (false dups for free-text
        tokens) and silently drops null elements, folding [x, null] onto
        [x]; the JSON form quotes/escapes strings and renders nulls, and
        DuckDB's ``to_json`` emits the identical bytes, so the oracle
        stays expressible. NULL for null/EMPTY token arrays — a shared
        empty fingerprint would flag every empty doc as a dup of every
        other (one hot key, quadratic flags); null fps are dropped before
        the state append and never join."""
        c = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
        sliced = F.slice(c, 1, self.prefix_k) if self.prefix_k is not None else c
        return F.when(
            c.isNull() | (F.size(c) == 0), F.lit(None).cast("string")
        ).otherwise(F.md5(F.to_json(sliced)))

    def apply(self, batch: DataFrame, batch_id: int,
              id_col: str = "doc_id", tokens_col: str = "tokens") -> DataFrame:
        """One epoch: flag batch docs whose fingerprint matches the
        corpus (any) or an EARLIER doc of the same batch (smaller string
        id), then append the batch's fingerprints and the flags —
        exactly-once each, replay-stable via pre-epoch time travel.

        ``batch`` must be one row per key (e.g. already LWW-reduced).
        Pipelines should prefer :meth:`apply_changelog` — it fingerprints
        the RAW rows first so the reduce here shuffles ~50-byte
        (doc_id, fp) rows instead of token payloads."""
        fps = batch.select(
            self.fingerprint(tokens_col).alias("fp"),
            F.col(id_col).cast("string").alias("doc_id"),
        )
        return self._apply_fps(fps, batch_id)

    def _apply_fps(self, fps: DataFrame, batch_id: int) -> DataFrame:
        # replay fast path: a ledgered flags append means the whole epoch
        # is durable — return the stored flags instead of re-probing
        # (also the path that stays correct after expire_snapshots has
        # reclaimed the pre-epoch manifests the recompute would need)
        if self.flags.replayed(batch_id) is not None:
            return _epoch_flags(self.flags, batch_id)
        # persisted for the epoch: fps feeds the corpus probe, the
        # batch-internal self-join, the state append, and the flags append
        # — without a cache the upstream (a reduce) would re-execute for
        # each of those actions. Null fps (empty/absent token arrays)
        # carry no dedup signal — drop them here.
        fps = fps.filter(F.col("fp").isNotNull()).persist()
        pre_v = _version_before(self.fingerprints, batch_id)
        try:
            corpus = self.fingerprints.read(version=pre_v)
        except FileNotFoundError:
            # pre_v is ledger-derived, so the epoch's fingerprint append IS
            # applied; its pre-epoch snapshot just fell out of the retention
            # window. The epoch is provably done — converge on the durable
            # flags (possibly empty) instead of failing the replay.
            fps.unpersist()
            return _epoch_flags(self.flags, batch_id)

        # the batch fingerprint table BROADCASTS into the corpus probe —
        # one map-side scan of the (bucketed) corpus state, never a
        # corpus shuffle (same shape as the MinHash band probe)
        if self.probe_broadcast is None:
            do_broadcast = fps.count() <= self.probe_broadcast_max_keys
        else:
            do_broadcast = self.probe_broadcast
        flags = self._candidate_flags(fps, corpus, do_broadcast).withColumn(
            "epoch", F.lit(batch_id).cast("long")
        )
        # the epoch id rides in as the rows' _lsn so compact_latest has a
        # real "appended later" ordering (appends otherwise store _lsn=0)
        self.fingerprints.append(
            fps.withColumn("lsn", F.lit(batch_id).cast("long")),
            batch_id=batch_id,
        )
        self.flags.append(flags, batch_id=batch_id)
        fps.unpersist()  # durable now; re-collecting `flags` recomputes
        return flags

    def _candidate_flags(self, fps: DataFrame, corpus: DataFrame,
                         do_broadcast: bool) -> DataFrame:
        """The epoch's candidate plan, side-effect-free (plan tests build
        it directly): batch-vs-corpus equi-join on fp — batch side
        broadcast when ``do_broadcast``, so the corpus state never
        shuffles — unioned with the batch-internal earlier-id self-join."""
        probe = F.broadcast(fps) if do_broadcast else fps
        cand_corpus = (
            probe.alias("n")
            .join(
                corpus.alias("c"),
                (F.col("n.fp") == F.col("c.fp"))
                & (F.col("n.doc_id") != F.col("c.doc_id")),
            )
            .select(
                F.col("n.doc_id").alias("new_doc"),
                F.col("c.doc_id").alias("matched_doc"),
                F.col("n.fp").alias("fp"),
                F.lit("corpus").alias("matched_in"),
            )
        )
        a, b = fps.alias("a"), fps.alias("b")
        cand_batch = (
            a.join(
                b,
                (F.col("a.fp") == F.col("b.fp"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("b.doc_id").alias("new_doc"),
                F.col("a.doc_id").alias("matched_doc"),
                F.col("a.fp").alias("fp"),
                F.lit("batch").alias("matched_in"),
            )
        )
        return cand_corpus.unionByName(cand_batch).distinct()

    def apply_changelog(self, changelog: DataFrame, batch_id: int,
                        id_col: str = "doc_id", tokens_col: str = "tokens") -> DataFrame:
        """Fingerprint-then-reduce entry point for a RAW changelog batch:
        the md5 prefix fingerprint is computed per row in whole-stage
        codegen, then the per-key LWW winner is picked over
        (doc_id, lsn, fp, op) ONLY — the shuffle never carries the token
        payload and the pipeline's own reduce is not re-executed
        (measured: the naive reduced-batch path costs a second full
        payload shuffle per epoch). Deletes are dropped after the reduce
        (a key whose winner is a delete must not enter the corpus).

        Tie-break on equal (doc_id, lsn): the SAME lineage columns the
        main reduce uses (``schemas.LWW_ORDER``: offset, source_file
        — when present), so the dedup winner and the table's winner are
        the same row; an equal-lsn update/delete sibling pair cannot make
        the table keep the update while the dedup path drops the key as
        deleted. Without lineage columns, falls back to (fp, op)."""
        tie = [c for c in LWW_ORDER[1:] if c in changelog.columns]
        rows = changelog.select(
            F.col(id_col).cast("string").alias("doc_id"),
            F.col(LSN).alias("_l"),
            self.fingerprint(tokens_col).alias("fp"),
            F.col(OP).alias("_o"),
            *[F.col(c) for c in tie],
        )
        order = (
            F.struct("_l", *tie) if tie else F.struct("_l", "fp", "_o")
        )
        winner = rows.groupBy("doc_id").agg(
            F.max_by(F.struct("fp", "_o"), order).alias("w")
        )
        live = winner.filter(F.col("w._o") != "D").select(
            F.col("w.fp").alias("fp"), "doc_id"
        )
        return self._apply_fps(live, batch_id)

    def compact_latest(self, batch_id: int | None = None):
        """Maintenance: rewrite the fingerprint state to ONE row per doc
        (the last-appended fingerprint wins via the rows' commit ``_lsn``,
        tie-broken by fp for same-commit duplicates). Switches the state
        from match-any-HISTORICAL-version semantics (the append-only
        default) to match-current-content-only — run it when superseded
        versions should stop attracting flags, and to bound state growth
        under heavy re-ingestion. One shuffle on doc_id into a single
        atomic ``replace`` commit: the manifest pointer swaps from
        all-old-files to all-new-files in one step, so a crash anywhere
        leaves either the full pre-compaction state or the full compacted
        state — never an emptied table — and a replayed ``batch_id``
        no-ops the whole rewrite on the ledger (the earlier
        truncate-then-append sequence failed both: the unconditional
        truncate could run while the ledgered re-append no-opped)."""
        latest = (
            self.fingerprints.read()
            .groupBy("doc_id")
            .agg(
                F.max_by(
                    F.struct("fp", F.col("_lsn").alias("lsn")),
                    F.struct(F.col("_lsn"), F.col("fp")),
                ).alias("w")
            )
            .select(F.col("w.fp").alias("fp"), "doc_id",
                    F.col("w.lsn").alias("lsn"))
        )
        return self.fingerprints.replace(latest, batch_id=batch_id)

    def expire(self, keep_last: int = 2) -> dict:
        """Reclaim old snapshots/orphans across the state tables."""
        return {
            "fingerprints": self.fingerprints.expire_snapshots(keep_last=keep_last),
            "flags": self.flags.expire_snapshots(keep_last=keep_last),
        }

    def all_flags(self) -> DataFrame:
        return self.flags.read().drop("_lsn")


def _epoch_flags(flags_table: SnapshotTable, batch_id: int) -> DataFrame:
    """The durable flags of an already-applied epoch — byte-identical to
    the deterministic recompute (flags commit LAST within an epoch, so a
    ledgered flags append proves every earlier append of the epoch
    landed)."""
    return (
        flags_table.read()
        .filter(F.col("epoch") == F.lit(batch_id).cast("long"))
        .drop("_lsn")
    )


def _open_table(spark: SparkSession, root: str, schema: T.StructType,
                key: str, n_buckets: int,
                stats_cols: list[str] | None = None) -> SnapshotTable:
    if SnapshotTable.exists(root):
        return SnapshotTable(spark, root)
    return SnapshotTable.create(spark, root, schema, key=key,
                                n_buckets=n_buckets, stats_cols=stats_cols)


def _version_before(table: SnapshotTable, batch_id: int) -> int | None:
    """The table version immediately BEFORE ``batch_id`` was applied, or
    None (current) when the epoch has not been applied yet.

    O(1): the manifest's ``ledger_pre_versions`` records the pre-commit
    version per ledgered batch_id (evicted in lockstep with the ledger).
    States written before that map existed fall back to the manifest-chain
    walk; a walk broken by ``expire_snapshots`` (missing old manifests)
    raises FileNotFoundError — callers treat that as "epoch provably
    applied, pre-state unavailable" and fall back to the durable flags."""
    m = table.manifest()
    snap = m["ledger"].get(str(batch_id))
    if snap is None:
        return None
    pre = m.get("ledger_pre_versions", {}).get(str(batch_id))
    if pre is not None:
        return pre
    v = m["version"]
    while v > 0:
        if table.manifest(v)["snapshot_id"] == snap:
            return v - 1
        v -= 1
    return None
