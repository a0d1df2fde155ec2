"""Per-key last-writer-wins (max-LSN) reduction — the engine's core operator.

Implements SURVEY.md §2.4 A7: the reference emits full-row images with a
``modified_timestamp`` and defers latest-wins resolution to the warehouse
(``ejp_manuscript_xml.py:146-155,472-482``; append-only sink
``bq_data_service.py:23,35``). The engine makes it explicit: collapse a
changelog batch to one row per ``doc_id`` — the event with max ``lsn``.

One plan: ``groupBy(key).agg(max_by(struct(payload), order))``. It runs as
a two-phase aggregate with **map-side partial aggregation**, so replayed
and hot keys are collapsed on the map side before the shuffle: a key
carrying 30% of a batch crosses the exchange as at most one row per map
task. That is why the reduce needs no salting for skew (AQE splits
skewed *joins*, not aggregates — SURVEY.md §4 custom piece #2). A
grouped-map pandas UDF has no partial phase and pays a Python call per
key (measured ~10x slower at 1M events); the grouped-map, window and
salted shapes live on as ``lww_*`` queries in ``queries.py``.

Ordering ties: replayed events are identical full-row images (reference
replays whole files, ``dags/s3_xml_import_pipeline.py:149-170``), so a
max-LSN tie always resolves to identical bytes. For full determinism the
order key is ``struct(lsn, offset, source_file)`` (``schemas.LWW_ORDER``,
the columns of it the batch has).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_hub_ejp_xml_pipeline_spark.schemas import LSN, LWW_ORDER


def _order_cols(df: DataFrame) -> list[str]:
    """The LWW order: ``lsn`` (required), then the tie-breaks ``df`` has."""
    return [LSN] + [c for c in LWW_ORDER[1:] if c in df.columns]


def _order_struct(df: DataFrame) -> F.Column:
    return F.struct(*[F.col(c) for c in _order_cols(df)])


def reduce_latest(df: DataFrame, key: str = "doc_id") -> DataFrame:
    """Collapse a changelog to the latest event per key (schema preserved)."""
    payload = [c for c in df.columns if c != key]
    reduced = df.groupBy(key).agg(
        F.max_by(F.struct(*payload), _order_struct(df)).alias("_latest")
    )
    return reduced.select(key, *[F.col(f"_latest.{c}").alias(c) for c in payload])
