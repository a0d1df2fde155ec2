"""Iceberg-semantics snapshot table layer (SURVEY.md §7 M2).

On a real cluster the engine uses Apache Iceberg directly (``MERGE INTO`` +
snapshot commits); this offline sandbox has no Iceberg runtime jar, so the
engine ships a minimal snapshot-log-over-Parquet table exposing the same
``merge / append / add_columns / snapshot_id / time-travel`` API
(SURVEY.md §4 custom piece #5). The on-disk protocol mirrors Iceberg's:
immutable data files + versioned JSON manifests, each published by one
atomic link that is the commit (a ``VERSION`` hint speeds up finding the
newest).
"""

from data_hub_ejp_xml_pipeline_spark.table.snapshot_table import SnapshotTable  # noqa: F401
from data_hub_ejp_xml_pipeline_spark.table.schema_evolution import merge_schemas  # noqa: F401
