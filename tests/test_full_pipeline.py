"""The reference pipeline end-to-end as ONE streaming query:
zip-of-XML poll → mapInPandas parse → changelog → LWW reduce → MERGE into
the snapshot table, exactly-once — the engine equivalent of the whole
Airflow DAG (SURVEY.md §3.1)."""

from __future__ import annotations

import io
import os
import time
import zipfile

from pyspark.sql import types as T

from data_hub_ejp_xml_pipeline_spark.plans.pipeline import MergePipeline
from data_hub_ejp_xml_pipeline_spark.sources.xml_zip import (
    entities_to_changelog,
    read_zip_entities,
)
from data_hub_ejp_xml_pipeline_spark.streaming.tailer import ChangelogTailer
from data_hub_ejp_xml_pipeline_spark.table import SnapshotTable

PAYLOAD = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("payload", T.StringType()),
        T.StructField("modified_timestamp", T.StringType()),
        T.StructField("source", T.StringType()),
    ]
)


def _zip_bytes(person_id: str, name: str, ts: str) -> bytes:
    xml = f"""<persons><person>
      <person-id>{person_id}</person-id>
      <first-name>{name}</first-name>
      <profile-modify-date>{ts}</profile-modify-date>
    </person></persons>""".encode()
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr(
            "go.xml",
            b'<go create_date="2020-01-01"><file_nm>p.xml</file_nm></go>',
        )
        zf.writestr("p.xml", xml)
    return buf.getvalue()


def test_zip_stream_to_table_end_to_end(spark, tmp_path):
    zips = tmp_path / "zips"
    zips.mkdir()
    now = time.time() - 100

    # v1 of p1 arrives, then a newer zip updates p1 and adds p2
    f1 = zips / "batch-0.zip"
    f1.write_bytes(_zip_bytes("p1", "Ada", "2020-01-01 00:00:00"))
    os.utime(f1, (now, now))
    f2 = zips / "batch-1.zip"
    f2.write_bytes(_zip_bytes("p1", "Ada Updated", "2020-02-01 00:00:00"))
    os.utime(f2, (now + 5, now + 5))
    f3 = zips / "batch-2.zip"
    f3.write_bytes(_zip_bytes("p2", "Grace", "2020-03-01 00:00:00"))
    os.utime(f3, (now + 10, now + 10))

    table = SnapshotTable.create(spark, str(tmp_path / "tbl"), PAYLOAD, n_buckets=4)
    tailer = ChangelogTailer(spark, MergePipeline(spark, table.root))

    stream = entities_to_changelog(
        read_zip_entities(spark, str(zips), streaming=True)
    )
    q = tailer.attach(stream, str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination()

    rows = {r.doc_id: r for r in table.read().collect()}
    assert set(rows) == {"person_v2:p1", "person_v2:p2"}
    assert "Ada Updated" in rows["person_v2:p1"].payload  # newer zip won
    assert table.lineage(), "lineage recorded"

    # a replayed (re-delivered) zip with identical content is absorbed
    f4 = zips / "batch-3.zip"
    f4.write_bytes(_zip_bytes("p1", "Ada Updated", "2020-02-01 00:00:00"))
    os.utime(f4, (now + 5, now + 5))  # same mtime as original delivery
    q2 = tailer.attach(
        entities_to_changelog(read_zip_entities(spark, str(zips), streaming=True)),
        str(tmp_path / "ckpt"),
        available_now=True,
    )
    q2.awaitTermination()
    rows2 = {r.doc_id: r for r in table.read().collect()}
    assert rows2.keys() == rows.keys()
    assert "Ada Updated" in rows2["person_v2:p1"].payload
