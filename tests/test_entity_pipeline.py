"""Per-entity fan-out: one zip-of-XML stream → four entity tables, the
engine equivalent of the reference's four BigQuery loads."""

from __future__ import annotations

import collections
import io
import os
import threading
import time
import zipfile

from data_hub_ejp_xml_pipeline_spark.config import ENTITY_TYPES, PipelineConfig
from data_hub_ejp_xml_pipeline_spark.plans.entity_pipeline import EntityPipeline
from data_hub_ejp_xml_pipeline_spark.sources.xml_zip import (
    entities_to_changelog,
    read_zip_entities,
)

XML_PERSONS = b"""<persons>
  <person><person-id>p1</person-id><first-name>Ada</first-name>
    <profile-modify-date>2020-01-02 03:04:05</profile-modify-date></person>
</persons>"""

XML_MANUSCRIPT = b"""<xml>
  <people><person><person-id>a1</person-id><first-name>Alan</first-name></person></people>
  <manuscript>
    <country>UK</country>
    <version>
      <manuscript-number>05-02-2020-RA-eLife-12345</manuscript-number>
      <manuscript-type>Research Article</manuscript-type>
      <history><stage><stage-name>Submission</stage-name>
        <start-date>2020-01-01 00:00:00</start-date></stage></history>
    </version>
  </manuscript>
</xml>"""

GO = (
    b'<go create_date="2020-03-03 00:00:00">'
    b"<file_nm>p.xml</file_nm><file_nm>m.xml</file_nm></go>"
)


def _zip() -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("go.xml", GO)
        zf.writestr("p.xml", XML_PERSONS)
        zf.writestr("m.xml", XML_MANUSCRIPT)
    return buf.getvalue()


def test_entity_fanout_end_to_end(spark, tmp_path):
    zips = tmp_path / "zips"
    zips.mkdir()
    f = zips / "b0.zip"
    f.write_bytes(_zip())
    now = time.time() - 50
    os.utime(f, (now, now))

    cfg = PipelineConfig.from_dict(
        {
            "zipPath": str(zips),
            "warehouseRoot": str(tmp_path / "wh-{ENV}"),
            "dataPipelineId": "ejp-xml-{ENV}",
        },
        deployment_env="test",
    )
    assert cfg.warehouse_root.endswith("wh-test")
    pipe = EntityPipeline(spark, cfg, n_buckets=2)

    stream = entities_to_changelog(read_zip_entities(spark, str(zips), streaming=True))
    q = pipe.attach(stream, str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination()

    assert {r.doc_id for r in pipe.read("person_v2").collect()} == {"person_v2:p1"}
    assert {r.doc_id for r in pipe.read("person").collect()} == {"person:a1"}
    assert {r.doc_id for r in pipe.read("manuscript").collect()} == {"manuscript:12345"}
    versions = pipe.read("manuscript_version").collect()
    assert len(versions) == 1
    assert versions[0].doc_id.startswith("manuscript_version:12345/")
    assert '"country": "UK"' in pipe.read("manuscript").first().payload

    # replayed stream (new checkpoint, same files) converges: every table's
    # ledger no-ops or the LSN guard absorbs — state unchanged
    before = {e: pipe.read(e).count() for e in ENTITY_TYPES}
    q2 = pipe.attach(
        entities_to_changelog(read_zip_entities(spark, str(zips), streaming=True)),
        str(tmp_path / "ckpt2"),
        available_now=True,
    )
    q2.awaitTermination()
    assert {e: pipe.read(e).count() for e in ENTITY_TYPES} == before


def test_entity_tables_keep_declared_schema(spark, tmp_path):
    """Lineage columns must not leak into the written entity tables — the
    first merge is NOT a surprise schema-evolution commit."""
    import os
    import time

    zips = tmp_path / "zips"
    zips.mkdir()
    f = zips / "b0.zip"
    f.write_bytes(_zip())
    os.utime(f, (time.time() - 50, time.time() - 50))
    cfg = PipelineConfig.from_dict(
        {"zipPath": str(zips), "warehouseRoot": str(tmp_path / "wh")}, "x"
    )
    pipe = EntityPipeline(spark, cfg, n_buckets=2)
    changelog = entities_to_changelog(read_zip_entities(spark, str(zips)))
    pipe.apply(changelog, batch_id=0)
    t = pipe.tables["person_v2"]
    assert "+evolve" not in t.manifest()["operation"]
    assert [x.name for x in t.schema().fields] == [
        "doc_id", "payload", "modified_timestamp", "_lsn", "_deleted"
    ]
    # lineage was still recorded from the raw slice
    assert t.lineage()


def test_partial_epoch_converges_on_retry(spark, tmp_path):
    """One table's merge fails while the others commit concurrently: the
    epoch re-raises only after every other table committed exactly one
    version and no table thread is left running; the persisted batch is
    released; retrying the same batch_id no-ops the committed tables
    (their ledgers) and applies only the missing one — the epoch converges
    without cross-table coordination, lineage exactly-once per table."""
    import pytest
    from pyspark import StorageLevel

    zips = tmp_path / "zips"
    zips.mkdir()
    f = zips / "b0.zip"
    f.write_bytes(_zip())
    os.utime(f, (time.time() - 50, time.time() - 50))
    cfg = PipelineConfig.from_dict(
        {"zipPath": str(zips), "warehouseRoot": str(tmp_path / "wh")}, "x"
    )
    pipe = EntityPipeline(spark, cfg, n_buckets=2)
    changelog = entities_to_changelog(read_zip_entities(spark, str(zips)))
    versions0 = {e: t.current_version() for e, t in pipe.tables.items()}

    # crash injection: manuscript_version's merge dies at once, while the
    # other tables' commits are still in flight
    victim = pipe.tables["manuscript_version"]
    original_merge = victim.merge

    def exploding_merge(*args, **kwargs):
        raise RuntimeError("simulated crash between table commits")

    victim.merge = exploding_merge
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipe.apply(changelog, batch_id=0)
    victim.merge = original_merge
    assert not [t for t in threading.enumerate() if t.name.startswith("table-branch")]
    assert changelog.storageLevel == StorageLevel.NONE

    # partial epoch: the other tables committed once, victim did not
    for e, t in pipe.tables.items():
        assert t.current_version() == versions0[e] + (e != "manuscript_version"), e
    assert pipe.read("person_v2").count() == 1
    assert pipe.read("manuscript_version").count() == 0

    # retry the SAME epoch: committed tables no-op via their ledgers
    assert pipe.apply(changelog, batch_id=0)["manuscript_version"] == 1
    assert pipe.read("manuscript_version").count() == 1
    assert pipe.read("person_v2").count() == 1
    for e, t in pipe.tables.items():
        assert t.current_version() == versions0[e] + 1, e
        # ledgers: exactly one entry per table for batch 0
        assert "0" in t.ledger()
        files = collections.Counter(r["source_file"] for r in t.lineage())
        assert files and set(files.values()) == {1}, (e, files)


def test_table_merges_run_concurrently(spark, tmp_path):
    """The four tables' merges are in flight at the same time (a serial
    loop never gets all four past the barrier)."""
    zips = tmp_path / "zips"
    zips.mkdir()
    f = zips / "b0.zip"
    f.write_bytes(_zip())
    os.utime(f, (time.time() - 50, time.time() - 50))
    cfg = PipelineConfig.from_dict(
        {"zipPath": str(zips), "warehouseRoot": str(tmp_path / "wh")}, "x"
    )
    pipe = EntityPipeline(spark, cfg, n_buckets=2)
    barrier = threading.Barrier(len(pipe.tables), timeout=60)
    intervals = {}

    def timed(entity, merge):
        def wrapped(*args, **kwargs):
            barrier.wait()
            t0 = time.time()
            try:
                return merge(*args, **kwargs)
            finally:
                intervals[entity] = (t0, time.time())

        return wrapped

    for e, t in pipe.tables.items():
        t.merge = timed(e, t.merge)
    applied = pipe.apply(
        entities_to_changelog(read_zip_entities(spark, str(zips))), batch_id=0
    )
    assert applied == {e: 1 for e in ENTITY_TYPES}
    assert len(intervals) == len(ENTITY_TYPES)
    assert max(s for s, _ in intervals.values()) < min(e for _, e in intervals.values())


def _settled_job_ids(sc, group):
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(group))


def test_driver_threads_keep_the_callers_job_group(spark, tmp_path, monkeypatch):
    """Jobs started on the engine's driver threads stay in the caller's job
    group: MergePipeline's sidecar thread, and the table threads of an
    EntityPipeline epoch, whose typed payloads are inferred in ONE job."""
    from data_hub_ejp_xml_pipeline_spark.generator import (
        generate_changelog_pandas,
        spark_changelog_from_pandas,
    )
    from data_hub_ejp_xml_pipeline_spark.plans import entity_pipeline
    from data_hub_ejp_xml_pipeline_spark.plans.dlq import DlqState
    from data_hub_ejp_xml_pipeline_spark.plans.pipeline import MergePipeline
    from data_hub_ejp_xml_pipeline_spark.schemas import CHANGELOG_SCHEMA

    sc = spark.sparkContext
    ungrouped = _settled_job_ids(sc, None)
    try:
        sc.setJobGroup("setup-group", "setup")
        # the sidecar runs its DLQ append to completion before the base
        # merge starts, so every job in the group by then is the sidecar's
        dlq = DlqState(spark, str(tmp_path / "dlq"), payload_schema=CHANGELOG_SCHEMA,
                       n_buckets=2)
        pipe = MergePipeline(spark, str(tmp_path / "tbl"), n_buckets=2, dlq_state=dlq)
        sidecar_done = threading.Event()
        real_dlq_apply, real_merge = dlq.apply, pipe.table.merge
        sidecar_jobs = []

        def dlq_apply(*args, **kwargs):
            try:
                return real_dlq_apply(*args, **kwargs)
            finally:
                sidecar_done.set()

        def merge(*args, **kwargs):
            assert sidecar_done.wait(120)
            sidecar_jobs.extend(_settled_job_ids(sc, "sidecar-group"))
            return real_merge(*args, **kwargs)

        dlq.apply, pipe.table.merge = dlq_apply, merge
        batch = spark_changelog_from_pandas(
            spark, generate_changelog_pandas(n_events=200, seed=5)
        )
        sc.setJobGroup("sidecar-group", "sidecar")
        pipe.apply(batch, batch_id=0)
        assert sidecar_jobs, "the sidecar's jobs left the caller's job group"

        # a typed epoch: one inference job, table threads in the group
        zips = tmp_path / "zips"
        zips.mkdir()
        f = zips / "b0.zip"
        f.write_bytes(_zip())
        os.utime(f, (time.time() - 50, time.time() - 50))
        cfg = PipelineConfig.from_dict(
            {"zipPath": str(zips), "warehouseRoot": str(tmp_path / "wh")}, "x"
        )
        epipe = EntityPipeline(spark, cfg, n_buckets=2, payload_mode="typed")
        changelog = entities_to_changelog(read_zip_entities(spark, str(zips)))
        real_infer = entity_pipeline.infer_payload_schema
        infer_jobs = set()

        def infer(*args, **kwargs):
            sc.setJobGroup("infer-group", "infer")
            try:
                return real_infer(*args, **kwargs)
            finally:
                infer_jobs.update(_settled_job_ids(sc, "infer-group"))
                sc.setJobGroup("epoch-group", "epoch")

        monkeypatch.setattr(entity_pipeline, "infer_payload_schema", infer)
        sc.setJobGroup("epoch-group", "epoch")
        assert epipe.apply(changelog, batch_id=0) == {e: 1 for e in ENTITY_TYPES}
        assert len(infer_jobs) == 1
        assert _settled_job_ids(sc, "epoch-group")
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    # (a subset: the status store may evict old jobs meanwhile)
    assert _settled_job_ids(sc, None) <= ungrouped


def test_one_job_inference_matches_per_entity_reads(spark, tmp_path):
    """The one-job ``infer_payload_schema`` gives every entity the struct a
    separate ``spark.read.json`` of its payloads infers: nested
    ``array<struct>`` drift, an entity absent from the batch (empty
    struct), a corrupt payload row (no field) and a foreign source
    (dropped)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from data_hub_ejp_xml_pipeline_spark.plans.entity_pipeline import (
        _RESERVED,
        infer_payload_schema,
    )

    zips = tmp_path / "zips"
    zips.mkdir()
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("go.xml", GO)
        zf.writestr("p.xml", XML_PERSONS_V2_DRIFT)
        zf.writestr("m.xml", XML_MANUSCRIPT)
    (zips / "b0.zip").write_bytes(buf.getvalue())
    parsed = entities_to_changelog(read_zip_entities(spark, str(zips)))
    batch = parsed.where(F.col("source") != "person").select("source", "payload").unionByName(
        spark.createDataFrame(
            [("person_v2", '{"broken": [1,'), ("elsewhere", '{"foreign": 1}'),
             ("manuscript", None)],
            "source string, payload string",
        )
    )
    got = infer_payload_schema(batch, ENTITY_TYPES)

    want = {}
    for e in ENTITY_TYPES:
        strings = batch.where((F.col("source") == e) & F.col("payload").isNotNull())
        inferred = spark.read.json(strings.select("payload").rdd.map(lambda r: r[0]))
        want[e] = T.StructType(
            [f for f in inferred.schema.fields
             if not f.name.startswith("_corrupt") and f.name.lower() not in _RESERVED]
        )
    assert got == want
    assert got["person"] == T.StructType()
    addresses = got["person_v2"]["addresses"].dataType
    assert isinstance(addresses, T.ArrayType)
    assert isinstance(addresses.elementType, T.StructType)
    assert "broken" not in got["person_v2"].names
    assert "stages" in got["manuscript_version"].names
    assert not any("foreign" in s.names for s in got.values())


XML_PERSONS_V2_DRIFT = b"""<persons>
  <person><person-id>p1</person-id><first-name>Ada</first-name>
    <email>ada@example.org</email>
    <profile-modify-date>2020-01-05 03:04:05</profile-modify-date>
    <addresses><address active_ind="1"><country>UK</country>
      <city>London</city></address></addresses>
    <person-tags><person-tag>editor</person-tag></person-tags></person>
</persons>"""

GO_P_ONLY = b'<go create_date="2020-03-04 00:00:00"><file_nm>p.xml</file_nm></go>'


def test_typed_entity_tables_evolve_and_query_nested(spark, tmp_path):
    """payload_mode='typed': parsed dicts land as TYPED nested columns
    (not JSON blobs); a later batch introducing new fields (addresses,
    email) evolves the table additively and nested projections
    (stages[0].stage_name) read back as real columns — the reference's
    create_or_extend_table_schema behavior end-to-end
    (bq_data_service.py:142-231)."""
    import io
    import zipfile

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def write_zip(dirpath, name, members, age):
        dirpath.mkdir(exist_ok=True)
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            for n, data in members.items():
                zf.writestr(n, data)
        f = dirpath / name
        f.write_bytes(buf.getvalue())
        t = time.time() - age
        os.utime(f, (t, t))
        return f

    zips1 = tmp_path / "zips1"
    write_zip(zips1, "b0.zip", {"go.xml": GO, "p.xml": XML_PERSONS, "m.xml": XML_MANUSCRIPT}, 100)
    zips2 = tmp_path / "zips2"
    write_zip(zips2, "b1.zip", {"go.xml": GO_P_ONLY, "p.xml": XML_PERSONS_V2_DRIFT}, 50)

    cfg = PipelineConfig.from_dict(
        {"zipPath": str(zips1), "warehouseRoot": str(tmp_path / "wh")}, "x"
    )
    pipe = EntityPipeline(spark, cfg, n_buckets=2, payload_mode="typed")

    pipe.apply(entities_to_changelog(read_zip_entities(spark, str(zips1))), batch_id=0)
    pv2 = pipe.tables["person_v2"]
    cols_after_b0 = [f.name for f in pv2.schema().fields]
    assert "first_name" in cols_after_b0  # typed column, not a JSON blob
    assert "payload" not in cols_after_b0
    assert "addresses" not in cols_after_b0  # nothing had one yet

    # typed nested projection on manuscript_version: a REAL column
    mv = pipe.read("manuscript_version")
    stage_field = next(f for f in mv.schema.fields if f.name == "stages")
    assert isinstance(stage_field.dataType, T.ArrayType)
    assert isinstance(stage_field.dataType.elementType, T.StructType)
    row = mv.select(F.col("stages")[0]["stage_name"].alias("s")).first()
    assert row.s == "Submission"
    assert pipe.read("manuscript").first().country == "UK"

    # batch 2 introduces addresses (array<struct>) + email → additive evolve
    pipe.apply(entities_to_changelog(read_zip_entities(spark, str(zips2))), batch_id=1)
    cols_after_b1 = [f.name for f in pv2.schema().fields]
    assert cols_after_b1[: len(cols_after_b0)] == cols_after_b0  # add-only
    assert "addresses" in cols_after_b1 and "email" in cols_after_b1
    p1 = pipe.read("person_v2").filter(F.col("doc_id") == "person_v2:p1")
    got = p1.select(
        "email",
        F.col("addresses")[0]["city"].alias("city"),
        F.col("addresses")[0]["is_enabled"].alias("en"),
        "person_tags",
    ).first()
    assert got.email == "ada@example.org"
    assert got.city == "London"
    assert got.en is True
    assert list(got.person_tags) == ["editor"]
    # LWW kept the newer batch's row
    assert p1.select("modified_timestamp").first()[0] == "2020-01-05T08:04:05Z"
