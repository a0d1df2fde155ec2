"""One envelope stream → many tables (plans/multi_table.py): routing by
source.table, per-table schemas and keys, per-table exactly-once under
one batch_id, unrouted quarantine counting, and mid-loop crash replay
convergence."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import types as T

from data_hub_ejp_xml_pipeline_spark.plans.multi_table import MultiTablePipeline

USERS = T.StructType(
    [
        T.StructField("user_id", T.StringType()),
        T.StructField("name", T.StringType()),
    ]
)
ORDERS = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("amount", T.LongType()),
    ]
)
SCHEMAS = {"users": USERS, "orders": ORDERS}
KEYS = {"users": "user_id"}


def env(table, lsn, op, row):
    return json.dumps(
        {
            "before": row if op == "d" else None,
            "after": None if op == "d" else row,
            "op": op,
            "ts_ms": 1_700_000_000_000 + lsn,
            "source": {"lsn": lsn, "table": table},
        }
    )


EPOCH1 = [
    env("users", 1, "c", {"user_id": "u1", "name": "ann"}),
    env("orders", 2, "c", {"doc_id": "o1", "amount": 10}),
    env("users", 3, "u", {"user_id": "u1", "name": "anne"}),
    env("ghost", 4, "c", {"x": 1}),  # undeclared table -> unrouted
]
EPOCH2 = [
    env("orders", 5, "u", {"doc_id": "o1", "amount": 25}),
    env("orders", 6, "c", {"doc_id": "o2", "amount": 7}),
    env("users", 7, "d", {"user_id": "u1", "name": "anne"}),
    json.dumps({"after": {"x": 1}, "op": "c", "ts_ms": 1, "source": {"lsn": 8}}),  # NULL table
]


def _df(spark, lines):
    return spark.createDataFrame([(x,) for x in lines], "value string")


def _users(p):
    return {(r.user_id, r.name) for r in p.final_state("users").collect()}


def _orders(p):
    return {(r.doc_id, r.amount) for r in p.final_state("orders").collect()}


def test_routes_decodes_and_merges_per_table(spark, tmp_path):
    p = MultiTablePipeline(spark, str(tmp_path / "mt"), SCHEMAS, keys=KEYS,
                           n_buckets=2)
    r1 = p.apply(_df(spark, EPOCH1), batch_id=0)
    assert r1.applied and r1.unrouted == 1
    assert _users(p) == {("u1", "anne")} and _orders(p) == {("o1", 10)}
    r2 = p.apply(_df(spark, EPOCH2), batch_id=1)
    assert r2.unrouted == 1  # the NULL-table envelope
    assert _users(p) == set()  # u1 deleted
    assert _orders(p) == {("o1", 25), ("o2", 7)}


def test_replay_noops_every_table(spark, tmp_path):
    p = MultiTablePipeline(spark, str(tmp_path / "mt"), SCHEMAS, keys=KEYS,
                           n_buckets=2)
    p.apply(_df(spark, EPOCH1), batch_id=0)
    r = p.apply(_df(spark, EPOCH1), batch_id=0)  # replay
    assert not r.applied
    assert all(not c.applied for c in r.per_table.values())
    assert _users(p) == {("u1", "anne")} and _orders(p) == {("o1", 10)}


def test_mid_loop_crash_replay_converges(spark, tmp_path):
    """Simulate a crash after the FIRST table committed: replaying the
    epoch must no-op the committed table and apply the rest."""
    root = str(tmp_path / "mt")
    p = MultiTablePipeline(spark, root, SCHEMAS, keys=KEYS, n_buckets=2)
    p.apply(_df(spark, EPOCH1), batch_id=0)

    # epoch 1 (id 1) "crashes" after orders committed: apply it to the
    # orders pipe directly, then run the full epoch as the restart would
    from data_hub_ejp_xml_pipeline_spark.sources import debezium as dbz

    routed = dbz.route_envelopes(_df(spark, EPOCH2), SCHEMAS)
    decoded = dbz.decode_envelopes(routed["orders"], ORDERS, key="doc_id")
    p.pipes["orders"].apply(dbz.changelog(decoded), batch_id=1)
    before_orders = _orders(p)

    r = p.apply(_df(spark, EPOCH2), batch_id=1)  # the restart
    assert not r.per_table["orders"].applied  # ledger no-op
    assert r.per_table["users"].applied
    assert _orders(p) == before_orders == {("o1", 25), ("o2", 7)}
    assert _users(p) == set()


def test_requires_batch_id_and_tables(spark, tmp_path):
    p = MultiTablePipeline(spark, str(tmp_path / "mt"), SCHEMAS, keys=KEYS,
                           n_buckets=2)
    with pytest.raises(ValueError, match="batch_id"):
        p.apply(_df(spark, EPOCH1))
    with pytest.raises(ValueError, match="at least one table"):
        MultiTablePipeline(spark, str(tmp_path / "x"), {})


def test_streams_through_tailer(spark, tmp_path):
    """The multi-table CommitResult satisfies the tailer's metrics row and
    its maintenance watermark (the epoch's max LSN over the tables); a
    two-file stream lands both tables correctly."""
    import os

    from data_hub_ejp_xml_pipeline_spark.plans.maintenance import MaintenancePolicy
    from data_hub_ejp_xml_pipeline_spark.streaming.tailer import ChangelogTailer

    import pyarrow as pa
    import pyarrow.parquet as pq

    chg = str(tmp_path / "chg")
    os.makedirs(chg)
    for i, lines in enumerate((EPOCH1, EPOCH2)):
        pq.write_table(
            pa.table({"value": lines}), f"{chg}/f{i}.parquet"
        )
    root = str(tmp_path / "mt")
    p = MultiTablePipeline(spark, root, SCHEMAS, keys=KEYS, n_buckets=2)
    tailer = ChangelogTailer(
        spark, pipeline=p, metrics_path=str(tmp_path / "metrics.jsonl"),
        maintenance=MaintenancePolicy(p.pipes["orders"].table), maintenance_every=1,
    )
    tailer.run_to_completion(
        chg, str(tmp_path / "ckpt"),
        schema=T.StructType([T.StructField("value", T.StringType())]),
        max_files_per_trigger=1,
    )
    assert _orders(p) == {("o1", 25), ("o2", 7)}
    assert _users(p) == set()
    assert len(tailer.metrics) >= 1
    assert all("maintenance" in row for row in tailer.metrics)
    # metrics.jsonl: one row per epoch, the engine's record keyed by table
    with open(tmp_path / "metrics.jsonl") as fh:
        rows = [json.loads(line) for line in fh]
    assert len(rows) == len(tailer.metrics)
    for row in rows:
        assert set(row) == {
            "batch_id", "snapshot_id", "applied", "events_applied", "events_sec",
            "lag_sec", "commit", "maintenance",
        }
        assert set(row["commit"]) == {"users", "orders"}
        for record in row["commit"].values():
            assert set(record) == {
                "prepass_s", "plan_s", "write_s", "footers_s", "hook_s", "commit_s",
                "files_read", "files_carried", "files_written", "rows_carried",
                "bytes_written", "write_tasks",
            }
