"""Kafka-source CDC tests: envelope parse (JSON + tombstones), topic ->
table routing (St4 demux), and the full parse -> unwrap -> merge chain
with replay idempotency — mirroring the reference's Kafka contract
(debezium/sqlserver-source.json topics/tombstones, postgresql-sink.json
RegexRouter + upsert) with synthesized Kafka-shaped batches, since the
connector jar is a deploy-time dependency."""

import datetime
import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sqlserver_pg_cdc_spark.streaming.kafka import (
    DemuxUpsertSink,
    KAFKA_RECORD_SCHEMA,
    KafkaCdcPipeline,
    kafka_reader_options,
    parse_changes,
    topic_table,
)

PAYLOAD = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("amount", T.DoubleType(), True),
    ]
)

TS = datetime.datetime(2024, 1, 15, 12, 0, 0)
NOW_MS = 1705320000000


def _envelope(lsn, op, row):
    e = {"op": op, "lsn": lsn, "ts_ms": NOW_MS + lsn}
    if op == "d":
        e["before"], e["after"] = row, None
    else:
        e["before"], e["after"] = None, row
    return e


def _record(topic, envelope, offset, key=b"k"):
    value = None if envelope is None else json.dumps(envelope).encode()
    return (key, value, topic, 0, offset, TS, 0)


def _records_df(spark, records):
    return spark.createDataFrame(records, KAFKA_RECORD_SCHEMA)


def _mk_pipeline(spark, tmp_path, tables=("orders", "customers")):
    return KafkaCdcPipeline(
        spark,
        bootstrap_servers="broker:9092",
        subscribe_pattern=r"sqlserver\.warehouse_source\.dbo\..*",
        target_root=str(tmp_path / "targets"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        payload_schema=PAYLOAD,
        pk_cols={t: ["id"] for t in tables},
    )


def test_reader_options_exclusive_and_shape():
    opts = kafka_reader_options(
        "broker:9092",
        subscribe_pattern=r"sqlserver\..*",
        max_offsets_per_trigger=2048,
    )
    assert opts["kafka.bootstrap.servers"] == "broker:9092"
    assert opts["subscribePattern"] == r"sqlserver\..*"
    assert opts["startingOffsets"] == "earliest"
    assert opts["failOnDataLoss"] == "false"
    assert opts["maxOffsetsPerTrigger"] == "2048"
    topics = kafka_reader_options("b:9092", topics=["t1", "t2"])
    assert topics["subscribe"] == "t1,t2"
    with pytest.raises(ValueError):
        kafka_reader_options("b:9092")
    with pytest.raises(ValueError):
        kafka_reader_options("b:9092", subscribe_pattern="x", topics=["t"])


def test_parse_changes_json_and_tombstones(spark):
    topic = "sqlserver.warehouse_source.dbo.orders"
    records = [
        _record(topic, _envelope(1, "c", {"id": 1, "name": "a", "amount": 1.0}), 0),
        _record(topic, _envelope(2, "d", {"id": 1, "name": "a", "amount": 1.0}), 1),
        _record(topic, None, 2),  # tombstone after delete
    ]
    out = parse_changes(_records_df(spark, records), PAYLOAD).collect()
    assert len(out) == 2  # tombstone dropped
    by_lsn = {r["lsn"]: r for r in out}
    assert by_lsn[1]["after"]["name"] == "a"
    assert by_lsn[1]["op"] == "c"
    # delete carries the before image only
    assert by_lsn[2]["op"] == "d"
    assert by_lsn[2]["after"] is None and by_lsn[2]["before"]["id"] == 1
    assert all(r["__table"] == "orders" for r in out)

    kept = parse_changes(
        _records_df(spark, records), PAYLOAD, drop_tombstones=False
    ).count()
    assert kept == 3


def test_topic_table_regex_router_parity(spark):
    df = spark.createDataFrame(
        [("sqlserver.warehouse_source.dbo.line_items",), ("prefix.db.schema.t2",)],
        "topic string",
    )
    got = [r[0] for r in df.select(topic_table()).collect()]
    assert got == ["line_items", "t2"]


def test_malformed_value_yields_null_envelope(spark):
    # from_json on garbage -> null struct fields; the row survives to be
    # DLQ-routed downstream instead of killing the stream (St10)
    records = [( b"k", b"{not json", "p.d.s.orders", 0, 0, TS, 0)]
    out = parse_changes(_records_df(spark, records), PAYLOAD).collect()
    assert len(out) == 1
    assert out[0]["op"] is None


def test_full_chain_demux_and_replay_idempotency(spark, tmp_path):
    """Interleaved multi-table changes routed to per-table targets, then
    the SAME batch replayed (at-least-once) — state must not change."""
    p = _mk_pipeline(spark, tmp_path)
    t_orders = "sqlserver.warehouse_source.dbo.orders"
    t_cust = "sqlserver.warehouse_source.dbo.customers"
    records = [
        _record(t_orders, _envelope(1, "c", {"id": 1, "name": "o1", "amount": 10.0}), 0),
        _record(t_cust, _envelope(1, "c", {"id": 1, "name": "c1", "amount": 5.0}), 0),
        _record(t_orders, _envelope(2, "u", {"id": 1, "name": "o1b", "amount": 12.0}), 1),
        _record(t_cust, _envelope(2, "d", {"id": 1, "name": "c1", "amount": 5.0}), 1),
        _record(t_orders, _envelope(3, "c", {"id": 2, "name": "o2", "amount": 20.0}), 2),
    ]
    batch = p.transform(_records_df(spark, records))
    sink = p.sink()
    sink(batch, batch_id=0)

    def state(table):
        df = sink.sink_for(table).read_target()
        return {
            r["id"]: (r["name"], r["amount"], r["__deleted"]) for r in df.collect()
        }

    orders1, cust1 = state("orders"), state("customers")
    # routing: no cross-table leakage, updates/deletes applied per table
    assert orders1 == {1: ("o1b", 12.0, "false"), 2: ("o2", 20.0, "false")}
    assert cust1 == {1: ("c1", 5.0, "true")}

    # at-least-once replay of the identical batch is a no-op
    sink(p.transform(_records_df(spark, records)), batch_id=1)
    assert state("orders") == orders1
    assert state("customers") == cust1


def test_demux_unknown_table_raises_without_dlq(spark, tmp_path):
    sink = DemuxUpsertSink(spark, str(tmp_path), {"orders": ["id"]})
    df = spark.createDataFrame(
        [(1, "x", 1, NOW_MS, "false", "mystery")],
        "id long, name string, lsn long, ts_ms long, __deleted string, __table string",
    )
    with pytest.raises(KeyError):
        sink(df, 0)


def test_demux_unknown_table_routes_to_dlq(spark, tmp_path):
    """errors.tolerance=all parity: rows for an unrouted topic land in
    the DLQ with error context while routed tables still apply."""
    dlq = str(tmp_path / "dlq")
    sink = DemuxUpsertSink(
        spark, str(tmp_path / "targets"), {"orders": ["id"]}, dlq_dir=dlq
    )
    df = spark.createDataFrame(
        [
            (1, "ok", 1, NOW_MS, "false", "orders"),
            (2, "lost", 2, NOW_MS, "false", "mystery"),
        ],
        "id long, name string, lsn long, ts_ms long, __deleted string, __table string",
    )
    sink(df, batch_id=3)
    applied = sink.sink_for("orders").read_target()
    assert [r["id"] for r in applied.collect()] == [1]
    quarantined = spark.read.parquet(f"{dlq}/__unrouted_mystery").collect()
    assert len(quarantined) == 1
    assert quarantined[0]["id"] == 2
    assert quarantined[0]["__error_class"] == "UnroutedTable"
    assert quarantined[0]["__batch_id"] == 3


def test_avro_path_gated(spark):
    """The Avro decode needs the spark-avro module; without it the parse
    must fail with a clear error at plan/exec time, not silently."""
    records = [_record("p.d.s.orders", _envelope(1, "c", {"id": 1, "name": "a", "amount": 1.0}), 0)]
    schema_json = json.dumps(
        {
            "type": "record",
            "name": "env",
            "fields": [{"name": "op", "type": ["null", "string"], "default": None}],
        }
    )
    try:
        parse_changes(
            _records_df(spark, records),
            PAYLOAD,
            value_format="avro",
            avro_schema=schema_json,
        ).collect()
    except Exception:
        pass  # expected without the spark-avro jar; semantics pinned by config
    with pytest.raises(ValueError):
        parse_changes(_records_df(spark, records), PAYLOAD, value_format="avro")
    with pytest.raises(ValueError):
        parse_changes(_records_df(spark, records), PAYLOAD, value_format="msgpack")


def test_parse_changes_additive_schema_evolution(spark):
    """auto.evolve parity: after a source column is added, old envelopes
    (without the field) parse under the WIDER schema with NULL for the
    missing field, new envelopes carry it — no reprocessing, no error."""
    wide = T.StructType(
        PAYLOAD.fields + [T.StructField("segment", T.StringType(), True)]
    )
    topic = "sqlserver.warehouse_source.dbo.orders"
    old = _envelope(1, "c", {"id": 1, "name": "a", "amount": 1.0})
    new = _envelope(2, "c", {"id": 2, "name": "b", "amount": 2.0, "segment": "gold"})
    out = parse_changes(
        _records_df(spark, [_record(topic, old, 0), _record(topic, new, 1)]),
        wide,
    ).collect()
    by_lsn = {r["lsn"]: r for r in out}
    assert by_lsn[1]["after"]["segment"] is None
    assert by_lsn[2]["after"]["segment"] == "gold"
    # and the evolved rows flow through the unwrap chain unchanged
    from sqlserver_pg_cdc_spark.streaming.apply import unwrap_envelope

    flat = unwrap_envelope(
        parse_changes(
            _records_df(spark, [_record(topic, old, 0), _record(topic, new, 1)]),
            wide,
        ).drop("__kafka_offset"),
        keep_cols=("__table",),
    )
    rows = {r["id"]: r["segment"] for r in flat.collect()}
    assert rows == {1: None, 2: "gold"}
