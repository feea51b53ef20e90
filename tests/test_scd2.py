"""SCD2 history apply: versioned CDC semantics — every intermediate
version preserved, deletes close the chain, replay idempotent, time
travel reconstructs any LSN, and the active view equals the upsert
sink's latest-per-key result."""

import pytest
from pyspark.sql import functions as F

from sqlserver_pg_cdc_spark.streaming.scd2 import (
    OPEN_LSN,
    as_of_lsn,
    current_view,
    scd2_apply,
)

SCHEMA = "id long, name string, lsn long, op string"


@pytest.fixture(scope="module")
def history(spark):
    b1 = spark.createDataFrame(
        [(1, "alice", 10, "c"), (2, "bob", 11, "c"), (1, "alicia", 20, "u")],
        SCHEMA,
    )
    h1 = scd2_apply(None, b1, ["id"])
    b2 = spark.createDataFrame(
        [(2, None, 30, "d"), (3, "carol", 31, "c"), (1, "alyce", 40, "u")],
        SCHEMA,
    )
    return scd2_apply(h1, b2, ["id"])


def test_all_versions_preserved_with_intervals(spark, history):
    rows = {(r["id"], r["__lsn"]): r for r in history.collect()}
    assert len(rows) == 6  # 3 for id 1, 2 for id 2 (incl tombstone), 1 for id 3
    assert rows[(1, 10)]["__valid_to_lsn"] == 20
    assert rows[(1, 20)]["__valid_to_lsn"] == 40
    assert rows[(1, 40)]["__valid_to_lsn"] == OPEN_LSN
    assert rows[(2, 11)]["__valid_to_lsn"] == 30  # closed by the delete
    assert rows[(2, 30)]["__is_delete"] and not rows[(2, 30)]["__active"]


def test_current_view_matches_upsert_semantics(spark, history):
    cur = {(r["id"], r["name"]) for r in current_view(history).collect()}
    assert cur == {(1, "alyce"), (3, "carol")}  # id 2 deleted


def test_time_travel(spark, history):
    at_25 = {(r["id"], r["name"]) for r in as_of_lsn(history, 25).collect()}
    assert at_25 == {(1, "alicia"), (2, "bob")}
    at_10 = {(r["id"], r["name"]) for r in as_of_lsn(history, 10).collect()}
    assert at_10 == {(1, "alice")}


def test_replay_is_idempotent(spark, history):
    replay = spark.createDataFrame(
        [(1, "alyce", 40, "u"), (3, "carol", 31, "c")], SCHEMA
    )
    again = scd2_apply(history, replay, ["id"])
    assert again.count() == history.count()
    cur = {(r["id"], r["name"]) for r in current_view(again).collect()}
    assert cur == {(1, "alyce"), (3, "carol")}


def test_untouched_keys_not_rewritten(spark, history):
    """A batch touching only id 3 must leave id 1/2 version rows
    byte-identical (their chains are rebuilt from the stored versions
    and come out as stored)."""
    b = spark.createDataFrame([(3, "carola", 50, "u")], SCHEMA)
    h2 = scd2_apply(history, b, ["id"])
    before = {tuple(r) for r in history.filter("id != 3").collect()}
    after = {tuple(r) for r in h2.filter("id != 3").collect()}
    assert before == after
    assert h2.filter("id = 3").count() == 2


def test_scd2_sink_over_batches(spark, tmp_path):
    from sqlserver_pg_cdc_spark.streaming.scd2 import Scd2ParquetSink

    sink = Scd2ParquetSink(spark, str(tmp_path / "hist"), ["id"])
    b1 = spark.createDataFrame([(1, "a", 10, "c"), (2, "b", 11, "c")], SCHEMA)
    b2 = spark.createDataFrame([(1, "a2", 20, "u"), (2, None, 21, "d")], SCHEMA)
    sink(b1, 0)
    sink(b2, 1)
    sink(b2, 1)  # replay converges
    cur = {(r["id"], r["name"]) for r in sink.current().collect()}
    assert cur == {(1, "a2")}
    assert sink.history().count() == 4  # 2 + update + tombstone


# --- hash-partitioned SCD2 history sink ------------------------------------


def _psink(spark, tmp_path, n=8):
    from sqlserver_pg_cdc_spark.streaming.scd2 import PartitionedScd2Sink

    return PartitionedScd2Sink(spark, str(tmp_path / "phist"), ["id"], n_partitions=n)


def _batch(spark, recs):
    return spark.createDataFrame(recs, SCHEMA)


def _hist_set(df):
    return {
        (r["id"], r["__lsn"], r["name"], r["__valid_from_lsn"],
         r["__valid_to_lsn"], r["__is_delete"], r["__active"])
        for r in df.collect()
    }


def test_partitioned_scd2_matches_flat_sink(spark, tmp_path):
    """The partitioned sink must produce exactly the flat Scd2ParquetSink
    history for any batch split — same scd2_apply, different layout."""
    from sqlserver_pg_cdc_spark.streaming.scd2 import Scd2ParquetSink

    b0 = _batch(spark, [(i, f"n{i}", 10 + i, "c") for i in range(40)])
    b1 = _batch(
        spark,
        [(i, f"u{i}", 100 + i, "u") for i in range(0, 40, 3)]
        + [(i, None, 200 + i, "d") for i in range(0, 40, 5)]
        + [(100 + i, f"new{i}", 300 + i, "c") for i in range(4)],
    )
    flat = Scd2ParquetSink(spark, str(tmp_path / "flat"), ["id"])
    part = _psink(spark, tmp_path)
    for i, b in enumerate([b0, b1]):
        flat(b, i)
        part(b, i)
    assert _hist_set(part.history()) == _hist_set(flat.history())
    cur_flat = {(r["id"], r["name"]) for r in flat.current().collect()}
    cur_part = {(r["id"], r["name"]) for r in part.current().collect()}
    assert cur_part == cur_flat


def test_partitioned_scd2_untouched_partitions_byte_identical(spark, tmp_path):
    """A batch touching one key must not rewrite (or re-stamp) the
    history partitions it does not hit — O(batch + touched partitions),
    never O(history)."""
    import glob
    import os

    part = _psink(spark, tmp_path)
    part(_batch(spark, [(i, f"n{i}", i + 10, "c") for i in range(200)]), 0)
    before = {}
    for f in glob.glob(str(tmp_path / "phist" / "part_*" / "*")):
        with open(f, "rb") as fh:
            before[f] = fh.read()
    part(_batch(spark, [(7, "v2", 1000, "u")]), 1)
    touched_dirs = set()
    for f, content in before.items():
        if not os.path.exists(f):
            touched_dirs.add(os.path.dirname(f))
            continue
        with open(f, "rb") as fh:
            if fh.read() != content:
                touched_dirs.add(os.path.dirname(f))
    assert len(touched_dirs) <= 1  # only key 7's partition rewritten
    versions = sorted(
        (r["__lsn"], r["__valid_to_lsn"])
        for r in part.history().filter("id = 7").collect()
    )
    from sqlserver_pg_cdc_spark.streaming.scd2 import OPEN_LSN

    assert versions == [(17, 1000), (1000, OPEN_LSN)]


def test_partitioned_scd2_replay_idempotent_by_key_lsn(spark, tmp_path):
    part = _psink(spark, tmp_path)
    b0 = _batch(spark, [(i, f"n{i}", 10 + i, "c") for i in range(30)])
    b1 = _batch(spark, [(5, "upd", 100, "u"), (31, "new", 101, "c")])
    part(b0, 0)
    part(b1, 1)
    want = _hist_set(part.history())
    part(b1, 1)  # replay
    part(b0, 0)  # stale replay: every (key, LSN) already present
    assert _hist_set(part.history()) == want


def test_partitioned_scd2_crash_between_partition_swaps(
    spark, tmp_path, at_commit_step
):
    """Crash after one partition's new generation landed but another's
    did not: the re-driven batch converges (the uncommitted generation
    is ignored, the apply runs again); every stranded __batchtmp is
    swept."""
    import os

    import pytest

    part = _psink(spark, tmp_path)
    part(_batch(spark, [(i, f"n{i}", 10 + i, "c") for i in range(60)]), 0)
    want_pre = _hist_set(part.history())
    b1 = _batch(spark, [(i, f"u{i}", 500 + i, "u") for i in range(0, 60, 7)])

    os.makedirs(str(tmp_path / "phist" / "__batchtmp_dead" / "__p=0"))
    at_commit_step("mid_rename")
    with pytest.raises(RuntimeError, match="injected crash"):
        part(b1, 1)
    assert _hist_set(part.history()) == want_pre

    part(b1, 1)  # re-driven batch
    got = _hist_set(part.history())
    assert not os.path.exists(str(tmp_path / "phist" / "__batchtmp_dead"))
    # every pre-batch version survives, with updated keys' open versions closed
    updated = {i for i in range(60) if i % 7 == 0}
    for row in want_pre:
        rid, lsn, name, vfrom, vto, isdel, active = row
        if rid in updated:
            assert (rid, lsn, name, vfrom, 500 + rid, isdel, False) in got
        else:
            assert row in got
    for rid in updated:
        assert (rid, 500 + rid, f"u{rid}", 500 + rid,
                __import__("sqlserver_pg_cdc_spark.streaming.scd2",
                           fromlist=["OPEN_LSN"]).OPEN_LSN,
                False, True) in got


def test_partitioned_scd2_time_travel_and_layout_guard(spark, tmp_path):
    import pytest as _pytest

    from sqlserver_pg_cdc_spark.streaming.scd2 import PartitionedScd2Sink

    part = _psink(spark, tmp_path)
    part(_batch(spark, [(1, "a", 10, "c"), (2, "b", 11, "c")]), 0)
    part(_batch(spark, [(1, "a2", 20, "u"), (2, None, 21, "d")]), 1)
    at_15 = {(r["id"], r["name"]) for r in part.as_of(15).collect()}
    assert at_15 == {(1, "a"), (2, "b")}
    cur = {(r["id"], r["name"]) for r in part.current().collect()}
    assert cur == {(1, "a2")}
    wrong = PartitionedScd2Sink(
        spark, part.target_dir, ["id"], n_partitions=4
    )
    with _pytest.raises(ValueError, match="n_partitions=8"):
        wrong.history()


def test_partitioned_scd2_end_to_end_pipeline(spark, tmp_path):
    """Full CdcPipeline writeStream drain into the partitioned SCD2
    history sink (op rides as the unwrap stage's __op): every change
    event becomes a version row; current() equals the upsert-style
    latest active state; a second drain of the same spool (checkpoint
    wiped — forced redelivery) converges by (key, LSN)."""
    import json as _json
    import os as _os
    import shutil as _sh

    from pyspark.sql import types as T

    from sqlserver_pg_cdc_spark.streaming.pipeline import CdcPipeline
    from sqlserver_pg_cdc_spark.streaming.scd2 import PartitionedScd2Sink

    payload = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("name", T.StringType(), True),
        ]
    )
    events = [
        {"op": "c", "lsn": 1, "ts_ms": 1000, "before": None,
         "after": {"id": 1, "name": "a"}},
        {"op": "c", "lsn": 2, "ts_ms": 1001, "before": None,
         "after": {"id": 2, "name": "b"}},
        {"op": "u", "lsn": 3, "ts_ms": 1002, "before": None,
         "after": {"id": 1, "name": "a2"}},
        {"op": "d", "lsn": 4, "ts_ms": 1003,
         "before": {"id": 2, "name": "b"}, "after": None},
    ]
    spool = str(tmp_path / "spool")
    _os.makedirs(spool)
    with open(_os.path.join(spool, "b.json"), "w") as f:
        for e in events:
            f.write(_json.dumps(e) + "\n")
    hist_dir = str(tmp_path / "hist")
    sink = PartitionedScd2Sink(
        spark, hist_dir, ["id"], op_col="__op", n_partitions=4
    )
    ckpt = str(tmp_path / "ckpt")
    pipe = CdcPipeline(spark, spool, hist_dir, ckpt, payload, ["id"], sink=sink)
    pipe.run_available_now()
    assert sink.history().count() == 4
    cur = {(r["id"], r["name"]) for r in sink.current().collect()}
    assert cur == {(1, "a2")}
    at_2 = {(r["id"], r["name"]) for r in sink.as_of(2).collect()}
    assert at_2 == {(1, "a"), (2, "b")}
    # forced redelivery of the whole spool: converges by (key, LSN)
    _sh.rmtree(ckpt)
    pipe2 = CdcPipeline(
        spark, spool, hist_dir, str(tmp_path / "ckpt2"), payload, ["id"],
        sink=PartitionedScd2Sink(
            spark, hist_dir, ["id"], op_col="__op", n_partitions=4
        ),
    )
    pipe2.run_available_now()
    assert pipe2.sink.history().count() == 4
    assert {(r["id"], r["name"]) for r in pipe2.sink.current().collect()} == cur


def test_null_key_chains_merge_across_batches(spark):
    """NULL-key versions must chain like any other key value (the SQL
    window groups NULLs into one partition; the semi/anti split is
    null-safe to match) — found by the nulls adversarial sweep where a
    cross-batch update of a NULL-key row left two open versions."""
    b1 = spark.createDataFrame([(None, "n1", 10, "c"), (1, "a", 11, "c")], SCHEMA)
    b2 = spark.createDataFrame([(None, "n2", 20, "u")], SCHEMA)
    h = scd2_apply(scd2_apply(None, b1, ["id"]), b2, ["id"])
    null_rows = sorted(
        ((r["__lsn"], r["__valid_to_lsn"], r["__active"])
         for r in h.filter("id IS NULL").collect())
    )
    assert null_rows == [(10, 20, False), (20, OPEN_LSN, True)]
    # replay of the NULL-key version is idempotent too
    again = scd2_apply(h, b2, ["id"])
    assert again.count() == h.count()
    # time travel returns exactly one NULL-key row at any point
    assert as_of_lsn(h, 15).filter("id IS NULL").count() == 1
    assert as_of_lsn(h, 25).filter("id IS NULL").count() == 1


def test_partitioned_scd2_point_lookup(spark, tmp_path):
    """history_for_keys reads one key's full version chain from only
    its hash partition."""
    part = _psink(spark, tmp_path)
    part(_batch(spark, [(i, f"n{i}", 10 + i, "c") for i in range(50)]), 0)
    part(_batch(spark, [(7, "v2", 100, "u")]), 1)
    chain = sorted(
        (r["__lsn"], r["name"]) for r in part.history_for_keys([7]).collect()
    )
    assert chain == [(17, "n7"), (100, "v2")]


def test_duplicate_within_batch_makes_no_zero_length_version(spark):
    """A transport re-delivery inside one batch is one version, not a
    version that closes at its own LSN."""
    b = spark.createDataFrame(
        [(1, "a", 1, "c"), (1, "a", 1, "c"), (1, "a2", 3, "u")], SCHEMA
    )
    chains = sorted(
        (r["__lsn"], r["__valid_to_lsn"])
        for r in scd2_apply(None, b, ["id"]).collect()
    )
    assert chains == [(1, 3), (3, OPEN_LSN)]


def test_null_lsn_version_replays_idempotent(spark):
    """A version with a NULL LSN is one (key, LSN) like any other: a
    replay of its batch adds nothing, and the key keeps one active
    version."""
    b = spark.createDataFrame([(1, "a", None, "c"), (2, "b", 5, "c")], SCHEMA)
    h = scd2_apply(None, b, ["id"])
    for _ in range(3):
        h = scd2_apply(h, b, ["id"])
    assert h.count() == 2
    assert current_view(h).filter("id = 1").count() == 1
