"""CDC streaming-plane tests, mirroring the reference integration suite
(tests/integration/test_replication_flow.py: insert :147, update :173,
delete :214, NULLs :291) plus idempotent replay, out-of-order delivery,
stale flagging, and checkpoint resume."""

import json
import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sqlserver_pg_cdc_spark.streaming.apply import (
    latest_per_key,
    merge_upsert,
    unwrap_envelope,
    with_soft_delete,
)
from sqlserver_pg_cdc_spark.streaming.pipeline import CdcPipeline

PAYLOAD = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("amount", T.DoubleType(), True),
    ]
)

NOW_MS = int(time.time() * 1000)


def _event(lsn, op, row, ts_ms=None):
    e = {"op": op, "lsn": lsn, "ts_ms": ts_ms if ts_ms is not None else NOW_MS + lsn}
    if op == "d":
        e["before"], e["after"] = row, None
    else:
        e["before"], e["after"] = None, row
    return e


def _spool(path, events, fname="batch.json"):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, fname), "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def _mk_pipeline(spark, tmp_path, **kw):
    return CdcPipeline(
        spark,
        source_dir=str(tmp_path / "spool"),
        target_dir=str(tmp_path / "target"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        payload_schema=PAYLOAD,
        pk_cols=["id"],
        **kw,
    )


def _state(pipeline):
    t = pipeline.target()
    return {
        r["id"]: (r["name"], r["amount"], r["__deleted"]) for r in t.collect()
    }


def test_insert_update_delete_flow(spark, tmp_path):
    events = [
        _event(1, "c", {"id": 1, "name": "alice", "amount": 10.0}),
        _event(2, "c", {"id": 2, "name": "bob", "amount": 20.0}),
        _event(3, "u", {"id": 1, "name": "alice2", "amount": 11.0}),
        _event(4, "d", {"id": 2, "name": "bob", "amount": 20.0}),
        _event(5, "c", {"id": 3, "name": None, "amount": None}),  # NULLs preserved
    ]
    p = _mk_pipeline(spark, tmp_path)
    _spool(p.source_dir, events)
    p.run_available_now()

    st = _state(p)
    assert st[1] == ("alice2", 11.0, "false")  # update applied
    assert st[2] == ("bob", 20.0, "true")  # soft delete: row kept, flagged
    assert st[3] == (None, None, "false")  # NULL round-trip
    active = {r["id"] for r in p.active_rows().collect()}
    assert active == {1, 3}


def test_out_of_order_and_duplicate_delivery(spark, tmp_path):
    """At-least-once semantics (FR-005): duplicates and reordering within
    a batch must not change the outcome — latest LSN wins."""
    events = [
        _event(12, "u", {"id": 1, "name": "late", "amount": 3.0}),
        _event(10, "c", {"id": 1, "name": "first", "amount": 1.0}),
        _event(11, "u", {"id": 1, "name": "mid", "amount": 2.0}),
        _event(11, "u", {"id": 1, "name": "mid", "amount": 2.0}),  # dup
    ]
    p = _mk_pipeline(spark, tmp_path)
    _spool(p.source_dir, events)
    p.run_available_now()
    assert _state(p)[1] == ("late", 3.0, "false")


def test_checkpoint_resume_and_idempotent_replay(spark, tmp_path):
    p = _mk_pipeline(spark, tmp_path)
    _spool(p.source_dir, [_event(1, "c", {"id": 1, "name": "a", "amount": 1.0})], "b1.json")
    p.run_available_now()
    assert _state(p)[1] == ("a", 1.0, "false")

    # second spool file: one new key, one replayed OLD change for id=1
    _spool(
        p.source_dir,
        [
            _event(0, "u", {"id": 1, "name": "stale-replay", "amount": 0.0}),
            _event(2, "c", {"id": 2, "name": "b", "amount": 2.0}),
        ],
        "b2.json",
    )
    p.run_available_now()
    st = _state(p)
    assert st[1] == ("a", 1.0, "false")  # older LSN did not overwrite
    assert st[2] == ("b", 2.0, "false")

    # replaying the same spool (fresh checkpoint) is a no-op on the target
    p2 = CdcPipeline(
        spark, p.source_dir, p.target_dir, str(tmp_path / "ckpt2"), PAYLOAD, ["id"]
    )
    p2.run_available_now()
    assert _state(p2) == st


def test_stale_event_flagged_not_dropped(spark, tmp_path):
    """FR-008: events older than 24h are applied with a staleness flag."""
    old_ms = NOW_MS - 48 * 3600 * 1000
    p = _mk_pipeline(spark, tmp_path)
    _spool(
        p.source_dir,
        [
            _event(1, "c", {"id": 1, "name": "old", "amount": 1.0}, ts_ms=old_ms),
            _event(2, "c", {"id": 2, "name": "new", "amount": 2.0}),
        ],
    )
    p.run_available_now()
    flags = {r["id"]: r["__stale"] for r in p.target().collect()}
    assert flags == {1: True, 2: False}


def test_unwrap_uses_before_image_for_deletes(spark):
    env = spark.createDataFrame(
        [
            (None, {"id": 1, "name": "x", "amount": 1.0}, "c", 100, 1),
            ({"id": 1, "name": "x", "amount": 1.0}, None, "d", 200, 2),
        ],
        T.StructType(
            [
                T.StructField("before", PAYLOAD),
                T.StructField("after", PAYLOAD),
                T.StructField("op", T.StringType()),
                T.StructField("ts_ms", T.LongType()),
                T.StructField("lsn", T.LongType()),
            ]
        ),
    )
    flat = with_soft_delete(unwrap_envelope(env))
    rows = {r["lsn"]: r for r in flat.collect()}
    assert rows[2]["id"] == 1 and rows[2]["__deleted"] == "true"
    assert rows[1]["__deleted"] == "false"


def test_merge_upsert_is_batch_idempotent(spark):
    base = spark.createDataFrame(
        [(1, "a", 5, "false")], "id long, name string, lsn long, __deleted string"
    )
    batch = spark.createDataFrame(
        [(1, "a2", 7, "false"), (2, "b", 6, "false")],
        "id long, name string, lsn long, __deleted string",
    )
    once = merge_upsert(base, batch, ["id"])
    twice = merge_upsert(once, batch, ["id"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))
    assert {r["name"] for r in once.collect()} == {"a2", "b"}


def test_merge_upsert_null_key_is_null_safe(spark):
    """A NULL-keyed row must UPSERT (one row, latest LSN wins) instead
    of silently duplicating every batch — latest_per_key's window
    already groups NULLs, read_keys and the SCD2 apply match null-safe,
    and the DuckDB oracles' row_number() partitions NULLs together, so
    a null-unsafe merge diverged from all of them (found by the
    NULL-injection sweep on cdc_schema_evolution)."""
    b1 = spark.createDataFrame(
        [(None, "n1", 5), (1, "a", 5)], "id long, name string, lsn long"
    )
    b2 = spark.createDataFrame(
        [(None, "n2", 9), (2, "b", 6)], "id long, name string, lsn long"
    )
    state = merge_upsert(merge_upsert(None, b1, ["id"]), b2, ["id"])
    rows = {r["id"]: (r["name"], r["lsn"]) for r in state.collect()}
    assert rows == {None: ("n2", 9), 1: ("a", 5), 2: ("b", 6)}
    # stale replay of the NULL key cannot regress it
    state2 = merge_upsert(state, b1, ["id"])
    rows2 = {r["id"]: (r["name"], r["lsn"]) for r in state2.collect()}
    assert rows2 == rows


def test_latest_per_key_composite(spark):
    df = spark.createDataFrame(
        [(1, 10, 1, "x"), (1, 10, 3, "y"), (1, 11, 2, "z")],
        "a long, b long, lsn long, v string",
    )
    got = {(r["a"], r["b"]): r["v"] for r in latest_per_key(df, ["a", "b"]).collect()}
    assert got == {(1, 10): "y", (1, 11): "z"}


def test_dlq_routing_on_sink_failure(spark, tmp_path):
    """St10: a failing apply must land the batch in the DLQ with error
    context instead of killing the query (errors.tolerance=all analog)."""
    from sqlserver_pg_cdc_spark.streaming.apply import ParquetUpsertSink

    class FailingSink(ParquetUpsertSink):
        def _snapshot(self):
            raise RuntimeError("simulated target corruption")

    dlq = str(tmp_path / "dlq")
    sink = FailingSink(
        spark, str(tmp_path / "tgt"), ["id"], dlq_dir=dlq
    )
    batch = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 2)], "id long, v string, lsn long"
    )
    sink(batch, batch_id=7)  # must not raise
    rejected = spark.read.parquet(dlq)
    rows = rejected.collect()
    assert len(rows) == 2
    assert all(r["__error_class"] == "RuntimeError" for r in rows)
    assert all("simulated target corruption" in r["__error_message"] for r in rows)
    assert all(r["__batch_id"] == 7 for r in rows)


def test_sink_without_dlq_raises(spark, tmp_path):
    from sqlserver_pg_cdc_spark.streaming.apply import ParquetUpsertSink

    class FailingSink(ParquetUpsertSink):
        def _snapshot(self):
            raise RuntimeError("boom")

    sink = FailingSink(spark, str(tmp_path / "tgt"), ["id"])  # no dlq_dir
    batch = spark.createDataFrame([(1, 1)], "id long, lsn long")
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="boom"):
        sink(batch, batch_id=0)


def test_crash_between_swap_renames_recovers(spark, tmp_path, at_commit_step):
    """A crash after the batch's new generation landed but before the
    version that names it was committed must NOT lose the applied
    state: read_target still serves the previous version and the
    re-driven batch converges (ADVICE r1: silent-empty-table bug)."""
    import os

    from sqlserver_pg_cdc_spark.streaming.apply import ParquetUpsertSink

    tgt = str(tmp_path / "tgt")
    sink = ParquetUpsertSink(spark, tgt, ["id"])
    b0 = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 2)], "id long, v string, lsn long"
    )
    sink(b0, 0)

    # the torn commit: new generation renamed in, no version linked
    b1 = spark.createDataFrame(
        [(1, "a", 1), (3, "c", 3)], "id long, v string, lsn long"
    )
    at_commit_step("after_renames")
    with pytest.raises(RuntimeError, match="injected crash"):
        sink(b1, 1)

    # a reader sees the prior state intact
    recovered = {r["id"]: r["v"] for r in sink.read_target().collect()}
    assert recovered == {1: "a", 2: "b"}

    # re-driven batch (checkpoint replay) + a new change both apply
    sink(b1, 1)
    final = {r["id"]: r["v"] for r in sink.read_target().collect()}
    assert final == {1: "a", 2: "b", 3: "c"}
    # the crashed attempt's generation and batch temp cleaned up on success
    live = set(sink._snapshot()["parts"].values())
    leftovers = [p for p in os.listdir(tmp_path) if "__old_" in p or "__tmp_" in p] + [
        p
        for p in os.listdir(tgt)
        if p.startswith("__batchtmp_") or (p.startswith("part_") and p not in live)
    ]
    assert leftovers == []


def test_flat_upsert_reader_mid_batch_never_breaks_the_writer(
    spark, tmp_path, monkeypatch
):
    """Regression: a second handle's read_target() landing at the flat
    sink's first rename of a batch must neither fail the writer nor
    lose the batch. A reader that "recovered" a half-swapped directory
    by renaming it back made the writer's next rename fail (ENOTEMPTY):
    with no DLQ the batch killed the query, none of it applied and its
    temp directory stayed behind."""
    from sqlserver_pg_cdc_spark.streaming.apply import ParquetUpsertSink

    d = str(tmp_path / "tgt")
    sink = ParquetUpsertSink(spark, d, ["id"])  # no dlq_dir
    sink(_rows(spark, [(i, f"n{i}", float(i), 10 + i) for i in range(20)]), 0)
    want_pre = _as_map(sink.read_target())
    reader = ParquetUpsertSink(spark, d, ["id"])
    fired, seen = [], []
    rename = os.rename

    def _rename(src, dst, *a, **k):
        out = rename(src, dst, *a, **k)
        if not fired:
            fired.append(src)
            seen.append(_as_map(reader.read_target()))
        return out

    monkeypatch.setattr(os, "rename", _rename)
    sink(_rows(spark, [(i, f"u{i}", -1.0, 500 + i) for i in range(20)]), 1)
    monkeypatch.undo()
    assert seen == [want_pre]
    got = _as_map(sink.read_target())
    updated = [i for i in range(20) if got[i] == (f"u{i}", -1.0, 500 + i)]
    assert len(updated) == 20
    debris = [
        n
        for n in os.listdir(tmp_path) + os.listdir(d)
        if "__tmp_" in n or n.startswith("__batchtmp_")
    ]
    assert debris == []


def test_snapshot_bootstrap_then_stream_catchup(spark, tmp_path):
    """Initial-load handoff: seed the target from a snapshot at LSN 100,
    then stream a spool containing both already-snapshotted changes
    (lsn <= 100, guarded out) and new ones (applied)."""
    p = _mk_pipeline(spark, tmp_path)
    snapshot = spark.createDataFrame(
        [(1, "alice", 10.0), (2, "bob", 20.0)], PAYLOAD
    )
    p.bootstrap_from_snapshot(snapshot, snapshot_lsn=100)
    st = _state(p)
    assert st == {1: ("alice", 10.0, "false"), 2: ("bob", 20.0, "false")}

    _spool(p.source_dir, [
        # replayed pre-snapshot change: must NOT clobber the snapshot
        _event(50, "u", {"id": 1, "name": "stale", "amount": 1.0}),
        # genuine post-snapshot changes
        _event(150, "u", {"id": 2, "name": "bob2", "amount": 21.0}),
        _event(160, "c", {"id": 3, "name": "carol", "amount": 30.0}),
    ])
    p.run_available_now()
    st = _state(p)
    assert st == {
        1: ("alice", 10.0, "false"),
        2: ("bob2", 21.0, "false"),
        3: ("carol", 30.0, "false"),
    }


def test_max_files_per_trigger_bounds_batches(spark, tmp_path):
    """max.batch.size parity: with maxFilesPerTrigger=1 a 3-file spool
    must drain in 3 micro-batches (availableNow honors the cap), ending
    in the same state."""
    from sqlserver_pg_cdc_spark.streaming.apply import ParquetUpsertSink

    batches = []

    class CountingSink(ParquetUpsertSink):
        def __call__(self, batch_df, batch_id):
            batches.append(batch_df.count())
            super().__call__(batch_df, batch_id)

    p = _mk_pipeline(spark, tmp_path)
    p.sink = CountingSink(spark, p.target_dir, ["id"])
    for i, fname in enumerate(["a.json", "b.json", "c.json"]):
        _spool(p.source_dir, [
            _event(i * 10 + 1, "c", {"id": i, "name": f"n{i}", "amount": float(i)})
        ], fname=fname)
    p.run_available_now(max_files_per_trigger=1)
    assert len([b for b in batches if b > 0]) == 3
    assert all(b <= 1 for b in batches)
    assert len(_state(p)) == 3


def test_dedup_within_watermark_drops_transport_duplicates(spark, tmp_path):
    """At-least-once transport dedup: duplicated (key, lsn) deliveries
    within the watermark reach the sink once."""
    from sqlserver_pg_cdc_spark.streaming.apply import (
        dedup_within_watermark,
        unwrap_envelope,
    )
    from sqlserver_pg_cdc_spark.streaming.pipeline import change_stream_schema

    ev = _event(1, "c", {"id": 1, "name": "a", "amount": 1.0})
    dup = dict(ev)  # byte-identical re-delivery
    other = _event(2, "c", {"id": 2, "name": "b", "amount": 2.0})
    _spool(tmp_path / "spool", [ev, dup, other, other])

    raw = (
        spark.readStream.schema(change_stream_schema(PAYLOAD))
        .json(str(tmp_path / "spool"))
    )
    flat = unwrap_envelope(raw)
    deduped = dedup_within_watermark(flat, ["id", "lsn"])
    seen = []
    q = (
        deduped.writeStream.foreachBatch(
            lambda df, _bid: seen.extend(df.select("id", "lsn").collect())
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted((r["id"], r["lsn"]) for r in seen) == [(1, 1), (2, 2)]


def test_latest_per_key_salted_equals_plain_on_hot_key(spark):
    """Two-phase (salted) dedup must agree with the window form on a
    batch where one key holds 90% of the changes (unique LSNs)."""
    from sqlserver_pg_cdc_spark.streaming.apply import latest_per_key

    rows = [(1, f"v{l}", l) for l in range(900)] + [
        (k, f"k{k}", 1000 + k) for k in range(2, 102)
    ]
    df = spark.createDataFrame(rows, "id long, v string, lsn long")
    plain = {(r["id"], r["v"], r["lsn"])
             for r in latest_per_key(df, ["id"]).collect()}
    salted = {(r["id"], r["v"], r["lsn"])
              for r in latest_per_key(df, ["id"], salt_partitions=8).collect()}
    assert salted == plain
    assert (1, "v899", 899) in salted
    assert len(salted) == 101


# --- hash-partitioned upsert sink ----------------------------------------


def _part_sink(spark, tmp_path, n=8):
    from sqlserver_pg_cdc_spark.streaming.apply import PartitionedParquetUpsertSink

    return PartitionedParquetUpsertSink(
        spark, str(tmp_path / "ptarget"), ["id"], n_partitions=n
    )


def _rows(spark, recs):
    return spark.createDataFrame(
        recs, "id long, name string, amount double, lsn long"
    )


def _as_map(df):
    return {r["id"]: (r["name"], r["amount"], r["lsn"]) for r in df.collect()}


def test_partitioned_upsert_matches_flat_sink(spark, tmp_path):
    """The partitioned sink must produce exactly the flat sink's table
    for any batch split — same merge_upsert semantics, different layout."""
    from sqlserver_pg_cdc_spark.streaming.apply import ParquetUpsertSink

    b0 = _rows(spark, [(i, f"n{i}", float(i), 10 + i) for i in range(40)])
    b1 = _rows(
        spark,
        [(i, f"u{i}", float(i) * 2, 100 + i) for i in range(0, 40, 3)]
        + [(100 + i, f"new{i}", 1.0, 200 + i) for i in range(5)],
    )
    flat = ParquetUpsertSink(spark, str(tmp_path / "flat"), ["id"])
    part = _part_sink(spark, tmp_path)
    for i, b in enumerate([b0, b1]):
        flat(b, i)
        part(b, i)
    assert _as_map(part.read_target()) == _as_map(flat.read_target())


def test_partitioned_upsert_untouched_partitions_byte_identical(spark, tmp_path):
    """A batch touching a few keys must not rewrite (or even re-stamp)
    the partitions it does not hit — the O(delta) contract."""
    import glob

    part = _part_sink(spark, tmp_path)
    part(_rows(spark, [(i, f"n{i}", float(i), i) for i in range(200)]), 0)
    before = {}
    for f in glob.glob(str(tmp_path / "ptarget" / "part_*" / "*")):
        with open(f, "rb") as fh:
            before[f] = (os.path.getmtime(f), fh.read())
    # one key -> exactly one touched partition
    part(_rows(spark, [(7, "update", 99.0, 1000)]), 1)
    touched_dirs = set()
    for f, (mt, content) in before.items():
        if not os.path.exists(f):
            touched_dirs.add(os.path.dirname(f))
            continue
        with open(f, "rb") as fh:
            now = fh.read()
        if now != content:
            touched_dirs.add(os.path.dirname(f))
    assert len(touched_dirs) <= 1  # only key 7's partition rewritten
    assert _as_map(part.read_target())[7] == ("update", 99.0, 1000)


def test_partitioned_upsert_replay_converges_via_lsn_guard(spark, tmp_path):
    """No batch-id bookkeeping needed: re-driving a batch (foreachBatch
    redelivery) converges to the same table through the LSN guard."""
    part = _part_sink(spark, tmp_path)
    b0 = _rows(spark, [(i, f"n{i}", float(i), 10 + i) for i in range(30)])
    b1 = _rows(spark, [(5, "upd", 5.5, 100), (31, "new", 1.0, 101)])
    part(b0, 0)
    part(b1, 1)
    want = _as_map(part.read_target())
    part(b1, 1)  # replay
    part(b0, 0)  # stale replay: every LSN older -> no-op
    assert _as_map(part.read_target()) == want


def test_partitioned_upsert_crash_between_partition_swaps(
    spark, tmp_path, at_commit_step
):
    """Crash after one partition's new generation landed but another's
    did not: the re-driven batch must converge (the uncommitted
    generation is ignored, the merge runs again) and every stranded
    __batchtmp is swept."""
    part = _part_sink(spark, tmp_path)
    b0 = _rows(spark, [(i, f"n{i}", float(i), 10 + i) for i in range(60)])
    part(b0, 0)
    want_pre = _as_map(part.read_target())
    b1 = _rows(spark, [(i, f"u{i}", -1.0, 500 + i) for i in range(0, 60, 7)])

    # the crash window: one generation renamed out of the batch temp,
    # the rest not, no version committed; plus an older orphaned temp
    os.makedirs(str(tmp_path / "ptarget" / "__batchtmp_dead" / "__p=0"))
    at_commit_step("mid_rename")
    with pytest.raises(RuntimeError, match="injected crash"):
        part(b1, 1)
    assert _as_map(part.read_target()) == want_pre

    part(b1, 1)  # re-driven batch
    got = _as_map(part.read_target())
    assert not os.path.exists(str(tmp_path / "ptarget" / "__batchtmp_dead"))
    for i in range(60):
        if i % 7 == 0:
            assert got[i] == (f"u{i}", -1.0, 500 + i)
        else:
            assert got[i] == want_pre[i]


def test_partitioned_upsert_reader_mid_batch_never_loses_the_batch(
    spark, tmp_path, monkeypatch
):
    """Regression: a second handle's read_target() landing between the
    batch's partitionBy write and its commit must neither see part of
    the batch nor destroy it. A reader that swept the live batch temp
    made the writer find every partition "merged to nothing" and return
    without error with none of the batch applied."""
    part = _part_sink(spark, tmp_path)
    part(_rows(spark, [(i, f"n{i}", float(i), 10 + i) for i in range(20)]), 0)
    want_pre = _as_map(part.read_target())
    reader = _part_sink(spark, tmp_path)
    seen = []
    isdir, rename = os.path.isdir, os.rename

    def read_once(path):
        if not seen and "__batchtmp_" in str(path) and "__p=" in str(path):
            seen.append(_as_map(reader.read_target()))

    def _isdir(path):
        read_once(path)
        return isdir(path)

    def _rename(src, dst, *a, **k):
        read_once(src)
        return rename(src, dst, *a, **k)

    monkeypatch.setattr(os.path, "isdir", _isdir)
    monkeypatch.setattr(os, "rename", _rename)
    part(_rows(spark, [(i, f"u{i}", -1.0, 500 + i) for i in range(20)]), 1)
    monkeypatch.undo()
    assert seen == [want_pre]  # the reader ran mid-batch, saw pre-batch
    got = _as_map(part.read_target())
    updated = [i for i in range(20) if got[i] == (f"u{i}", -1.0, 500 + i)]
    assert len(updated) == 20


def test_partitioned_upsert_layout_guards(spark, tmp_path):
    """Flat-state dir and partition-count mismatch both fail fast."""
    from sqlserver_pg_cdc_spark.streaming.apply import (
        ParquetUpsertSink,
        PartitionedParquetUpsertSink,
    )

    b = _rows(spark, [(1, "a", 1.0, 1)])
    flat_dir = str(tmp_path / "flat")
    b.write.parquet(flat_dir)
    bad = PartitionedParquetUpsertSink(spark, flat_dir, ["id"], n_partitions=8)
    with pytest.raises(ValueError, match="NON-partitioned"):
        bad(b, 1)
    with pytest.raises(ValueError, match="NON-partitioned"):
        ParquetUpsertSink(spark, flat_dir, ["id"]).read_target()
    part = _part_sink(spark, tmp_path, n=8)
    part(b, 0)
    wrong = PartitionedParquetUpsertSink(
        spark, part.target_dir, ["id"], n_partitions=4
    )
    with pytest.raises(ValueError, match="n_partitions=8"):
        wrong(b, 1)
    with pytest.raises(ValueError, match="n_partitions=8"):
        wrong.read_target()


def test_partitioned_upsert_end_to_end_pipeline(spark, tmp_path):
    """Full CdcPipeline writeStream drain through the partitioned sink:
    same end state as the flat default, read back via pipeline.target()."""
    from sqlserver_pg_cdc_spark.streaming.apply import PartitionedParquetUpsertSink

    events = [
        _event(1, "c", {"id": 1, "name": "alice", "amount": 10.0}),
        _event(2, "c", {"id": 2, "name": "bob", "amount": 20.0}),
        _event(3, "u", {"id": 1, "name": "alice2", "amount": 11.0}),
        _event(4, "d", {"id": 2, "name": "bob", "amount": 20.0}),
    ]
    p = _mk_pipeline(spark, tmp_path)
    p.sink = PartitionedParquetUpsertSink(
        spark, p.target_dir, p.pk_cols, n_partitions=8
    )
    _spool(p.source_dir, events)
    p.run_available_now()
    st = _state(p)
    assert st[1] == ("alice2", 11.0, "false")
    assert st[2] == ("bob", 20.0, "true")
    active = {r["id"] for r in p.active_rows().collect()}
    assert active == {1}


def test_partitioned_upsert_rejects_markerless_partitioned_state(spark, tmp_path):
    """part_* dirs without a _log/ manifest cannot be adopted — their
    partition count and live files are unknowable, and assuming the
    current count could split a key across two partitions."""
    import shutil as _sh

    part = _part_sink(spark, tmp_path, n=8)
    part(_rows(spark, [(i, f"n{i}", float(i), i) for i in range(20)]), 0)
    _sh.rmtree(str(tmp_path / "ptarget" / "_log"))
    fresh = _part_sink(spark, tmp_path, n=8)
    with pytest.raises(ValueError, match="no _log/ manifest"):
        fresh.read_target()
    with pytest.raises(ValueError, match="no _log/ manifest"):
        fresh(_rows(spark, [(1, "x", 1.0, 99)]), 1)


def test_partitioned_upsert_point_lookup_prunes_partitions(spark, tmp_path):
    """read_keys must open ONLY the partition directories the lookup
    keys hash to (verified by deleting every other partition — a full
    read would fail), and return exactly the requested rows."""
    import shutil as _sh

    part = _part_sink(spark, tmp_path, n=8)
    part(_rows(spark, [(i, f"n{i}", float(i), i) for i in range(200)]), 0)
    hit = part._parts_for_keys([(7,), (13,)])
    assert 1 <= len(hit) <= 2
    # missing key: no row, no error
    res = part.read_keys([(999999,)])
    assert res is None or res.filter("id = 999999").count() == 0
    # remove the generation dirs of all partitions NOT holding the keys
    # (the manifest still names them, so a full read would fail): a
    # pruned read survives
    from sqlserver_pg_cdc_spark.streaming.apply import read_manifest

    named = read_manifest(part.target_dir)["parts"]
    for p in part._existing_parts():
        if p not in hit:
            _sh.rmtree(os.path.join(part.target_dir, named[str(p)]))
    got = {r["id"]: r["name"] for r in part.read_keys([7, 13]).collect()}
    assert got == {7: "n7", 13: "n13"}


def test_partitioned_point_lookup_with_integer_typed_keys(spark, tmp_path):
    """xxhash64 is TYPE-sensitive: hash(1 AS INT) != hash(1 AS BIGINT).
    State keyed by an IntegerType pk (int32 parquet keys) probed with
    Python ints (inferred LongType) must still compute the partition ids
    the WRITE path routed with — the probe casts to the stored dtype.
    Also: a later batch whose key dtype drifted (long vs stored int)
    must route like prior writes, not split the key across partitions."""
    from pyspark.sql import functions as F
    from sqlserver_pg_cdc_spark.streaming.apply import (
        PartitionedParquetUpsertSink,
    )

    part = PartitionedParquetUpsertSink(
        spark, str(tmp_path / "int_state"), ["id"], n_partitions=8
    )
    b0 = spark.createDataFrame(
        [(i, f"n{i}", i) for i in range(50)], "id int, name string, lsn long"
    )
    part(b0, 0)
    # point lookup with plain Python ints (would hash as LongType uncast)
    got = {r["id"]: r["name"] for r in part.read_keys([1, 7, 42]).collect()}
    assert got == {1: "n1", 7: "n7", 42: "n42"}
    # dtype-drifted batch: long-typed keys update int-keyed state
    b1 = spark.createDataFrame(
        [(7, "updated", 100)], "id long, name string, lsn long"
    )
    part(b1, 1)
    st = part.read_target()
    assert st.filter(F.col("id") == 7).count() == 1  # not split
    assert st.filter(F.col("id") == 7).first()["name"] == "updated"
    got2 = {r["id"]: r["name"] for r in part.read_keys([7]).collect()}
    assert got2 == {7: "updated"}
