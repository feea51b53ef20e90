"""Day-2 maintenance ops on hash-partitioned state: tombstone purge
(the state-side twin of the reference's CDC retention —
docs/development-architecture.md:226 change events 7 days,
docs/troubleshooting-part01.md:194-197 `@retention`) and partition-count
rescale (re-hash a layout sized for yesterday's corpus)."""

import os

import pytest
from pyspark.sql import functions as F

from sqlserver_pg_cdc_spark.streaming.apply import PartitionedParquetUpsertSink


def _sink(spark, tmp_path, n=4, name="st"):
    return PartitionedParquetUpsertSink(
        spark, str(tmp_path / name), ["id"], n_partitions=n
    )


def _rows(spark, recs):
    return spark.createDataFrame(
        recs, "id long, name string, __deleted string, lsn long"
    )


def _live(df):
    return {
        r["id"]: (r["name"], r["lsn"])
        for r in df.filter(
            ~F.coalesce(F.lower(F.col("__deleted")) == "true", F.lit(False))
        ).collect()
    }


# --- purge_tombstones -----------------------------------------------------


def test_purge_drops_only_past_horizon_tombstones(spark, tmp_path):
    sink = _sink(spark, tmp_path)
    sink(
        _rows(
            spark,
            [(i, f"n{i}", "false", 10 + i) for i in range(20)]
            # old deletes (lsn <= 40): past replay horizon
            + [(0, None, "true", 30), (1, None, "true", 31)]
            # recent delete (lsn 90): still inside horizon
            + [(2, None, "true", 90)],
        ),
        0,
    )
    before_live = _live(sink.read_target())
    res = sink.purge_tombstones(40)
    assert res["purged"] == 2
    assert res["partitions_rewritten"] >= 1
    after = sink.read_target()
    assert _live(after) == before_live
    ids = {r["id"] for r in after.select("id").collect()}
    assert 0 not in ids and 1 not in ids  # physically gone
    assert 2 in ids  # newer tombstone retained


def test_purge_keeps_lsn_guard_for_retained_tombstones(spark, tmp_path):
    """A stale pre-delete update arriving after the purge must still be
    rejected for tombstones ABOVE the watermark."""
    sink = _sink(spark, tmp_path)
    sink(
        _rows(
            spark,
            [(1, "a", "false", 10), (1, None, "true", 50), (2, "b", "false", 10)],
        ),
        0,
    )
    sink.purge_tombstones(20)  # tombstone at lsn 50 survives
    sink(_rows(spark, [(1, "stale", "false", 30)]), 1)  # stale replay
    st = sink.read_target()
    r1 = [r for r in st.collect() if r["id"] == 1]
    assert len(r1) == 1 and r1[0]["lsn"] == 50  # delete still wins


def test_purge_noop_cases(spark, tmp_path):
    sink = _sink(spark, tmp_path)
    # no state at all
    assert sink.purge_tombstones(100) == {
        "purged": 0,
        "partitions_rewritten": 0,
    }
    # state without any tombstone column
    plain = PartitionedParquetUpsertSink(
        spark, str(tmp_path / "plain"), ["id"], n_partitions=4
    )
    plain(
        spark.createDataFrame([(1, "a", 5)], "id long, v string, lsn long"), 0
    )
    assert plain.purge_tombstones(100)["purged"] == 0
    # tombstones exist but all above watermark
    sink(_rows(spark, [(1, None, "true", 99)]), 0)
    assert sink.purge_tombstones(10)["purged"] == 0


def test_purge_removes_fully_dead_partition_dirs(spark, tmp_path):
    """A partition holding ONLY past-horizon tombstones disappears from
    disk entirely."""
    sink = _sink(spark, tmp_path, n=64)  # 1 key ≈ 1 partition
    sink(
        _rows(
            spark,
            [(1, None, "true", 5), (2, "live", "false", 5)],
        ),
        0,
    )
    n_before = len(sink._existing_parts())
    res = sink.purge_tombstones(10)
    assert res["purged"] == 1
    assert len(sink._existing_parts()) == n_before - 1
    assert _live(sink.read_target()) == {2: ("live", 5)}


def test_key_downcast_guard_is_value_level(spark, tmp_path):
    """r8 ADVICE: a bigint batch key against an int-keyed state must not
    silently wrap out-of-range values onto unrelated keys. In-range
    down-casts keep working (Python ints always arrive as bigint);
    out-of-range PROBE keys filter to no-match (they provably aren't in
    the state); out-of-range WRITE keys raise."""
    sink = PartitionedParquetUpsertSink(
        spark, str(tmp_path / "w"), ["id"], n_partitions=4
    )
    sink(
        spark.createDataFrame(
            [(1, "a", 1)], "id int, name string, lsn long"
        ),
        0,
    )
    # in-range bigint batch: down-cast is safe, merge proceeds
    sink(
        spark.createDataFrame(
            [(2, "b", 2)], "id long, name string, lsn long"
        ),
        1,
    )
    assert {r["id"] for r in sink.read_target().collect()} == {1, 2}
    big = 2**31 + 1  # wraps to -2147483647 under a non-ANSI int cast
    got = sink.read_keys([1, big])
    assert {r["id"] for r in got.collect()} == {1}  # no wrapped match
    with pytest.raises(ValueError, match="out of range"):
        sink(
            spark.createDataFrame(
                [(big, "x", 3)], "id long, name string, lsn long"
            ),
            2,
        )
    # state untouched by the refused batch
    assert {r["id"] for r in sink.read_target().collect()} == {1, 2}


def test_purge_all_tombstone_state_empties_cleanly(spark, tmp_path):
    """Regression for the r8 Hypothesis example ``changes=[(0,1,True)],
    wm=1``: a state that is 100% past-horizon tombstones purges every
    partition. The contract (purge_tombstones docstring): zero part_*
    dirs remain, read_target() returns None (same as never-written),
    a second purge is a no-op, and the next upsert bootstraps cleanly."""
    sink = _sink(spark, tmp_path)
    sink(_rows(spark, [(0, None, "true", 1)]), 0)
    res = sink.purge_tombstones(1)
    assert res == {"purged": 1, "partitions_rewritten": 1}
    assert sink._existing_parts() == []
    assert sink.read_target() is None
    # idempotent on the emptied state
    assert sink.purge_tombstones(1) == {"purged": 0, "partitions_rewritten": 0}
    # layout marker survived: the next batch bootstraps into the same dir
    sink(_rows(spark, [(7, "back", "false", 5)]), 1)
    assert _live(sink.read_target()) == {7: ("back", 5)}


def test_purge_boolean_del_flag_on_index_sink(spark, tmp_path):
    """The index sinks store a boolean __del — purge must handle it and
    the probe surface must behave identically after the purge."""
    from sqlserver_pg_cdc_spark.streaming.minhash import MinhashIndexSink

    sink = MinhashIndexSink(
        spark,
        str(tmp_path / "mh"),
        "doc_id",
        "text",
        lsn_col="lsn",
        deleted_col="__deleted",
        n_partitions=4,
    )
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog", "false", 10),
            (2, "lorem ipsum dolor sit amet consectetur", "false", 10),
            (1, None, "true", 20),  # doc 1 retired
        ],
        "doc_id long, text string, __deleted string, lsn long",
    )
    sink(docs, 0)
    idx_before = {r["doc"] for r in sink.index().collect()}
    res = sink.purge_tombstones(25)
    assert res["purged"] == 1
    assert {r["doc"] for r in sink.index().collect()} == idx_before == {2}
    # state row for doc 1 is physically gone
    assert {r["doc"] for r in sink.read_target().collect()} == {2}


# --- rescale ----------------------------------------------------------------


def test_rescale_preserves_rows_and_routing(spark, tmp_path):
    sink = _sink(spark, tmp_path, n=4)
    sink(_rows(spark, [(i, f"n{i}", "false", i) for i in range(100)]), 0)
    before = _live(sink.read_target())
    sink.rescale(16)
    assert sink.n_partitions == 16
    assert _live(sink.read_target()) == before
    assert len(sink._existing_parts()) > 4
    # point lookups route with the new count
    got = sink.read_keys([7, 42])
    assert {r["id"] for r in got.collect()} == {7, 42}
    # subsequent batches upsert correctly into the new layout
    sink(_rows(spark, [(7, "updated", "false", 1000)]), 1)
    after = _live(sink.read_target())
    assert after[7] == ("updated", 1000)
    assert len(after) == 100


def test_rescale_updates_layout_marker_for_reopen(spark, tmp_path):
    sink = _sink(spark, tmp_path, n=4)
    sink(_rows(spark, [(i, f"n{i}", "false", i) for i in range(20)]), 0)
    sink.rescale(8)
    # a new sink with the new count opens cleanly
    re8 = _sink(spark, tmp_path, n=8)
    assert len(_live(re8.read_target())) == 20
    # the old count is refused
    re4 = _sink(spark, tmp_path, n=4)
    with pytest.raises(ValueError, match="n_partitions"):
        re4.read_target()


def test_rescale_carries_aux_param_files(spark, tmp_path):
    """Sink param markers (__minhash_params.json etc.) describe content,
    not layout — they must survive a rescale, and the probe surface must
    keep working."""
    from sqlserver_pg_cdc_spark.streaming.minhash import MinhashIndexSink

    sink = MinhashIndexSink(
        spark, str(tmp_path / "mh"), "doc_id", "text", n_partitions=2
    )
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon eta"),
        ],
        "doc_id long, text string",
    )
    sink(docs, 0)
    probe_before = sink.near_dups(
        docs.withColumn("doc_id", F.col("doc_id") + 100), threshold=0.2
    )
    pairs_before = {(r["a"], r["b"]) for r in probe_before.collect()}
    sink.rescale(8)
    assert os.path.exists(str(tmp_path / "mh" / "__minhash_params.json"))
    probe_after = sink.near_dups(
        docs.withColumn("doc_id", F.col("doc_id") + 100), threshold=0.2
    )
    assert {(r["a"], r["b"]) for r in probe_after.collect()} == pairs_before


def _debris(state_dir):
    """Entries a commit would remove: batch temps and generation
    directories the latest version does not name."""
    from sqlserver_pg_cdc_spark.streaming.apply import read_manifest

    live = set(read_manifest(state_dir)["parts"].values())
    return sorted(
        n
        for n in os.listdir(state_dir)
        if n.startswith("__batchtmp_") or (n.startswith("part_") and n not in live)
    )


def test_rescale_crash_recovery_adopts_completed_new(
    spark, tmp_path, at_commit_step
):
    """Crash right after the rescale's commit, before any cleanup: the
    next open adopts the new layout, and the old layout's generations
    are debris that the next write removes."""
    sink = _sink(spark, tmp_path, n=4)
    sink(_rows(spark, [(i, f"n{i}", "false", i) for i in range(20)]), 0)
    target = str(tmp_path / "st")
    at_commit_step("after_link")
    with pytest.raises(RuntimeError, match="injected crash"):
        sink.rescale(8)
    assert _debris(target)  # the 4-partition generations and the temp
    fresh = _sink(spark, tmp_path, n=8)
    assert len(_live(fresh.read_target())) == 20
    with pytest.raises(ValueError, match="n_partitions=8"):
        _sink(spark, tmp_path, n=4).read_target()
    fresh(_rows(spark, [(100, "new", "false", 100)]), 1)
    assert _debris(target) == []
    assert len(_live(fresh.read_target())) == 21


def test_rescale_crash_recovery_restores_old_when_new_incomplete(
    spark, tmp_path, at_commit_step
):
    """Crash after the new layout was written and renamed but before
    its commit: the next open keeps the old layout, and the new
    layout's generations are debris that the next write removes."""
    sink = _sink(spark, tmp_path, n=4)
    sink(_rows(spark, [(i, f"n{i}", "false", i) for i in range(20)]), 0)
    target = str(tmp_path / "st")
    at_commit_step("after_renames")
    with pytest.raises(RuntimeError, match="injected crash"):
        sink.rescale(8)
    assert _debris(target)  # the 8-partition generations and the temp
    fresh = _sink(spark, tmp_path, n=4)
    assert len(_live(fresh.read_target())) == 20
    with pytest.raises(ValueError, match="n_partitions=4"):
        _sink(spark, tmp_path, n=8).read_target()
    fresh(_rows(spark, [(100, "new", "false", 100)]), 1)
    assert _debris(target) == []
    assert len(_live(fresh.read_target())) == 21


# --- SCD2 history retention -------------------------------------------------


def _scd2_batch(spark, recs):
    return spark.createDataFrame(
        recs, "id long, name string, lsn long, op string"
    )


def test_scd2_prune_history_preserves_retained_time_travel(spark, tmp_path):
    """Time travel at or above the watermark must be IDENTICAL before
    and after the prune — the rows dropped are exactly those no
    retained query can see."""
    from sqlserver_pg_cdc_spark.streaming.scd2 import PartitionedScd2Sink

    sink = PartitionedScd2Sink(
        spark, str(tmp_path / "hist"), ["id"], n_partitions=4
    )
    sink(
        _scd2_batch(
            spark,
            [(1, "v1", 10, "c"), (2, "w1", 10, "c"), (3, "x1", 10, "c")],
        ),
        0,
    )
    sink(
        _scd2_batch(
            spark,
            [(1, "v2", 20, "u"), (2, "w2", 20, "u"), (3, None, 20, "d")],
        ),
        1,
    )
    sink(_scd2_batch(spark, [(1, "v3", 30, "u")]), 2)

    def _asof(lsn):
        df = sink.as_of(lsn)
        return {(r["id"], r["name"]) for r in df.collect()}

    before = {lsn: _asof(lsn) for lsn in (20, 25, 30, 35)}
    n_before = sink.history().count()
    res = sink.prune_history(20)
    # versions closed at or before lsn 20: v1 (10->20), w1 (10->20),
    # x1 (10->20)
    assert res["pruned"] == 3
    assert sink.history().count() == n_before - 3
    for lsn in (20, 25, 30, 35):
        assert _asof(lsn) == before[lsn], lsn
    # current view unchanged
    cur = {(r["id"], r["name"]) for r in sink.current().collect()}
    assert cur == {(1, "v3"), (2, "w2")}
    # the delete marker for id 3 (open interval) survives, so a replay
    # of its (key, LSN) stays idempotent
    h = sink.history()
    assert h.filter("id = 3 AND __is_delete").count() == 1


def test_scd2_prune_then_new_versions_rebuild_chains(spark, tmp_path):
    """After a prune, later batches must keep building correct chains
    on the surviving history."""
    from sqlserver_pg_cdc_spark.streaming.scd2 import PartitionedScd2Sink

    sink = PartitionedScd2Sink(
        spark, str(tmp_path / "hist"), ["id"], n_partitions=4
    )
    sink(_scd2_batch(spark, [(1, "a", 10, "c")]), 0)
    sink(_scd2_batch(spark, [(1, "b", 20, "u")]), 1)
    sink.prune_history(20)  # drops the (a, 10->20) version
    sink(_scd2_batch(spark, [(1, "c", 30, "u")]), 2)
    h = sink.history().orderBy("__valid_from_lsn").collect()
    assert [(r["name"], r["__valid_from_lsn"], r["__valid_to_lsn"]) for r in h] == [
        ("b", 20, 30),
        ("c", 30, sink.history().agg({"__valid_to_lsn": "max"}).collect()[0][0]),
    ]
    assert {(r["id"], r["name"]) for r in sink.current().collect()} == {(1, "c")}


def test_scd2_rescale_preserves_history_and_point_lookups(spark, tmp_path):
    from sqlserver_pg_cdc_spark.streaming.scd2 import PartitionedScd2Sink

    sink = PartitionedScd2Sink(
        spark, str(tmp_path / "hist"), ["id"], n_partitions=2
    )
    sink(
        _scd2_batch(spark, [(i, f"v{i}", 10 + i, "c") for i in range(30)]), 0
    )
    sink(
        _scd2_batch(spark, [(i, f"u{i}", 100 + i, "u") for i in range(0, 30, 3)]),
        1,
    )
    before = {
        (r["id"], r["name"], r["__valid_from_lsn"], r["__valid_to_lsn"])
        for r in sink.history().collect()
    }
    sink.rescale(8)
    after = {
        (r["id"], r["name"], r["__valid_from_lsn"], r["__valid_to_lsn"])
        for r in sink.history().collect()
    }
    assert after == before
    # a key's full version chain still lives in one partition
    trail = sink.history_for_keys([3]).orderBy("__valid_from_lsn").collect()
    assert [r["name"] for r in trail] == ["v3", "u3"]
    # further batches apply into the new layout
    sink(_scd2_batch(spark, [(3, "w3", 500, "u")]), 2)
    trail2 = sink.history_for_keys([3]).orderBy("__valid_from_lsn").collect()
    assert [r["name"] for r in trail2] == ["v3", "u3", "w3"]
