"""Continuous-aggregate maintenance: state build/merge/finalize laws —
any batch split finalizes identically to the one-shot aggregate, merge
is associative/commutative, retractions subtract, and a delta refresh
only rescans the delta."""

import pytest
from pyspark.sql import functions as F

from sqlserver_pg_cdc_spark.operators import continuous_agg as CA

KEYS = ["k"]


@pytest.fixture(scope="module")
def frame(spark):
    rows = [(i % 4, float(i) / 8.0 - 3.0) for i in range(200)]
    return spark.createDataFrame(rows, "k int, value double")


def _final(df):
    return {tuple(r)[:1]: tuple(r)[1:] for r in df.collect()}


def test_split_equals_one_shot(spark, frame):
    one_shot = _final(CA.finalize(CA.build_state(frame, KEYS, "value"), KEYS))
    parts = [frame.filter(F.col("value") < -1.0), frame.filter(F.col("value") >= -1.0)]
    states = [CA.build_state(p, KEYS, "value") for p in parts]
    merged = _final(CA.finalize(CA.merge_states(states, KEYS), KEYS))
    assert merged == one_shot


def test_merge_associative_commutative(spark, frame):
    a = CA.build_state(frame.filter("value < -2"), KEYS, "value")
    b = CA.build_state(frame.filter("value >= -2 and value < 0"), KEYS, "value")
    c = CA.build_state(frame.filter("value >= 0"), KEYS, "value")
    left = _final(CA.finalize(CA.merge_states([CA.merge_states([a, b], KEYS), c], KEYS), KEYS))
    right = _final(CA.finalize(CA.merge_states([a, CA.merge_states([c, b], KEYS)], KEYS), KEYS))
    assert left == right


def test_sum_retraction(spark):
    base = spark.createDataFrame([(1, 10.0), (1, 5.0)], "k int, value double")
    state = CA.build_state(base, KEYS, "value")
    # retract the 5.0 row: negative value with count -1 (sum/count only)
    retract = CA.build_state(
        spark.createDataFrame([(1, -5.0)], "k int, value double"), KEYS, "value"
    ).withColumn("__n", F.lit(-1).cast("long"))
    out = CA.finalize(CA.merge_states([state, retract], KEYS), KEYS).collect()[0]
    assert out["n_events"] == 1 and out["total"] == 10.0


def test_new_group_appears_via_merge(spark, frame):
    state = CA.build_state(frame, KEYS, "value")
    delta = CA.build_state(
        spark.createDataFrame([(99, 1.5)], "k int, value double"), KEYS, "value"
    )
    out = _final(CA.finalize(CA.merge_states([state, delta], KEYS), KEYS))
    assert (99,) in out and out[(99,)][0] == 1
    # pre-existing groups untouched
    assert out[(0,)] == _final(CA.finalize(state, KEYS))[(0,)]


# --- streaming sink -------------------------------------------------------


def test_rollup_sink_matches_one_shot(spark, frame, tmp_path):
    from sqlserver_pg_cdc_spark.streaming.rollup import ContinuousAggSink

    sink = ContinuousAggSink(spark, str(tmp_path / "state"), KEYS, "value")
    batches = [
        frame.filter("value < -2"),
        frame.filter("value >= -2 and value < 1"),
        frame.filter("value >= 1"),
    ]
    for i, b in enumerate(batches):
        sink(b, i)
    got = _final(sink.result())
    want = _final(CA.finalize(CA.build_state(frame, KEYS, "value"), KEYS))
    assert got == want


def test_rollup_sink_idempotent_replay(spark, frame, tmp_path):
    from sqlserver_pg_cdc_spark.streaming.rollup import ContinuousAggSink

    sink = ContinuousAggSink(
        spark, str(tmp_path / "state"), KEYS, "value", idempotent=True
    )
    b0 = frame.filter("value < 0")
    b1 = frame.filter("value >= 0")
    sink(b0, 0)
    sink(b1, 1)
    sink(b1, 1)  # at-least-once redelivery: must not double count
    got = _final(sink.result())
    want = _final(CA.finalize(CA.build_state(frame, KEYS, "value"), KEYS))
    assert got == want


def test_rollup_sink_crash_recovery(spark, frame, tmp_path, at_commit_step):
    """Simulate a crash inside the commit of a batch: its new generation
    landed but no version names it — the re-driven batch must merge into
    the prior state rather than restart from empty or double count."""
    from sqlserver_pg_cdc_spark.streaming.rollup import ContinuousAggSink

    state = str(tmp_path / "state")
    sink = ContinuousAggSink(spark, state, KEYS, "value")
    sink(frame.filter("value < 0"), 0)
    at_commit_step("after_renames")  # crash window
    with pytest.raises(RuntimeError, match="injected crash"):
        sink(frame.filter("value >= 0"), 1)
    sink(frame.filter("value >= 0"), 1)
    got = _final(sink.result())
    want = _final(CA.finalize(CA.build_state(frame, KEYS, "value"), KEYS))
    assert got == want


# --- mergeable HLL distinct state ----------------------------------------


def test_hll_state_split_equals_one_shot(spark):
    """Datasketches HLL union is lossless: any batch split of the input
    estimates identically to the one-shot sketch — the property that
    makes approx-distinct incrementally maintainable."""
    rows = [(i % 3, float(i), i % 37) for i in range(500)]
    d = spark.createDataFrame(rows, "k int, value double, uid int")
    one = CA.finalize(CA.build_state(d, KEYS, "value", distinct_col="uid"), KEYS)
    one_m = {r["k"]: r["n_distinct_approx"] for r in one.collect()}
    parts = [d.filter("value < 200"), d.filter("value >= 200")]
    states = [CA.build_state(p, KEYS, "value", distinct_col="uid") for p in parts]
    merged = CA.finalize(CA.merge_states(states, KEYS), KEYS)
    merged_m = {r["k"]: r["n_distinct_approx"] for r in merged.collect()}
    assert merged_m == one_m
    # at this cardinality the sketch is exact-mode: estimates are exact
    assert all(v == 37 for v in one_m.values())


# --- partitioned state sink ----------------------------------------------


def _part_files(state_dir):
    """{partition dir: {file: (size, sha256)}} snapshot."""
    import glob
    import hashlib
    import os

    out = {}
    for pdir in glob.glob(os.path.join(state_dir, "part_[0-9]*")):
        if "__" in os.path.basename(pdir):
            continue
        files = {}
        for fn in sorted(os.listdir(pdir)):
            fp = os.path.join(pdir, fn)
            if os.path.isfile(fp) and not fn.startswith("."):
                with open(fp, "rb") as f:
                    files[fn] = (os.path.getsize(fp), hashlib.sha256(f.read()).hexdigest())
        out[pdir] = files
    return out


def test_partitioned_sink_matches_one_shot(spark, frame, tmp_path):
    from sqlserver_pg_cdc_spark.streaming.rollup import PartitionedContinuousAggSink

    sink = PartitionedContinuousAggSink(
        spark, str(tmp_path / "state"), KEYS, "value", n_partitions=8
    )
    batches = [
        frame.filter("value < -2"),
        frame.filter("value >= -2 and value < 1"),
        frame.filter("value >= 1"),
    ]
    for i, b in enumerate(batches):
        sink(b, i)
    got = _final(sink.result())
    want = _final(CA.finalize(CA.build_state(frame, KEYS, "value"), KEYS))
    assert got == want


def test_partitioned_sink_leaves_untouched_partitions_byte_identical(
    spark, tmp_path
):
    """The whole point: a batch touching one group must not rewrite (or
    even re-open) the other groups' partition files."""
    from sqlserver_pg_cdc_spark.streaming.rollup import PartitionedContinuousAggSink

    # many groups spread over many partitions
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(64)], "k int, value double"
    )
    sink = PartitionedContinuousAggSink(
        spark, str(tmp_path / "state"), KEYS, "value", n_partitions=16
    )
    sink(base, 0)
    before = _part_files(str(tmp_path / "state"))
    assert len(before) > 4  # groups actually spread over partitions
    # batch touching ONLY group k=3
    only3 = spark.createDataFrame([(3, 100.0)], "k int, value double")
    sink(only3, 1)
    after = _part_files(str(tmp_path / "state"))
    changed = [d for d in before if before[d] != after.get(d)]
    assert len(changed) == 1, changed  # exactly the partition holding k=3
    # and the merge is still correct
    want = _final(
        CA.finalize(CA.build_state(base.unionByName(only3), KEYS, "value"), KEYS)
    )
    assert _final(sink.result()) == want


def test_partitioned_sink_idempotent_replay_per_partition(spark, frame, tmp_path):
    from sqlserver_pg_cdc_spark.streaming.rollup import PartitionedContinuousAggSink

    sink = PartitionedContinuousAggSink(
        spark, str(tmp_path / "state"), KEYS, "value", idempotent=True,
        n_partitions=8,
    )
    b0 = frame.filter("value < 0")
    b1 = frame.filter("value >= 0")
    sink(b0, 0)
    sink(b1, 1)
    sink(b1, 1)  # full redelivery: every partition skips
    got = _final(sink.result())
    want = _final(CA.finalize(CA.build_state(frame, KEYS, "value"), KEYS))
    assert got == want


def test_partitioned_sink_partial_crash_recovery(spark, tmp_path, at_commit_step):
    """Crash mid-commit (one partition's new generation renamed, the
    rest not, no version committed): the state still reads as before
    the batch, and with idempotent=True a full batch replay must merge
    the lost batch exactly once — then a second replay of the now
    committed batch rewrites no partition at all."""
    import os

    from sqlserver_pg_cdc_spark.streaming.rollup import PartitionedContinuousAggSink

    state = str(tmp_path / "state")
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(64)], "k int, value double"
    )
    sink = PartitionedContinuousAggSink(
        spark, state, KEYS, "value", idempotent=True, n_partitions=8
    )
    sink(base, 0)
    want_pre = _final(sink.result())
    batch1 = spark.createDataFrame(
        [(i, 1000.0) for i in range(64)], "k int, value double"
    )
    at_commit_step("mid_rename")
    with pytest.raises(RuntimeError, match="injected crash"):
        sink(batch1, 1)
    assert _final(sink.result()) == want_pre
    sink(batch1, 1)  # replay: batch 1 never committed, so it merges
    want = _final(
        CA.finalize(
            CA.build_state(base.unionByName(batch1), KEYS, "value"), KEYS
        )
    )
    assert _final(sink.result()) == want
    # replay of the committed batch: skipped whole, nothing rewritten
    snap = _part_files(state)
    sink(batch1, 1)
    assert _part_files(state) == snap
    assert not [d for d in os.listdir(state) if d.startswith("__batchtmp_")]
    assert _final(sink.result()) == want


def test_partitioned_sink_end_to_end_writestream(spark, tmp_path):
    """Full Structured Streaming path: a JSON file spool read with
    readStream, foreachBatch(PartitionedContinuousAggSink), availableNow
    trigger — the materialized rollup must equal the one-shot aggregate
    over everything spooled."""
    import json as J
    import os

    from sqlserver_pg_cdc_spark.streaming.rollup import PartitionedContinuousAggSink

    spool = tmp_path / "spool"
    os.makedirs(spool)
    rows = [(i % 5, float(i)) for i in range(100)]
    for fname, chunk in (("a.json", rows[:40]), ("b.json", rows[40:])):
        with open(spool / fname, "w") as f:
            for k, v in chunk:
                f.write(J.dumps({"k": k, "value": v}) + "\n")
    sink = PartitionedContinuousAggSink(
        spark, str(tmp_path / "state"), KEYS, "value",
        idempotent=True, n_partitions=8,
    )
    q = (
        spark.readStream.schema("k int, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(spool))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    frame = spark.createDataFrame(rows, "k int, value double")
    want = _final(CA.finalize(CA.build_state(frame, KEYS, "value"), KEYS))
    assert _final(sink.result()) == want


def test_partitioned_sink_rejects_loose_state_dir(spark, frame, tmp_path):
    """Pointing the partitioned sink at an existing NON-partitioned
    state dir must fail fast, not silently ignore the prior state."""
    from sqlserver_pg_cdc_spark.streaming.rollup import PartitionedContinuousAggSink

    state = str(tmp_path / "state")
    CA.build_state(frame.filter("value < 0"), KEYS, "value").write.parquet(state)
    part = PartitionedContinuousAggSink(spark, state, KEYS, "value", n_partitions=8)
    with pytest.raises(ValueError, match="NON-partitioned"):
        part(frame.filter("value >= 0"), 1)
    with pytest.raises(ValueError, match="NON-partitioned"):
        part.read_target()


def test_partitioned_sink_rejects_partition_count_mismatch(spark, frame, tmp_path):
    """Reopening partitioned state with a different n_partitions would
    hash keys into the wrong partition (same key alive in two) — the
    layout marker must make that a hard error on both write and read."""
    from sqlserver_pg_cdc_spark.streaming.rollup import PartitionedContinuousAggSink

    state = str(tmp_path / "state")
    PartitionedContinuousAggSink(spark, state, KEYS, "value", n_partitions=8)(
        frame.filter("value < 0"), 0
    )
    wrong = PartitionedContinuousAggSink(spark, state, KEYS, "value", n_partitions=4)
    with pytest.raises(ValueError, match="n_partitions=8"):
        wrong(frame.filter("value >= 0"), 1)
    with pytest.raises(ValueError, match="n_partitions=8"):
        wrong.read_target()
    # the matching count still opens fine and the state is intact
    ok = PartitionedContinuousAggSink(spark, state, KEYS, "value", n_partitions=8)
    ok(frame.filter("value >= 0"), 1)
    got = _final(ok.result())
    want = _final(CA.finalize(CA.build_state(frame, KEYS, "value"), KEYS))
    assert got == want


def test_partitioned_sink_sweeps_orphan_batchtmp(spark, frame, tmp_path):
    """A crash between the partitionBy write and its cleanup strands a
    __batchtmp_* dir at the state root; the next batch must sweep it
    rather than let orphans accumulate forever (reads never touch the
    directory)."""
    import os

    from sqlserver_pg_cdc_spark.streaming.rollup import PartitionedContinuousAggSink

    state = str(tmp_path / "state")
    sink = PartitionedContinuousAggSink(spark, state, KEYS, "value", n_partitions=8)
    sink(frame.filter("value < 0"), 0)
    orphan = os.path.join(state, "__batchtmp_deadbeef")
    os.makedirs(os.path.join(orphan, "__part=3"))
    with open(os.path.join(orphan, "__part=3", "junk.parquet"), "wb") as f:
        f.write(b"not parquet")
    sink(frame.filter("value >= 0"), 1)
    assert not os.path.exists(orphan)
    got = _final(sink.result())
    want = _final(CA.finalize(CA.build_state(frame, KEYS, "value"), KEYS))
    assert got == want


def test_rollup_cli_refuses_idempotent_without_batch_id(monkeypatch, tmp_path):
    """``rollup --idempotent`` without ``--batch-id`` would give every
    refresh the same id, so each one after the first is skipped as a
    replay and the stale group count printed. The flag combination is
    refused before Spark starts, naming ``--batch-id``."""
    from sqlserver_pg_cdc_spark import cli, session

    def no_spark(*a, **k):
        raise AssertionError("Spark was started")

    monkeypatch.setattr(session, "get_spark", no_spark)
    with pytest.raises(SystemExit, match="--batch-id"):
        cli.main([
            "rollup", "--input", str(tmp_path / "delta"),
            "--state-dir", str(tmp_path / "state"),
            "--key-columns", "k", "--value-col", "value", "--idempotent",
        ])
    assert not (tmp_path / "state").exists()
