"""The state store's manifest commit (`streaming/apply.py`
``HashPartitionedStateMixin``), shared by the upsert, SCD2, rollup and
count-min sketch sinks, flat (one partition) and partitioned alike: a
reader never sees part of a batch, a crash at any commit step followed
by a re-driven batch converges to the clean run's rows, and readers
never modify the state directory."""

import os

import pytest
from pyspark.sql import functions as F

from sqlserver_pg_cdc_spark.streaming.apply import (
    ParquetUpsertSink,
    PartitionedParquetUpsertSink,
    read_manifest,
)

STEPS = ["after_write", "mid_rename", "after_renames", "after_link", "mid_gc"]


def _upsert(spark, d):
    return PartitionedParquetUpsertSink(spark, d, ["id"], n_partitions=8)


def _flat_upsert(spark, d):
    return ParquetUpsertSink(spark, d, ["id"])


def _upsert_batches(spark):
    schema = "id long, name string, lsn long"
    return [
        spark.createDataFrame([(i, f"n{i}", 10 + i) for i in range(40)], schema),
        spark.createDataFrame(
            [(i, f"u{i}", 500 + i) for i in range(0, 40, 3)]
            + [(100 + i, "new", 600 + i) for i in range(5)],
            schema,
        ),
    ]


def _upsert_rows(sink):
    return sorted(tuple(r) for r in sink.read_target().collect())


def _scd2(spark, d):
    from sqlserver_pg_cdc_spark.streaming.scd2 import PartitionedScd2Sink

    return PartitionedScd2Sink(spark, d, ["id"], n_partitions=8)


def _flat_scd2(spark, d):
    from sqlserver_pg_cdc_spark.streaming.scd2 import Scd2ParquetSink

    return Scd2ParquetSink(spark, d, ["id"])


def _scd2_batches(spark):
    schema = "id long, name string, lsn long, op string"
    return [
        spark.createDataFrame(
            [(i, f"n{i}", 10 + i, "c") for i in range(40)], schema
        ),
        spark.createDataFrame(
            [(i, f"u{i}", 500 + i, "u") for i in range(0, 40, 3)]
            + [(i, None, 700 + i, "d") for i in range(1, 40, 7)],
            schema,
        ),
    ]


def _scd2_rows(sink):
    return sorted((tuple(r) for r in sink.history().collect()), key=repr)


def _rollup(spark, d):
    from sqlserver_pg_cdc_spark.streaming.rollup import (
        PartitionedContinuousAggSink,
    )

    return PartitionedContinuousAggSink(
        spark, d, ["k"], "value", idempotent=True, n_partitions=8
    )


def _flat_rollup(spark, d):
    from sqlserver_pg_cdc_spark.streaming.rollup import ContinuousAggSink

    return ContinuousAggSink(spark, d, ["k"], "value", idempotent=True)


def _rollup_batches(spark):
    schema = "k int, value double"
    return [
        spark.createDataFrame([(i % 24, float(i)) for i in range(96)], schema),
        spark.createDataFrame([(i % 24, 1000.0 + i) for i in range(48)], schema),
    ]


def _rollup_rows(sink):
    return sorted(tuple(r) for r in sink.result().collect())


def _cms(spark, d):
    from sqlserver_pg_cdc_spark.streaming.rollup import CmsSink

    return CmsSink(spark, d, "tok", idempotent=True)


def _cms_batches(spark):
    return [
        spark.createDataFrame([(f"t{i % 13}",) for i in range(90)], "tok string"),
        spark.createDataFrame([(f"t{i % 5}",) for i in range(40)], "tok string"),
    ]


def _cms_rows(sink):
    return sorted(tuple(r) for r in sink.read_target().collect())


SINKS = {
    "upsert": (_upsert, _upsert_batches, _upsert_rows),
    "scd2": (_scd2, _scd2_batches, _scd2_rows),
    "rollup": (_rollup, _rollup_batches, _rollup_rows),
    "flat_upsert": (_flat_upsert, _upsert_batches, _upsert_rows),
    "flat_scd2": (_flat_scd2, _scd2_batches, _scd2_rows),
    "flat_rollup": (_flat_rollup, _rollup_batches, _rollup_rows),
    "flat_cms": (_cms, _cms_batches, _cms_rows),
}


def _debris(state_dir):
    live = set(read_manifest(state_dir)["parts"].values())
    return sorted(
        n
        for n in os.listdir(state_dir)
        if n.startswith("__batchtmp_") or (n.startswith("part_") and n not in live)
    )


def _listing(root):
    """Every path under ``root`` with its bytes (None for directories)."""
    out = {}
    for d, dirs, files in os.walk(root):
        out[os.path.relpath(d, root)] = None
        for n in files:
            with open(os.path.join(d, n), "rb") as f:
                out[os.path.relpath(os.path.join(d, n), root)] = f.read()
    return out


@pytest.mark.parametrize("kind", sorted(SINKS))
def test_crash_at_every_commit_step_converges(spark, tmp_path, kind, at_commit_step):
    """A crash at each commit step, then the same batch re-driven, gives
    the rows of a clean run: before the commit point nothing of the
    batch is visible, after it the replay is absorbed (LSN guard,
    (key, LSN) dedup, or the committed batch id of the rollup and sketch
    sinks). The debris is gone after the re-driven batch and at most two
    log entries stay. A flat sink has one partition, so one rename and
    no "mid_rename" step."""
    make, batches, rows = SINKS[kind]
    b0, b1 = batches(spark)
    clean = make(spark, str(tmp_path / "clean"))
    clean(b0, 0)
    pre = rows(clean)
    clean(b1, 1)
    want = rows(clean)
    for step in STEPS:
        d = str(tmp_path / step)
        sink = make(spark, d)
        if sink.n_partitions == 1 and step == "mid_rename":
            continue
        sink(b0, 0)
        at_commit_step(step)
        with pytest.raises(RuntimeError, match="injected crash"):
            sink(b1, 1)
        assert rows(make(spark, d)) == (pre if step in STEPS[:3] else want), step
        sink(b1, 1)  # the re-driven batch
        assert rows(sink) == want, step
        assert _debris(d) == [], step
        assert len(os.listdir(os.path.join(d, "_log"))) <= 2, step


@pytest.mark.parametrize("step", STEPS)
def test_reader_mid_batch_sees_pre_or_post_batch(spark, tmp_path, step, at_commit_step):
    """A second handle reading while a batch is in flight sees exactly
    the pre-batch rows until the version is linked, and exactly the
    post-batch rows from then on — never a mix. Partitioned and flat
    (one partition, no "mid_rename" step) alike."""
    b0, b1 = _upsert_batches(spark)
    for make in (_upsert, _flat_upsert):
        d = str(tmp_path / make.__name__)
        sink = make(spark, d)
        if sink.n_partitions == 1 and step == "mid_rename":
            continue
        sink(b0, 0)
        pre = _upsert_rows(sink)
        reader = make(spark, d)
        seen = []
        at_commit_step(step, lambda: seen.append(_upsert_rows(reader)))
        sink(b1, 1)
        post = _upsert_rows(sink)
        assert pre != post
        assert seen == [pre if step in STEPS[:3] else post], make.__name__


def test_readers_leave_debris_untouched(spark, tmp_path):
    """read_target()/read_keys() (and the snapshot helpers behind them)
    on a state holding crash debris leave the directory byte-for-byte
    unchanged; the next write removes the debris. Partitioned and flat
    alike."""
    b0, b1 = _upsert_batches(spark)
    for make, p in ((_upsert, 3), (_flat_upsert, 0)):
        d = str(tmp_path / make.__name__)
        sink = make(spark, d)
        sink(b0, 0)
        sink(b1, 1)
        os.makedirs(os.path.join(d, "__batchtmp_dead", f"__p={p}"))
        with open(os.path.join(d, "__batchtmp_dead", f"__p={p}", "x.parquet"), "wb") as f:
            f.write(b"junk")
        os.makedirs(os.path.join(d, f"part_{p:05d}.v9-deadbeef"))
        with open(os.path.join(d, f"part_{p:05d}.v9-deadbeef", "x.parquet"), "wb") as f:
            f.write(b"junk")
        with open(os.path.join(d, "_log", "00000000000000000009.json.tmp_dead"), "w") as f:
            f.write("{")
        before = _listing(d)
        reader = make(spark, d)
        want = _upsert_rows(sink)
        assert _upsert_rows(reader) == want
        assert {r["id"] for r in reader.read_keys([3, 101, 999]).collect()} == {3, 101}
        assert reader._existing_parts() and reader._stored_pk_types() == {"id": "bigint"}
        assert _listing(d) == before
        sink(b1.filter(F.col("id") == 3), 2)  # a write collects the debris
        assert _debris(d) == []
        assert not [n for n in os.listdir(os.path.join(d, "_log")) if "tmp" in n]
        assert _upsert_rows(sink) == want


def test_manifest_names_one_generation_per_partition(spark, tmp_path):
    """The committed version lists exactly the live generation
    directories (one per non-empty partition), the schema, the batch id
    and a hash; a commit of an already committed version fails."""
    b0, b1 = _upsert_batches(spark)
    d = str(tmp_path / "st")
    sink = _upsert(spark, d)
    sink(b0, 0)
    sink(b1, 7)
    snap = read_manifest(d)
    assert snap["version"] == 1 and snap["batch_id"] == 7
    assert snap["n_partitions"] == 8
    assert [f["name"] for f in snap["schema"]["fields"]] == ["id", "name", "lsn"]
    gens = sorted(n for n in os.listdir(d) if n.startswith("part_"))
    assert gens == sorted(snap["parts"].values())
    assert all(g.startswith(f"part_{int(p):05d}.") for p, g in snap["parts"].items())
    stale = dict(snap, version=0)  # a writer still holding version 0
    with pytest.raises(RuntimeError, match="another writer"):
        sink._commit(stale, None, [])
    assert read_manifest(d) == snap


def test_legacy_layout_without_log_fails_fast(spark, tmp_path):
    """A state from before the manifest format (partition directories
    and a layout marker, no _log/) is refused with a rebuild hint."""
    import json

    d = str(tmp_path / "legacy")
    spark.createDataFrame([(1, "a", 1)], "id long, name string, lsn long").write.parquet(
        os.path.join(d, "part_00000")
    )
    with open(os.path.join(d, "__layout.json"), "w") as f:
        json.dump({"n_partitions": 8}, f)
    with pytest.raises(ValueError, match="rebuild"):
        _upsert(spark, d).read_target()
