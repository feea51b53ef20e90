"""Sink-level schema evolution (reference auto.evolve=true,
docker/configs/kafka-connect/postgresql-sink.json:29; supported-changes
matrix docs/guides-schema-evolution.md:499-508; live additive-DDL test
tests/integration/test_schema_evolution.py:187).

A CDC batch that GAINS a column mid-stream must widen the state (old
rows read NULL in the new column); an old-shape batch against evolved
state must still apply (its rows read NULL); an incompatible TYPE
change must land in the DLQ, never half-apply. Covered for the flat
upsert sink, the hash-partitioned sink (including pre-evolution
partitions staying readable via mergeSchema), and the SCD2 history
(flat apply + partitioned sink)."""

import os

import pytest
from pyspark.sql import functions as F

from sqlserver_pg_cdc_spark.streaming.apply import read_manifest


def _b(spark, recs, schema):
    return spark.createDataFrame(recs, schema)


def _fields(manifest):
    """{column: JSON type} of a committed manifest's schema."""
    return {f["name"]: f["type"] for f in manifest["schema"]["fields"]}


def _latest_version_path(state_dir):
    log = os.path.join(state_dir, "_log")
    return os.path.join(log, max(n for n in os.listdir(log) if n.endswith(".json")))


OLD = "id long, name string, lsn long"
NEW = "id long, name string, email string, lsn long"


def test_flat_upsert_additive_evolution(spark, tmp_path):
    from sqlserver_pg_cdc_spark.streaming.apply import ParquetUpsertSink

    sink = ParquetUpsertSink(spark, str(tmp_path / "t"), ["id"])
    sink(_b(spark, [(1, "a", 1), (2, "b", 1)], OLD), 0)
    # mid-stream ADD COLUMN: new shape upserts key 2, inserts key 3
    sink(_b(spark, [(2, "b2", "b@x.com", 2), (3, "c", "c@x.com", 2)], NEW), 1)
    st = {r["id"]: (r["name"], r["email"]) for r in sink.read_target().collect()}
    assert st == {1: ("a", None), 2: ("b2", "b@x.com"), 3: ("c", "c@x.com")}
    # old-shape producer still applies against the evolved state
    sink(_b(spark, [(3, "c3", 3)], OLD), 2)
    st = {r["id"]: (r["name"], r["email"]) for r in sink.read_target().collect()}
    assert st[3] == ("c3", None)


def test_flat_upsert_type_change_goes_to_dlq(spark, tmp_path):
    from sqlserver_pg_cdc_spark.streaming.apply import ParquetUpsertSink

    dlq = str(tmp_path / "dlq")
    sink = ParquetUpsertSink(spark, str(tmp_path / "t"), ["id"], dlq_dir=dlq)
    sink(_b(spark, [(1, "a", 1)], OLD), 0)
    bad = _b(spark, [(2, 99.5, 2)], "id long, name double, lsn long")
    sink(bad, 1)  # must not raise: St10 routes the batch out
    assert spark.read.parquet(dlq).count() == 1
    row = spark.read.parquet(dlq).first()
    assert row["__error_class"] == "ValueError"
    assert "type" in row["__error_message"]
    # state untouched
    st = {r["id"]: r["name"] for r in sink.read_target().collect()}
    assert st == {1: "a"}


def test_partitioned_upsert_additive_evolution(spark, tmp_path):
    """The partitioned sink rewrites only TOUCHED partitions: after an
    evolving batch, untouched partitions keep the old footer schema and
    the merged read must still surface the new column (NULL there)."""
    from sqlserver_pg_cdc_spark.streaming.apply import (
        PartitionedParquetUpsertSink,
    )

    sink = PartitionedParquetUpsertSink(
        spark, str(tmp_path / "p"), ["id"], n_partitions=8
    )
    sink(_b(spark, [(i, f"n{i}", 1) for i in range(40)], OLD), 0)
    # evolved batch touches a FEW keys (=> few partitions)
    sink(_b(spark, [(3, "n3e", "e3@x.com", 2)], NEW), 1)
    st = sink.read_target()
    assert "email" in st.columns  # mergeSchema across mixed partitions
    got = {r["id"]: (r["name"], r["email"]) for r in st.collect()}
    assert got[3] == ("n3e", "e3@x.com")
    assert got[7] == ("n7", None)  # pre-evolution partition readable
    assert len(got) == 40
    # point lookup through mixed-schema partitions
    pl = {r["id"]: r["name"] for r in sink.read_keys([3, 7]).collect()}
    assert pl == {3: "n3e", 7: "n7"}
    # the committed manifest carries the active schema + a version
    meta = read_manifest(str(tmp_path / "p"))
    assert _fields(meta)["email"] == "string"
    assert meta["version"] >= 1


def test_schema_stamp_hash_guard(spark, tmp_path):
    """r8 verdict #8: the manifest's schema is a guarded identity —
    every version carries a sha256 over its body; an evolved state
    reopened by a fresh sink validates, and a tampered manifest fails
    fast at open."""
    import json

    from sqlserver_pg_cdc_spark.streaming.apply import (
        PartitionedParquetUpsertSink,
        _manifest_sha,
    )

    target = str(tmp_path / "g")
    sink = PartitionedParquetUpsertSink(spark, target, ["id"], n_partitions=4)
    sink(_b(spark, [(i, f"n{i}", 1) for i in range(10)], OLD), 0)
    sink(_b(spark, [(3, "n3e", "e3@x.com", 2)], NEW), 1)  # evolution event
    meta = read_manifest(target)
    assert meta["sha256"] == _manifest_sha(meta)
    # a fresh sink adopting the evolved state validates cleanly
    fresh = PartitionedParquetUpsertSink(spark, target, ["id"], n_partitions=4)
    assert fresh.read_target().count() == 10
    # rescale carries the schema into the new layout, under a valid hash
    fresh.rescale(8)
    meta2 = read_manifest(target)
    assert meta2["schema"] == meta["schema"]
    assert meta2["sha256"] == _manifest_sha(meta2)
    assert fresh.read_target().count() == 10
    # tampering the schema without re-hashing fails fast at open
    assert "email" in _fields(meta2)
    for f in meta2["schema"]["fields"]:
        if f["name"] == "email":
            f["type"] = "integer"
    with open(_latest_version_path(target), "w") as f:
        json.dump(meta2, f)
    with pytest.raises(ValueError, match="tampered"):
        PartitionedParquetUpsertSink(
            spark, target, ["id"], n_partitions=8
        ).read_target()


def test_partitioned_upsert_type_change_goes_to_dlq(spark, tmp_path):
    from sqlserver_pg_cdc_spark.streaming.apply import (
        PartitionedParquetUpsertSink,
    )

    dlq = str(tmp_path / "dlq")
    sink = PartitionedParquetUpsertSink(
        spark, str(tmp_path / "p"), ["id"], n_partitions=8, dlq_dir=dlq
    )
    sink(_b(spark, [(1, "a", 1)], OLD), 0)
    sink(_b(spark, [(1, 1.5, 2)], "id long, name double, lsn long"), 1)
    assert spark.read.parquet(dlq).count() == 1
    st = {r["id"]: r["name"] for r in sink.read_target().collect()}
    assert st == {1: "a"}


def test_scd2_apply_additive_evolution(spark):
    from sqlserver_pg_cdc_spark.streaming.scd2 import scd2_apply

    b0 = _b(spark, [(1, "a", 1, "c"), (2, "b", 1, "c")],
            "id long, name string, lsn long, op string")
    hist = scd2_apply(None, b0, ["id"])
    b1 = _b(spark, [(1, "a2", "a@x.com", 2, "u")],
            "id long, name string, email string, lsn long, op string")
    hist = scd2_apply(hist, b1, ["id"])
    assert "email" in hist.columns
    rows = {(r["id"], r["__lsn"]): (r["name"], r["email"], r["__active"])
            for r in hist.collect()}
    assert rows[(1, 1)] == ("a", None, False)      # closed pre-DDL version
    assert rows[(1, 2)] == ("a2", "a@x.com", True)
    assert rows[(2, 1)] == ("b", None, True)
    # old-shape batch against evolved history
    b2 = _b(spark, [(2, "b3", 3, "u")], "id long, name string, lsn long, op string")
    hist = scd2_apply(hist, b2, ["id"])
    rows = {(r["id"], r["__lsn"]): (r["name"], r["email"], r["__active"])
            for r in hist.collect()}
    assert rows[(2, 3)] == ("b3", None, True)
    assert rows[(2, 1)][2] is False


def test_scd2_apply_type_change_raises(spark):
    from sqlserver_pg_cdc_spark.streaming.scd2 import scd2_apply

    hist = scd2_apply(
        None,
        _b(spark, [(1, "a", 1, "c")], "id long, name string, lsn long, op string"),
        ["id"],
    )
    bad = _b(spark, [(1, 9.9, 2, "u")], "id long, name double, lsn long, op string")
    with pytest.raises(ValueError, match="type"):
        scd2_apply(hist, bad, ["id"])


def test_partitioned_scd2_sink_evolution_and_dlq(spark, tmp_path):
    from sqlserver_pg_cdc_spark.streaming.scd2 import PartitionedScd2Sink

    dlq = str(tmp_path / "dlq")
    sink = PartitionedScd2Sink(
        spark, str(tmp_path / "h"), ["id"], lsn_col="lsn", op_col="op",
        dlq_dir=dlq, n_partitions=8,
    )
    sink(_b(spark, [(i, f"n{i}", 1, "c") for i in range(20)],
            "id long, name string, lsn long, op string"), 0)
    sink(_b(spark, [(5, "n5e", "e5@x.com", 2, "u")],
            "id long, name string, email string, lsn long, op string"), 1)
    hist = sink.history()
    assert "email" in hist.columns
    active = {r["id"]: (r["name"], r["email"])
              for r in hist.filter(F.col("__active")).collect()}
    assert active[5] == ("n5e", "e5@x.com")
    assert active[7] == ("n7", None)  # pre-evolution partition readable
    assert len(active) == 20
    # versioned trail for the evolved key survives partition pruning
    trail = sink.history_for_keys([5])
    assert trail.count() == 2
    # incompatible change -> DLQ, history untouched
    sink(_b(spark, [(5, 1.25, 3, "u")], "id long, name double, lsn long, op string"), 2)
    assert spark.read.parquet(dlq).count() == 1
    assert sink.history().filter(F.col("id") == 5).count() == 2


def test_pipeline_dlq_on_mid_stream_type_change(spark, tmp_path):
    """End-to-end: flat sink inside foreachBatch-style calls — an
    additive batch evolves, then a type-changed batch routes to the DLQ
    while later good batches keep applying (stream does not die)."""
    from sqlserver_pg_cdc_spark.streaming.apply import ParquetUpsertSink

    dlq = str(tmp_path / "dlq")
    sink = ParquetUpsertSink(spark, str(tmp_path / "t"), ["id"], dlq_dir=dlq)
    sink(_b(spark, [(1, "a", 1)], OLD), 0)
    sink(_b(spark, [(2, "b", "b@x.com", 2)], NEW), 1)
    sink(_b(spark, [(3, 0.5, 3)], "id long, name double, lsn long"), 2)
    sink(_b(spark, [(4, "d", "d@x.com", 4)], NEW), 3)
    st = {r["id"]: (r["name"], r["email"]) for r in sink.read_target().collect()}
    assert st == {1: ("a", None), 2: ("b", "b@x.com"), 4: ("d", "d@x.com")}
    assert spark.read.parquet(dlq).count() == 1


def test_partitioned_stamp_unions_across_partial_evolution(spark, tmp_path):
    """The manifest's schema must UNION each write's post-merge schema,
    never overwrite: a post-evolution batch that touches only
    pre-evolution partitions carries the narrow schema, and an
    overwritten schema would shrink below what evolved partitions hold
    on disk — the footer-free explicit-schema read would then silently
    drop the evolved column for the whole state."""
    from sqlserver_pg_cdc_spark.streaming.apply import (
        PartitionedParquetUpsertSink,
    )

    target = str(tmp_path / "t")
    sink = PartitionedParquetUpsertSink(spark, target, ["id"], n_partitions=4)
    # seed keys across all partitions, old shape
    sink(_b(spark, [(k, f"n{k}", 1) for k in range(16)], OLD), 0)
    # evolution batch: ONLY key 1 gains the email column
    sink(_b(spark, [(1, "n1b", "one@x.com", 2)], NEW), 1)
    # pick a key living in a DIFFERENT partition than key 1 and upsert
    # it old-shape: its merge never sees the email column
    parts = {
        r["id"]: r["p"]
        for r in spark.range(16)
        .select(
            F.col("id"),
            F.pmod(F.xxhash64(F.col("id")), F.lit(4)).cast("int").alias("p"),
        )
        .collect()
    }
    other = next(k for k in range(2, 16) if parts[k] != parts[1])
    sink(_b(spark, [(other, "narrow", 3)], OLD), 2)
    # the evolved column is retained despite the narrow last write
    assert "email" in _fields(read_manifest(target))
    # footer-free read surfaces the evolved column with the evolved
    # value, NULL elsewhere — byte-identical to a mergeSchema read
    st = {r["id"]: (r["name"], r["email"]) for r in sink.read_target().collect()}
    assert st[1] == ("n1b", "one@x.com")
    assert st[other] == ("narrow", None)
    merged = spark.read.option("mergeSchema", "true").parquet(
        *[
            os.path.join(target, d)
            for d in os.listdir(target)
            if d.startswith("part_") and "__" not in d
        ]
    )
    got = sink.read_target()
    assert sorted(got.columns) == sorted(merged.columns)
    cols = sorted(got.columns)
    assert (
        got.select(*cols).exceptAll(merged.select(*cols)).count() == 0
        and merged.select(*cols).exceptAll(got.select(*cols)).count() == 0
    )


def test_stored_pk_types_ignores_unverified_stamp(spark, tmp_path):
    """round-12 ADVICE: `_stored_pk_types` must trust the manifest's
    schema only when its sha256 covers it — probe paths
    (`_cast_keys_to_stored`) feed it into the xxhash64 partition
    routing, so a hand-edited type would cause silent lookup misses.
    The unverified manifest is refused outright."""
    import json

    from sqlserver_pg_cdc_spark.streaming.apply import (
        PartitionedParquetUpsertSink,
    )

    target = str(tmp_path / "t")
    sink = PartitionedParquetUpsertSink(spark, target, ["id"], n_partitions=4)
    sink(_b(spark, [(i, f"n{i}", 1) for i in range(8)], OLD), 0)
    assert sink._stored_pk_types() == {"id": "bigint"}
    meta = read_manifest(target)
    # tamper the committed pk type without re-hashing
    for f in meta["schema"]["fields"]:
        if f["name"] == "id":
            f["type"] = "integer"
    with open(_latest_version_path(target), "w") as f:
        json.dump(meta, f)
    # the unverified type never reaches the routing
    with pytest.raises(ValueError, match="tampered"):
        sink._stored_pk_types()
    with pytest.raises(ValueError, match="tampered"):
        sink.read_keys([1])
