"""The upsert merge is one window over stored ∪ batch
(`streaming/apply.py` ``merge_upsert``): through the function and
through the hash-partitioned sink it must equal the relational
latest-per-key recompute of every change applied so far, run a bounded
number of Spark jobs per batch, and leave one file per touched
partition."""

import os
import uuid

import pytest

from sqlserver_pg_cdc_spark.streaming.apply import (
    PartitionedParquetUpsertSink,
    merge_upsert,
    read_manifest,
)

AB = "a long, b string, v string, lsn long"
ABX = "a long, b string, v string, lsn long, x string"

# (pk columns, [(schema, rows), ...]): the batches of one case, in
# order. LSNs are distinct within a key inside one batch; ties across
# batches are intended (the later batch wins).
CASES = {
    "null_and_composite_keys": (
        ["a", "b"],
        [
            (AB, [(1, "x", "v1", 1), (1, None, "v2", 2), (None, "x", "v3", 3),
                  (None, None, "v4", 4)]),
            (AB, [(1, None, "w2", 9), (None, None, "w4", 8), (None, None, "w5", 7),
                  (None, "x", "stale", 1)]),
        ],
    ),
    "null_lsn_either_side": (
        ["a"],
        [
            (AB, [(1, "k", "s1", None), (2, "k", "s2", 5), (3, "k", "s3", None)]),
            (AB, [(1, "k", "b1", 4), (2, "k", "b2", None), (3, "k", "b3", None)]),
            (AB, [(3, "k", "c3", None)]),
        ],
    ),
    "equal_lsn_tie_batch_wins": (
        ["a"],
        [
            (AB, [(1, "k", "old", 5), (2, "k", "keep", 5)]),
            (AB, [(1, "k", "new", 5), (2, "k", "older", 4)]),
        ],
    ),
    "duplicates_within_a_batch": (
        ["a"],
        [
            (AB, [(1, "k", "a1", 1), (1, "k", "a3", 3), (1, "k", "a2", 2),
                  (2, "k", "b1", 7), (2, "k", "b0", None)]),
            (AB, [(1, "k", "c4", 4), (1, "k", "c2", 2), (2, "k", "d6", 6),
                  (3, "k", "e1", 1), (3, "k", "e9", 9)]),
        ],
    ),
    "replay_of_a_committed_batch": (
        ["a"],
        [
            (AB, [(i, "k", f"s{i}", 10) for i in range(12)]),
            (AB, [(i, "k", f"u{i}", 20 + i) for i in range(0, 12, 2)]),
            (AB, [(i, "k", f"u{i}", 20 + i) for i in range(0, 12, 2)]),
        ],
    ),
    "additive_evolution_both_ways": (
        ["a"],
        [
            (AB, [(1, "k", "s1", 1), (2, "k", "s2", 1), (3, "k", "s3", 1)]),
            (ABX, [(1, "k", "g1", 2, "x1"), (4, "k", "g4", 2, "x4")]),
            (AB, [(2, "k", "h2", 3), (4, "k", "h4", 3)]),
        ],
    ),
}


def _expected(pk, batches):
    """Latest per key over every batch: the highest LSN wins, a NULL
    LSN loses to any LSN, and an equal LSN goes to the later batch.
    Columns a batch lacks read NULL."""
    cols = max((s for s, _ in batches), key=len)
    names = [c.split()[0] for c in cols.split(", ")]
    best = {}
    for i, (schema, rows) in enumerate(batches):
        have = [c.split()[0] for c in schema.split(", ")]
        for r in rows:
            row = dict(zip(have, r))
            full = tuple(row.get(n) for n in names)
            key = tuple(row[c] for c in pk)
            rank = (row["lsn"] is not None, row["lsn"] or 0, i)
            if key not in best or rank > best[key][0]:
                best[key] = (rank, full)
    return names, sorted((v for _, v in best.values()), key=repr)


def _rows(df, names):
    return sorted((tuple(r[n] for n in names) for r in df.collect()), key=repr)


@pytest.mark.parametrize("case", sorted(CASES))
def test_merge_upsert_equals_latest_per_key_recompute(spark, case):
    pk, batches = CASES[case]
    state = None
    for schema, rows in batches:
        state = merge_upsert(state, spark.createDataFrame(rows, schema), pk)
    names, want = _expected(pk, batches)
    assert _rows(state, names) == want


@pytest.mark.parametrize("case", sorted(CASES))
def test_partitioned_sink_equals_latest_per_key_recompute(spark, tmp_path, case):
    pk, batches = CASES[case]
    sink = PartitionedParquetUpsertSink(spark, str(tmp_path / "st"), pk, n_partitions=8)
    for i, (schema, rows) in enumerate(batches):
        sink(spark.createDataFrame(rows, schema), i)
    names, want = _expected(pk, batches)
    assert _rows(sink.read_target(), names) == want


def _jobs_of(spark, fn):
    sc = spark.sparkContext
    group = f"upsert-fold-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "upsert batch job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_upsert_batch_job_count(spark, tmp_path):
    """A batch into an existing state runs the touched-partition collect
    (its shuffle map stage and result) and the merge-and-write (the
    window's exchange and the write): four jobs. Three separate
    shuffles (dedupe window, two key joins) and the commit's own
    repartition ran seven."""
    sink = PartitionedParquetUpsertSink(spark, str(tmp_path / "st"), ["a"], n_partitions=8)
    sink(spark.createDataFrame([(i, "k", f"s{i}", 1) for i in range(200)], AB), 0)
    batch = spark.createDataFrame(
        [(i, "k", f"u{i}", 2 + i % 3) for i in range(0, 300, 2)], AB
    )
    jobs = _jobs_of(spark, lambda: sink(batch, 1))
    assert 0 < len(jobs) <= 4, jobs
    assert sink.read_target().count() == 250


def test_batch_touching_more_partitions_than_cores_writes_one_file_each(
    spark, tmp_path
):
    """The write runs one task per core, not one per partition; a
    partition id still hashes to one task, so each touched partition's
    new generation holds exactly one parquet file."""
    cores = spark.sparkContext.defaultParallelism
    n = 2 * cores + 3
    d = str(tmp_path / "st")
    sink = PartitionedParquetUpsertSink(spark, d, ["a"], n_partitions=n)
    sink(spark.createDataFrame([(i, "k", "s", 1) for i in range(20 * n)], AB), 0)
    sink(spark.createDataFrame([(i, "k", "u", 2) for i in range(0, 20 * n, 3)], AB), 1)
    snap = read_manifest(d)
    fresh = [g for g in snap["parts"].values() if f".v{snap['version']}-" in g]
    assert len(fresh) > cores
    for g in fresh:
        names = [f for f in os.listdir(os.path.join(d, g)) if f.endswith(".parquet")]
        assert len(names) == 1, (g, names)
