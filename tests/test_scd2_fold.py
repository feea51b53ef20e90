"""The SCD2 apply is one window pair over stored ∪ batch
(`streaming/scd2.py` ``scd2_apply``): through the function, through the
hash-partitioned sink and through the executed DuckDB twin
(`sources/jdbc.py` ``DbApiScd2Sink``) it must equal a pure-Python
recompute of the version chains of every change applied so far, and a
partitioned batch must run a bounded number of Spark jobs."""

import uuid

import duckdb
import pytest

from sqlserver_pg_cdc_spark.sources.jdbc import DbApiScd2Sink
from sqlserver_pg_cdc_spark.streaming.scd2 import (
    OPEN_LSN,
    PartitionedScd2Sink,
    scd2_apply,
)

AB = "a long, b string, v string, lsn long, op string"
ABX = "a long, b string, v string, lsn long, op string, x string"

# (pk columns, [(schema, rows), ...]): the batches of one case, in
# order. A duplicate (key, LSN) within a batch is an identical row (a
# transport re-delivery).
CASES = {
    "null_and_composite_keys": (
        ["a", "b"],
        [
            (AB, [(1, "x", "v1", 1, "c"), (1, None, "v2", 2, "c"),
                  (None, "x", "v3", 3, "c"), (None, None, "v4", 4, "c")]),
            (AB, [(1, None, "w2", 9, "u"), (None, None, "w4", 8, "u"),
                  (None, None, "w5", 7, "u"), (None, "x", None, 5, "d")]),
        ],
    ),
    "null_lsn": (
        ["a"],
        [
            (AB, [(1, "k", "s1", None, "c"), (2, "k", "s2", 5, "c")]),
            (AB, [(1, "k", "s1", None, "c"), (2, "k", "s2", 5, "c")]),
            (AB, [(1, "k", "t1", 4, "u"), (2, "k", "t2", None, "u"),
                  (3, "k", "t3", None, "c")]),
            (AB, [(1, "k", "s1", None, "c"), (3, "k", "t3", None, "c")]),
        ],
    ),
    "duplicate_within_a_batch": (
        ["a"],
        [
            (AB, [(1, "k", "a", 1, "c"), (1, "k", "a", 1, "c"),
                  (1, "k", "a2", 3, "u"), (2, "k", "b", 2, "c"),
                  (2, "k", "b", 2, "c")]),
            (AB, [(2, "k", "b3", 6, "u"), (2, "k", "b3", 6, "u"),
                  (1, "k", "a2", 3, "u")]),
        ],
    ),
    "replay_of_a_committed_batch": (
        ["a"],
        [
            (AB, [(i, "k", f"s{i}", 10, "c") for i in range(12)]),
            (AB, [(i, "k", f"u{i}", 20 + i, "u") for i in range(0, 12, 2)]
             + [(i, "k", None, 40 + i, "d") for i in range(1, 12, 4)]),
            (AB, [(i, "k", f"u{i}", 20 + i, "u") for i in range(0, 12, 2)]
             + [(i, "k", None, 40 + i, "d") for i in range(1, 12, 4)]),
        ],
    ),
    "late_middle_version": (
        ["a"],
        [
            (AB, [(1, "k", "v1", 10, "c"), (2, "k", "w1", 10, "c")]),
            (AB, [(1, "k", "v3", 30, "u")]),
            (AB, [(1, "k", "v2", 20, "u"), (2, "k", "w0", 5, "c")]),
        ],
    ),
    "delete_then_reinsert": (
        ["a"],
        [
            (AB, [(1, "k", "v1", 1, "c"), (2, "k", "w1", 1, "c"),
                  (2, "k", None, 2, "d"), (2, "k", "w3", 3, "c")]),
            (AB, [(1, "k", None, 4, "d")]),
            (AB, [(1, "k", "v5", 5, "c")]),
        ],
    ),
    "additive_evolution_both_ways": (
        ["a"],
        [
            (AB, [(1, "k", "s1", 1, "c"), (2, "k", "s2", 1, "c"),
                  (3, "k", "s3", 1, "c")]),
            (ABX, [(1, "k", "g1", 2, "u", "x1"), (4, "k", "g4", 2, "c", "x4")]),
            (AB, [(2, "k", "h2", 3, "u"), (4, "k", "h4", 3, "u")]),
        ],
    ),
}

CHAIN = ["__lsn", "__is_delete", "__valid_from_lsn", "__valid_to_lsn", "__active"]


def _names(schema):
    return [c.split()[0] for c in schema.split(", ")]


def _expected(pk, batches):
    """Every version of every key: the first copy of a (key, LSN) is
    kept (NULL is one LSN value), each version closes at the next LSN of
    its key (a NULL LSN sorts first) or stays open, and it is active
    when open and not a delete. Columns a batch lacks read NULL."""
    widest = max((s for s, _ in batches), key=len)
    biz = [n for n in _names(widest) if n not in ("lsn", "op")]
    versions = {}
    for schema, rows in batches:
        for r in rows:
            row = dict(zip(_names(schema), r))
            key = tuple(row[c] for c in pk)
            versions.setdefault((key, row["lsn"]), (
                tuple(row.get(n) for n in biz), row["op"] == "d"
            ))
    chains = {}
    for (key, lsn), v in versions.items():
        chains.setdefault(key, []).append((lsn, v))
    out = []
    for chain in chains.values():
        chain.sort(key=lambda t: (t[0] is not None, t[0] or 0))
        for i, (lsn, (vals, is_del)) in enumerate(chain):
            to = chain[i + 1][0] if i + 1 < len(chain) else OPEN_LSN
            out.append((*vals, lsn, is_del, lsn, to, to == OPEN_LSN and not is_del))
    return biz + CHAIN, sorted(out, key=repr)


def _rows(df, names):
    return sorted((tuple(r[n] for n in names) for r in df.collect()), key=repr)


@pytest.mark.parametrize("case", sorted(CASES))
def test_scd2_apply_equals_version_recompute(spark, case):
    pk, batches = CASES[case]
    hist = None
    for schema, rows in batches:
        hist = scd2_apply(hist, spark.createDataFrame(rows, schema), pk)
    names, want = _expected(pk, batches)
    assert _rows(hist, names) == want


@pytest.mark.parametrize("case", sorted(CASES))
def test_partitioned_sink_equals_version_recompute(spark, tmp_path, case):
    pk, batches = CASES[case]
    sink = PartitionedScd2Sink(spark, str(tmp_path / "h"), pk, n_partitions=8)
    for i, (schema, rows) in enumerate(batches):
        sink(spark.createDataFrame(rows, schema), i)
    names, want = _expected(pk, batches)
    assert _rows(sink.history(), names) == want


@pytest.mark.parametrize("case", sorted(CASES))
def test_dbapi_sink_equals_version_recompute(spark, tmp_path, case):
    """The history table is created with the widest batch schema (its
    DDL is the caller's; the sink evolves no table), so a batch that
    gains a column and one that lacks it both apply."""
    pk, batches = CASES[case]
    names, want = _expected(pk, batches)
    sql_type = {"long": "BIGINT", "string": "VARCHAR"}
    widest = max((s for s, _ in batches), key=len)
    cols = [c.split() for c in widest.split(", ") if c.split()[0] not in ("lsn", "op")]
    db = str(tmp_path / "t.db")
    con = duckdb.connect(db)
    con.execute(
        "CREATE TABLE hist ("
        + ", ".join(f"{n} {sql_type[t]}" for n, t in cols)
        + ", __lsn BIGINT, __is_delete BOOLEAN, __valid_from_lsn BIGINT,"
        " __valid_to_lsn BIGINT, __active BOOLEAN)"
    )
    con.close()
    sink = DbApiScd2Sink(lambda: duckdb.connect(db), "hist", pk)
    for i, (schema, rows) in enumerate(batches):
        sink(spark.createDataFrame(rows, schema), i)
    con = duckdb.connect(db)
    got = con.execute(f"SELECT {', '.join(names)} FROM hist").fetchall()
    con.close()
    assert sorted((tuple(r) for r in got), key=repr) == want


def test_scd2_batch_job_count(spark, tmp_path):
    """A batch into an existing history runs the touched-partition
    collect (its shuffle map stage and result) and the apply-and-write
    (the windows' exchange and the write): four jobs. The semi, anti
    and replay joins, the key window and the commit's own repartition
    ran eight or more."""
    sink = PartitionedScd2Sink(spark, str(tmp_path / "h"), ["a"], n_partitions=8)
    sink(spark.createDataFrame([(i, "k", f"s{i}", 1, "c") for i in range(200)], AB), 0)
    batch = spark.createDataFrame(
        [(i, "k", f"u{i}", 2 + i % 3, "u") for i in range(0, 300, 2)], AB
    )
    sc = spark.sparkContext
    group = f"scd2-fold-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "scd2 batch job count")
    try:
        sink(batch, 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 4, jobs
    assert sink.history().count() == 350
