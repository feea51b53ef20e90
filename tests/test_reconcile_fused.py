"""The one-query audit behind ``reconcile_table`` answers exactly what the
separate operators answer: ``df.count()``, ``table_checksum`` and
``diff_tables`` grouped by ``diff_type`` — on duplicate and NULL PKs,
tolerance edges, projections and awkward column names — and it does so
in a bounded number of Spark jobs."""

import uuid

import pytest

from sqlserver_pg_cdc_spark.operators.checksum import table_checksum
from sqlserver_pg_cdc_spark.operators.diff import diff_tables
from sqlserver_pg_cdc_spark.runner import reconcile_table

SCHEMA = "id int, v string, f double"


def _separate(src, tgt, pk, cols):
    diff = diff_tables(src, tgt, pk, cols)
    counts = {r[0]: r[1] for r in diff.groupBy("diff_type").count().collect()}
    return {
        "source_count": src.count(),
        "target_count": tgt.count(),
        "source_checksum": table_checksum(src, cols).collect()[0]["checksum"],
        "target_checksum": table_checksum(tgt, cols).collect()[0]["checksum"],
        "row_level": {
            "missing": counts.get("MISSING", 0),
            "extra": counts.get("EXTRA", 0),
            "modified": counts.get("MODIFIED", 0),
        },
    }


def _fused(src, tgt, pk, cols):
    res = reconcile_table(
        src, tgt, "t", pk_cols=pk, validate_checksums=True, row_level=True, compare_cols=cols
    )
    return {k: res[k] for k in ("source_count", "target_count", "source_checksum",
                                "target_checksum", "row_level")}


BASE = [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]

CASES = {
    # (source rows, target rows, schema, pk, compare_cols)
    "duplicate_pk_source": (
        BASE + [(2, "b", 2.0), (2, "x", 2.0)], BASE + [(4, "d", 4.0)], SCHEMA, ["id"], None),
    "duplicate_pk_target": (
        BASE, BASE + [(3, "c", 3.0), (3, "z", 3.0), (3, "c", 3.5)], SCHEMA, ["id"], None),
    "duplicate_pk_both_sides": (
        BASE + [(2, "b", 2.0), (2, "y", 2.0)], BASE + [(2, "b", 2.0), (2, "q", 9.0)],
        SCHEMA, ["id"], None),
    "null_pk": (
        BASE + [(None, "n", 0.0), (None, "m", 0.0)], BASE + [(None, "n", 0.0)],
        SCHEMA, ["id"], None),
    "float_tolerance": (
        BASE + [(4, "d", 4.0), (5, "e", 5.0)],
        BASE + [(4, "d", 4.0 + 1e-12), (5, "e", 5.0 + 1e-6)], SCHEMA, ["id"], None),
    "whitespace_and_null": (
        BASE + [(4, " d ", 4.0), (5, None, 5.0), (6, None, None)],
        BASE + [(4, "d", 4.0), (5, "e", 5.0), (6, None, None)], SCHEMA, ["id"], None),
    "compare_cols_without_pk": (
        BASE + [(4, "d", 4.0)], BASE[:2] + [(3, "c", 7.0), (4, "x", 4.0)],
        SCHEMA, ["id"], ["v"]),
    "empty_source": ([], BASE, SCHEMA, ["id"], None),
    "empty_target": (BASE, [], SCHEMA, ["id"], None),
    "composite_pk": (
        [(1, 1, "a"), (1, 2, "b"), (2, 1, "c"), (2, 2, "d")],
        [(1, 1, "a"), (1, 2, "B"), (2, 2, "d"), (3, 1, "e")],
        "k1 int, k2 int, v string", ["k1", "k2"], None),
    "quoted_column_names": (
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)],
        [(1, "a", 1.0), (2, "B", 2.0), (4, "d", 4.0)],
        "`the id` int, `unit price` string, `odd``name` double", ["the id"], None),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_fused_record_equals_separate_operators(spark, case):
    src_rows, tgt_rows, schema, pk, cols = CASES[case]
    src = spark.createDataFrame(src_rows, schema)
    tgt = spark.createDataFrame(tgt_rows, schema)
    assert _fused(src, tgt, pk, cols) == _separate(src, tgt, pk, cols)


def test_fused_record_target_with_extra_column(spark):
    src = spark.createDataFrame(BASE, SCHEMA)
    tgt = spark.createDataFrame([(*r, "x") for r in BASE[:2]] + [(3, "c", 3.5, "y")],
                                SCHEMA + ", extra string")
    got = _fused(src, tgt, ["id"], None)
    assert got == _separate(src, tgt, ["id"], None)
    # the target's checksum covers its extra column, as table_checksum does
    assert got["row_level"] == {"missing": 0, "extra": 0, "modified": 1}


def test_fused_counts_without_row_level(spark):
    """Without a row-level diff the query is a side-tagged union aggregate:
    same counts and checksums, no row_level key."""
    src = spark.createDataFrame(BASE + [(2, "b", 2.0)], SCHEMA)
    tgt = spark.createDataFrame(BASE[:2], SCHEMA)
    res = reconcile_table(src, tgt, "t", pk_cols=["id"], validate_checksums=True)
    want = _separate(src, tgt, ["id"], None)
    assert "row_level" not in res
    keys = ("source_count", "target_count", "source_checksum", "target_checksum")
    assert {k: res[k] for k in keys} == {k: want[k] for k in keys}
    counts_only = reconcile_table(src, tgt, "t")
    assert (counts_only["source_count"], counts_only["target_count"]) == (4, 2)
    assert "source_checksum" not in counts_only


def test_fused_audit_job_count(spark):
    """PK + checksums + row-level counts: one query, at most 4 Spark jobs
    (two shuffle map stages for the join, one for the aggregate, the
    result)."""
    src = spark.createDataFrame(BASE + [(4, "d", 4.0)], SCHEMA)
    tgt = spark.createDataFrame(BASE[:2] + [(3, "x", 3.0), (5, "e", 5.0)], SCHEMA)
    sc = spark.sparkContext
    group = f"fused-audit-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "fused audit job count")
    try:
        res = reconcile_table(src, tgt, "t", pk_cols=["id"], validate_checksums=True,
                              row_level=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert res["row_level"] == {"missing": 1, "extra": 1, "modified": 1}
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 4, jobs
