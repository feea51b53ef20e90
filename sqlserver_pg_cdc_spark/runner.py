"""Multi-table reconciliation runner (reference O2, parallel/reconciler.py
and compare/counts.py reconcile_table).

Per table, ``reconcile_table`` answers with ONE Spark query: a full-outer
PK join followed by one global aggregate when a row-level diff is asked
for, else a side-tagged union aggregate. Counts, the commutative checksums
(operators/checksum.py) and the MISSING/EXTRA/MODIFIED counts
(operators/diff.py) are columns of its single result row — the reference
pushes one aggregate per table into each database the same way (A3/A4,
O1). Its expressions are Spark SQL text, one parse per projection.

Parallelism model: WITHIN a table, Spark already parallelizes the scan/
join/agg across executors. ACROSS tables we submit the independent queries
from a driver thread pool, whose jobs share the executors under Spark's
default FIFO scheduler — the Spark-native replacement for the reference's
ThreadPoolExecutor-over-DB-connections (max_workers=4, per-table timeout,
fail-fast cancellation)."""

from __future__ import annotations

import datetime as _dt
import time
from concurrent.futures import ThreadPoolExecutor, wait
from contextlib import nullcontext
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from sqlserver_pg_cdc_spark.functions.canonical import _resolve_fields, quote, row_hash_expr
from sqlserver_pg_cdc_spark.operators.checksum import chunk_exprs, digest_expr, incremental_checksum
from sqlserver_pg_cdc_spark.operators.counts import compare_counts
from sqlserver_pg_cdc_spark.operators.diff import _compare_fields, modified_columns_expr

TablePair = Callable[[], tuple[DataFrame, DataFrame]]


@dataclass
class TableResult:
    table: str
    status: str = "success"  # success | failed | timeout
    result: dict[str, Any] = field(default_factory=dict)
    error: str | None = None
    duration_s: float = 0.0


def _audit_query(
    source: DataFrame,
    target: DataFrame,
    pk_cols: list[str] | None,
    compare_cols: list[str] | None,
    checksums: bool,
) -> DataFrame:
    """The one query behind ``reconcile_table``: a one-row frame of
    ``source_count, target_count``, plus ``source_checksum,
    target_checksum`` with ``checksums`` and ``missing, extra, modified``
    with ``pk_cols``.

    With ``pk_cols`` both sides meet in a full-outer join on the PK, as in
    ``diff_tables``. A source row appears there once per target row with
    its PK, so it adds to its side's count and checksum only in the copy
    where the target is absent or carries ``__rn = 1`` (and vice versa).
    ``__rn`` numbers the rows of each PK group; its window is partitioned
    and sorted like the join, so it reuses the join's exchange and sort.
    Duplicate and NULL PKs thus count as in ``df.count()`` and
    ``table_checksum`` while every joined copy is classified as in
    ``diff_tables``.
    """
    chunks = chunk_exprs("__rh")
    chunk_cols = [f"__c{i}" for i in range(len(chunks))]

    def hashed(df: DataFrame, keep: list[str]) -> tuple[DataFrame, list[str]]:
        if not checksums:
            return df, keep
        rh = row_hash_expr(_resolve_fields(df, compare_cols))
        return (
            df.selectExpr(*keep, f"{rh} AS __rh"),
            keep + [f"{c} AS {n}" for c, n in zip(chunks, chunk_cols)],
        )

    if pk_cols:
        fields = _compare_fields(source, pk_cols, compare_cols)
        keep = [quote(c) for c in pk_cols] + [quote(c) for c, _ in fields]
        pks = ", ".join(quote(c) for c in pk_cols)
        rn = f"row_number() OVER (PARTITION BY {pks} ORDER BY {pks}) AS __rn"

        def side(df: DataFrame, alias: str) -> DataFrame:
            df, cols = hashed(df, keep)
            return df.selectExpr(*cols, rn).alias(alias)

        frame = side(source, "s").join(side(target, "t"), pk_cols, "full_outer")
        sides = {
            "source": ("s", "s.__rn IS NOT NULL AND coalesce(t.__rn, 1) = 1"),
            "target": ("t", "t.__rn IS NOT NULL AND coalesce(s.__rn, 1) = 1"),
        }
    else:

        def side(df: DataFrame, tag: int) -> DataFrame:
            df, cols = hashed(df, [])
            return df.selectExpr(f"{tag} AS __side", *cols)

        frame = side(source, 0).union(side(target, 1))
        sides = {"source": ("", "__side = 0"), "target": ("", "__side = 1")}

    aggs = []
    for name, (alias, gate) in sides.items():
        aggs.append(f"count_if({gate}) AS {name}_count")
        if checksums:
            side_chunks = [quote(n, alias) for n in chunk_cols]
            aggs.append(f"{digest_expr(side_chunks, gate)} AS {name}_checksum")
    if pk_cols:
        modified = f"size({modified_columns_expr(fields)}) > 0"
        aggs += [
            "count_if(t.__rn IS NULL) AS missing",
            "count_if(s.__rn IS NULL) AS extra",
            f"count_if(s.__rn IS NOT NULL AND t.__rn IS NOT NULL AND {modified}) AS modified",
        ]
    return frame.selectExpr(*aggs)


def reconcile_table(
    source: DataFrame,
    target: DataFrame,
    table: str,
    pk_cols: list[str] | None = None,
    validate_checksums: bool = False,
    row_level: bool = False,
    compare_cols: list[str] | None = None,
    change_col: str | None = None,
    since: str | None = None,
) -> dict[str, Any]:
    """One table's comparison record (input to report.generate_report).

    counts always; checksums opt-in (A3 commutative, equal to
    ``table_checksum``); row-level MISSING/EXTRA/MODIFIED counts opt-in and
    only meaningful with pk_cols (equal to ``diff_tables`` grouped by
    ``diff_type``). All of them come from one Spark query per table
    (``_audit_query``). With ``change_col``+``since`` the checksum instead
    runs in incremental (delta) mode over rows changed after the cutoff,
    as its own pass per side (reference A4: 10-100x on low-churn tables —
    pushdown does the pruning).
    """
    from sqlserver_pg_cdc_spark.tracing import get_tracer

    tracer = get_tracer()
    out: dict[str, Any] = {"table": table, "timestamp": _dt.datetime.now(_dt.timezone.utc).isoformat()}
    delta = bool(validate_checksums and change_col and since)
    fused_checksums = validate_checksums and not delta
    diff_pk = pk_cols if row_level else None
    with tracer.span("reconcile_table", table=table) as root:
        query = _audit_query(source, target, diff_pk, compare_cols, fused_checksums)
        # the query runs in the span of the costliest phase it answers;
        # the other phases' spans time the decoding of their part of it
        first = "checksum_comparison" if fused_checksums else "count_comparison"
        with tracer.span(first, table=table):
            r = query.collect()[0]
        with tracer.span("count_comparison", table=table) if fused_checksums else nullcontext():
            out.update(compare_counts(r["source_count"], r["target_count"]).to_dict())
        if validate_checksums:
            if delta:
                with tracer.span("checksum_comparison", table=table):
                    s_sum = incremental_checksum(source, change_col, since, compare_cols).collect()[0]
                    t_sum = incremental_checksum(target, change_col, since, compare_cols).collect()[0]
                out["checksum_mode"] = "delta"
                out["delta_rows"] = s_sum["row_count"]
                s_sum, t_sum = s_sum["checksum"], t_sum["checksum"]
            else:
                s_sum, t_sum = r["source_checksum"], r["target_checksum"]
                if change_col:
                    out["checksum_mode"] = "full"
            out.update(
                source_checksum=s_sum,
                target_checksum=t_sum,
                checksum_match=s_sum == t_sum,
            )
        if diff_pk:
            with tracer.span("row_level_diff", table=table):
                out["row_level"] = {k: r[k] for k in ("missing", "extra", "modified")}
        root.set_attribute("status", out["status"])
    return out


class ParallelReconciler:
    """Driver thread pool over per-table Spark queries with a run deadline
    and fail-fast (reference parallel/reconciler.py:36-344)."""

    def __init__(
        self,
        spark: SparkSession,
        max_workers: int = 4,
        table_timeout_s: float = 3600.0,
        fail_fast: bool = False,
        metrics=None,
    ):
        self.spark = spark
        self.max_workers = max_workers
        self.table_timeout_s = table_timeout_s
        self.fail_fast = fail_fast
        # O6: reconciliation counters (metrics.ReconciliationMetrics);
        # recorded per table as each run finishes
        self.metrics = metrics

    def reconcile_tables(
        self,
        pairs: dict[str, TablePair],
        **reconcile_kwargs: Any,
    ) -> list[TableResult]:
        stop = {"flag": False}

        def run_one(name: str, make: TablePair) -> TableResult:
            t0 = time.perf_counter()
            if stop["flag"]:
                return TableResult(name, status="failed", error="cancelled (fail-fast)")
            try:
                src, tgt = make()
                res = reconcile_table(src, tgt, name, **reconcile_kwargs)
                out = TableResult(name, result=res, duration_s=time.perf_counter() - t0)
            except Exception as e:  # noqa: BLE001 - surfaced in the result
                if self.fail_fast:
                    stop["flag"] = True
                out = TableResult(
                    name, status="failed", error=f"{type(e).__name__}: {e}",
                    duration_s=time.perf_counter() - t0,
                )
            if self.metrics is not None:
                self.metrics.record_run(name, out.status, out.duration_s, out.result)
            return out

        # table_timeout_s is a RUN deadline: once it passes, undone tables
        # are reported as timeouts, queued ones are cancelled, and the
        # executor is shut down WITHOUT waiting so stragglers can't block
        # the caller past the deadline (their results are discarded).
        results: list[TableResult] = []
        pool = ThreadPoolExecutor(max_workers=self.max_workers)
        try:
            start = time.perf_counter()
            futures = {pool.submit(run_one, n, mk): n for n, mk in pairs.items()}
            # NB: run_one converts exceptions to results, so no future ever
            # completes exceptionally — fail_fast works through the stop
            # flag (queued tables cancel), not through early wait() return
            wait(futures, timeout=self.table_timeout_s)
            for fut, name in futures.items():
                if fut.done():
                    results.append(fut.result())
                else:
                    fut.cancel()
                    results.append(
                        TableResult(name, status="timeout",
                                    error=f"run deadline {self.table_timeout_s}s exceeded",
                                    duration_s=round(time.perf_counter() - start, 3))
                    )
        finally:
            pool.shutdown(wait=False, cancel_futures=True)
        return results

    @staticmethod
    def stats(results: list[TableResult]) -> dict[str, Any]:
        return {
            "successful": sum(1 for r in results if r.status == "success"),
            "failed": sum(1 for r in results if r.status == "failed"),
            "timeout": sum(1 for r in results if r.status == "timeout"),
            "total_duration_s": round(sum(r.duration_s for r in results), 3),
        }


def estimate_optimal_workers(n_tables: int, cpus: int) -> int:
    """Reference parallel/helpers.py:65-138 heuristic, Spark-adjusted:
    actions mostly wait on the cluster, so modest driver-side concurrency
    suffices; bounded by tables and half the cores."""
    return max(1, min(n_tables, 4, max(1, cpus // 2)))
