"""Streaming continuous aggregates: a foreachBatch sink maintaining a
materialized rollup from the change stream.

Each micro-batch contributes its aggregate STATE (count/sum/min/max per
group — `operators/continuous_agg.py`) and the sink merges it into the
persisted state table.  Unlike the upsert sink's O(table) rewrite, the
rewrite here is STATE-sized (groups, not rows) — the correct
incremental-view-maintenance shape at any scale: per batch, one delta
aggregation over the batch + one merge shuffle over state-sized frames.

The flat sink reuses the crash-recoverable directory swap of
`ParquetUpsertSink`; the partitioned sink commits through the
hash-partitioned state's manifest (`streaming/apply.py`).  NOTE replayed
batches are NOT idempotent for additive states (a re-merged batch double
counts) — run under Spark checkpointing, which re-delivers each batch
id at most once after the sink committed, or skip already-merged batch
ids with ``idempotent=True`` (the flat sink keeps one extra
max-batch-id column, the partitioned sink reads the manifest's).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqlserver_pg_cdc_spark.operators.continuous_agg import (
    build_state,
    finalize,
    merge_states,
)
from sqlserver_pg_cdc_spark.streaming.apply import (
    HashPartitionedStateMixin,
    ParquetUpsertSink,
)


class ContinuousAggSink(ParquetUpsertSink):
    """foreachBatch callable: ``writeStream.foreachBatch(sink)``.

    NOTE this base sink reads+rewrites the WHOLE state table per batch
    — fine for bounded group keys (daily buckets, event types); for
    high-cardinality keys use :class:`PartitionedContinuousAggSink`,
    which touches only the hash partitions the batch hits.

    ``project`` (optional) maps the raw batch frame to (keys..., value)
    — e.g. unwrap a CDC envelope, derive the day bucket.  With
    ``idempotent=True`` the state carries the last merged batch id and
    silently skips re-delivered batches (exactly-once merge on top of
    at-least-once redelivery)."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        key_cols: list[str],
        value_col: str,
        project: Callable[[DataFrame], DataFrame] | None = None,
        idempotent: bool = False,
        dlq_dir: str | None = None,
    ):
        super().__init__(spark, state_dir, key_cols, dlq_dir=dlq_dir)
        self.value_col = value_col
        self.project = project
        self.idempotent = idempotent

    def _apply(self, batch_df: DataFrame, batch_id: int | None = None) -> None:
        proj = self.project(batch_df) if self.project else batch_df
        delta = build_state(proj, self.pk_cols, self.value_col)
        if self.idempotent:
            delta = delta.withColumn("__bid", F.lit(int(batch_id or 0)))
        prev = self.read_target()
        if prev is None:
            merged = delta
        else:
            if self.idempotent:
                done = prev.agg(F.max("__bid")).collect()[0][0]
                if done is not None and batch_id is not None and batch_id <= done:
                    return  # replayed batch: already merged
                merged = merge_states(
                    [prev.drop("__bid"), delta.drop("__bid")], self.pk_cols
                ).withColumn("__bid", F.lit(int(batch_id or 0)))
            else:
                merged = merge_states([prev, delta], self.pk_cols)
        self._swap_in(merged, self.target_dir)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from sqlserver_pg_cdc_spark.tracing import get_tracer

        try:
            with get_tracer().span(
                "rollup_merge_batch", batch_id=batch_id, target=self.target_dir
            ):
                self._apply(batch_df, batch_id)
        except Exception as e:
            if self.dlq_dir is None:
                raise
            (
                batch_df.withColumn("__error_class", F.lit(type(e).__name__))
                .withColumn("__error_message", F.lit(str(e)[:2000]))
                .withColumn("__batch_id", F.lit(batch_id))
                .write.mode("append")
                .parquet(self.dlq_dir)
            )

    def result(self) -> DataFrame | None:
        """The finalized materialized aggregate (None before any batch)."""
        st = self.read_target()
        if st is None:
            return None
        if self.idempotent and "__bid" in st.columns:
            st = st.drop("__bid")
        return finalize(st, self.pk_cols)


class CmsSink(ParquetUpsertSink):
    """foreachBatch sink maintaining a count-min sketch
    (`operators/cms.py`) from a stream — heavy-hitter frequency state
    that NEVER grows: the merged state is at most d*w cells (4096 by
    default) regardless of stream cardinality, so unlike the rollup
    sinks there is nothing to partition — the per-batch rewrite is a
    few KB by construction. The sketch merge is a cell-wise sum
    (associative + commutative), so any batch split of the stream
    produces the identical sketch; ``estimate`` answers point queries
    against the current state with the broadcast min-over-cells plan.

    Split-invariance holds for at-MOST-once delivery of each batch id;
    a foreachBatch REDELIVERY (crash post-swap, pre-checkpoint-commit)
    would double-count the replayed batch into an additive sketch.
    ``idempotent=True`` closes that: the state carries the last merged
    batch id (one extra constant column on the ≤ d*w-row state) and
    re-delivered ids are skipped — same contract as the rollup sinks.

    ``project`` (optional) maps the raw batch frame to one ITEM
    OCCURRENCE per row (e.g. unwrap an envelope, explode tokens)."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        item_col: str,
        project: Callable[[DataFrame], DataFrame] | None = None,
        d: int = 4,
        w: int = 1024,
        dlq_dir: str | None = None,
        idempotent: bool = False,
    ):
        super().__init__(spark, state_dir, [item_col], dlq_dir=dlq_dir)
        self.item_col = item_col
        self.project = project
        self.d = d
        self.w = w
        self.idempotent = idempotent

    def _apply(self, batch_df: DataFrame, batch_id: int | None = None) -> None:
        from sqlserver_pg_cdc_spark.operators.cms import cms_build, cms_merge

        proj = self.project(batch_df) if self.project else batch_df
        delta = cms_build(proj, self.item_col, self.d, self.w)
        prev = super().read_target()  # raw state incl. the __bid column
        if prev is not None and self.idempotent and "__bid" in prev.columns:
            done = prev.agg(F.max("__bid")).collect()[0][0]
            if done is not None and batch_id is not None and batch_id <= done:
                return  # replayed batch: already merged into the sketch
            prev = prev.drop("__bid")
        merged = delta if prev is None else cms_merge([prev, delta])
        if self.idempotent:
            merged = merged.withColumn("__bid", F.lit(int(batch_id or 0)))
        self._swap_in(merged, self.target_dir)

    def read_target(self) -> DataFrame | None:
        """The current sketch (None before any batch); the internal
        batch-id bookkeeping column never leaks to callers."""
        st = super().read_target()
        if st is not None and "__bid" in st.columns:
            st = st.drop("__bid")
        return st

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from sqlserver_pg_cdc_spark.tracing import get_tracer

        try:
            with get_tracer().span(
                "cms_merge_batch", batch_id=batch_id, target=self.target_dir
            ):
                self._apply(batch_df, batch_id)
        except Exception as e:
            if self.dlq_dir is None:
                raise
            (
                batch_df.withColumn("__error_class", F.lit(type(e).__name__))
                .withColumn("__error_message", F.lit(str(e)[:2000]))
                .withColumn("__batch_id", F.lit(batch_id))
                .write.mode("append")
                .parquet(self.dlq_dir)
            )

    def estimate(self, items: DataFrame, est_col: str = "cms_est") -> DataFrame | None:
        """Point-query estimates for a candidate frame against the
        current sketch state (None before any batch)."""
        from sqlserver_pg_cdc_spark.operators.cms import cms_estimate

        sketch = self.read_target()
        if sketch is None:
            return None
        return cms_estimate(
            items, sketch, self.item_col, self.d, self.w, est_col=est_col
        )


class PartitionedContinuousAggSink(HashPartitionedStateMixin, ContinuousAggSink):
    """Continuous-agg sink with HASH-PARTITIONED state: the 100 TB shape.

    ``ContinuousAggSink`` reads, merges, and swaps the WHOLE state table
    every micro-batch — O(state) per batch, which with a
    high-cardinality group key (per-user rollups: 10^8 groups) turns a
    10-row batch into a full-table rewrite.  Here the state lives in
    ``n_partitions`` hash partitions (the ``HashPartitionedStateMixin``
    store the upsert and SCD2 sinks share); a batch

    1. aggregates its delta (batch-sized),
    2. collects the distinct partition ids it touches (bounded by
       ``n_partitions``, never by data),
    3. reads ONLY the touched partitions of the committed state,
    4. merges them and commits the rewritten partitions as one new
       manifest version.

    Untouched partition files are never opened, rewritten, or renamed —
    per-batch work is O(delta + touched state), the same
    partition-pruned discipline Delta/Iceberg MERGE gives on a
    clustered table.  A batch lands whole or not at all, so with
    ``idempotent=True`` the replay guard is the manifest's ``batch_id``:
    a redelivered batch whose id is at or below it was merged already
    and is skipped whole — on either side of a crash, nothing double
    counts.
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        key_cols: list[str],
        value_col: str,
        project: Callable[[DataFrame], DataFrame] | None = None,
        idempotent: bool = False,
        dlq_dir: str | None = None,
        n_partitions: int = 32,
    ):
        super().__init__(
            spark, state_dir, key_cols, value_col,
            project=project, idempotent=idempotent, dlq_dir=dlq_dir,
        )
        if n_partitions < 1:
            raise ValueError("n_partitions must be >= 1")
        self.n_partitions = n_partitions

    def _apply(self, batch_df: DataFrame, batch_id: int | None = None) -> None:
        proj = self.project(batch_df) if self.project else batch_df
        self._merge_batch(
            build_state(proj, self.pk_cols, self.value_col),
            batch_id,
            lambda prev, delta: merge_states(
                [delta] if prev is None else [delta, prev], self.pk_cols
            ),
            "rollup merge batch",
            skip_replay=self.idempotent,
        )
