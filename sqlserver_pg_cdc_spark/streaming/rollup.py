"""Streaming continuous aggregates: a foreachBatch sink maintaining a
materialized rollup from the change stream.

Each micro-batch contributes its aggregate STATE (count/sum/min/max per
group — `operators/continuous_agg.py`) and the sink merges it into the
persisted state table.  Unlike the upsert sink's O(table) rewrite, the
rewrite here is STATE-sized (groups, not rows) — the correct
incremental-view-maintenance shape at any scale: per batch, one delta
aggregation over the batch + one merge shuffle over state-sized frames.

Every sink here commits through the state store of
`streaming/apply.py` (``HashPartitionedStateMixin``): the flat sinks
keep one partition, the partitioned sink ``n_partitions``.  NOTE
replayed batches are NOT idempotent for additive states (a re-merged
batch double counts) — run under Spark checkpointing, which re-delivers
each batch id at most once after the sink committed, or skip
already-merged batch ids with ``idempotent=True``, which compares the
id to the ``batch_id`` the manifest's latest version records.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from sqlserver_pg_cdc_spark.operators.continuous_agg import (
    build_state,
    finalize,
    merge_states,
)
from sqlserver_pg_cdc_spark.streaming.apply import HashPartitionedStateMixin


class ContinuousAggSink(HashPartitionedStateMixin):
    """foreachBatch callable: ``writeStream.foreachBatch(sink)``.

    NOTE this flat sink keeps the state in one partition and rewrites
    it whole per batch — fine for bounded group keys (daily buckets,
    event types); for high-cardinality keys use
    :class:`PartitionedContinuousAggSink`, which touches only the hash
    partitions the batch hits.

    ``project`` (optional) maps the raw batch frame to (keys..., value)
    — e.g. unwrap a CDC envelope, derive the day bucket.  A batch lands
    whole or not at all, so with ``idempotent=True`` the replay guard is
    the manifest's ``batch_id``: a redelivered batch whose id is at or
    below it was merged already and is skipped whole — on either side
    of a crash, nothing double counts (exactly-once merge on top of
    at-least-once redelivery)."""

    span_name = "rollup_merge_batch"

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
        self._merge_batch(
            build_state(proj, self.pk_cols, self.value_col),
            batch_id,
            lambda prev, delta, _k: merge_states(
                [delta] if prev is None else [delta, prev], ["__p", *self.pk_cols]
            ),
            skip_replay=self.idempotent,
        )

    def result(self) -> DataFrame | None:
        """The finalized materialized aggregate (None before any batch)."""
        st = self.read_target()
        return None if st is None else finalize(st, self.pk_cols)


class CmsSink(HashPartitionedStateMixin):
    """foreachBatch sink maintaining a count-min sketch
    (`operators/cms.py`) from a stream — heavy-hitter frequency state
    that NEVER grows: the merged state is at most d*w cells (4096 by
    default) regardless of stream cardinality, so unlike the rollup
    sinks there is nothing to partition — the per-batch rewrite of its
    one partition (keyed by cell) is a few KB by construction. The
    sketch merge is a cell-wise sum (associative + commutative), so any
    batch split of the stream produces the identical sketch;
    ``estimate`` answers point queries against the current state with
    the broadcast min-over-cells plan.

    Split-invariance holds for at-MOST-once delivery of each batch id;
    a foreachBatch REDELIVERY (crash after the commit, before the
    checkpoint commit) would double-count the replayed batch into an
    additive sketch. ``idempotent=True`` closes that: a batch whose id
    is at or below the manifest's committed ``batch_id`` is skipped —
    same contract as the rollup sinks.

    ``project`` (optional) maps the raw batch frame to one ITEM
    OCCURRENCE per row (e.g. unwrap an envelope, explode tokens)."""

    span_name = "cms_merge_batch"

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
        super().__init__(spark, state_dir, ["row", "cell"], dlq_dir=dlq_dir)
        self.item_col = item_col
        self.project = project
        self.d = d
        self.w = w
        self.idempotent = idempotent

    def _apply(self, batch_df: DataFrame, batch_id: int | None = None) -> None:
        from sqlserver_pg_cdc_spark.operators.cms import cms_build, cms_merge

        proj = self.project(batch_df) if self.project else batch_df
        self._merge_batch(
            cms_build(proj, self.item_col, self.d, self.w),
            batch_id,
            lambda prev, delta, _k: delta if prev is None
            else self._with_part(cms_merge([prev, delta])),
            skip_replay=self.idempotent,
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


class PartitionedContinuousAggSink(ContinuousAggSink):
    """``ContinuousAggSink`` over ``n_partitions`` hash partitions: the
    100 TB shape.  With a high-cardinality group key (per-user rollups:
    10^8 groups) the flat sink turns a 10-row batch into a full-state
    rewrite; here a batch aggregates its delta, reads ONLY the
    partitions it touches and commits them as one new manifest version.
    Untouched partition files are never opened, rewritten, or renamed —
    per-batch work is O(delta + touched state), the same
    partition-pruned discipline Delta/Iceberg MERGE gives on a
    clustered table.
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
        self._set_partitions(n_partitions)
