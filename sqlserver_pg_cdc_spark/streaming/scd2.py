"""SCD Type-2 history apply: CDC changes as versioned dimension history.

The upsert sink (`streaming/apply.py`) keeps ONE row per key — correct
for replication parity with the reference (PostgreSQL target), but a
warehouse consumer usually wants the history: every version of every
row with its validity interval.  This operator applies a CDC batch to a
history table in the classic slowly-changing-dimension-type-2 shape:

    (*business cols, __lsn, __valid_from_lsn, __valid_to_lsn, __active)

- a new version CLOSES the previous one (``__valid_to_lsn`` = the new
  version's LSN, ``__active`` = false) and appends itself open-ended;
- a delete closes the current version without appending (the key has no
  active row afterwards);
- within a batch, versions apply in LSN order (every intermediate
  version is preserved — not just the batch's last, which is what the
  upsert sink's latest-per-key dedup would keep);
- replays are idempotent: a version whose (key, LSN) the history
  already holds is dropped, and so is a duplicate within the batch (a
  transport re-delivery); a NULL LSN is one LSN value like any other.

Scale: one shuffle and one sort per batch. The stored versions (tag 0)
and the batch's (tag 1) are unioned, and two windows over the same
key partitions do all of the work: ``row_number() OVER (PARTITION BY
key, __lsn ORDER BY tag)`` keeps one version per (key, LSN), the stored
one first, and ``lead(__lsn) OVER (PARTITION BY key ORDER BY __lsn)``
rebuilds every chain. The sinks feed it only the hash partitions a
batch touches, so the rewrite is O(batch + touched partitions), never
O(history); chains of keys the batch does not touch come out as they
were stored (``lead`` looks only forward, and retention only drops a
chain's prefix).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sqlserver_pg_cdc_spark.streaming.apply import (
    HashPartitionedStateMixin,
    align_evolved_sides,
)

OPEN_LSN = (1 << 62)  # sentinel for "still active"; larger than any real LSN
CHAIN_COLS = ["__valid_from_lsn", "__valid_to_lsn", "__active"]


def scd2_apply(
    history: DataFrame | None,
    batch: DataFrame,
    pk_cols: list[str],
    lsn_col: str = "lsn",
    op_col: str = "op",
    delete_op: str = "d",
    partition: tuple[str, int] | None = None,
) -> DataFrame:
    """Apply one CDC batch to an SCD2 history frame and return the new
    history.  ``history`` of None means an empty history (bootstrap).

    ``batch`` carries the business columns plus ``lsn_col`` and
    ``op_col`` ('c'/'u'/'r' upserts, ``delete_op`` deletes).  Deletes
    are represented in the history as a tombstone version (NULL business
    columns are fine) that immediately closes — its only effect is
    closing the predecessor.

    ``partition=(col, k)`` has :func:`merge_upsert`'s contract: both
    sides carry ``col``, a function of the key; the union is shuffled on
    it into ``k`` tasks and both windows partition by ``(col, *pk)``, so
    a write that repartitions the result by ``col`` into ``k`` tasks
    reuses this exchange. Without it the union is shuffled on the key.

    Additive schema drift is evolved in place (:func:`align_evolved_sides`);
    a type change raises and the sink DLQs the batch. Keys and LSNs
    group NULL-safe, as a window partitions NULLs together; a NULL LSN
    sorts first in its chain."""
    versions = batch.select(
        *[c for c in batch.columns if c not in (lsn_col, op_col)],
        F.col(lsn_col).cast("long").alias("__lsn"),
        (F.col(op_col) == delete_op).alias("__is_delete"),
    )
    if history is not None:
        history, versions = align_evolved_sides(history.drop(*CHAIN_COLS), versions)
    biz = [c for c in versions.columns if c not in ("__lsn", "__is_delete")]
    both = versions.withColumn("__tag", F.lit(1))
    if history is not None:
        both = history.withColumn("__tag", F.lit(0)).unionByName(both)
    keys = list(pk_cols)
    if partition is not None:
        col, k = partition
        both, keys = both.repartition(k, col), [col, *keys]
    else:
        # left to itself, the first window would shuffle on (key, LSN)
        # and the second again on the key
        both = both.repartition(*keys)
    first = Window.partitionBy(*keys, "__lsn").orderBy("__tag")
    valid_to = F.coalesce(
        F.lead("__lsn").over(Window.partitionBy(*keys).orderBy("__lsn")),
        F.lit(OPEN_LSN),
    )
    return (
        both.withColumn("__rn", F.row_number().over(first))
        .filter(F.col("__rn") == 1)
        .select(
            *biz,
            "__lsn",
            "__is_delete",
            F.col("__lsn").alias("__valid_from_lsn"),
            valid_to.alias("__valid_to_lsn"),
        )
        .withColumn(
            "__active",
            (F.col("__valid_to_lsn") == OPEN_LSN) & ~F.col("__is_delete"),
        )
    )


def current_view(history: DataFrame) -> DataFrame:
    """The upsert-equivalent projection: the single active version per
    key (deleted keys absent)."""
    drop = ["__lsn", "__is_delete", *CHAIN_COLS]
    return history.filter(F.col("__active")).drop(*drop)


def as_of_lsn(history: DataFrame, lsn: int) -> DataFrame:
    """Time travel: the table as it stood at ``lsn`` (versions whose
    validity interval contains it, deletes excluded)."""
    drop = ["__lsn", "__is_delete", *CHAIN_COLS]
    return history.filter(
        (F.col("__valid_from_lsn") <= lsn)
        & (F.col("__valid_to_lsn") > lsn)
        & ~F.col("__is_delete")
    ).drop(*drop)


class Scd2ParquetSink(HashPartitionedStateMixin):
    """foreachBatch sink maintaining an SCD2 history table in the parquet
    state store of `streaming/apply.py` — the versioned-history
    alternative to ParquetUpsertSink, committing through the same
    manifest (``HashPartitionedStateMixin``; the SCD2 apply replaces the
    upsert merge). This flat sink keeps the history in one partition, so
    a batch rewrites O(history); :class:`PartitionedScd2Sink` spreads it
    over hash partitions.

    The batch frame must carry the business columns + (lsn, op) the
    unwrap stage produces. A batch routes its rows by PK hash, reads the
    partitions it touches, shuffles their versions ∪ the batch's on the
    partition id into the commit's write tasks, runs
    :func:`scd2_apply`'s two windows there (every chain of the slice is
    rebuilt; untouched ones come out as stored) and writes from that same
    exchange, committing the rewritten partitions as one new manifest
    version, so a reader sees the whole batch or none of it. The
    manifest records the batch id, but replay is not skipped on it:
    ``scd2_apply`` keeps the stored copy of every (key, LSN), so a batch
    re-driven after a crash on either side of the commit converges.
    """

    span_name = "scd2_apply_batch"

    def __init__(
        self,
        spark,
        history_dir: str,
        pk_cols: list[str],
        lsn_col: str = "lsn",
        op_col: str = "op",
    ):
        super().__init__(spark, history_dir, pk_cols, lsn_col)
        self.op_col = op_col

    def history(self) -> DataFrame | None:
        return self.read_target()

    def current(self) -> DataFrame | None:
        h = self.history()
        return None if h is None else current_view(h)

    def as_of(self, lsn: int) -> DataFrame | None:
        h = self.history()
        return None if h is None else as_of_lsn(h, lsn)

    def history_for_keys(self, key_rows: list) -> DataFrame | None:
        """Point lookup into the versioned history: opens only the
        partition directories the keys hash to (a key's full audit trail
        lives in one partition by construction)."""
        return self.read_keys(key_rows)

    def _apply(self, batch_df: DataFrame, batch_id: int | None = None) -> None:
        self._merge_batch(
            batch_df,
            batch_id,
            lambda prev, batch, k: scd2_apply(
                prev, batch, self.pk_cols, lsn_col=self.lsn_col,
                op_col=self.op_col, partition=("__p", k),
            ),
        )

    # -- day-2 maintenance ---------------------------------------------------

    def prune_history(self, watermark_lsn: int) -> dict:
        """History retention: physically drop versions whose validity
        interval ended at or before ``watermark_lsn``.

        An SCD2 history grows without bound by design — every version of
        every row, forever. Past the audit/compliance horizon the closed
        versions are dead weight; this drops exactly the rows no
        retained query can see: ``as_of(lsn)`` filters
        ``__valid_to_lsn > lsn``, so every time travel at or above the
        watermark is PROVABLY unchanged (time travel below it is
        forfeited — that is what retention means). Active versions and
        versions still open past the watermark (including delete
        markers, whose (key, LSN) presence keeps replays idempotent) are
        untouched. The reference bounds the same liability with change-
        event retention (docs/development-architecture.md:226).

        One O(history) pass and one commit rewriting only the partitions
        that held prunable versions (a partition pruned to empty leaves
        the manifest). Returns ``{"pruned": n, "partitions_rewritten":
        k}``. Holds the maintenance lock (`streaming/lock.py`), so apply
        batches fail fast meanwhile."""
        from sqlserver_pg_cdc_spark.streaming.lock import maintenance_lock

        wm = F.lit(int(watermark_lsn))
        with maintenance_lock(self.target_dir, "prune_history"):
            pruned, k = self._drop_rows(
                lambda h: F.coalesce(F.col("__valid_to_lsn") <= wm, F.lit(False))
            )
        return {"pruned": pruned, "partitions_rewritten": k}


class PartitionedScd2Sink(Scd2ParquetSink):
    """``Scd2ParquetSink`` over ``n_partitions`` hash partitions — the
    100 TB shape of the versioned-history target, whose history grows
    without bound. Per-batch work is O(batch + touched partitions), not
    O(history). Reference analog: incremental reconciliation state
    applied per change batch, src/reconciliation/incremental/state.py:112-164.
    """

    def __init__(
        self,
        spark,
        history_dir: str,
        pk_cols: list[str],
        lsn_col: str = "lsn",
        op_col: str = "op",
        dlq_dir: str | None = None,
        n_partitions: int = 32,
    ):
        super().__init__(spark, history_dir, pk_cols, lsn_col, op_col)
        self.dlq_dir = dlq_dir
        self._set_partitions(n_partitions)
