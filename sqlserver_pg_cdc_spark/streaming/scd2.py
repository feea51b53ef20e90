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
- replays are idempotent: a version whose (key, LSN) already exists in
  the history is skipped before any interval surgery.

Scale: one groupBy/window per batch keyed on the PK over (history's
AFFECTED keys + batch) — the history is first semi-joined down to keys
present in the batch, so the rewrite touches O(changed keys × their
versions), not O(history).  The final merge is a union + window
recomputation of validity chains for affected keys only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sqlserver_pg_cdc_spark.streaming.apply import HashPartitionedStateMixin

OPEN_LSN = (1 << 62)  # sentinel for "still active"; larger than any real LSN


def scd2_apply(
    history: DataFrame | None,
    batch: DataFrame,
    pk_cols: list[str],
    lsn_col: str = "lsn",
    op_col: str = "op",
    delete_op: str = "d",
) -> DataFrame:
    """Apply one CDC batch to an SCD2 history frame and return the new
    history.  ``history`` of None means an empty history (bootstrap).

    ``batch`` carries the business columns plus ``lsn_col`` and
    ``op_col`` ('c'/'u'/'r' upserts, ``delete_op`` deletes).  Deletes
    are represented in the history as a tombstone version (NULL business
    columns are fine) that immediately closes — its only effect is
    closing the predecessor.
    """
    biz = [c for c in batch.columns if c not in (lsn_col, op_col)]
    versions = batch.select(
        *[F.col(c) for c in biz],
        F.col(lsn_col).cast("long").alias("__lsn"),
        (F.col(op_col) == delete_op).alias("__is_delete"),
    )
    if history is not None:
        # additive schema evolution (reference auto.evolve): a batch that
        # GAINED a column widens the history (old versions read NULL); a
        # batch LACKING a history column gets typed NULLs (old-shape
        # producer / upstream drop the sink keeps). Type changes raise —
        # the sink's error path DLQs the batch.
        from pyspark.sql import types as T

        from sqlserver_pg_cdc_spark.operators.evolution import diff_schemas

        meta_cols = {
            "__lsn", "__is_delete", "__valid_from_lsn",
            "__valid_to_lsn", "__active",
        }
        hist_biz = T.StructType(
            [f for f in history.schema.fields if f.name not in meta_cols]
        )
        batch_biz = T.StructType(
            [f for f in versions.schema.fields if f.name not in meta_cols]
        )
        d = diff_schemas(hist_biz, batch_biz)
        if d.type_changed:
            raise ValueError(
                f"incompatible schema change (type): {d.type_changed} — "
                "additive evolution only; route this batch to the DLQ"
            )
        for name, _ in d.added:
            history = history.withColumn(
                name, F.lit(None).cast(batch_biz[name].dataType)
            )
        for name, _ in d.removed:
            versions = versions.withColumn(
                name, F.lit(None).cast(hist_biz[name].dataType)
            )
        biz = [f.name for f in hist_biz.fields] + [n for n, _ in d.added]
    if history is not None:
        # NULL-SAFE key matching throughout: the window recomputation
        # below groups NULL keys into one partition (SQL semantics), so
        # the semi/anti split must too — with plain equality a NULL-key
        # chain would never be "affected", leaving two open versions
        # after a cross-batch update. <=> keys still hash-join.
        keys = versions.select(*pk_cols).distinct()

        def _key_cond(left, right):
            cond = None
            for c in pk_cols:
                term = left[c].eqNullSafe(right[c])
                cond = term if cond is None else (cond & term)
            return cond

        h = history.alias("__h")
        k = keys.alias("__k")
        affected = h.join(k, _key_cond(h, k), "left_semi")
        untouched = h.join(k, _key_cond(h, k), "left_anti")
        # idempotent replay: drop batch versions already in the history
        seen = affected.select(*pk_cols, "__lsn").alias("__s")
        v = versions.alias("__v")
        versions = v.join(
            seen,
            _key_cond(v, seen) & (v["__lsn"] == seen["__lsn"]),
            "left_anti",
        )
        merged = affected.select(
            *[F.col(c) for c in biz], "__lsn", F.col("__is_delete")
        ).unionByName(versions)
    else:
        untouched = None
        merged = versions
    # recompute validity chains for the affected keys: order versions by
    # LSN, each closes at the next version's LSN (or stays open)
    w = Window.partitionBy(*pk_cols).orderBy(F.col("__lsn").asc())
    next_lsn = F.lead("__lsn").over(w)
    rebuilt = merged.select(
        *[F.col(c) for c in biz],
        "__lsn",
        "__is_delete",
        F.col("__lsn").alias("__valid_from_lsn"),
        F.coalesce(next_lsn, F.lit(OPEN_LSN)).alias("__valid_to_lsn"),
    ).withColumn(
        "__active",
        (F.col("__valid_to_lsn") == OPEN_LSN) & ~F.col("__is_delete"),
    )
    if untouched is not None:
        rebuilt = rebuilt.unionByName(untouched)
    return rebuilt


def current_view(history: DataFrame) -> DataFrame:
    """The upsert-equivalent projection: the single active version per
    key (deleted keys absent)."""
    drop = ["__lsn", "__is_delete", "__valid_from_lsn", "__valid_to_lsn", "__active"]
    return history.filter(F.col("__active")).drop(*drop)


def as_of_lsn(history: DataFrame, lsn: int) -> DataFrame:
    """Time travel: the table as it stood at ``lsn`` (versions whose
    validity interval contains it, deletes excluded)."""
    drop = ["__lsn", "__is_delete", "__valid_from_lsn", "__valid_to_lsn", "__active"]
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
    partitions it touches, runs :func:`scd2_apply` against that slice —
    the apply step confines version-chain surgery to the batch's keys,
    and every key in the slice hashes back into a touched partition —
    and commits them as one new manifest version, so a reader sees the
    whole batch or none of it. The manifest records the batch id, but
    replay is not skipped on it: ``scd2_apply`` drops batch versions
    whose (key, LSN) the history already holds, so a batch re-driven
    after a crash on either side of the commit converges.
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
            lambda prev, batch: scd2_apply(
                prev, batch, self.pk_cols, lsn_col=self.lsn_col, op_col=self.op_col
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
