"""Streaming-maintained DIVERSITY SAMPLE: cluster-balanced corpus
selection (`operators/sampling.diversity_sample`) kept continuously up
to date from a document-embedding change stream — round-10 verdict
stretch #7, composing the sampler with the gate family the way the
decontamination gate composed with the eval index.

The batch sampler assigns every vector to its max-cosine IVF cell and
keeps each cell's ``quota`` lowest-content-hash members. Re-running it
per micro-batch over a continuously-ingesting corpus rescans
everything; here the SELECTION ITSELF is the streamed state — at every
batch boundary the live state equals ``diversity_sample`` over the
union of all ingested batches, maintained incrementally:

1. assign the batch to the EPOCH's cells (centroids are fixed per
   epoch, sha-recorded in ``__diversity_params.json`` — the
   `AnnIndexSink` discipline: a selection mixing two cell spaces is
   meaningless; the default first-batch seed law is recorded too);
2. fold the batch's candidates into the standing selection of the
   TOUCHED cells only: union, rank by (content hash, id), keep
   ``quota`` — the top-k-by-hash selection is a greedy matroid, so
   ``select(state ∪ batch) == select(select(all prior) ∪ batch)``:
   incremental == from-scratch, PROVABLY, not approximately;
3. upsert the fresh picks and soft-delete the evicted rows through the
   hash-partitioned LSN-guarded path.

Per-batch work ∝ batch + (touched cells × quota) — never corpus-sized;
the standing state is at most ``n_cells × quota`` live rows plus
tombstones (`purge_tombstones` applies). Structured Streaming replay
is idempotent BY ALGEBRA: a replayed batch's docs are already in the
union, and top-k selection is monotone (an evicted doc can never
re-enter: its cell's member set only ever improves), so the fold
recomputes the identical selection and the upsert no-ops under the
LSN guard.

Reference analog: the reference maintains reconciliation state
incrementally per change batch (src/reconciliation/incremental/
state.py:112-164); here the state is the coverage sample itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sqlserver_pg_cdc_spark.streaming.apply import PartitionedParquetUpsertSink


class DiversitySampleSink(PartitionedParquetUpsertSink):
    """foreachBatch callable maintaining the streamed diversity sample:
    one live state row per SELECTED doc — (doc, cell_id, v, lsn
    [, __del]); the vector rides so :meth:`drift` and
    :meth:`rotate_epoch` can re-measure/re-rank from state alone.
    ``selection()`` is the standing sample; it equals
    ``diversity_sample(union of batches, quota, centroids=epoch)`` at
    every batch boundary (pytest-pinned, including mid-stream replay).
    A doc re-ingested with a CHANGED embedding competes once, in its
    new cell only — latest write wins, the old cell's row is evicted
    in the same fold (round-11 ADVICE: never the same doc under two
    cell_ids).

    ``centroids``: (cell_id, cv) frame fixing the epoch's cell space;
    None seeds it from the FIRST batch (first ``n_cells`` vectors by
    id — the `with_ivf_cell` deterministic law) and persists it under
    the state dir, so every later batch — and every reopen — assigns
    in the same space."""

    _PARAMS_FILE = "__diversity_params.json"
    _CENTROIDS_DIR = "__centroids"

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        id_col: str,
        vec_col: str,
        quota: int,
        n_cells: int = 8,
        centroids: DataFrame | None = None,
        dlq_dir: str | None = None,
        n_partitions: int = 32,
    ):
        super().__init__(
            spark, state_dir, ["doc"], lsn_col="lsn",
            dlq_dir=dlq_dir, n_partitions=n_partitions,
        )
        if quota < 1:
            raise ValueError("quota must be >= 1")
        self.id_col = id_col
        self.vec_col = vec_col
        self.quota = int(quota)
        self.n_cells = int(n_cells)
        self._centroids = centroids  # resolved/persisted on first batch
        # collected (cell_id, cv, cn) epoch rows, filled by the first
        # _resolve_centroids: the epoch is IMMUTABLE once written
        # (sha-pinned, mismatch raises), so later folds of this sink
        # instance assign straight from these rows (with_ivf_cell's
        # centroid_rows seam — zero Spark jobs) instead of re-reading,
        # re-hashing and re-collecting per batch. A new sink instance
        # (reopen, rotate_epoch) still validates from disk.
        self._epoch_rows: list | None = None

    # -- centroid epoch ------------------------------------------------------

    def _centroid_sha(self, rows) -> str:
        import hashlib

        blob = repr(
            [(r["cell_id"], [float(x) for x in r["cv"]]) for r in rows]
        ).encode()
        return hashlib.sha256(blob).hexdigest()

    def _centroids_path(self) -> str:
        import os

        return os.path.join(self.target_dir, self._CENTROIDS_DIR)

    def _params(self, sha: str) -> dict:
        return {
            "quota": self.quota,
            "n_cells": self.n_cells,
            "id_col": self.id_col,
            "vec_col": self.vec_col,
            "centroid_sha256": sha,
        }

    def _resolve_centroids(self, batch_df: DataFrame) -> DataFrame | None:
        """The epoch's centroids: the stored epoch when one exists
        (validated against the params sha), else the passed/seeded
        frame, persisted + recorded on first use. Fail fast on any
        mismatch — assignment in a different cell space silently
        produces a meaningless selection.

        Returns ``None`` once the epoch is cached on this instance —
        the fold then assigns straight from ``self._epoch_rows``
        (collected WITH the Spark-computed ``cn``, so the argmax floats
        are identical) with zero Spark jobs: the per-fold
        createDataFrame + re-collect round trip was pure fixed cost at
        any data scale (r12 verdict #2)."""
        import json
        import os

        from sqlserver_pg_cdc_spark.functions.vectors import norm

        if self._epoch_rows is not None:
            return None  # the fold assigns from the cached rows
        os.makedirs(self.target_dir, exist_ok=True)
        pf = os.path.join(self.target_dir, self._PARAMS_FILE)
        cpath = self._centroids_path()
        if os.path.exists(pf):
            with open(pf) as f:
                stored = json.load(f)
            cents = self.spark.read.parquet(cpath).select(
                "cell_id", "cv", norm("cv").alias("cn")
            )
            rows = sorted(cents.collect(), key=lambda r: r["cell_id"])
            sha = self._centroid_sha(rows)
            mine = self._params(sha)
            if self._centroids is not None:
                # an explicitly-passed epoch must MATCH the stored one,
                # not be silently ignored in its favor
                mine["centroid_sha256"] = self._centroid_sha(
                    sorted(
                        self._centroids.select("cell_id", "cv").collect(),
                        key=lambda r: r["cell_id"],
                    )
                )
            if stored != mine:
                diff = {
                    k: {"stored": stored.get(k), "sink": v}
                    for k, v in mine.items()
                    if stored.get(k) != v
                }
                raise ValueError(
                    f"diversity state at {self.target_dir} was built "
                    f"with different parameters than this sink: {diff} — "
                    "open it with the recorded parameters or rebuild"
                )
            if rows:  # an empty epoch cannot seed a schemaless local frame
                self._epoch_rows = rows
            return cents
        cents = self._centroids
        if cents is None:
            cents = (
                batch_df.filter(F.col(self.vec_col).isNotNull())
                .orderBy(self.id_col)
                .limit(self.n_cells)
                .select(
                    F.col(self.id_col).alias("cell_id"),
                    F.col(self.vec_col).alias("cv"),
                )
            )
        cents.select("cell_id", "cv").write.mode("overwrite").parquet(cpath)
        cents = self.spark.read.parquet(cpath).select(
            "cell_id", "cv", norm("cv").alias("cn")
        )
        rows = sorted(cents.collect(), key=lambda r: r["cell_id"])
        sha = self._centroid_sha(rows)
        with open(pf, "w") as f:
            json.dump(self._params(sha), f)
        if rows:  # an empty epoch cannot seed a schemaless local frame
            self._epoch_rows = rows
        return cents

    # -- the fold ------------------------------------------------------------

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from sqlserver_pg_cdc_spark.streaming.lock import writer_beacon

        with writer_beacon(self.target_dir, "diversity sample batch"):
            self._fold(batch_df, batch_id)

    def _fold(self, batch_df: DataFrame, batch_id: int) -> None:
        from sqlserver_pg_cdc_spark.operators.sampling import _hash_bucket
        from sqlserver_pg_cdc_spark.operators.similarity import with_ivf_cell

        cents = self._resolve_centroids(batch_df)
        # collapse the batch to ONE row per doc BEFORE cell assignment
        # (round-11 ADVICE): a doc appearing twice in one batch with
        # different vectors — or re-ingested with a changed embedding —
        # must compete exactly once, in exactly one cell. Latest by the
        # batch's source lsn when it carries one; content-hash of the
        # vector as the deterministic tiebreak either way.
        src = batch_df.select(self.id_col, self.vec_col, *(
            ["lsn"] if "lsn" in batch_df.columns else []
        ))
        order = (
            [F.col("lsn").desc_nulls_last()]
            if "lsn" in src.columns else []
        ) + [F.xxhash64(F.col(self.vec_col)).desc()]
        wd = Window.partitionBy(self.id_col).orderBy(*order)
        src = (
            src.withColumn("__dk", F.row_number().over(wd))
            .filter(F.col("__dk") == 1)
            .select(self.id_col, self.vec_col)
        )
        assigned, _ = with_ivf_cell(
            src, self.id_col, self.vec_col, self.n_cells, centroids=cents,
            centroid_rows=self._epoch_rows,
        )
        cand = assigned.select(
            F.col("id").alias("doc"), "cell_id", F.col("v")
        )
        # fold over TOUCHED cells only: the standing selection holds at
        # most quota rows per cell, so the union the window ranks is
        # (batch + touched_cells * quota) rows — never corpus-sized.
        # Touched = the batch's cells PLUS the standing cells of any
        # re-ingested doc: a doc whose changed vector moves it to a new
        # cell must surrender its old cell's slot, not linger there.
        cur = self.read_target()
        if cur is not None:
            live = cur
            if "__del" in cur.columns:
                live = cur.filter(~F.coalesce(F.col("__del"), F.lit(False)))
            vcol = (
                F.col("v") if "v" in live.columns
                else F.lit(None).cast(dict(cand.dtypes)["v"])
            )
            live = live.select("doc", "cell_id", vcol.alias("v"))
            prev = live.join(cand.select("doc"), "doc", "left_semi")
            touched = (
                cand.select("cell_id")
                .unionByName(prev.select("cell_id"))
                .distinct()
            )
            cur_sel = live.join(touched, "cell_id", "left_semi")
            # standing rows of re-ingested docs leave the competition:
            # the doc re-enters via the batch in its (possibly new)
            # cell — latest write wins, never the same doc under two
            # cell_ids (round-11 ADVICE)
            cur_keep = cur_sel.join(cand.select("doc"), "doc", "left_anti")
            union = cur_keep.unionByName(cand)
        else:
            cur_sel = None
            union = cand
        w = Window.partitionBy("cell_id").orderBy(
            _hash_bucket("doc"), F.col("doc")
        )
        sel = (
            union.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= self.quota)
            .select("doc", "cell_id", "v")
        )
        lsn = F.lit(int(batch_id)).cast("long")
        # (re)write every selected row the batch carried: newly
        # promoted docs AND re-ingested survivors (their vector/cell
        # may have changed; the >=-lsn upsert makes a replay a no-op)
        fresh = sel.join(cand.select("doc"), "doc", "left_semi")
        rows = fresh.select(
            "doc", "cell_id", "v", lsn.alias("lsn"),
            F.lit(False).alias("__del"),
        )
        if cur_sel is not None:
            evicted = cur_sel.join(
                sel.select("doc"), "doc", "left_anti"
            ).select(
                "doc", "cell_id", "v", lsn.alias("lsn"),
                F.lit(True).alias("__del"),
            )
            rows = rows.unionByName(evicted)
        super().__call__(rows, batch_id)

    # -- query surface ---------------------------------------------------

    def selection(self) -> DataFrame | None:
        """The standing sample: (doc, cell_id) of live selected docs —
        equal to the batch sampler over everything ingested so far."""
        st = self.read_target()
        if st is None:
            return None
        if "__del" in st.columns:
            st = st.filter(~F.coalesce(F.col("__del"), F.lit(False)))
        return st.select("doc", "cell_id")

    def _live_vectors(self) -> DataFrame | None:
        """(doc, cell_id, v) of live selected docs. Raises on a state
        that predates the ``v`` column — drift/rotation need the
        selected vectors, and a silent NULL pass-through would read as
        'no drift' forever."""
        st = self.read_target()
        if st is None:
            return None
        if "v" not in st.columns:
            raise ValueError(
                f"diversity state at {self.target_dir} stores no vector "
                "column — it predates drift/rotation support; re-ingest "
                "(or replay) the stream so selected rows carry their "
                "embeddings, then retry"
            )
        if "__del" in st.columns:
            st = st.filter(~F.coalesce(F.col("__del"), F.lit(False)))
        return st.select("doc", "cell_id", "v").filter(
            F.col("v").isNotNull()
        )

    # -- centroid drift + epoch rotation (round-11 verdict #3: the
    # -- `AnnIndexSink` discipline, streaming/ann.py:492) ----------------

    _BASELINE_FILE = "__diversity_baseline.json"

    def mean_assigned_cos(self) -> float | None:
        """Mean cosine of live SELECTED vectors to their assigned
        centroid — the coverage-quality scalar, computed entirely from
        state (one broadcast join on the n_cells-row centroid table +
        one aggregate). Falls as the corpus distribution drifts away
        from the epoch's cells: new docs land in far-away cells, the
        'diversity' sample quietly keeps covering yesterday's
        distribution. None while the selection is empty."""
        from sqlserver_pg_cdc_spark.functions.vectors import cosine

        lv = self._live_vectors()
        if lv is None:
            return None
        cents = self.spark.read.parquet(self._centroids_path())
        row = (
            lv.join(F.broadcast(cents), "cell_id")
            .agg(F.avg(cosine("v", "cv")).alias("m"))
            .collect()[0]
        )
        return None if row["m"] is None else float(row["m"])

    def capture_baseline(self) -> float | None:
        """Record the current mean assigned-cosine as this epoch's
        bootstrap baseline (call once after the first batches — while
        the selection still reflects the distribution the centroids
        were seeded/trained on). Separate file from the params json:
        a measurement, not an identity, so it must not participate in
        the epoch-mismatch guard."""
        import json
        import os

        m = self.mean_assigned_cos()
        if m is None:
            return None
        with open(
            os.path.join(self.target_dir, self._BASELINE_FILE), "w"
        ) as f:
            json.dump({"mean_assigned_cos": m}, f)
        return m

    def drift(self, tolerance: float = 0.05) -> dict:
        """Cheap drift probe: current mean assigned-cosine vs the
        captured baseline; ``drifted`` when the mean dropped by more
        than ``tolerance`` absolute cosine points — the signal to
        :meth:`rotate_epoch`. Raises if no baseline was captured (a
        probe against nothing always reads healthy)."""
        import json
        import os

        bf = os.path.join(self.target_dir, self._BASELINE_FILE)
        if not os.path.exists(bf):
            raise ValueError(
                f"no {self._BASELINE_FILE} at {self.target_dir} — call "
                "capture_baseline() after the bootstrap batches so "
                "drift has a training-time reference"
            )
        with open(bf) as f:
            baseline = float(json.load(f)["mean_assigned_cos"])
        current = self.mean_assigned_cos()
        drop = None if current is None else baseline - current
        return {
            "baseline_mean_cos": baseline,
            "mean_cos": current,
            "drop": drop,
            "drifted": drop is not None and drop > tolerance,
        }

    def rotate_epoch(
        self,
        new_state_dir: str,
        centroids: DataFrame | None = None,
        docs: DataFrame | None = None,
        n_cells: int | None = None,
        max_iter: int = 20,
        seed: int = 42,
    ) -> "DiversitySampleSink":
        """Open a NEW centroid epoch at ``new_state_dir`` under the
        maintenance lock and re-fold a selection into it; the old state
        dir is left untouched — consumers generation-swap to the
        returned sink and the caller retires the old dir (the swing
        discipline of `IvfIndexSink.rotate_epoch`, streaming/ann.py).

        ``centroids``: the new epoch's (cell_id, cv) frame; omitted, a
        spherical k-means retrain on the rotation source supplies it.
        ``docs``: optional (id_col, vec_col) corpus frame; when given,
        the new selection IS the batch sampler over it with the new
        cells — exact. Without it, only the STANDING live rows re-rank
        under the new cells (bounded by n_cells x quota): docs evicted
        under the old epoch cannot re-enter, so pass the corpus when
        full re-coverage matters. The greedy-matroid fold makes either
        path a deterministic one-pass re-rank. The new selection is
        bulk-loaded at the old state's max lsn, so a stale replay into
        the new epoch stays LSN-guarded; a baseline is captured on the
        new epoch immediately (its selection IS the rotation-time
        distribution)."""
        from sqlserver_pg_cdc_spark.operators.similarity import (
            train_ivf_centroids,
        )
        from sqlserver_pg_cdc_spark.streaming.lock import maintenance_lock

        with maintenance_lock(self.target_dir, "diversity rotate_epoch"):
            if docs is not None:
                source = docs.select(
                    F.col(self.id_col), F.col(self.vec_col)
                )
            else:
                lv = self._live_vectors()
                if lv is None:
                    raise ValueError(
                        "cannot rotate an empty diversity state"
                    )
                source = lv.select(
                    F.col("doc").alias(self.id_col),
                    F.col("v").alias(self.vec_col),
                )
            k = int(n_cells or self.n_cells)
            if centroids is None:
                centroids = train_ivf_centroids(
                    source.select(self.vec_col), self.vec_col,
                    n_cells=k, max_iter=max_iter, seed=seed,
                )
            st = self.read_target()
            max_lsn = 0
            if st is not None:
                row = st.agg(F.max("lsn").alias("m")).collect()[0]
                if row["m"] is not None:
                    max_lsn = int(row["m"])
            fresh = DiversitySampleSink(
                self.spark,
                new_state_dir,
                self.id_col,
                self.vec_col,
                quota=self.quota,
                n_cells=k,
                centroids=centroids.select("cell_id", "cv"),
                dlq_dir=self.dlq_dir,
                n_partitions=self.n_partitions,
            )
            fresh(source, max_lsn)
            fresh.capture_baseline()
            return fresh
