"""CDC change application (reference St2-St8, SURVEY §2.8).

The reference's sink chain is configuration: Debezium envelope ->
ExtractNewRecordState (keep ``after``, add ``__op``) -> AddDeletedField
SMT (``__deleted='true'`` iff op=='d') -> RegexRouter -> JDBC upsert
batch 3000 (docker/configs/kafka-connect/postgresql-sink.json:23-58).
Here the whole chain is a handful of DataFrame transforms plus an
idempotent keyed upsert inside ``foreachBatch``:

- one window over stored ∪ batch keeps the latest LSN per key: it is
  both the within-batch dedup — the correctness keystone for
  at-least-once delivery (FR-005) — and the cross-batch LSN guard: an
  incoming change only replaces the stored row when its LSN is >= the
  stored LSN, so replays after checkpoint recovery are no-ops;
- deletes are soft (rewrite mode): the row survives with
  ``__deleted='true'``.

The local target is a hash-partitioned parquet state whose live files a
versioned manifest names: a batch reads the partitions it touches,
merges them in one window on the shuffle its write reuses, and commits
them as one new version. On a real deployment the
same ``merge_upsert`` frame feeds a Delta ``MERGE WHEN MATCHED ... WHEN
NOT MATCHED`` or a JDBC upsert — swap the sink, keep the semantics.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import shutil
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

OP_COL = "__op"
DELETED_COL = "__deleted"
STALE_COL = "__stale"
TXN_COL = "__txn_id"
TXN_COUNT_COL = "__txn_event_count"
TXN_MARKER_OP = "t"


def unwrap_envelope(
    df: DataFrame, lsn_col: str = "lsn", keep_cols: tuple[str, ...] = ()
) -> DataFrame:
    """St2: flatten a Debezium-style envelope struct row
    ``(before, after, op, ts_ms, lsn)`` into business columns + __op.
    Deletes carry no after image -> use the before image (rewrite mode,
    AddDeletedField.java:62-90). ``keep_cols`` are passed through beside
    the payload (e.g. the Kafka source's ``__table`` routing column).

    St8: when the envelope carries Debezium transaction metadata
    (``provide.transaction.metadata=true``,
    docker/configs/debezium/sqlserver-source.json:43), the struct field
    ``transaction.id`` rides along as ``__txn_id`` and — on END-marker
    events (op ``'t'``) — ``transaction.event_count`` as
    ``__txn_event_count``, feeding :func:`split_transactions`."""
    payload = F.when(F.col("op") == "d", F.col("before")).otherwise(F.col("after"))
    txn_cols = []
    if "transaction" in df.columns:
        txn_cols = [
            F.col("transaction.id").cast("string").alias(TXN_COL),
            F.col("transaction.event_count").cast("long").alias(TXN_COUNT_COL),
        ]
    flat = df.select(
        payload.alias("__row"),
        F.col("op").alias(OP_COL),
        F.col("ts_ms"),
        F.col(lsn_col),
        *[F.col(c) for c in keep_cols],
        *txn_cols,
    )
    return flat.select(
        "__row.*",
        OP_COL,
        "ts_ms",
        lsn_col,
        *keep_cols,
        *([TXN_COL, TXN_COUNT_COL] if txn_cols else []),
    )


def split_transactions(
    df: DataFrame,
    txn_col: str = TXN_COL,
    count_col: str = TXN_COUNT_COL,
    op_col: str = OP_COL,
) -> tuple[DataFrame, DataFrame]:
    """St8 (FR-003): partition a (batch ∪ carried-over) change frame into
    rows safe to apply now vs rows that must wait for their source
    transaction to be fully present.

    A transaction is COMPLETE when its END marker (``op_col ==
    TXN_MARKER_OP``, carrying ``event_count``) has arrived AND at least
    ``event_count`` data rows with its id are present — the count guard
    matters because Kafka only orders within a partition, so the marker
    can overtake data events. Returns ``(ready, pending, malformed)``:

    - ready: data rows of complete transactions, plus rows with no
      transaction id (non-transactional sources apply immediately);
    - pending: data rows and markers of incomplete transactions
      (markers of completed transactions are dropped);
    - malformed: all rows of transactions whose END marker carries a
      NULL event_count (out-of-spec producer). Completeness is
      unprovable for them: applying on the marker alone risks a SILENT
      PARTIAL apply whenever the marker overtook data rows, and holding
      them wedges the spool forever — so they are quarantined for the
      caller to DLQ.

    Shuffles key on the transaction id only; the complete-id set is
    O(transactions in flight), so the semi/anti joins broadcast under
    AQE. Applying ``ready`` through one merge + manifest commit gives
    all-or-nothing visibility per source transaction — the guarantee
    micro-batch atomicity alone cannot give when a batch boundary splits
    a transaction."""
    markers = df.filter(F.col(op_col) == TXN_MARKER_OP)
    data = df.filter(F.col(op_col) != TXN_MARKER_OP)
    bad = (
        markers.filter(F.col(count_col).isNull()).select(txn_col).distinct()
    )
    malformed = data.join(bad, txn_col, "left_semi").unionByName(
        markers.join(bad, txn_col, "left_semi")
    )
    markers = markers.join(bad, txn_col, "left_anti")
    data = data.filter(F.col(txn_col).isNull()).unionByName(
        data.filter(F.col(txn_col).isNotNull()).join(bad, txn_col, "left_anti")
    )
    seen = (
        data.filter(F.col(txn_col).isNotNull())
        .groupBy(txn_col)
        .agg(F.count(F.lit(1)).alias("__seen"))
    )
    expected = markers.groupBy(txn_col).agg(F.max(count_col).alias("__expected"))
    complete = (
        expected.join(seen, txn_col, "left")
        .filter(F.coalesce(F.col("__seen"), F.lit(0)) >= F.col("__expected"))
        .select(txn_col)
    )
    txn_data = data.filter(F.col(txn_col).isNotNull())
    ready = data.filter(F.col(txn_col).isNull()).unionByName(
        txn_data.join(complete, txn_col, "left_semi")
    )
    pending = (
        txn_data.join(complete, txn_col, "left_anti")
        .unionByName(markers.join(complete, txn_col, "left_anti"))
    )
    return ready, pending, malformed


def with_soft_delete(df: DataFrame) -> DataFrame:
    """St3: delete rewrite — __deleted='true' iff op=='d'."""
    return df.withColumn(
        DELETED_COL, F.when(F.col(OP_COL) == "d", "true").otherwise("false")
    )


def with_stale_flag(df: DataFrame, ts_ms_col: str = "ts_ms", max_age_hours: int = 24) -> DataFrame:
    """St7 (FR-008): events older than the window are flagged and applied,
    never dropped — this is NOT a watermark discard."""
    age_ms = max_age_hours * 3600 * 1000
    now_ms = F.unix_millis(F.current_timestamp())
    return df.withColumn(STALE_COL, (now_ms - F.col(ts_ms_col)) > age_ms)


def dedup_within_watermark(
    stream: DataFrame,
    key_cols: list[str],
    ts_ms_col: str = "ts_ms",
    watermark: str = "1 hour",
) -> DataFrame:
    """Transport-level dedup for at-least-once delivery: drop re-sent
    copies of the same change (same key + LSN) arriving within the
    watermark window, using Spark's bounded-state
    ``dropDuplicatesWithinWatermark``. State stays O(keys in window),
    not O(stream) — the downstream LSN-guard merge stays the final
    correctness net for duplicates older than the window."""
    with_ts = stream.withColumn(
        "__event_ts", F.timestamp_millis(F.col(ts_ms_col))
    ).withWatermark("__event_ts", watermark)
    return with_ts.dropDuplicatesWithinWatermark(key_cols).drop("__event_ts")


def widen_small_batch(df: DataFrame) -> DataFrame:
    """Scale-adaptive input widening for heavy per-row projections
    (guide §2.5 "input skew — repartition immediately after the read").

    A micro-batch arriving in FEWER partitions than the session's
    parallelism — one parquet split, a 1-4-partition Kafka topic —
    runs the family's projection (payload decode, shingle/minhash
    HOFs, hyperplane banding: the dominant per-batch compute) almost
    serially, because the projection executes map-side in whatever
    parallelism the source scan produced. Round-robin repartition to
    ``defaultParallelism`` exactly then; a batch already at or above
    session parallelism (the 100 TB shape) passes through UNTOUCHED,
    so no extra shuffle is ever added at scale. Row order within the
    batch changes, which the sinks already tolerate (latest-per-key
    ties are documented arbitrary; every downstream decision keys on
    values, not arrival order), and sort-before-repartition keeps the
    assignment deterministic under task retries."""
    sc = df.sparkSession.sparkContext
    p = sc.defaultParallelism
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    return df.repartition(p) if n < p else df


def latest_per_key(
    df: DataFrame,
    pk_cols: list[str],
    lsn_col: str = "lsn",
    salt_partitions: int | None = None,
) -> DataFrame:
    """St5 within-batch dedup: keep only the highest-LSN change per key
    (the JDBC upsert sink's reduction; the parquet sinks'
    :func:`merge_upsert` does it inside its one window).

    Default: row_number window (one shuffle on the PK). With
    ``salt_partitions`` the reduction runs two-phase for HOT keys — a
    key receiving a large share of a batch (bulk update of one entity)
    would otherwise funnel its changes through a single window task.
    Phase 1 takes the max-LSN row per (key, salt) with a map-side
    combinable max_by; phase 2 reduces the ≤ salt_partitions survivors
    per key. Same result whenever LSNs are unique per key (CDC LSNs
    are); ties are arbitrary in both forms."""
    if salt_partitions is None:
        w = Window.partitionBy(*pk_cols).orderBy(F.col(lsn_col).desc())
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    cols = df.columns
    row = F.struct(*[F.col(c) for c in cols])
    salt = F.pmod(F.xxhash64(F.col(lsn_col)), F.lit(salt_partitions))
    phase1 = (
        df.withColumn("__salt", salt)
        .groupBy(*pk_cols, "__salt")
        .agg(F.max_by(row, F.col(lsn_col)).alias("__row"))
    )
    phase2 = phase1.groupBy(*pk_cols).agg(
        F.max_by(F.col("__row"), F.col(f"__row.{lsn_col}")).alias("__row")
    )
    return phase2.select(*[F.col(f"__row.{c}").alias(c) for c in cols])


def align_evolved_sides(
    target: DataFrame, changes: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Schema evolution at the sink (reference ``auto.evolve=true``,
    docker/configs/kafka-connect/postgresql-sink.json:29; supported-
    changes matrix docs/guides-schema-evolution.md:499-508): widen BOTH
    sides to the union schema when they differ ADDITIVELY.

    - batch gained a column (upstream ``ADD COLUMN``): stored rows get a
      typed NULL for it — the state widens, prior data intact;
    - batch LACKS a column the state has (old-shape producer, or an
      upstream column drop the reference explicitly does NOT propagate):
      batch rows get NULL for it — the sink keeps the column;
    - a TYPE change raises — the sink's error path routes the batch to
      the DLQ, matching the reference's contract
      (tests/integration/test_schema_evolution.py:187,235).
    """
    from sqlserver_pg_cdc_spark.operators.evolution import (
        align_to_evolved,
        diff_schemas,
    )

    d = diff_schemas(target.schema, changes.schema)
    if d.type_changed:
        raise ValueError(
            f"incompatible schema change (type): {d.type_changed} — "
            "additive evolution only; route this batch to the DLQ"
        )
    if not d.added and not d.removed:
        return target, changes
    union = T.StructType(
        list(target.schema.fields)
        + [changes.schema[name] for name, _ in d.added]
    )
    return align_to_evolved(target, union), align_to_evolved(changes, union)


def merge_upsert(
    target: DataFrame | None,
    changes: DataFrame,
    pk_cols: list[str],
    lsn_col: str = "lsn",
    partition: tuple[str, int] | None = None,
) -> DataFrame:
    """Keyed upsert with LSN guard (idempotent replay).

    Equivalent Delta statement::

        MERGE INTO t USING c ON <pk> AND c.lsn >= t.lsn
        WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *

    Expressed relationally: one window over the stored rows (tag 0) and
    the batch (tag 1), ``row_number() OVER (PARTITION BY pk ORDER BY lsn
    DESC NULLS LAST, tag DESC) = 1`` — the within-batch dedupe and the
    cross-batch guard at once: a batch row wins at an LSN >= the stored
    one (an equal LSN is a replay), and a NULL LSN loses to any LSN.
    The window's exchange is the only shuffle.

    ``partition=(col, k)``: both sides carry ``col``, a function of the
    key (the partitioned sink's ``__p``); the union is shuffled on it
    into ``k`` tasks and the window partitions by ``(col, *pk)`` — the
    same groups — so a write that repartitions the result by ``col``
    into ``k`` tasks reuses this exchange.

    Additive schema drift between the stored state and the batch is
    EVOLVED in place (:func:`align_evolved_sides` — the reference's
    ``auto.evolve``); a type change raises and the sink DLQs the batch.

    Key grouping is NULL-SAFE (a window partitions NULLs together),
    consistent with ``latest_per_key``, the partitioned layout's
    ``read_keys`` and the SCD2 apply: real SQL primary keys are NOT
    NULL, but replication keys configured over arbitrary columns can
    carry NULLs, and a NULL key must upsert rather than duplicate."""
    if target is not None:
        target, changes = align_evolved_sides(target, changes)
    both = changes.withColumn("__tag", F.lit(1))
    if target is not None:
        both = target.withColumn("__tag", F.lit(0)).unionByName(both)
    keys = list(pk_cols)
    if partition is not None:
        col, k = partition
        both, keys = both.repartition(k, col), [col, *keys]
    w = Window.partitionBy(*keys).orderBy(
        F.col(lsn_col).desc_nulls_last(), F.col("__tag").desc()
    )
    return (
        both.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__tag")
    )


LOG_DIR = "_log"
_VERSION_RE = re.compile(r"\d{20}\.json")


def _manifest_sha(body: dict) -> str:
    """sha256 over a manifest body, its own ``sha256`` field excluded."""
    blob = json.dumps(
        {k: v for k, v in body.items() if k != "sha256"}, sort_keys=True
    ).encode()
    return hashlib.sha256(blob).hexdigest()


def read_manifest(state_dir: str) -> dict | None:
    """The latest committed version of a hash-partitioned state, or
    None before the first commit. ``<state>/_log/<version:020d>.json``
    holds ``n_partitions``, the schema as Spark's JSON ``StructType``,
    one generation directory per partition (``part_NNNNN.v<version>-
    <token>``), the highest ``batch_id`` merged and a sha256 over the
    body, which is checked. Lists ``_log/``, opens one file, modifies
    nothing."""
    log = os.path.join(state_dir, LOG_DIR)
    while True:
        try:
            names = [n for n in os.listdir(log) if _VERSION_RE.fullmatch(n)]
        except (FileNotFoundError, NotADirectoryError):
            return None
        if not names:
            return None
        try:
            with open(os.path.join(log, max(names))) as f:
                body = json.load(f)
        except FileNotFoundError:
            continue  # pruned by a commit between the list and the open
        if body.get("sha256") != _manifest_sha(body):
            raise ValueError(
                f"manifest {max(names)} of {state_dir} carries a sha256 "
                "that does not match its body — it was tampered with or "
                "corrupted; restore it or rebuild the state"
            )
        return body


def _union_schema(prev: dict | None, schema) -> dict:
    """Additive evolution: the previous JSON ``StructType`` plus the
    fields of ``schema`` it lacks (a type change never gets here — the
    merge raises and the batch goes to the DLQ)."""
    new = schema.jsonValue()
    if prev is None:
        return new
    have = {f["name"] for f in prev["fields"]}
    return {
        **prev,
        "fields": prev["fields"]
        + [f for f in new["fields"] if f["name"] not in have],
    }


class HashPartitionedStateMixin:
    """The one state store of every parquet sink (upsert, SCD2, rollup,
    count-min sketch): ``n_partitions`` partitions keyed by
    ``pmod(xxhash64(*pk_cols), n)``, whose live files an append-only
    manifest names (``_log/``, see :func:`read_manifest`; Delta Lake's
    transaction log, Armbrust et al., VLDB 2020). A flat sink is the
    one-partition case (the class default); its ``Partitioned*`` twin
    only sets the count. Every batch and maintenance pass reads one
    snapshot and commits one version through :meth:`_commit`, so a
    reader sees a whole batch or none of it. Readers scan exactly the
    latest version's directories and rename, sweep and delete nothing;
    whatever it does not name is debris of a crashed attempt, removed by
    the next commit (a writer under its beacon or a pass under the
    maintenance lock). One writer per state.

    Calling the sink (``foreachBatch``) runs ``self._apply`` inside a
    ``span_name`` span; a failure routes the batch to ``dlq_dir`` with
    its error (St10: error routing, not query death), or raises when
    there is no DLQ."""

    n_partitions: int = 1
    span_name: str = "state_batch"

    def __init__(self, spark: SparkSession, target_dir: str, pk_cols: list[str],
                 lsn_col: str = "lsn", dlq_dir: str | None = None):
        self.spark = spark
        self.target_dir = target_dir
        self.pk_cols = pk_cols
        self.lsn_col = lsn_col
        self.dlq_dir = dlq_dir

    def _set_partitions(self, n_partitions: int) -> None:
        if n_partitions < 1:
            raise ValueError("n_partitions must be >= 1")
        self.n_partitions = n_partitions

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from sqlserver_pg_cdc_spark.tracing import get_tracer

        try:
            with get_tracer().span(
                self.span_name, batch_id=batch_id, target=self.target_dir
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

    @staticmethod
    def committed_partitions(state_dir: str) -> int | None:
        """The partition count of the latest committed version, or None
        when ``state_dir`` holds no committed partitioned state."""
        snap = read_manifest(state_dir)
        return None if snap is None else int(snap["n_partitions"])

    def _snapshot(self) -> dict | None:
        """The latest version, guarded: another partition count fails
        fast (routing would put one key in two partitions), and so does
        a directory with no ``_log/`` holding loose parquet or
        ``part_*`` directories, rather than reading as empty."""
        snap = read_manifest(self.target_dir)
        if snap is None:
            if not os.path.isdir(os.path.join(self.target_dir, LOG_DIR)):
                self._refuse_foreign_state()
            return None
        if snap["n_partitions"] != self.n_partitions:
            raise ValueError(
                f"partitioned state at {self.target_dir} was written with "
                f"n_partitions={snap['n_partitions']}; this sink uses "
                f"{self.n_partitions} — reopening with a different "
                "partition count would mis-assign keys"
            )
        return snap

    def _refuse_foreign_state(self) -> None:
        try:
            names = os.listdir(self.target_dir)
        except (FileNotFoundError, NotADirectoryError):
            return
        root = self.target_dir
        if any(
            (n.endswith(".parquet") or n == "_SUCCESS")
            and os.path.isfile(os.path.join(root, n))
            for n in names
        ):
            raise ValueError(
                f"state dir {root} holds a NON-partitioned table (loose "
                f"parquet files at the root, no {LOG_DIR}/ manifest) — "
                "written before the manifest format or by something "
                "else; refusing to silently ignore it — rebuild the "
                "state by re-ingesting it"
            )
        if any(n.startswith("part_") for n in names):
            raise ValueError(
                f"state dir {root} holds part_* directories but no "
                f"{LOG_DIR}/ manifest — written before the manifest format "
                "or by something else, so its partition count and live "
                "files are unknown; rebuild the state by re-ingesting it"
            )

    # -- the commit ----------------------------------------------------------

    def _commit(
        self,
        snap: dict | None,
        frame: DataFrame | None,
        touched: list[int] | None,
        batch_id: int | None = None,
        n_partitions: int | None = None,
    ) -> dict:
        """Commit one version over ``snap``. ``frame`` (with the ``__p``
        column) holds the new rows of the ``touched`` partitions (None:
        all, as in a rescale); a touched partition with no rows leaves
        the manifest. Returns the ``version`` and ``files_written``.

        1. One ``partitionBy("__p")`` job writes ``__batchtmp_<token>``
           from a shuffle on ``__p`` into :meth:`_write_tasks` tasks,
           each file in LSN order. A ``__p`` hashes to one task, so a
           partition gets one file, and no task waits for a second wave
           of cores. Over a frame a merge already shuffled this way,
           Spark plans no second exchange.
        2. Each ``__p=N`` is renamed to a new generation directory.
        3. Version v+1 is created put-if-absent (tmp file, ``os.link``):
           the commit point; a second commit of v+1 fails.
        4. Then generations and batch temps it does not name, and all
           but the two newest log entries, are deleted.

        A crash before step 3 leaves unnamed debris, one after it a
        committed batch; either way the re-driven batch converges."""
        version = 0 if snap is None else snap["version"] + 1
        parts = {} if snap is None or touched is None else {
            p: g for p, g in snap["parts"].items() if int(p) not in touched
        }
        schema = None if snap is None else snap["schema"]
        n = n_partitions or self.n_partitions
        token = uuid.uuid4().hex[:8]
        log = os.path.join(self.target_dir, LOG_DIR)
        os.makedirs(log, exist_ok=True)
        files = 0
        if frame is not None:
            tmp = os.path.join(self.target_dir, f"__batchtmp_{token}")
            k = self._write_tasks(n if touched is None else len(touched))
            order = [c for c in (self.lsn_col,) if c in frame.columns]
            (
                frame.repartition(k, "__p")
                .sortWithinPartitions("__p", *order)
                .write.mode("overwrite")
                .partitionBy("__p")
                .parquet(tmp)
            )
            schema = _union_schema(schema, frame.drop("__p").schema)
            for d in sorted(os.listdir(tmp)):
                if d.startswith("__p="):
                    gen = f"part_{int(d[4:]):05d}.v{version}-{token}"
                    src = os.path.join(tmp, d)
                    files += sum(f.endswith(".parquet") for f in os.listdir(src))
                    os.rename(src, os.path.join(self.target_dir, gen))
                    parts[d[4:]] = gen
        bids = [b for b in (batch_id, snap and snap["batch_id"]) if b is not None]
        body = {
            "version": version,
            "n_partitions": n,
            "schema": schema,
            "parts": parts,
            "batch_id": max(bids) if bids else None,
        }
        body["sha256"] = _manifest_sha(body)
        final = os.path.join(log, f"{version:020d}.json")
        with open(f"{final}.tmp_{token}", "w") as f:
            json.dump(body, f)
        try:
            os.link(f"{final}.tmp_{token}", final)
        except FileExistsError:
            raise RuntimeError(
                f"version {version} of {self.target_dir} was committed by "
                "another writer meanwhile (one writer per state); re-drive "
                "the batch"
            ) from None
        finally:
            os.remove(f"{final}.tmp_{token}")
        self.n_partitions = n
        self._gc(body)
        return {"version": version, "files_written": files}

    def _write_tasks(self, n_parts: int) -> int:
        """Tasks of a commit's write over ``n_parts`` partitions: one
        per partition, at most one per core."""
        return min(n_parts, self.spark.sparkContext.defaultParallelism)

    def _gc(self, body: dict) -> None:
        """Step 4 of :meth:`_commit`. Two log entries stay, so a reader
        that listed the log just before this commit still finds its
        version (one that misses it re-lists)."""
        live = set(body["parts"].values())
        for n in os.listdir(self.target_dir):
            if n.startswith("__batchtmp_") or (n.startswith("part_") and n not in live):
                shutil.rmtree(os.path.join(self.target_dir, n), ignore_errors=True)
        log = os.path.join(self.target_dir, LOG_DIR)
        names = os.listdir(log)
        keep = sorted(n for n in names if _VERSION_RE.fullmatch(n))[-2:]
        for n in set(names) - set(keep):
            try:
                os.remove(os.path.join(log, n))
            except FileNotFoundError:
                pass

    def _merge_batch(
        self,
        batch: DataFrame,
        batch_id: int | None,
        merge: Callable[[DataFrame | None, DataFrame, int], DataFrame],
        skip_replay: bool = False,
    ) -> None:
        """The one batch path of every sink: route ``batch`` by key hash
        (keys cast to the stored types) into ``__p``, read only the
        touched partitions and commit ``merge(prev_slice, batch, k)`` as
        their content. Both inputs and the result carry ``__p``; a merge
        that shuffles on it into the commit's ``k`` write tasks (the
        upsert's window) shares the commit's exchange. With
        ``skip_replay`` a batch whose id is at or below the committed
        ``batch_id`` is skipped whole. The writer beacon excludes
        maintenance passes for the whole batch. The LAZY
        ``localCheckpoint`` materializes in the touched-partition
        collect, so the merge and write plan over a LogicalRDD. The
        current span (the sink's) gets ``partitions_touched``,
        ``version`` and ``files_written``."""
        from sqlserver_pg_cdc_spark.streaming.lock import writer_beacon
        from sqlserver_pg_cdc_spark.tracing import current_span

        with writer_beacon(self.target_dir, self.span_name):
            snap = self._snapshot()
            done = None if snap is None else snap["batch_id"]
            if skip_replay and None not in (batch_id, done) and batch_id <= done:
                self._gc(snap)  # merged already; collect its debris
                return
            routed = self._with_part(
                self._cast_keys_to_stored(batch, snap=snap)
            ).localCheckpoint(eager=False)
            touched = sorted(
                r["__p"] for r in routed.select("__p").distinct().collect()
            )
            attrs = {"partitions_touched": len(touched)}
            if touched:
                prev = self._read_parts(snap, touched)
                new = merge(
                    None if prev is None else self._with_part(prev),
                    routed,
                    self._write_tasks(len(touched)),
                )
                attrs.update(self._commit(snap, new, touched, batch_id))
            span = current_span()
            if span is not None:
                span.attributes.update(attrs)

    # -- reads ---------------------------------------------------------------

    def _part_expr(self, n: int | None = None):
        return F.pmod(
            F.xxhash64(*[F.col(c) for c in self.pk_cols]),
            F.lit(n or self.n_partitions),
        ).cast("int")

    def _with_part(self, df: DataFrame) -> DataFrame:
        return df.withColumn("__p", self._part_expr())

    def _existing_parts(self, snap: dict | None = None) -> list[int]:
        snap = snap or self._snapshot()
        return [] if snap is None else sorted(int(p) for p in snap["parts"])

    def _read_parts(
        self, snap: dict | None, parts: list[int] | None = None
    ) -> DataFrame | None:
        """Partitions ``parts`` (all when None) of ``snap``, or None.
        One directory per partition keeps Spark's listing serial (over
        32 file paths start a listing job); the exact manifest schema
        reads NULL for columns an older partition lacks, no footer merge."""
        if snap is None:
            return None
        named = snap["parts"]
        keys = sorted(named, key=int) if parts is None else map(str, parts)
        dirs = [os.path.join(self.target_dir, named[k]) for k in keys if k in named]
        if not dirs:
            return None
        schema = T.StructType.fromJson(snap["schema"])
        return self.spark.read.schema(schema).parquet(*dirs)

    def read_target(self) -> DataFrame | None:
        return self._read_parts(self._snapshot())

    def _stored_pk_types(self, snap: dict | None = None) -> dict[str, str] | None:
        """simpleString type of each pk column as committed (None before
        the first commit). Pk types never change: writes that would
        widen them raise in :meth:`_cast_keys_to_stored`."""
        snap = snap or self._snapshot()
        if snap is None or snap["schema"] is None:
            return None
        schema = T.StructType.fromJson(snap["schema"])
        types = {f.name: f.dataType.simpleString() for f in schema.fields}
        return {c: types[c] for c in self.pk_cols if c in types}

    def _cast_keys_to_stored(
        self, df: DataFrame, probe: bool = False, snap: dict | None = None
    ) -> DataFrame:
        """Cast pk columns to the STORED key types before hashing:
        ``xxhash64`` is type-sensitive, so an uncast probe (Python ints
        arrive as bigint) or a dtype-drifted batch would route wrong.
        Down-cast guard: a WIDER batch key's out-of-range value would
        wrap onto an unrelated key, so a value-level roundtrip through
        the stored type FILTERS such probe keys (provably absent) and
        makes writes RAISE (rebuild the state deliberately)."""
        types = self._stored_pk_types(snap)
        if not types:
            return df
        out = df
        have = dict(out.dtypes)
        ints = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3}
        fracs = {"float": 0, "double": 1}
        for c in self.pk_cols:
            t = types.get(c)
            b = have.get(c)
            if t is None or b is None or b == t:
                continue
            wider = (
                (b in ints and t in ints and ints[b] > ints[t])
                or (b in fracs and t in fracs and fracs[b] > fracs[t])
                or (b in fracs and t in ints)
            )
            if wider:
                # try_cast: NULL on overflow under ANSI and non-ANSI
                # alike, so the roundtrip detects the value instead of
                # wrapping it or failing the job with CAST_OVERFLOW
                safe = F.col(c).try_cast(t).cast(b).eqNullSafe(F.col(c))
                if probe:
                    out = out.filter(safe)
                elif out.filter(~safe).limit(1).count() > 0:
                    raise ValueError(
                        f"batch key column {c!r} ({b}) holds values out of "
                        f"range of the stored key type {t} at "
                        f"{self.target_dir} — a down-cast would wrap them "
                        "onto unrelated keys; rebuild the state with the "
                        "wider key type"
                    )
                # in range now; try_cast because ANSI may evaluate the
                # cast before the filter has pruned
                out = out.withColumn(c, F.col(c).try_cast(t))
            else:
                out = out.withColumn(c, F.col(c).cast(t))
        return out

    def _parts_for_keys(self, key_rows: list, snap: dict | None = None) -> list[int]:
        """Partition ids a set of key tuples hashes to, computed through
        Spark with the write path's own expression (keys cast to the
        stored dtypes first). Bounded by the lookup set, never state."""
        if not key_rows:
            return []
        df = self._cast_keys_to_stored(
            self.spark.createDataFrame(key_rows, self.pk_cols), True, snap
        )
        return sorted(
            r["__p"]
            for r in df.select(self._part_expr().alias("__p")).distinct().collect()
        )

    def read_keys(self, key_rows: list) -> DataFrame | None:
        """Point lookup: read ONLY the partitions holding the given keys
        (tuples, or scalars for a single-column PK) and filter to
        exactly those keys, NULL-safe — a k-key lookup opens at most k
        partition directories."""
        if key_rows and not isinstance(key_rows[0], (tuple, list)):
            key_rows = [(k,) for k in key_rows]
        key_rows = [tuple(k) for k in key_rows]
        snap = self._snapshot()
        if snap is None or not key_rows:
            return None
        df = self._read_parts(snap, self._parts_for_keys(key_rows, snap))
        if df is None:
            return None
        keys = self.spark.createDataFrame(key_rows, self.pk_cols).alias("__k")
        d = df.alias("__d")
        cond = None
        for c in self.pk_cols:
            term = d[c].eqNullSafe(keys[c])
            cond = term if cond is None else (cond & term)
        return d.join(keys, cond, "left_semi")

    # -- day-2 maintenance ---------------------------------------------------

    def _tombstone_flag(self, df: DataFrame, deleted_col: str | None):
        """NULL-safe boolean tombstone predicate over stored state: the
        index sinks store a boolean ``__del``, the CDC pipeline
        Debezium's string ``__deleted``; with ``deleted_col`` None,
        whichever of the two the state carries is used."""
        col = deleted_col or next(
            (c for c in ("__del", "__deleted") if c in df.columns), None
        )
        if col is None:
            return None
        c = F.col(col)
        if dict(df.dtypes).get(col) != "boolean":
            c = F.lower(c.cast("string")) == F.lit("true")
        return F.coalesce(c, F.lit(False))

    def _drop_rows(self, dead: Callable[[DataFrame], object]) -> tuple[int, int]:
        """One maintenance commit: rewrite the partitions holding rows
        where ``dead(state)`` (a NULL-safe Column; None drops nothing)
        holds, without them. Returns (rows dropped, partitions
        rewritten). Not cached: the frame is state-sized and its plan a
        plain scan, so the stats pass and the rewrite re-read the same
        snapshot's files."""
        snap = self._snapshot()
        st = self._read_parts(snap)
        pred = None if st is None else dead(st)
        if pred is None:
            return 0, 0
        routed = st.withColumn("__p", self._part_expr()).withColumn("__dead", pred)
        stats = routed.filter(F.col("__dead")).groupBy("__p").count().collect()
        hit = sorted(r["__p"] for r in stats)
        if hit:
            keep = routed.filter(F.col("__p").isin(hit) & ~F.col("__dead"))
            self._commit(snap, keep.drop("__dead"), hit)
        return sum(r["count"] for r in stats), len(hit)

    def purge_tombstones(self, watermark_lsn, deleted_col: str | None = None) -> dict:
        """Drop soft-deleted rows whose LSN is at or below
        ``watermark_lsn``, which the CALLER guarantees the source can no
        longer replay (below it the LSN guard no longer needs them; the
        reference's retention twin: docs/development-architecture.md:226).
        One commit rewriting only partitions that held such rows; one
        purged to empty leaves the manifest, and an all-tombstone state
        reads as None. Returns ``{"purged": n, "partitions_rewritten":
        k}``. Holds the maintenance lock."""
        from sqlserver_pg_cdc_spark.streaming.lock import maintenance_lock

        def dead(st: DataFrame):
            flag = self._tombstone_flag(st, deleted_col)
            if flag is None:
                return None
            wm = F.lit(watermark_lsn).cast(dict(st.dtypes)[self.lsn_col])
            # a NULL lsn is never purgeable
            return F.coalesce(flag & (F.col(self.lsn_col) <= wm), F.lit(False))

        with maintenance_lock(self.target_dir, "purge_tombstones"):
            purged, k = self._drop_rows(dead)
        return {"purged": purged, "partitions_rewritten": k}

    def rescale(self, n_new: int) -> None:
        """Re-hash the state into ``n_new`` partitions: one write job
        and one commit naming new generations and the new count (a crash
        before it keeps the old layout, after it the new; aux files stay
        put). ``n_partitions`` follows. Holds the maintenance lock."""
        from sqlserver_pg_cdc_spark.streaming.lock import maintenance_lock

        if n_new < 1:
            raise ValueError("n_new must be >= 1")
        with maintenance_lock(self.target_dir, "rescale"):
            snap = self._snapshot()
            st = self._read_parts(snap)
            if st is not None:
                st = st.withColumn("__p", self._part_expr(n_new))
            self._commit(snap, st, None, n_partitions=n_new)


class ParquetUpsertSink(HashPartitionedStateMixin):
    """foreachBatch sink applying the LSN-guarded ``merge_upsert`` into
    the parquet state store (the local stand-in for Delta MERGE;
    production scale paths are Delta/Iceberg MERGE or the executed
    DbApiUpsertSink). A batch

    1. routes its rows by key hash and collects the distinct partition
       ids it touches (bounded by ``n_partitions``, never by data),
    2. reads ONLY the touched partitions of the committed snapshot,
    3. shuffles stored ∪ batch on the partition id into one task per
       touched partition, at most one per core, and runs
       ``merge_upsert``'s one window there (dedupe and LSN guard),
    4. writes from that same exchange, one file per touched partition,
       and commits the rewritten partitions as one new manifest version.

    This flat sink keeps the whole table in one partition, so a batch
    rewrites O(table). A reader sees the whole batch or none of it. The
    manifest records the batch id, but replay is not skipped on it: the
    LSN guard makes a re-driven batch converge, whether its first
    attempt crashed before the commit or after it."""

    span_name = "cdc_apply_batch"

    def _apply(self, batch_df: DataFrame, batch_id: int | None = None) -> None:
        self._merge_batch(
            batch_df,
            batch_id,
            lambda prev, changes, k: merge_upsert(
                prev, changes, self.pk_cols, self.lsn_col, partition=("__p", k)
            ),
        )


class PartitionedParquetUpsertSink(ParquetUpsertSink):
    """``ParquetUpsertSink`` over ``n_partitions`` hash partitions: the
    100 TB shape of the local parquet target. Untouched partitions are
    never opened — per-batch work is O(batch + touched partitions), the
    partition-pruned discipline a clustered Delta MERGE gives (reference
    analog: JDBC sink upsert batches,
    docker/configs/kafka-connect/postgresql-sink.json:23-34)."""

    def __init__(
        self,
        spark: SparkSession,
        target_dir: str,
        pk_cols: list[str],
        lsn_col: str = "lsn",
        dlq_dir: str | None = None,
        n_partitions: int = 32,
    ):
        super().__init__(spark, target_dir, pk_cols, lsn_col, dlq_dir)
        self._set_partitions(n_partitions)


class TransactionalParquetUpsertSink(ParquetUpsertSink):
    """St8 sink: ParquetUpsertSink plus source-transaction atomicity.

    Rows whose source transaction is incomplete at batch end are carried
    over in a pending spool (parquet) and re-presented to
    :func:`split_transactions` with every later batch; complete
    transactions apply through ONE merge and manifest commit, so a
    reader never observes half a source transaction even when the
    micro-batch boundary split it (the gap micro-batch atomicity alone
    leaves open). Reference: provide.transaction.metadata=true
    (docker/configs/debezium/sqlserver-source.json:43), FR-003
    (spec.md:118), tests/integration/test_replication_flow.py:255.

    Crash-replay correctness: the spool is written as batch-id-stamped
    GENERATIONS (``<pending>_b<id>``) and a batch always reads the
    newest generation with id < its own. Structured Streaming replays a
    failed batch with the SAME batch id, so the replay reads the exact
    pre-batch spool state even if the crashed attempt already wrote its
    own generation — rows can neither be lost from the spool nor
    double-counted, and the merge's LSN guard absorbs rows the crashed
    attempt already applied to the target.
    """

    def __init__(
        self,
        spark: SparkSession,
        target_dir: str,
        pk_cols: list[str],
        lsn_col: str = "lsn",
        dlq_dir: str | None = None,
        pending_dir: str | None = None,
    ):
        super().__init__(spark, target_dir, pk_cols, lsn_col, dlq_dir)
        self.pending_dir = pending_dir or f"{target_dir}__txn_pending"

    def _pending_generations(self) -> list[tuple[int, str]]:
        out = []
        # anchored on the full spool prefix: a half-written __wtmp_* dir
        # (or any other sibling) can never parse as a generation
        pat = re.compile(re.escape(self.pending_dir) + r"_b(-?\d+)")
        for p in glob.glob(f"{self.pending_dir}_b*"):
            m = pat.fullmatch(p)
            if m:
                out.append((int(m.group(1)), p))
        return sorted(out)

    def _read_pending(self, batch_id: int) -> DataFrame | None:
        """Newest spool generation STRICTLY BEFORE this batch — on a
        replay, any generation the crashed attempt wrote is ignored."""
        gens = [p for gid, p in self._pending_generations() if gid < batch_id]
        if not gens:
            return None
        return self.spark.read.parquet(gens[-1])

    def _write_pending(self, batch_id: int, df: DataFrame) -> None:
        gen = f"{self.pending_dir}_b{batch_id}"
        # tmp name deliberately cannot match the generation pattern
        tmp = f"{self.pending_dir}__wtmp_{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").parquet(tmp)
        if os.path.exists(gen):  # crashed attempt of the same batch
            shutil.rmtree(gen, ignore_errors=True)
        os.rename(tmp, gen)
        # keep the previous generation (a replay of THIS batch still
        # needs it); everything older is superseded, and orphaned tmps
        # from crashed attempts are garbage
        for gid, p in self._pending_generations():
            if gid < batch_id - 1:
                shutil.rmtree(p, ignore_errors=True)
        for stale in glob.glob(f"{self.pending_dir}__wtmp_*"):
            shutil.rmtree(stale, ignore_errors=True)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        pending_prev = self._read_pending(batch_id)
        work = (
            batch_df
            if pending_prev is None
            else batch_df.unionByName(pending_prev, allowMissingColumns=True)
        )
        if TXN_COL not in work.columns:
            super().__call__(work, batch_id)
            return
        # replay net: a recovered batch re-presents rows already
        # spooled; CDC LSNs are unique per change, so (txn, lsn, op)
        # identifies a transactional row exactly
        txn_rows = work.filter(F.col(TXN_COL).isNotNull()).dropDuplicates(
            [TXN_COL, self.lsn_col, OP_COL]
        )
        work = (
            work.filter(F.col(TXN_COL).isNull())
            .unionByName(txn_rows)
            .persist()  # ready AND pending consume the same split plan —
        )  # without this the spool read + dedup + split runs twice
        try:
            ready, pending, malformed = split_transactions(work)
            super().__call__(ready.drop(TXN_COL, TXN_COUNT_COL), batch_id)
            if self.dlq_dir is not None:
                # quarantined NULL-count-marker transactions: route out
                # (St10) so they neither half-apply nor wedge the spool
                (
                    malformed.withColumn(
                        "__error_class", F.lit("MalformedTransactionMarker")
                    )
                    .withColumn(
                        "__error_message",
                        F.lit("END marker with NULL event_count"),
                    )
                    .withColumn("__batch_id", F.lit(batch_id))
                    .write.mode("append")
                    .parquet(self.dlq_dir)
                )
            else:
                # no DLQ configured: keep them visible in the spool
                # rather than silently dropping or half-applying
                pending = pending.unionByName(malformed)
            self._write_pending(batch_id, pending)
        finally:
            work.unpersist()
