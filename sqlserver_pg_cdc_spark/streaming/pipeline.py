"""End-to-end CDC replication pipeline (reference St1-St8 composed).

Reference flow (SURVEY §3.2): SQL Server CT tables -> Debezium poll
(ORDER BY lsn, 500 ms) -> Kafka/Avro -> SMT unwrap + soft delete ->
RegexRouter -> JDBC upsert -> DLQ on failure.

Spark flow: one Structured Streaming query per source — readStream (file
source here; Kafka or an incremental JDBC poll in production) -> unwrap
-> soft delete -> stale flag -> foreachBatch {latest-per-key dedup,
LSN-guarded upsert, DLQ} with a checkpoint for resume (St6).

Tests drive it with ``Trigger.AvailableNow`` over a spool directory;
swapping the trigger to ``processingTime='500ms'`` reproduces the
reference's poll cadence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from sqlserver_pg_cdc_spark.streaming.apply import (
    ParquetUpsertSink,
    TransactionalParquetUpsertSink,
    unwrap_envelope,
    with_soft_delete,
    with_stale_flag,
)


def change_stream_schema(
    payload_schema: T.StructType, transactional: bool = False
) -> T.StructType:
    """Debezium-envelope schema for a given business-row schema. With
    ``transactional`` the envelope carries the Debezium transaction
    block (provide.transaction.metadata=true)."""
    fields = [
        T.StructField("before", payload_schema, True),
        T.StructField("after", payload_schema, True),
        T.StructField("op", T.StringType(), False),
        T.StructField("ts_ms", T.LongType(), True),
        T.StructField("lsn", T.LongType(), False),
    ]
    if transactional:
        fields.append(
            T.StructField(
                "transaction",
                T.StructType(
                    [
                        T.StructField("id", T.StringType(), True),
                        T.StructField("event_count", T.LongType(), True),
                    ]
                ),
                True,
            )
        )
    return T.StructType(fields)


class CdcPipeline:
    """File-spool CDC source -> transform -> idempotent upsert sink."""

    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        target_dir: str,
        checkpoint_dir: str,
        payload_schema: T.StructType,
        pk_cols: list[str],
        dlq_dir: str | None = None,
        stale_hours: int = 24,
        sink=None,
        transactional: bool = False,
    ):
        self.spark = spark
        self.source_dir = source_dir
        self.target_dir = target_dir
        self.checkpoint_dir = checkpoint_dir
        self.payload_schema = payload_schema
        self.pk_cols = pk_cols
        self.dlq_dir = dlq_dir
        self.stale_hours = stale_hours
        # St8: parse the Debezium transaction block and apply source
        # transactions all-or-nothing (TransactionalParquetUpsertSink)
        self.transactional = transactional
        # custom foreachBatch sink (e.g. jdbc.DbApiUpsertSink against a
        # live database); defaults to the flat parquet upsert sink
        self.sink = sink

    def _default_sink(self):
        cls = (
            TransactionalParquetUpsertSink if self.transactional else ParquetUpsertSink
        )
        return cls(self.spark, self.target_dir, self.pk_cols, dlq_dir=self.dlq_dir)

    def _transform(self, raw: DataFrame) -> DataFrame:
        flat = unwrap_envelope(raw)
        flat = with_soft_delete(flat)
        return with_stale_flag(flat, max_age_hours=self.stale_hours)

    def bootstrap_from_snapshot(self, snapshot: DataFrame, snapshot_lsn: int = 0) -> None:
        """Initial load (the reference's snapshot phase before CDC
        streaming begins; snapshot.mode, sqlserver-source.json:33): seed
        the target from a consistent source snapshot, stamping every row
        with the snapshot LSN. Changes already folded into the snapshot
        arrive again from the change stream with lsn <= snapshot_lsn and
        are guarded out by the normal merge; only genuinely newer
        changes apply — the standard snapshot-then-catch-up handoff."""
        from pyspark.sql import functions as F

        seeded = (
            snapshot.withColumn("__op", F.lit("r"))  # Debezium snapshot op
            .withColumn("ts_ms", F.unix_millis(F.current_timestamp()))
            .withColumn("lsn", F.lit(snapshot_lsn).cast("long"))
            .withColumn("__deleted", F.lit("false"))
            .withColumn("__stale", F.lit(False))
        )
        sink = self.sink or self._default_sink()
        sink(seeded, batch_id=-1)

    def run_available_now(self, max_files_per_trigger: int | None = None) -> None:
        """Drain everything currently in the spool, then stop (test mode /
        batch catch-up; production uses a processingTime trigger).
        ``max_files_per_trigger`` bounds each micro-batch — the Spark
        twin of the reference's max.batch.size=2048 poll cap
        (sqlserver-source.json:39), keeping per-batch memory flat no
        matter how far behind the spool is."""
        reader = self.spark.readStream.schema(
            change_stream_schema(self.payload_schema, self.transactional)
        )
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        raw = reader.json(self.source_dir)
        sink = self.sink or self._default_sink()
        q = (
            self._transform(raw)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def target(self) -> DataFrame | None:
        # a custom sink (partitioned layout, DBAPI target) knows how to
        # read its own state; fall back to the flat parquet state
        if self.sink is not None and hasattr(self.sink, "read_target"):
            return self.sink.read_target()
        sink = ParquetUpsertSink(self.spark, self.target_dir, self.pk_cols)
        return sink.read_target()

    def active_rows(self) -> DataFrame | None:
        """P3: the canonical active-row view over the applied state."""
        t = self.target()
        if t is None:
            return None
        from pyspark.sql import functions as F

        return t.filter(
            (F.col("__deleted").isNull()) | (F.col("__deleted") == "false")
        )
