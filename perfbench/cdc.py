"""CDC workload: a long-lived Structured Streaming query over a file spool
feeding the upsert sink (``cdc_upsert_trickle``) or, for the ``scd2.*``
figures of a traced run, the SCD2 history sink.

Closed loop, one client: a change file is written to a staging directory,
atomically renamed into the spool, and the client blocks on
``processAllAvailable()`` before generating the next file. One operation
is one micro-batch, timed from the rename to the return of
``processAllAvailable()`` (the batch is committed by then).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, replace
from statistics import median

from pyspark.sql import Window
from pyspark.sql import functions as F

from sqlserver_pg_cdc_spark.streaming.apply import (
    PartitionedParquetUpsertSink,
    unwrap_envelope,
    with_soft_delete,
    with_stale_flag,
)
from sqlserver_pg_cdc_spark.streaming.pipeline import CdcPipeline, change_stream_schema
from sqlserver_pg_cdc_spark.streaming.scd2 import PartitionedScd2Sink

from gen import ChangeGenerator, bootstrap_frame, payload_schema
from instrument import FileLedger, JobCounter, job_group, tree_bytes

PAYLOAD_COLS = ["id", "name", "amount", "status"]
PIPELINE_DURATIONS = {
    "latest_offset_ms": "latestOffset",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
}


N_KEYS = 50_000  # bootstrap keys; batch latency is flat in state size
N_PARTITIONS = 32
SETUP_REPS = 3


@dataclass(frozen=True)
class CdcConfig:
    kind: str  # "upsert" or "scd2"
    events_per_batch: int
    # JIT warm-up: upsert batch latency falls by about a fifth over the
    # first half-dozen batches after the stream starts, then by another
    # tenth over the next half-dozen
    warmup_batches: int

    @property
    def prefix(self) -> str:
        return "apply" if self.kind == "upsert" else "scd2"


UPSERT = CdcConfig("upsert", events_per_batch=2_000, warmup_batches=10)
SCD2 = CdcConfig("scd2", events_per_batch=10_000, warmup_batches=2)


class CdcRun:
    def __init__(self, ctx, cfg: CdcConfig):
        self.ctx = ctx
        self.cfg = cfg
        self.spark = ctx.spark
        self.sc = ctx.spark.sparkContext
        self.root = ctx.workdir
        self.spool = os.path.join(self.root, "spool")
        self.staging = os.path.join(self.root, "staging")
        self.gen = ChangeGenerator(N_KEYS, ctx.seed)
        self.files = 0
        self.events = 0
        self.q = None
        # state shared with the foreachBatch wrapper (runs on a py4j thread)
        self.current = {"traced": False, "batch_id": None, "span": None}
        self.batches: list[dict] = []
        self.reads: list[float] = []

    # -- setup ---------------------------------------------------------------

    def _make_sink(self, target: str):
        if self.cfg.kind == "upsert":
            return PartitionedParquetUpsertSink(
                self.spark, target, ["id"], n_partitions=N_PARTITIONS
            )
        return PartitionedScd2Sink(
            self.spark, target, ["id"], op_col="__op",
            n_partitions=N_PARTITIONS,
        )

    def _bootstrap(self, rep: int) -> tuple[str, object]:
        target = os.path.join(self.root, f"target_{rep}")
        sink = self._make_sink(target)
        CdcPipeline(
            self.spark, self.spool, target, os.path.join(self.root, "unused"),
            payload_schema(), ["id"], sink=sink,
        ).bootstrap_from_snapshot(bootstrap_frame(self.spark, N_KEYS, self.ctx.seed))
        return target, sink

    def setup(self, n_reps: int) -> tuple[list[float], float]:
        """Bootstraps the state ``n_reps`` times (fresh directories; the
        last is kept), then starts the stream and runs the warm-up
        batches, each followed by a read as in ``measure``. Returns the
        bootstrap durations and the stream start plus warm-up time."""
        os.makedirs(self.spool)
        os.makedirs(self.staging)
        reps = []
        for rep in range(n_reps):
            t0 = time.perf_counter()
            target, sink = self._bootstrap(rep)
            reps.append(time.perf_counter() - t0)
        self.target, self.sink = target, sink
        t0 = time.perf_counter()
        self._start_stream()
        for _ in range(self.cfg.warmup_batches):
            self._one_batch()
            self._read()
        return reps, time.perf_counter() - t0

    def _start_stream(self) -> None:
        raw = (
            self.spark.readStream.schema(change_stream_schema(payload_schema()))
            .option("maxFilesPerTrigger", "1")
            .json(self.spool)
        )
        flat = with_stale_flag(with_soft_delete(unwrap_envelope(raw)))
        self.q = (
            flat.writeStream.foreachBatch(self._sink_call)
            .option("checkpointLocation", os.path.join(self.root, "checkpoint"))
            .start()
        )

    def _sink_call(self, df, batch_id: int) -> None:
        cur = self.current
        cur["batch_id"] = batch_id
        if not cur["traced"]:
            self.sink(df, batch_id)
            return
        spans = self.ctx.spans
        with job_group(self.sc, f"perfbench.{self.cfg.prefix}.{batch_id}"), spans.span(
            f"{self.cfg.prefix}.sink", parent=cur["span"], batch_id=batch_id
        ):
            self.sink(df, batch_id)

    # -- the measured operation ----------------------------------------------

    def _one_batch(self, traced: bool = False) -> dict:
        batch = self.gen.next_batch(self.cfg.events_per_batch)
        name = f"{self.files:06d}.json"
        stage = os.path.join(self.staging, name)
        with open(stage, "wb") as f:
            f.write(batch.payload())
        self.files += 1
        self.events += batch.events
        spans = self.ctx.spans
        span = spans.start("pipeline.batch", file=name) if traced else None
        self.current.update(traced=traced, span=span, batch_id=None)
        t0 = time.perf_counter()
        os.rename(stage, os.path.join(self.spool, name))
        self.q.processAllAvailable()
        latency = time.perf_counter() - t0
        if span is not None:
            spans.end(span)
        if self.q.exception() is not None:
            raise RuntimeError(f"stream failed: {self.q.exception()}")
        return {"latency_s": latency, "events": batch.events, "traced": traced,
                "batch_id": self.current["batch_id"],
                "superseded_share": batch.superseded_share}

    def measure(self, seconds: float) -> None:
        """Batches until ``seconds`` have passed, each followed by a full
        read of the state, so reads sample the whole run as batches do."""
        ledger = FileLedger(self.target) if self.ctx.trace else None
        t_end = time.perf_counter() + seconds
        i = 0
        while time.perf_counter() < t_end or len(self.batches) < 2:
            # traced runs alternate traced and untraced batches, so the
            # tracing overhead is measured inside one run
            b = self._one_batch(traced=self.ctx.trace and i % 2 == 0)
            if ledger is not None:
                b["writes"] = ledger.new_writes()
            self.batches.append(b)
            self.reads.append(self._read())
            i += 1
        self.q.stop()

    # -- after the run -------------------------------------------------------

    def _state(self):
        """The applied state a reader sees: active rows of the upsert
        target, or the current view of the SCD2 history."""
        if self.cfg.kind == "upsert":
            t = self.sink.read_target()
            return t.filter(F.col("__deleted") == "false")
        return self.sink.current()

    def _read(self) -> float:
        t0 = time.perf_counter()
        self._state().agg(
            F.count(F.lit(1)), F.bit_xor(F.xxhash64(*PAYLOAD_COLS))
        ).collect()
        return time.perf_counter() - t0

    def state_rows(self) -> int:
        """Live rows (upsert) or stored versions (SCD2)."""
        if self.cfg.kind == "upsert":
            return self._state().count()
        return self.sink.history().count()

    def _expected_latest(self):
        """Relational recompute: bootstrap (LSN 0) plus every spooled event,
        reduced to the highest-LSN image per key."""
        boot = bootstrap_frame(self.spark, N_KEYS, self.ctx.seed).select(
            *PAYLOAD_COLS, F.lit(0).cast("long").alias("lsn"), F.lit("r").alias("op")
        )
        ev = self.spark.read.schema(change_stream_schema(payload_schema())).json(self.spool)
        image = F.when(F.col("op") == "d", F.col("before")).otherwise(F.col("after"))
        events = ev.select(image.alias("r"), "lsn", "op").select(
            *[F.col(f"r.{c}").alias(c) for c in PAYLOAD_COLS], "lsn", "op"
        )
        w = Window.partitionBy("id").orderBy(F.col("lsn").desc())
        return (
            boot.unionByName(events)
            .withColumn("__rn", F.row_number().over(w))
            .filter("__rn = 1")
            .drop("__rn")
        )

    def check(self) -> None:
        """Raises unless the final state equals the relational recompute."""
        latest = self._expected_latest()
        if self.cfg.kind == "upsert":
            cols = PAYLOAD_COLS + ["lsn", "__deleted"]
            expected = latest.withColumn(
                "__deleted", F.when(F.col("op") == "d", "true").otherwise("false")
            )
            _assert_same(self.sink.read_target(), expected, cols, "upsert target")
            return
        want = N_KEYS + self.events
        got = self.sink.history().count()
        if got != want:
            raise RuntimeError(f"SCD2 history holds {got} versions, expected {want}")
        expected = latest.filter(F.col("op") != "d")
        _assert_same(self.sink.current(), expected, PAYLOAD_COLS, "SCD2 current()")


def _assert_same(got, expected, cols, what: str) -> None:
    g, e = got.select(*cols), expected.select(*cols)
    extra, missing = g.exceptAll(e).count(), e.exceptAll(g).count()
    if extra or missing:
        raise RuntimeError(
            f"{what} diverges from the relational recompute "
            f"(extra={extra}, missing={missing})"
        )


def run(ctx, cfg: CdcConfig, setup_reps: int = SETUP_REPS) -> dict:
    r = CdcRun(ctx, cfg)
    boot, warm = r.setup(setup_reps)
    t0 = time.perf_counter()
    r.measure(ctx.seconds)
    t1 = time.perf_counter()
    live = r.state_rows()
    state_bytes = tree_bytes(r.target)
    r.check()
    ops = r.batches
    res = {
        "setup_reps_s": boot,
        "warmup_s": warm,
        "latencies_s": [b["latency_s"] for b in ops],
        "rows_per_s": sum(b["events"] for b in ops) / sum(b["latency_s"] for b in ops),
        "read_p50_s": median(r.reads),
        "state_bytes_per_row": state_bytes / live,
        "attempted": len(ops),
        "phases_s": {"measure": t1 - t0, "check": time.perf_counter() - t1},
    }
    if ctx.trace:
        res["layers"] = _layers(r)
        res["traced_latencies_s"] = [b["latency_s"] for b in ops if b["traced"]]
        res["untraced_latencies_s"] = [b["latency_s"] for b in ops if not b["traced"]]
    return res


def scd2_layers(ctx) -> dict:
    """The ``scd2.*`` figures for a traced ``cdc_upsert_trickle`` run: the
    same closed loop into the SCD2 history sink, over one fresh bootstrap
    in its own directory, for half the run's seconds. Its output is
    checked like any run's; its ``pipeline.*`` figures are dropped, as
    the upsert stream's stand."""
    sub = replace(ctx, workdir=os.path.join(ctx.workdir, "scd2"), seconds=ctx.seconds / 2)
    os.makedirs(sub.workdir)
    layers = run(sub, SCD2, setup_reps=1)["layers"]
    return {k: v for k, v in layers.items() if k.startswith(f"{SCD2.prefix}.")}


def _layers(r: CdcRun) -> dict:
    """Per-layer numbers over the traced batches of the run."""
    p = r.cfg.prefix
    traced = [b for b in r.batches if b["traced"]]
    progress = {pr.batchId: pr.durationMs for pr in r.q.recentProgress}
    sink_ms = {s.attrs["batch_id"]: s.ms for s in r.ctx.spans.named(f"{p}.sink")}
    counter = JobCounter(r.sc)
    rows = {k: [] for k in (
        "pickup_ms", "overhead_ms", *PIPELINE_DURATIONS, "sink_ms",
        "jobs", "tasks",
    )}
    for b in traced:
        d = progress.get(b["batch_id"])
        if d is None:
            continue
        trig = d.get("triggerExecution", 0)
        rows["pickup_ms"].append(b["latency_s"] * 1e3 - trig)
        rows["overhead_ms"].append(trig - d.get("addBatch", 0))
        for name, key in PIPELINE_DURATIONS.items():
            rows[name].append(d.get(key, 0))
        rows["sink_ms"].append(sink_ms[b["batch_id"]])
        jobs, tasks = counter.count(f"perfbench.{p}.{b['batch_id']}")
        rows["jobs"].append(jobs)
        rows["tasks"].append(tasks)
    writes = [b["writes"] for b in r.batches]
    events = sum(b["events"] for b in r.batches)
    out = {
        f"pipeline.{k}": median(rows[k])
        for k in ("pickup_ms", "overhead_ms", *PIPELINE_DURATIONS)
    }
    out.update({
        f"{p}.sink_ms": median(rows["sink_ms"]),
        f"{p}.jobs_per_batch": median(rows["jobs"]),
        f"{p}.tasks_per_batch": median(rows["tasks"]),
        f"{p}.partitions_rewritten_per_batch": median([w.dirs for w in writes]),
        f"{p}.rows_written_per_event": sum(w.rows for w in writes) / events,
        f"{p}.bytes_written_per_event": sum(w.bytes for w in writes) / events,
        f"{p}.superseded_share": sum(
            b["superseded_share"] * b["events"] for b in r.batches
        ) / events,
    })
    return out
