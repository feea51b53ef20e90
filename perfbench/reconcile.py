"""``reconcile_audit``: repeated audit rounds over seeded table pairs.

A round hands every pair to ``ParallelReconciler`` (counts, checksums and
the row-level diff per table), then builds a repair script for every
drifted table with ``generate_repair_script``, one table after another.
One operation is one table's audit: its runner duration plus
its repair-script time.
"""

from __future__ import annotations

import functools
import os
import time
from statistics import fmean as mean
from statistics import median

from pyspark.sql import functions as F

from sqlserver_pg_cdc_spark.operators.diff import diff_tables
from sqlserver_pg_cdc_spark.operators.repair import generate_repair_script
from sqlserver_pg_cdc_spark.runner import ParallelReconciler, estimate_optimal_workers
from sqlserver_pg_cdc_spark.tracing import get_tracer

from gen import TableSpec, reconcile_tables, table_frames
from instrument import JobCounter

PK = ["id"]
VALUE_COLS = ["id", "qty", "price", "label", "day"]
# one table of a size that makes the scans and the diff join matter, small
# tables whose cost is mostly per-job overhead, and a control without drift
SIZES = [
    ("orders_big", 100_000),
    *[(f"dim_{i}", 20_000) for i in range(2)],
    ("control", 20_000),
]
CONTROL = "control"
DRIFT_SHARE = 0.01
SETUP_REPS = 3
# full warm-up rounds: each of the first four rounds is faster than the
# one before it, the first by up to a fifth
WARMUP_ROUNDS = 3
# the spans ``reconcile_table`` opens per table on the engine's tracer,
# by the operator layer each one times
ENGINE_SPANS = {
    "count_comparison": "counts",
    "checksum_comparison": "checksum",
    "row_level_diff": "diff",
}


def _statement_counts(script: str) -> dict[str, int]:
    out = {"INSERT": 0, "DELETE": 0, "UPDATE": 0}
    for line in script.splitlines():
        verb = line.split(" ", 1)[0]
        if verb in out:
            out[verb] += 1
    return out


class AuditRun:
    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.sc = ctx.spark.sparkContext
        self.specs = reconcile_tables(ctx.seed, SIZES, DRIFT_SHARE, CONTROL)
        self.workers = estimate_optimal_workers(len(self.specs), ctx.cores)
        self.rounds: list[dict] = []

    # -- setup ---------------------------------------------------------------

    def _write_tables(self, rep: int) -> str:
        """Every table pair in one write job, laid out ``name=<t>/side=<s>``."""
        root = os.path.join(self.ctx.workdir, f"tables_{rep}")
        frames = []
        for spec in self.specs:
            for side, df in zip(("source", "target"), table_frames(self.spark, spec, self.ctx.seed)):
                frames.append(df.withColumn("name", F.lit(spec.name)).withColumn("side", F.lit(side)))
        union = functools.reduce(lambda a, b: a.unionByName(b), frames)
        union.write.partitionBy("name", "side").parquet(root)
        return root

    def setup(self) -> tuple[list[float], float]:
        """Writes the table pairs ``SETUP_REPS`` times (the last copy is
        audited), then runs the warm-up rounds. Returns the write durations
        and the warm-up time."""
        reps = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            self.tables = self._write_tables(rep)
            reps.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        for i in range(WARMUP_ROUNDS):
            self._round(-1 - i, traced=False)
        return reps, time.perf_counter() - t0

    def _pair(self, spec: TableSpec):
        d = os.path.join(self.tables, f"name={spec.name}")
        return (self.spark.read.parquet(os.path.join(d, "side=source")),
                self.spark.read.parquet(os.path.join(d, "side=target")))

    # -- the measured round --------------------------------------------------

    def _round(self, idx: int, traced: bool) -> dict:
        spans = self.ctx.spans
        rspan = spans.start("reconcile.round", round=idx) if traced else None
        called: dict[str, float] = {}
        if traced:
            get_tracer().clear()

        def factory(spec: TableSpec):
            def make():
                called[spec.name] = time.perf_counter()
                if traced:
                    self.sc.setJobGroup(f"perfbench.runner.{idx}.{spec.name}", spec.name)
                elif self.ctx.trace:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                return self._pair(spec)
            return make

        t0 = time.perf_counter()
        results = ParallelReconciler(self.spark, max_workers=self.workers).reconcile_tables(
            {s.name: factory(s) for s in self.specs},
            pk_cols=PK, validate_checksums=True, row_level=True,
        )
        runner_wall = time.perf_counter() - t0
        # one repair at a time, so each repair time is that table's alone
        repairs = {s.name: self._repair(s) for s in self.specs if s.drift}
        wall = time.perf_counter() - t0
        self._check_round(results, repairs)
        ops = self._record_spans(rspan, results, called, repairs) if traced else {}
        return {
            "idx": idx,
            "traced": traced,
            "wall_s": wall,
            "runner_wall_s": runner_wall,
            "latencies_s": [
                r.duration_s + repairs.get(r.table, {}).get("s", 0.0) for r in results
            ],
            "durations_s": [r.duration_s for r in results],
            "queue_wait_s": [called[r.table] - t0 for r in results],
            "repairs": repairs,
            "ops_ms": ops,
            "discrepancies": [sum(r.result["row_level"].values()) for r in results],
            "rows": sum(s.rows + s.target_rows for s in self.specs),
        }

    def _record_spans(self, rspan, results, called, repairs) -> dict:
        """Ends the round span, adds the runner, operator and repair spans
        under it and returns each table's operator times in ms. The
        operator spans are the ones ``reconcile_table`` opened on the
        engine's tracer inside the runner threads of this round."""
        spans = self.ctx.spans
        spans.end(rspan)
        parents = {}
        for r in results:
            s = parents[r.table] = spans.start("runner.table", rspan, table=r.table)
            s.start_s, s.end_s = called[r.table], called[r.table] + r.duration_s
        # engine spans carry wall-clock ns, the benchmark's perf_counter s
        offset = time.perf_counter() - time.time()
        ops: dict[str, dict[str, float]] = {r.table: {} for r in results}
        for es in list(get_tracer().finished):
            layer = ENGINE_SPANS.get(es.name)
            table = es.attributes.get("table")
            if layer is None or table not in ops:
                continue
            s = spans.start(f"operators.{layer}", parents[table], table=table)
            s.start_s, s.end_s = es.start_ns / 1e9 + offset, es.end_ns / 1e9 + offset
            ops[table][layer] = s.ms
        for name, rep in repairs.items():
            s = spans.start("operators.repair", rspan, table=name)
            s.start_s, s.end_s = rep["start_s"], rep["start_s"] + rep["s"]
        for table, got in ops.items():
            if set(got) != set(ENGINE_SPANS.values()):
                raise RuntimeError(
                    f"{table}: the engine tracer recorded {sorted(got)}; "
                    "is OTEL_SDK_DISABLED set?"
                )
        return ops

    def _repair(self, spec: TableSpec) -> dict:
        start = time.perf_counter()
        src, tgt = self._pair(spec)
        diff = diff_tables(src, tgt, PK, include_values=True)
        script = generate_repair_script(diff, PK, spec.name)
        return {"start_s": start, "s": time.perf_counter() - start,
                "statements": _statement_counts(script),
                "bytes": len(script.encode())}

    def _check_round(self, results, repairs) -> None:
        by_name = {s.name: s for s in self.specs}
        for r in results:
            spec = by_name[r.table]
            if r.status != "success":
                raise RuntimeError(f"{r.table}: audit {r.status}: {r.error}")
            res = r.result
            want = {"missing": len(spec.missing), "extra": len(spec.extra),
                    "modified": len(spec.modified)}
            if res["row_level"] != want:
                raise RuntimeError(f"{r.table}: row-level diff {res['row_level']} != injected {want}")
            if (res["source_count"], res["target_count"]) != (spec.rows, spec.target_rows):
                raise RuntimeError(f"{r.table}: counts {res['source_count']}/{res['target_count']}")
            if res["checksum_match"] != (spec.drift == 0):
                raise RuntimeError(f"{r.table}: checksum_match={res['checksum_match']} with drift {spec.drift}")
            if spec.drift:
                want_sql = {"INSERT": len(spec.missing), "DELETE": len(spec.extra),
                            "UPDATE": len(spec.modified)}
                if repairs[r.table]["statements"] != want_sql:
                    raise RuntimeError(
                        f"{r.table}: repair statements {repairs[r.table]['statements']} != {want_sql}"
                    )

    def measure(self, seconds: float) -> None:
        t_end = time.perf_counter() + seconds
        i = 0
        while time.perf_counter() < t_end or len(self.rounds) < 2:
            self.rounds.append(self._round(i, traced=self.ctx.trace and i % 2 == 0))
            i += 1

    # -- after the run -------------------------------------------------------

def run(ctx) -> dict:
    r = AuditRun(ctx)
    boot, warm = r.setup()
    t0 = time.perf_counter()
    r.measure(ctx.seconds)
    t1 = time.perf_counter()
    rounds = r.rounds
    repairs = [rep for rd in rounds for rep in rd["repairs"].values()]
    res = {
        "setup_reps_s": boot,
        "warmup_s": warm,
        "latencies_s": [x for rd in rounds for x in rd["latencies_s"]],
        "rows_per_s": sum(rd["rows"] for rd in rounds) / sum(rd["wall_s"] for rd in rounds),
        # reading a drifted table's row-level diff into the driver and
        # rendering it as SQL: the audit's output, as the applied state is
        # the CDC workloads'
        "read_p50_s": median([rep["s"] for rep in repairs]),
        "state_bytes_per_row": sum(rep["bytes"] for rep in repairs)
        / sum(sum(rep["statements"].values()) for rep in repairs),
        "attempted": sum(len(rd["latencies_s"]) for rd in rounds),
        "phases_s": {"measure": t1 - t0},
    }
    if ctx.trace:
        res["layers"] = _layers(r)
        res["traced_latencies_s"] = [x for rd in rounds if rd["traced"] for x in rd["latencies_s"]]
        res["untraced_latencies_s"] = [x for rd in rounds if not rd["traced"] for x in rd["latencies_s"]]
    return res


def _layers(r: AuditRun) -> dict:
    traced = [rd for rd in r.rounds if rd["traced"]]
    counter = JobCounter(r.sc)
    jobs = [
        counter.count(f"perfbench.runner.{rd['idx']}.{s.name}")[0]
        for rd in traced for s in r.specs
    ]
    repairs = [rep for rd in traced for rep in rd["repairs"].values()]
    ops = [t for rd in traced for t in rd["ops_ms"].values()]
    checksum_s = sum(t["checksum"] for t in ops) / 1e3
    out = {
        "counts.ms_per_table": mean([t["counts"] for t in ops]),
        "checksum.ms_per_table": mean([t["checksum"] for t in ops]),
        "checksum.rows_per_s": sum(rd["rows"] for rd in traced) / checksum_s,
        "diff.ms_per_table": mean([t["diff"] for t in ops]),
        "diff.discrepancies_per_table": mean(
            [n for rd in traced for n in rd["discrepancies"]]
        ),
        "repair.ms_per_table": mean([rep["s"] * 1e3 for rep in repairs]),
        "repair.statements_per_table": mean([sum(rep["statements"].values()) for rep in repairs]),
        "runner.queue_wait_ms": mean([w * 1e3 for rd in traced for w in rd["queue_wait_s"]]),
        "runner.parallel_efficiency": mean([
            sum(rd["durations_s"]) / (rd["runner_wall_s"] * r.workers) for rd in traced
        ]),
        "runner.jobs_per_table": mean(jobs),
    }
    return out
