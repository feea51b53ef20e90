"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Prints detail lines, then as its last line
one JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Everything the run writes goes under ``.perfbench_work/``
in the current directory. See perfbench/README.md for the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("cdc_upsert_trickle", "reconcile_audit")


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    trace: bool
    workdir: str
    cores: int
    spans: object


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _start_spark(cores: int, scratch: str):
    """The engine's own session factory, with every JVM and Python temp
    path pointed under ``scratch``."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    # every JVM this process starts, spark-submit's launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    from sqlserver_pg_cdc_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        },
    )


def _stop_spark(spark) -> None:
    """Stops the session and waits for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def _end_to_end(res: dict, session_s: float) -> tuple[dict, dict]:
    from statistics import median

    from stats import tail_percentile

    lat = res["latencies_s"]
    q, tail = tail_percentile(lat)
    metrics = {
        "setup_s": _metric(
            session_s + median(res["setup_reps_s"]) + res["warmup_s"], "s"
        ),
        "latency_p50_s": _metric(median(lat), "s"),
        "latency_tail_s": _metric(tail, "s"),
        "rows_per_s": _metric(res["rows_per_s"], "rows/s"),
        "read_p50_s": _metric(res["read_p50_s"], "s"),
        "state_bytes_per_row": _metric(res["state_bytes_per_row"], "B/row"),
    }
    detail = {"latency_tail_percentile": q, "latency_samples": len(lat),
              "latencies_s": [round(x, 4) for x in lat],
              "session_start_s": session_s, "setup_reps_s": res["setup_reps_s"],
              "warmup_s": res["warmup_s"], "phases_s": res["phases_s"]}
    return metrics, detail


def _per_layer(res: dict) -> tuple[dict, dict]:
    """Every per-layer metric BENCHMARK.json declares; a layer this
    workload does not run reads 0."""
    from statistics import median

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        declared = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    values = dict.fromkeys(declared, 0.0)
    values.update(res["layers"])
    traced, untraced = res["traced_latencies_s"], res["untraced_latencies_s"]
    values["trace.overhead_share"] = median(traced) / median(untraced) - 1
    metrics = {k: _metric(v, declared[k]) for k, v in values.items()}
    detail = {"traced_ops": len(traced), "untraced_ops": len(untraced),
              "traced_latency_p50_s": median(traced),
              "untraced_latency_p50_s": median(untraced)}
    return metrics, detail


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, HERE)
    sys.path.insert(0, os.getcwd())
    try:
        import sqlserver_pg_cdc_spark.streaming.pipeline  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from "
              f"{os.getcwd()}: {e}", file=sys.stderr)
        return 2

    import cdc
    import reconcile
    from instrument import Spans

    scratch = os.path.abspath(".perfbench_work")
    workdir = os.path.join(scratch, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    cores = len(os.sched_getaffinity(0))

    t0 = time.perf_counter()
    spark = _start_spark(cores, scratch)
    session_s = time.perf_counter() - t0
    ctx = Ctx(spark, args.seed, args.seconds, bool(args.trace), workdir, cores, Spans())
    try:
        if args.workload == "cdc_upsert_trickle":
            res = cdc.run(ctx, cdc.UPSERT)
            if ctx.trace:
                res["layers"].update(cdc.scd2_layers(ctx))
        else:
            res = reconcile.run(ctx)
    except Exception:  # noqa: BLE001 - a failed run prints no result
        traceback.print_exc()
        return 1
    finally:
        _stop_spark(spark)
        if ctx.trace:
            ctx.spans.write(os.path.join(scratch, "traces", f"{args.workload}-{args.seed}.jsonl"))
        shutil.rmtree(workdir, ignore_errors=True)

    if args.trace:
        metrics, detail = _per_layer(res)
    else:
        metrics, detail = _end_to_end(res, session_s)
    print(json.dumps({"workload": args.workload, "seed": args.seed, **detail}))
    print(json.dumps({"correct": True, "attempted": res["attempted"], "failed": 0,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
