"""OTel-lite tracing shim + structured JSON logging (reference parity:
src/utils/tracing/tracer.py, decorators.py; src/utils/logging/formatters.py)."""

import json
import logging

import pytest

from sqlserver_pg_cdc_spark.tracing import (
    JSONLogFormatter,
    Tracer,
    current_span,
    get_tracer,
    trace_function,
)


def test_span_nesting_and_ids():
    tr = Tracer()
    with tr.span("outer", table="orders") as outer:
        assert current_span() is outer
        with tr.span("inner") as inner:
            assert inner.trace_id == outer.trace_id  # same trace
            assert inner.parent_id == outer.span_id
    assert current_span() is None
    spans = [json.loads(line) for line in tr.export_json_lines()]
    names = [s["name"] for s in spans]
    assert names == ["inner", "outer"]  # inner finishes first
    assert all(s["duration_ms"] >= 0 for s in spans)
    assert spans[1]["attributes"]["table"] == "orders"
    assert spans[1]["parent_id"] is None


def test_span_error_status_propagates_exception():
    tr = Tracer()
    with pytest.raises(ValueError):
        with tr.span("boom"):
            raise ValueError("nope")
    (span,) = [json.loads(line) for line in tr.export_json_lines()]
    assert span["status"] == "ERROR"
    assert "ValueError" in span["error"]


def test_trace_function_decorator():
    tr = get_tracer()
    tr.clear()

    @trace_function(operation_name="my_op", table="t1")
    def work(x):
        return x + 1

    assert work(1) == 2
    spans = [json.loads(line) for line in tr.export_json_lines()]
    assert spans[-1]["name"] == "my_op"
    assert spans[-1]["attributes"]["table"] == "t1"
    tr.clear()


def test_json_log_formatter_trace_correlation():
    tr = get_tracer()
    fmt = JSONLogFormatter()
    logger = logging.getLogger("test.tracing")
    rec = logger.makeRecord(
        "test.tracing", logging.INFO, __file__, 1, "applied %d rows", (42,),
        None, extra={"table": "orders"},
    )
    with tr.span("apply") as span:
        line = json.loads(fmt.format(rec))
    assert line["message"] == "applied 42 rows"
    assert line["level"] == "INFO"
    assert line["table"] == "orders"
    assert line["trace_id"] == span.trace_id
    assert line["span_id"] == span.span_id
    assert line["timestamp"].endswith("Z")
    tr.clear()


def test_disabled_tracer_records_nothing(monkeypatch):
    monkeypatch.setenv("OTEL_SDK_DISABLED", "true")
    tr = Tracer()
    with tr.span("invisible"):
        pass
    assert list(tr.export_json_lines()) == []


def test_reconcile_table_emits_phase_spans(spark):
    from sqlserver_pg_cdc_spark.runner import reconcile_table

    tr = get_tracer()
    tr.clear()
    df = spark.range(10).withColumnRenamed("id", "pk")
    res = reconcile_table(df, df, "t", pk_cols=["pk"], validate_checksums=True)
    assert res["status"] == "MATCH"
    spans = [json.loads(line) for line in tr.export_json_lines()]
    names = {s["name"] for s in spans}
    assert {"reconcile_table", "count_comparison", "checksum_comparison"} <= names
    root = [s for s in spans if s["name"] == "reconcile_table"][0]
    children = [s for s in spans if s["parent_id"] == root["span_id"]]
    assert len(children) >= 2
    tr.clear()

    # with a row-level diff all three phases get a span under the table's
    # root, though one query answers them all
    res = reconcile_table(df, df.filter("pk < 8"), "t2", pk_cols=["pk"],
                          validate_checksums=True, row_level=True)
    assert res["row_level"] == {"missing": 2, "extra": 0, "modified": 0}
    spans = [json.loads(line) for line in tr.export_json_lines()]
    root = [s for s in spans if s["name"] == "reconcile_table"][0]
    phases = {s["name"]: s for s in spans if s["parent_id"] == root["span_id"]}
    assert set(phases) == {"count_comparison", "checksum_comparison", "row_level_diff"}
    assert all(s["attributes"]["table"] == "t2" for s in phases.values())
    tr.clear()


def test_upsert_batch_span_carries_commit_attributes(spark, tmp_path):
    """Each upsert batch's span names the partitions it touched, the
    manifest version it committed and the files it wrote (one per
    touched partition)."""
    from sqlserver_pg_cdc_spark.streaming.apply import (
        PartitionedParquetUpsertSink,
        read_manifest,
    )

    tr = get_tracer()
    tr.clear()
    d = str(tmp_path / "st")
    sink = PartitionedParquetUpsertSink(spark, d, ["id"], n_partitions=8)
    schema = "id long, name string, lsn long"
    sink(spark.createDataFrame([(i, "a", 1) for i in range(40)], schema), 0)
    sink(spark.createDataFrame([(3, "b", 2), (5, "b", 2)], schema), 1)
    spans = [json.loads(line) for line in tr.export_json_lines()]
    attrs = [s["attributes"] for s in spans if s["name"] == "cdc_apply_batch"]
    assert [a["batch_id"] for a in attrs] == [0, 1]
    assert [a["version"] for a in attrs] == [0, 1]
    assert attrs[0]["partitions_touched"] == len(read_manifest(d)["parts"]) > 2
    assert 1 <= attrs[1]["partitions_touched"] <= 2
    for a in attrs:
        assert a["files_written"] == a["partitions_touched"]
    tr.clear()


# --- OTLP/HTTP wire export ---------------------------------------------------


class _Collector:
    """Minimal in-process OTLP collector: captures POST bodies, answers
    with a configurable status."""

    def __init__(self, status=200):
        import http.server
        import json as _json
        import threading

        collector = self

        class H(http.server.BaseHTTPRequestHandler):
            def do_POST(self):
                n = int(self.headers.get("Content-Length", 0))
                collector.requests.append(
                    (self.path,
                     {k.lower(): v for k, v in self.headers.items()},
                     _json.loads(self.rfile.read(n)))
                )
                self.send_response(collector.status)
                self.end_headers()

            def log_message(self, *a):
                pass

        self.requests = []
        self.status = status
        self.server = http.server.HTTPServer(("127.0.0.1", 0), H)
        self.port = self.server.server_address[1]
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()

    def stop(self):
        self.server.shutdown()
        self.server.server_close()


def test_otlp_export_wire_format_and_flush():
    from sqlserver_pg_cdc_spark.tracing import (
        OtlpHttpExporter,
        Tracer,
        flush_otlp,
    )

    col = _Collector()
    try:
        t = Tracer(service_name="svc-under-test")
        with t.span("outer", table="orders", n=3, ratio=0.5, flag=True):
            with t.span("inner"):
                pass
        try:
            with t.span("boom"):
                raise RuntimeError("kaput")
        except RuntimeError:
            pass
        ex = OtlpHttpExporter(
            endpoint=f"http://127.0.0.1:{col.port}", headers={"x-k": "v"}
        )
        assert flush_otlp(t, ex) is True
        assert len(t.finished) == 0  # accepted export drains the ring
        path, headers, body = col.requests[0]
        assert path == "/v1/traces"
        assert headers.get("x-k") == "v"
        rs = body["resourceSpans"][0]
        svc = rs["resource"]["attributes"][0]
        assert svc["key"] == "service.name"
        assert svc["value"]["stringValue"] == "svc-under-test"
        spans = {s["name"]: s for s in rs["scopeSpans"][0]["spans"]}
        assert set(spans) == {"outer", "inner", "boom"}
        outer, inner = spans["outer"], spans["inner"]
        assert len(outer["traceId"]) == 32 and len(outer["spanId"]) == 16
        assert inner["parentSpanId"] == outer["spanId"]
        assert inner["traceId"] == outer["traceId"]
        attrs = {a["key"]: a["value"] for a in outer["attributes"]}
        assert attrs["table"] == {"stringValue": "orders"}
        assert attrs["n"] == {"intValue": "3"}
        assert attrs["ratio"] == {"doubleValue": 0.5}
        assert attrs["flag"] == {"boolValue": True}
        assert spans["boom"]["status"] == {"code": 2, "message": "RuntimeError: kaput"}
        assert int(outer["endTimeUnixNano"]) >= int(outer["startTimeUnixNano"])
    finally:
        col.stop()


def test_otlp_rejected_export_keeps_spans():
    from sqlserver_pg_cdc_spark.tracing import (
        OtlpHttpExporter,
        Tracer,
        flush_otlp,
    )

    col = _Collector(status=503)
    try:
        t = Tracer()
        with t.span("kept"):
            pass
        ex = OtlpHttpExporter(endpoint=f"http://127.0.0.1:{col.port}")
        assert flush_otlp(t, ex) is False
        assert len(t.finished) == 1  # buffer intact for the next flush
    finally:
        col.stop()
    # collector unreachable entirely: best-effort, no raise, spans kept
    ex_down = OtlpHttpExporter(endpoint="http://127.0.0.1:9", timeout_s=0.5)
    assert flush_otlp(t, ex_down) is False
    assert len(t.finished) == 1
