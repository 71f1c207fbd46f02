"""Observability parity tests: tracing spans (A15), the /metrics HTTP
endpoint (A14), histogram validity, and the runnable entry point
(``cmd/root.go`` parity)."""

from __future__ import annotations

import json
import sys
import time
import types
import urllib.request
import uuid

import pytest


#: Trigger start of the progress doubles, and the same instant in ns.
_TS, _TS_NS = "2026-01-01T00:00:00.000Z", 1_767_225_600_000_000_000


def _progress_event(
    rows: int,
    add_batch_ms: int,
    trigger_ms: int | None = None,
    batch_id: int = 0,
    inserted: int | None = None,
    commit_ms: int = 0,
):
    """A ``QueryProgressEvent`` double: ``rows`` read, ``inserted``
    observed by ``observe_stream`` (absent when None), and the trigger's
    phase durations."""
    trigger_ms = add_batch_ms if trigger_ms is None else trigger_ms
    p = types.SimpleNamespace(
        numInputRows=rows,
        timestamp=_TS,
        durationMs={
            "addBatch": add_batch_ms,
            "commitOffsets": commit_ms,
            "triggerExecution": trigger_ms,
        },
        observedMetrics={} if inserted is None else {"ingestion": {"rows_total": inserted}},
        batchId=batch_id,
        id=uuid.uuid4(),
    )
    return types.SimpleNamespace(progress=p)


# ------------------------------------------------------------- tracing


def test_tracer_records_nested_spans():
    from go_otel_clickhouse_ingestor_spark.streaming.tracing import Tracer

    t = Tracer("svc")
    outer = t.record("outer", 1_000, 30_000_000, kind="test")
    inner = t.record("inner", 2_000, 3_000, parent=outer)
    spans = {s.name: s for s in t.spans()}
    assert spans["inner"] is inner
    assert inner.trace_id == outer.trace_id
    assert inner.parent_id == outer.span_id
    assert outer.parent_id is None
    assert spans["outer"].duration_ms >= 10
    assert spans["outer"].attributes["service.name"] == "svc"
    assert spans["outer"].attributes["kind"] == "test"
    assert t.log_prefix(spans["outer"]) == f"[{spans['outer'].trace_id}]"
    # jsonl export round-trips
    lines = [json.loads(ln) for ln in t.to_jsonl().splitlines()]
    assert {ln["name"] for ln in lines} == {"outer", "inner"}


def test_tracer_mirrors_span_bounds_into_otel(monkeypatch):
    """The OTel mirror carries the recorded span's own bounds, not a
    zero-length span opened after the work ended, and starts a child in
    its parent's mirrored context, not as a root."""
    from go_otel_clickhouse_ingestor_spark.streaming.tracing import Tracer

    class FakeSdkSpan:
        def __init__(self, name, context, start_time):
            self.name, self.context, self.start_time = name, context, start_time
            self.end_time, self.attrs = None, {}

        def set_attribute(self, k, v):
            self.attrs[k] = v

        def end(self, end_time=None):
            self.end_time = end_time

    class FakeSdkTracer:
        def __init__(self):
            self.started = []

        def start_span(self, name, context=None, start_time=None):
            self.started.append(FakeSdkSpan(name, context, start_time))
            return self.started[-1]

    sdk = FakeSdkTracer()
    fake_trace = types.ModuleType("opentelemetry.trace")
    fake_trace.get_tracer = lambda _name: sdk
    fake_trace.set_span_in_context = lambda span: {"current_span": span}
    fake_otel = types.ModuleType("opentelemetry")
    fake_otel.trace = fake_trace
    monkeypatch.setitem(sys.modules, "opentelemetry", fake_otel)
    monkeypatch.setitem(sys.modules, "opentelemetry.trace", fake_trace)

    t = Tracer("svc")
    s = t.record("cdc.message", 5_000_000, 125_000_000, batch_id=3)
    (mirrored,) = sdk.started
    assert mirrored.name == "cdc.message"
    assert (mirrored.start_time, mirrored.end_time) == (s.start_ns, s.end_ns)
    assert mirrored.attrs["batch_id"] == "3"
    assert mirrored.context is None
    t.record("clickhouse.post", 6_000_000, 100_000_000, parent=s)
    _, child = sdk.started
    assert child.name == "clickhouse.post"
    assert child.context == {"current_span": mirrored}


def test_listener_emits_clickhouse_post_span_per_batch():
    """A15: every micro-batch write carries a clickhouse.post span
    (clickhouse.go:28) with the batch id, nested in the batch's stage
    span over the ``addBatch`` phase, which ends before
    ``commitOffsets``."""
    from go_otel_clickhouse_ingestor_spark.streaming.metrics import (
        IngestionMetricsListener,
    )
    from go_otel_clickhouse_ingestor_spark.streaming.tracing import (
        SPAN_CDC_MESSAGE,
        SPAN_CLICKHOUSE_POST,
    )

    listener = IngestionMetricsListener(SPAN_CDC_MESSAGE)
    for batch_id in (0, 1):
        listener.onQueryProgress(
            _progress_event(10, 40, 100, batch_id=batch_id, inserted=7, commit_ms=15)
        )
    stages = listener.tracer.spans(SPAN_CDC_MESSAGE)
    posts = listener.tracer.spans(SPAN_CLICKHOUSE_POST)
    assert [s.attributes["batch_id"] for s in posts] == [0, 1]
    for stage, post in zip(stages, posts):
        assert post.parent_id == stage.span_id and post.trace_id == stage.trace_id
        assert post.end_ns == stage.end_ns - 15_000_000  # before commitOffsets
        assert post.duration_ms == 40
        assert stage.start_ns <= post.start_ns
        assert post.attributes["rows"] == 7


def test_span_listener_emits_stage_spans():
    """generateEvent / cdc.message spans per micro-batch, named by the
    listener's stage (cmd/root.go:130, cdc.go:58) and back-dated to the
    trigger's start and duration."""
    from go_otel_clickhouse_ingestor_spark.streaming.metrics import (
        IngestionMetricsListener,
    )
    from go_otel_clickhouse_ingestor_spark.streaming.tracing import (
        SPAN_CDC_MESSAGE,
        SPAN_GENERATE,
    )

    synthetic = IngestionMetricsListener(SPAN_GENERATE)
    cdc = IngestionMetricsListener(SPAN_CDC_MESSAGE)
    synthetic.onQueryProgress(_progress_event(50, 100, 120, batch_id=7))
    cdc.onQueryProgress(_progress_event(8, 20, 30, batch_id=3))
    (gen,) = synthetic.tracer.spans(SPAN_GENERATE)
    (msg,) = cdc.tracer.spans(SPAN_CDC_MESSAGE)
    assert not synthetic.tracer.spans(SPAN_CDC_MESSAGE)
    assert gen.attributes["rows"] == 50 and gen.attributes["batch_id"] == 7
    assert msg.attributes["rows"] == 8
    assert (gen.start_ns, gen.duration_ms) == (_TS_NS, 120)  # back-dated to the trigger


def test_listener_is_the_only_streaming_query_listener():
    """One telemetry path: the package defines exactly one
    ``StreamingQueryListener`` subclass."""
    import ast
    import pathlib

    import go_otel_clickhouse_ingestor_spark as pkg

    found = []
    for path in sorted(pathlib.Path(pkg.__file__).parent.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ClassDef) and any(
                (b.attr if isinstance(b, ast.Attribute) else getattr(b, "id", None))
                == "StreamingQueryListener"
                for b in node.bases
            ):
                found.append(f"{path.name}::{node.name}")
    assert found == ["metrics.py::IngestionMetricsListener"]


# ------------------------------------------------------------- metrics


def test_histogram_is_valid_prometheus():
    """Bucket counts must be cumulative AND bounded by _count (the
    double-count bug class: cumulative storage re-summed at render)."""
    from go_otel_clickhouse_ingestor_spark.streaming.metrics import (
        IngestionMetricsListener,
    )

    listener = IngestionMetricsListener()
    listener.onQueryProgress(_progress_event(10, 3))  # 0.003s -> le=0.005
    listener.onQueryProgress(_progress_event(10, 70))  # 0.07s  -> le=0.1
    buckets = _latency_buckets(listener.render())
    assert buckets["0.005"] == 1
    assert buckets["0.05"] == 1
    assert buckets["0.1"] == 2
    assert buckets["10.0"] == 2
    assert buckets["+Inf"] == 2
    counts = [buckets[str(b)] for b in (0.005, 0.01, 0.025, 0.05, 0.1, 0.25, 0.5, 1.0, 2.5, 5.0, 10.0)]
    assert counts == sorted(counts), "buckets must be monotonically cumulative"
    assert max(counts) <= buckets["+Inf"]


def _latency_buckets(text: str) -> dict[str, int]:
    buckets = {}
    for line in text.splitlines():
        if line.startswith("ingestion_clickhouse_insert_latency_seconds_bucket"):
            le = line.split('le="')[1].split('"')[0]
            buckets[le] = int(line.rsplit(" ", 1)[1])
    return buckets


def test_latency_histogram_times_the_sink_write():
    """The latency sample is the sink write (``addBatch``), the analogue
    of the POST clickhouse.go times, not the whole trigger."""
    from go_otel_clickhouse_ingestor_spark.streaming.metrics import (
        IngestionMetricsListener,
    )

    listener = IngestionMetricsListener()
    listener.onQueryProgress(_progress_event(10, 30, 120))
    buckets = _latency_buckets(listener.render())
    assert (buckets["0.025"], buckets["0.05"]) == (0, 1)
    assert "ingestion_clickhouse_insert_latency_seconds_sum 0.03" in listener.render()


def test_counters_fold_input_rows_observed_rows_and_failures():
    """generated = input rows; inserted = the rows observed on the
    stream handed to the sink (not the input rows); errors = queries
    that terminate with an exception."""
    from go_otel_clickhouse_ingestor_spark.streaming.metrics import (
        IngestionMetricsListener,
    )

    listener = IngestionMetricsListener()
    listener.onQueryProgress(_progress_event(12, 5, inserted=8))
    listener.onQueryProgress(_progress_event(4, 5))  # no observation attached
    listener.onQueryTerminated(types.SimpleNamespace(exception=None))
    listener.onQueryTerminated(types.SimpleNamespace(exception="boom"))
    assert listener.generated_events_total == 16
    assert listener.rows_inserted_total == 8
    assert listener.insert_errors_total == 1


def test_metrics_http_endpoint():
    """A14's /metrics endpoint (metrics.go:48-56): serves the four
    reference series over HTTP; other paths 404."""
    from go_otel_clickhouse_ingestor_spark.streaming.metrics import (
        IngestionMetricsListener,
        serve_metrics,
    )

    listener = IngestionMetricsListener()
    listener.onQueryProgress(_progress_event(42, 15))
    server = serve_metrics(listener, port=0)
    try:
        port = server.server_address[1]
        body = urllib.request.urlopen(f"http://127.0.0.1:{port}/metrics").read().decode()
        for series in (
            "ingestion_generated_events_total",
            "ingestion_clickhouse_rows_inserted_total",
            "ingestion_clickhouse_insert_errors_total",
            "ingestion_clickhouse_insert_latency_seconds",
        ):
            assert series in body
        assert "ingestion_generated_events_total 42" in body
        try:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/other")
            assert False, "non-/metrics paths should 404"
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        server.shutdown()


# ------------------------------------------------------------- app


def test_main_synthetic_mode_lands_rows(spark, tmp_path):
    """End-to-end: `python -m ... --mode synthetic` writes A2-shaped
    rows to the parquet sink within --duration (cmd/root.go:99-148)."""
    from go_otel_clickhouse_ingestor_spark.__main__ import run

    sink = str(tmp_path / "sink")
    rc = run(
        [
            "--mode", "synthetic",
            "--rate", "200",
            "--duration", "8",
            "--sink-dir", sink,
            "--metrics-port", "0",
            "--checkpoint-dir", str(tmp_path / "ckpt"),
        ]
    )
    assert rc == 0
    out = spark.read.parquet(sink)
    assert out.count() > 0
    assert set(out.columns) == {"timestamp", "user_id", "action", "payload"}
    # A10 second-precision wire format at the sink edge
    assert all(len(r.timestamp) == 19 for r in out.limit(5).collect())


def test_main_rejects_unknown_mode():
    from go_otel_clickhouse_ingestor_spark.__main__ import run

    assert run(["--mode", "bogus"]) == 1


def test_main_cdc_file_mode_lands_translated_rows(spark, tmp_path):
    """End-to-end CDC without Kafka: --mode cdc --source-dir replays
    Kafka-shaped fixture messages through the full translate + sink
    path (A3-A13 wiring minus the broker)."""
    import json as _json

    from go_otel_clickhouse_ingestor_spark.__main__ import run
    from go_otel_clickhouse_ingestor_spark.sources.fixtures import CDC_MESSAGES

    src = tmp_path / "cdc_src"
    src.mkdir()
    (src / "msgs.json").write_text(
        "\n".join(
            _json.dumps({"msg_id": m, "key": k, "value": v})
            for m, k, v in CDC_MESSAGES
        )
    )
    sink = str(tmp_path / "cdc_sink")
    rc = run(
        [
            "--mode", "cdc",
            "--source-dir", str(src),
            "--duration", "8",
            "--sink-dir", sink,
            "--metrics-port", "0",
            "--checkpoint-dir", str(tmp_path / "ckpt"),
        ]
    )
    assert rc == 0
    out = spark.read.parquet(sink)
    assert out.count() == 8  # the 8 translatable fixture messages
    assert {"id", "name", "email", "is_deleted", "_op", "_lsn", "_ts"} <= set(out.columns)
    # A10: sink edge serializes _ts as second-precision strings
    assert all(len(r._ts) == 19 for r in out.limit(3).collect())


def _cdc_fixture_source(directory) -> str:
    """The 12 fixture messages as one Kafka-shaped JSON-lines file."""
    from go_otel_clickhouse_ingestor_spark.sources.fixtures import CDC_MESSAGES

    directory.mkdir()
    (directory / "msgs.json").write_text(
        "\n".join(
            json.dumps({"msg_id": m, "key": k, "value": v}) for m, k, v in CDC_MESSAGES
        )
    )
    return str(directory)


def test_main_cdc_restart_resumes_from_default_checkpoint(spark, tmp_path, monkeypatch):
    """Without --checkpoint-dir, a second cdc run over the same source
    resumes from the first run's offsets instead of re-appending."""
    import tempfile

    from go_otel_clickhouse_ingestor_spark.__main__ import run

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    src = _cdc_fixture_source(tmp_path / "cdc_src")
    sink = str(tmp_path / "cdc_sink")
    argv = ["--mode", "cdc", "--source-dir", src, "--duration", "6",
            "--sink-dir", sink, "--metrics-port", "0", "--group", "g1"]
    assert run(argv) == 0
    assert spark.read.parquet(sink).count() == 8
    assert run(argv) == 0
    assert spark.read.parquet(sink).count() == 8
    assert (tmp_path / "ingestor_ckpt_cdc_g1").is_dir()


def _await_progress(query, listener, deadline_s: float = 30.0) -> list:
    """The listener's stage spans of ``query``, once every progress the
    query reported has reached the listener (delivery is asynchronous)."""
    want = {p.batchId for p in query.recentProgress}
    deadline = time.time() + deadline_s
    while True:
        mine = [
            s for s in listener.tracer.spans(listener.stage)
            if s.attributes["query_id"] == str(query.id)
        ]
        if {s.attributes["batch_id"] for s in mine} >= want or time.time() > deadline:
            return mine
        time.sleep(0.2)


@pytest.mark.parametrize("sink", ["parquet", "upsert"])
def test_listener_counts_the_cdc_fixture_once(spark, tmp_path, sink):
    """CDC fixture -> translate_stream -> observe_stream -> sink, with
    the listener attached: 12 messages generated, the 8 translatable
    ones inserted, and per batch one cdc.message span holding one
    clickhouse.post child.  The upsert runs two actions per batch, so
    it must read the batch once or both counters double."""
    from go_otel_clickhouse_ingestor_spark.streaming.cdc_stream import (
        translate_stream,
        upsert_foreach_batch,
    )
    from go_otel_clickhouse_ingestor_spark.streaming.metrics import (
        IngestionMetricsListener,
        observe_stream,
    )
    from go_otel_clickhouse_ingestor_spark.streaming.sinks import parquet_foreach_batch
    from go_otel_clickhouse_ingestor_spark.streaming.tracing import (
        SPAN_CDC_MESSAGE,
        SPAN_CLICKHOUSE_POST,
    )

    src = _cdc_fixture_source(tmp_path / "cdc_src")
    apply = (
        parquet_foreach_batch(str(tmp_path / "sink"))
        if sink == "parquet"
        else upsert_foreach_batch(str(tmp_path / "state"))
    )
    listener = IngestionMetricsListener(SPAN_CDC_MESSAGE)
    spark.streams.addListener(listener)
    try:
        raw = spark.readStream.schema("msg_id long, key string, value string").json(src)
        q = (
            observe_stream(translate_stream(raw))
            .writeStream.foreachBatch(apply)
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.awaitTermination(120)
        stages = _await_progress(q, listener)
    finally:
        spark.streams.removeListener(listener)
    assert stages, "no progress reached the listener"
    assert listener.generated_events_total == 12
    assert listener.rows_inserted_total == 8
    posts = listener.tracer.spans(SPAN_CLICKHOUSE_POST)
    rows = 0
    for stage in stages:
        (post,) = [p for p in posts if p.parent_id == stage.span_id]
        assert stage.start_ns <= post.start_ns <= post.end_ns <= stage.end_ns
        assert post.attributes["batch_id"] == stage.attributes["batch_id"]
        rows += post.attributes["rows"]
    assert rows == 8


def test_streaming_observed_metrics_reach_listener(spark, tmp_path):
    """observe_stream: per-batch observed row counts arrive in the
    listener through a real availableNow query."""
    from pyspark.sql import functions as F

    from go_otel_clickhouse_ingestor_spark.streaming.metrics import (
        OBSERVATION_NAME,
        IngestionMetricsListener,
        observe_stream,
    )

    src = str(tmp_path / "src")
    spark.range(25).select(
        F.when(F.col("id") % 5 != 0, F.col("id")).alias("id")
    ).write.mode("overwrite").parquet(src)
    seen: list[dict] = []

    class Capture(IngestionMetricsListener):
        def onQueryProgress(self, event) -> None:  # noqa: N802
            om = event.progress.observedMetrics
            if om and OBSERVATION_NAME in om:
                seen.append(om[OBSERVATION_NAME].asDict())
            super().onQueryProgress(event)

    cap = Capture()
    spark.streams.addListener(cap)
    try:
        stream = spark.readStream.schema("id long").parquet(src)
        q = (
            observe_stream(stream.filter(F.col("id").isNotNull()))
            .writeStream.format("noop")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.awaitTermination(60)
        _await_progress(q, cap)
    finally:
        spark.streams.removeListener(cap)
    assert seen, "no observed metrics arrived in the listener"
    assert sum(m["rows_total"] for m in seen) == 20
    assert cap.rows_inserted_total == 20
    assert cap.generated_events_total == 25
