"""Observability parity tests: tracing spans (A15), the /metrics HTTP
endpoint (A14), histogram validity, and the runnable entry point
(``cmd/root.go`` parity)."""

from __future__ import annotations

import json
import time
import types
import urllib.request
import uuid


def _progress_event(rows: int, batch_ms: int, name: str | None = None, batch_id: int = 0):
    p = types.SimpleNamespace(
        numInputRows=rows,
        batchDuration=batch_ms,
        name=name,
        batchId=batch_id,
        id=uuid.uuid4(),
    )
    return types.SimpleNamespace(progress=p)


# ------------------------------------------------------------- tracing


def test_tracer_records_nested_spans():
    from go_otel_clickhouse_ingestor_spark.streaming.tracing import Tracer

    t = Tracer("svc")
    with t.span("outer", kind="test") as outer:
        time.sleep(0.01)
        with t.span("inner", parent=outer) as inner:
            pass
    spans = {s.name: s for s in t.spans()}
    assert spans["inner"].trace_id == spans["outer"].trace_id
    assert spans["inner"].parent_id == spans["outer"].span_id
    assert spans["outer"].duration_ms >= 10
    assert spans["outer"].attributes["service.name"] == "svc"
    assert t.log_prefix(spans["outer"]) == f"[{spans['outer'].trace_id}]"
    # jsonl export round-trips
    lines = [json.loads(ln) for ln in t.to_jsonl().splitlines()]
    assert {ln["name"] for ln in lines} == {"outer", "inner"}


def test_tracer_records_error_spans():
    import pytest

    from go_otel_clickhouse_ingestor_spark.streaming.tracing import Tracer

    t = Tracer()
    with pytest.raises(ValueError):
        with t.span("boom"):
            raise ValueError("nope")
    (s,) = t.spans("boom")
    assert "ValueError" in s.attributes["error"]


def test_sink_emits_clickhouse_post_span_per_batch(spark, tmp_path):
    """A15: every micro-batch write carries a clickhouse.post span
    (clickhouse.go:28), with batch id + target attributes."""
    from go_otel_clickhouse_ingestor_spark.streaming.sinks import parquet_foreach_batch
    from go_otel_clickhouse_ingestor_spark.streaming.tracing import (
        SPAN_CLICKHOUSE_POST,
        Tracer,
    )

    tracer = Tracer()
    sink = parquet_foreach_batch(str(tmp_path / "out"), tracer=tracer)
    df = spark.range(10).withColumnRenamed("id", "v")
    sink(df, 0)
    sink(df, 1)
    spans = tracer.spans(SPAN_CLICKHOUSE_POST)
    assert [s.attributes["batch_id"] for s in spans] == [0, 1]
    assert all(s.duration_ms > 0 for s in spans)


def test_span_listener_emits_stage_spans():
    """generateEvent / cdc.message spans per micro-batch, named by the
    query's pipeline (cmd/root.go:130, cdc.go:58)."""
    from go_otel_clickhouse_ingestor_spark.streaming.tracing import (
        SPAN_CDC_MESSAGE,
        SPAN_GENERATE,
        SpanEmittingListener,
        Tracer,
    )

    tracer = Tracer()
    listener = SpanEmittingListener(tracer)
    listener.onQueryProgress(_progress_event(50, 120, name="synthetic", batch_id=7))
    listener.onQueryProgress(_progress_event(8, 30, name="cdc", batch_id=3))
    (gen,) = tracer.spans(SPAN_GENERATE)
    (cdc,) = tracer.spans(SPAN_CDC_MESSAGE)
    assert gen.attributes["rows"] == 50 and gen.attributes["batch_id"] == 7
    assert cdc.attributes["rows"] == 8
    assert gen.duration_ms >= 120  # back-dated to cover the batch


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
    text = listener.render()
    buckets = {}
    for line in text.splitlines():
        if line.startswith("ingestion_clickhouse_insert_latency_seconds_bucket"):
            le = line.split('le="')[1].split('"')[0]
            buckets[le] = int(line.rsplit(" ", 1)[1])
    assert buckets["0.005"] == 1
    assert buckets["0.05"] == 1
    assert buckets["0.1"] == 2
    assert buckets["10.0"] == 2
    assert buckets["+Inf"] == 2
    counts = [buckets[str(b)] for b in (0.005, 0.01, 0.025, 0.05, 0.1, 0.25, 0.5, 1.0, 2.5, 5.0, 10.0)]
    assert counts == sorted(counts), "buckets must be monotonically cumulative"
    assert max(counts) <= buckets["+Inf"]


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


def test_batch_observation_reports_rows_for_free(spark, sf_dir):
    """with_ingest_observation: the named observation reports row and
    malformed counts off the EXISTING plan — values must match a direct
    count without re-running anything."""
    from go_otel_clickhouse_ingestor_spark.streaming.metrics import (
        with_ingest_observation,
    )

    df = spark.createDataFrame(
        [(1, "a"), (None, "b"), (3, "c"), (None, "d")], "id long, name string"
    )
    observed, obs = with_ingest_observation(df)
    n = observed.count()
    got = obs.get
    assert got["rows_total"] == n == 4
    assert got["rows_malformed"] == 2


def test_streaming_observed_metrics_reach_listener(spark, tmp_path):
    """observe_stream: per-batch observed metrics must arrive in the
    listener's fold (exercised directly with a progress double, then
    end-to-end through a real availableNow query)."""
    import types

    from pyspark.sql import functions as F

    from go_otel_clickhouse_ingestor_spark.streaming.metrics import (
        OBSERVATION_NAME,
        IngestionMetricsListener,
        _fold_observed,
        observe_stream,
    )

    # direct fold: observed malformed rows count as insert errors
    lis = IngestionMetricsListener()
    prog = types.SimpleNamespace(
        observedMetrics={OBSERVATION_NAME: {"rows_total": 10, "rows_malformed": 3}}
    )
    _fold_observed(lis, prog)
    assert lis.insert_errors_total == 3

    # end-to-end: a real streaming query carries the named observation,
    # with the same malformed rule (null id) as the batch path
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
            observe_stream(stream)
            .writeStream.format("noop")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.awaitTermination(60)
        deadline = __import__("time").time() + 20
        while not seen and __import__("time").time() < deadline:
            __import__("time").sleep(0.2)
    finally:
        spark.streams.removeListener(cap)
    assert seen, "no observed metrics arrived in the listener"
    assert sum(m["rows_total"] for m in seen) == 25
    assert sum(m["rows_malformed"] for m in seen) == 5
