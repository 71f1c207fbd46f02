"""Pipeline telemetry — the reference's Prometheus surface (A14) and
its spans (A15), folded from Spark's per-trigger progress events.

Reference collectors (``internal/metrics/metrics.go:11-38``):

- ``ingestion_generated_events_total``        (counter)
- ``ingestion_clickhouse_rows_inserted_total`` (counter)
- ``ingestion_clickhouse_insert_errors_total`` (counter)
- ``ingestion_clickhouse_insert_latency_seconds`` (histogram)

Spark mapping: one ``StreamingQueryListener`` reads each
``QueryProgressEvent`` and folds

- ``numInputRows`` -> generated;
- the row count :func:`observe_stream` attaches to the stream handed
  to the sink -> inserted (rows the translate drops are not counted);
- ``durationMs["addBatch"]``, the sink write, -> a latency sample;
- ``onQueryTerminated`` with an exception -> an insert error.

From the same event it records the spans, back-dated from the
trigger's ``timestamp`` and ``durationMs``: the stage span
(``generateEvent`` or ``cdc.message``) over the trigger, and a child
``clickhouse.post`` over ``addBatch``, which ends before
``commitOffsets``, the trigger's last phase.  ``render()`` emits
Prometheus text exposition, so an HTTP /metrics endpoint (the
reference serves one, ``metrics.go:48-56``) just returns that string.
"""

from __future__ import annotations

import threading
from collections import defaultdict
from datetime import datetime
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql.streaming import StreamingQueryListener

from .tracing import SPAN_CLICKHOUSE_POST, SPAN_GENERATE, Tracer

#: Prometheus DefBuckets (metrics.go:21 uses prometheus.DefBuckets).
DEF_BUCKETS = (0.005, 0.01, 0.025, 0.05, 0.1, 0.25, 0.5, 1.0, 2.5, 5.0, 10.0)

#: The name :func:`observe_stream` attaches its row count under.
OBSERVATION_NAME = "ingestion"


class IngestionMetricsListener(StreamingQueryListener):
    """The program's one telemetry path: the reference's four metric
    series and its spans, from streaming progress events.  ``stage``
    names the per-trigger span (``generateEvent`` for the synthetic
    pipeline, ``cdc.message`` for CDC); spans land in ``self.tracer``.
    Thread-safe: callbacks arrive on Spark's listener bus thread while
    ``render()`` serves scrapes."""

    def __init__(self, stage: str = SPAN_GENERATE) -> None:
        self.stage = stage
        self.tracer = Tracer()
        self._lock = threading.Lock()
        self.generated_events_total = 0
        self.rows_inserted_total = 0
        self.insert_errors_total = 0
        self.latency_bucket_counts: dict[float, int] = defaultdict(int)
        self.latency_sum = 0.0
        self.latency_count = 0

    # -- StreamingQueryListener interface ---------------------------------
    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        ms = p.durationMs
        write_ms = ms.get("addBatch")  # absent when the trigger ran no batch
        observed = (p.observedMetrics or {}).get(OBSERVATION_NAME)
        inserted = None if observed is None else observed["rows_total"]
        with self._lock:
            self.generated_events_total += p.numInputRows or 0
            self.rows_inserted_total += inserted or 0
            if write_ms is not None:
                write_s = write_ms / 1000.0
                self.latency_sum += write_s
                self.latency_count += 1
                # Per-bucket storage: only the SMALLEST bucket that fits
                # is incremented; render() produces the cumulative form.
                for b in DEF_BUCKETS:
                    if write_s <= b:
                        self.latency_bucket_counts[b] += 1
                        break

        start_ns = round(datetime.fromisoformat(p.timestamp).timestamp() * 1e3) * 1_000_000
        end_ns = start_ns + ms.get("triggerExecution", 0) * 1_000_000
        stage = self.tracer.record(
            self.stage, start_ns, end_ns,
            batch_id=p.batchId, rows=p.numInputRows or 0, query_id=str(p.id),
        )
        if write_ms is not None:
            post_end = end_ns - ms.get("commitOffsets", 0) * 1_000_000
            rows = {} if inserted is None else {"rows": inserted}
            self.tracer.record(
                SPAN_CLICKHOUSE_POST, max(start_ns, post_end - write_ms * 1_000_000), post_end,
                parent=stage, batch_id=p.batchId, **rows,
            )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        if getattr(event, "exception", None):
            with self._lock:
                self.insert_errors_total += 1

    # -- Prometheus text exposition ---------------------------------------
    def render(self) -> str:
        """The /metrics payload (Prometheus text format), name-compatible
        with the reference's collectors."""
        with self._lock:
            lines = [
                "# TYPE ingestion_generated_events_total counter",
                f"ingestion_generated_events_total {self.generated_events_total}",
                "# TYPE ingestion_clickhouse_rows_inserted_total counter",
                f"ingestion_clickhouse_rows_inserted_total {self.rows_inserted_total}",
                "# TYPE ingestion_clickhouse_insert_errors_total counter",
                f"ingestion_clickhouse_insert_errors_total {self.insert_errors_total}",
                "# TYPE ingestion_clickhouse_insert_latency_seconds histogram",
            ]
            cumulative = 0
            for b in DEF_BUCKETS:
                cumulative += self.latency_bucket_counts.get(b, 0)
                lines.append(
                    f'ingestion_clickhouse_insert_latency_seconds_bucket{{le="{b}"}} {cumulative}'
                )
            lines += [
                f'ingestion_clickhouse_insert_latency_seconds_bucket{{le="+Inf"}} {self.latency_count}',
                f"ingestion_clickhouse_insert_latency_seconds_sum {self.latency_sum}",
                f"ingestion_clickhouse_insert_latency_seconds_count {self.latency_count}",
            ]
        return "\n".join(lines) + "\n"


def serve_metrics(
    listener: IngestionMetricsListener, port: int = 8080
) -> ThreadingHTTPServer:
    """Serve ``GET /metrics`` with the listener's Prometheus text — the
    reference's metrics endpoint (``internal/metrics/metrics.go:48-56``,
    default port ``cmd/root.go:78``) on a stdlib HTTP server.

    Runs on a daemon thread (the reference uses a goroutine).  Pass
    ``port=0`` to bind an ephemeral port; read it back from
    ``server.server_address[1]``.  Call ``server.shutdown()`` to stop."""

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            if self.path.split("?")[0].rstrip("/") != "/metrics":
                self.send_error(404)
                return
            body = listener.render().encode()
            self.send_response(200)
            self.send_header("Content-Type", "text/plain; version=0.0.4")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args) -> None:  # quiet scrapes
            pass

    server = ThreadingHTTPServer(("127.0.0.1", port), Handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server


def observe_stream(df):
    """Attach the row count the listener folds into
    ``rows_inserted_total``.  Call it on the stream handed to the sink
    (after the translate): each micro-batch's count arrives in
    ``QueryProgressEvent.observedMetrics['ingestion']``.  The aggregate
    rides the existing plan — no extra pass; attached by NAME because
    the ``Observation`` class is batch-only."""
    from pyspark.sql import functions as F

    return df.observe(OBSERVATION_NAME, F.count(F.lit(1)).alias("rows_total"))
