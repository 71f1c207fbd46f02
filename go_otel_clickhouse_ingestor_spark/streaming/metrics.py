"""Pipeline metrics — the reference's Prometheus surface (A14) on
Spark's listener machinery.

Reference collectors (``internal/metrics/metrics.go:11-38``):

- ``ingestion_generated_events_total``        (counter)
- ``ingestion_clickhouse_rows_inserted_total`` (counter)
- ``ingestion_clickhouse_insert_errors_total`` (counter)
- ``ingestion_clickhouse_insert_latency_seconds`` (histogram)

Spark mapping: a ``StreamingQueryListener`` accumulates the same four
series from ``QueryProgressEvent`` — input rows -> generated, sink
rows -> inserted, batch durations -> latency histogram samples,
``onQueryTerminated`` with exception -> errors.  ``render()`` emits
Prometheus text exposition, so an HTTP /metrics endpoint (the
reference serves one, ``metrics.go:48-56``) just returns that string.
"""

from __future__ import annotations

import threading
from collections import defaultdict
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql.streaming import StreamingQueryListener

#: Prometheus DefBuckets (metrics.go:21 uses prometheus.DefBuckets).
DEF_BUCKETS = (0.005, 0.01, 0.025, 0.05, 0.1, 0.25, 0.5, 1.0, 2.5, 5.0, 10.0)


class IngestionMetricsListener(StreamingQueryListener):
    """Accumulates the reference's four metric series from streaming
    progress events.  Thread-safe: listener callbacks arrive on Spark's
    listener bus thread."""

    def __init__(self) -> None:
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
        _fold_observed(self, p)  # named df.observe() metrics, if attached
        rows = p.numInputRows or 0
        batch_s = ((p.batchDuration or 0)) / 1000.0
        with self._lock:
            self.generated_events_total += rows
            self.rows_inserted_total += rows  # sink rows == input rows here
            self.latency_sum += batch_s
            self.latency_count += 1
            # Per-bucket storage: only the SMALLEST bucket that fits is
            # incremented; render() produces the cumulative form.  (An
            # earlier version stored cumulatively AND re-summed in
            # render, double-counting every observation.)
            for b in DEF_BUCKETS:
                if batch_s <= b:
                    self.latency_bucket_counts[b] += 1
                    break

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


# -- df.observe() bridge ----------------------------------------------------
#
# SURVEY.md §1.1 maps the reference's metrics time-series onto
# ``df.observe()`` + listeners: observe attaches named aggregates to a
# plan so every execution reports them for free — no second scan, no
# caching — which is how per-batch row/error accounting should travel
# at 100 TB (a separate count() would re-run the pipeline).

#: The observation name both the batch and streaming paths use.
OBSERVATION_NAME = "ingestion"


def _ingest_counters(df):
    """The observation's aggregates: total rows and malformed rows (null
    ``id`` after envelope decode — the engine-side analog of the
    reference's insert errors, ``internal/metrics/metrics.go:24-28``;
    always 0 for a frame without an ``id`` column)."""
    from pyspark.sql import functions as F

    malformed = (
        F.count(F.when(F.col("id").isNull(), 1))
        if "id" in df.columns
        else F.count(F.lit(None))
    )
    return F.count(F.lit(1)).alias("rows_total"), malformed.alias("rows_malformed")


def with_ingest_observation(df):
    """Attach the reference's ingest counters (:func:`_ingest_counters`)
    to a BATCH DataFrame as a named observation.

    Returns ``(df, observation)``; read ``observation.get`` AFTER the
    first action on ``df``.  The aggregates ride the existing plan —
    zero extra passes."""
    from pyspark.sql import Observation

    obs = Observation(OBSERVATION_NAME)
    return df.observe(obs, *_ingest_counters(df)), obs


def observe_stream(df):
    """Streaming face of the same observation: attach by NAME (the
    ``Observation`` class is batch-only); each micro-batch's values
    arrive in ``QueryProgressEvent.observedMetrics['ingestion']`` and
    ``IngestionMetricsListener`` folds them into the counters."""
    return df.observe(OBSERVATION_NAME, *_ingest_counters(df))


def _fold_observed(listener: IngestionMetricsListener, progress) -> None:
    """Fold a QueryProgressEvent's observed metrics into the counters
    (called from onQueryProgress; split out for direct unit testing)."""
    # observedMetrics is absent on progress events from queries with no
    # attached Observation (and on minimal test fakes) — treat as empty.
    row = (getattr(progress, "observedMetrics", None) or {}).get(OBSERVATION_NAME)
    if row is None:
        return
    with listener._lock:
        listener.insert_errors_total += row["rows_malformed"] or 0
