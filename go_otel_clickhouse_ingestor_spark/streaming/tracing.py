"""Span-shaped tracing — the reference's OpenTelemetry surface (A15).

Reference: ``internal/tracing/tracing.go:19-61`` builds an OTLP/HTTP
exporter + batch processor with a ``service.name`` resource, and the
pipelines start spans ``generateEvent`` (``cmd/root.go:130``),
``cdc.message`` (``internal/ingestion/cdc.go:58``) and
``clickhouse.post`` (``internal/ingestion/clickhouse.go:28``); logs
are trace-id-prefixed (``internal/logging/logging.go:9-12``).

This module keeps the same span names and shape on Spark's execution
model: one span per *micro-batch* stage rather than per row — the
reference traces each row because it processes one row at a time; a
Spark trace of 10k per-row spans would be noise, so the batch is the
unit of work and the row count is a span attribute.  Spans are not
timed around code: ``streaming/metrics.py``'s listener records them
after the fact, with the bounds each ``QueryProgressEvent`` reports.
If the OTel Python SDK is installed, ``Tracer`` mirrors every recorded
span into it with the same bounds (import-gated — the SDK is optional).
"""

from __future__ import annotations

import json
import threading
import uuid
from collections import deque
from dataclasses import dataclass, field

#: Span names, matching the reference call sites exactly.
SPAN_GENERATE = "generateEvent"  # cmd/root.go:130
SPAN_CDC_MESSAGE = "cdc.message"  # internal/ingestion/cdc.go:58
SPAN_CLICKHOUSE_POST = "clickhouse.post"  # internal/ingestion/clickhouse.go:28


@dataclass
class Span:
    """One finished span (OTel-shaped: ids, bounds, attributes)."""

    name: str
    trace_id: str
    span_id: str
    parent_id: str | None
    start_ns: int
    end_ns: int
    attributes: dict = field(default_factory=dict)
    otel: object = field(default=None, repr=False, compare=False)  # mirror's OTel context

    @property
    def duration_ms(self) -> float:
        return (self.end_ns - self.start_ns) / 1e6

    def to_dict(self) -> dict:
        return {
            "name": self.name,
            "trace_id": self.trace_id,
            "span_id": self.span_id,
            "parent_id": self.parent_id,
            "start_ns": self.start_ns,
            "end_ns": self.end_ns,
            "duration_ms": round(self.duration_ms, 3),
            "attributes": self.attributes,
        }


class Tracer:
    """In-process tracer with the reference's Init(serviceName) shape
    (``tracing.go:19-51``): a service-name resource, a bounded buffer
    standing in for the batch processor, and optional OTel SDK export.

    Thread-safe: the listener bus records spans while other threads
    read them."""

    def __init__(self, service_name: str = "ingestion-service", capacity: int = 10_000):
        self.service_name = service_name
        self._lock = threading.Lock()
        self._spans: deque[Span] = deque(maxlen=capacity)
        self._otel = self._try_otel()

    @staticmethod
    def _try_otel():
        try:  # pragma: no cover - the SDK is optional
            from opentelemetry import trace as ot

            return ot.get_tracer(__name__), ot.set_span_in_context
        except Exception:
            return None

    def record(
        self, name: str, start_ns: int, end_ns: int, parent: Span | None = None, **attributes
    ) -> Span:
        """Record one finished span with known bounds (epoch ns); a
        ``parent`` makes it its child, here and in the OTel mirror."""
        s = Span(
            name=name,
            trace_id=parent.trace_id if parent else uuid.uuid4().hex,
            span_id=uuid.uuid4().hex[:16],
            parent_id=parent.span_id if parent else None,
            start_ns=start_ns,
            end_ns=end_ns,
            attributes={"service.name": self.service_name, **attributes},
        )
        with self._lock:
            self._spans.append(s)
        if self._otel is not None:
            sdk, in_context = self._otel
            os_ = sdk.start_span(name, context=parent and parent.otel, start_time=start_ns)
            for k, v in s.attributes.items():
                os_.set_attribute(k, str(v))
            os_.end(end_time=end_ns)
            s.otel = in_context(os_)
        return s

    def spans(self, name: str | None = None) -> list[Span]:
        with self._lock:
            out = list(self._spans)
        return [s for s in out if name is None or s.name == name]

    def to_jsonl(self) -> str:
        return "\n".join(json.dumps(s.to_dict()) for s in self.spans())

    def log_prefix(self, span: Span) -> str:
        """Trace-correlated log prefix, mirroring
        ``internal/logging/logging.go:9-12`` ("[trace_id] msg")."""
        return f"[{span.trace_id}]"
