"""``cdc_feed`` — a custom Python DataSource (Spark 4 DataSource API)
emitting Kafka-shaped Debezium envelope messages.

The reference's CDC intake is a Kafka consumer group
(``internal/ingestion/cdc.go:36-43``); no broker exists in this
harness, so the streaming wiring was previously testable only through
file/memory stand-ins.  This source closes that gap idiomatically: a
``spark.read/readStream.format("cdc_feed")`` source whose rows carry
the EXACT schema contract of the real Kafka source
(``streaming.cdc_stream.KAFKA_SOURCE_SCHEMA``), so the downstream
parse/translate/upsert pipeline runs unmodified against it — swap the
format string and the same plan consumes a real broker.

Generation is DETERMINISTIC in the offset: message ``i`` is a pure
function of ``i`` (op cycle, user id, every 7th payload double-encoded
/ stringified, every 13th corrupt — the same branch mix as the
FIXTURES.md corpus), so replays, retries, and cross-run comparisons
are stable, and at-least-once semantics can be asserted exactly.

Scale/parallelism: the batch reader splits the offset range into
``partitions`` input partitions read independently by executors —
the same partition-parallel shape as Kafka topic partitions.  The
stream reader is partition-planned the same way: offsets are a
Kafka-shaped per-partition map, the driver plans ranges, and reads
execute on executors, so records never route through the driver.
Checkpoint-restart is proven in tests/test_streaming.py.

Reference: internal/ingestion/cdc.go:36-55 (reader loop),
internal/model/cdc.go:7-30 (envelope shape).
"""

from __future__ import annotations

import json

ACTION_OPS = ("c", "u", "u", "d")

#: Epoch micros base for generated source timestamps (2025-08-13 12:00
#: UTC, matching the fixture corpus era).
_TS0_US = 1755086400000000


def envelope_at(offset: int) -> tuple[bytes, bytes]:
    """(key, value) bytes for offset ``i`` — pure function of ``i``.

    Branch mix per the reference translation's edge cases:
    - ops cycle c,u,u,d over a rolling window of user ids;
    - every 7th value is double-encoded (JSON string containing JSON),
      exercising ``tryUnmarshalEnvelope``'s fallback (cdc.go:87-98);
    - every 13th value is corrupt (truncated JSON) and must be dropped
      by the malformed-record filter (cdc.go:63-67).
    """
    uid = offset // len(ACTION_OPS) % 1000 + 1
    op = ACTION_OPS[offset % len(ACTION_OPS)]
    key = json.dumps({"id": uid}).encode()
    if offset % 13 == 12:
        return key, b'{"before": {"id":'  # corrupt: dropped downstream
    user = {"id": uid, "name": f"user-{uid}", "email": f"u{uid}@example.com"}
    env = {
        "before": user if op == "d" else None,
        "after": None if op == "d" else user,
        "source": {
            "lsn": 1000 + offset,
            "ts_us": _TS0_US + offset * 1_000_000,
            "schema": "app",
            "table": "users",
        },
        "op": op,
        "ts_us": _TS0_US + offset * 1_000_000,
    }
    value = json.dumps(env)
    if offset % 7 == 6:
        value = json.dumps(value)  # double-encoded variant
    return key, value.encode()


def _row(offset: int, partition: int, offset_col: int | None = None):
    """Wire row for envelope ``offset``; ``offset_col`` overrides the
    row's offset column (the partitioned reader emits per-partition
    offsets while the envelope index stays global)."""
    key, value = envelope_at(offset)
    # timestamp as naive-UTC datetime; Spark converts via session tz
    import datetime as dt

    ts = dt.datetime.fromtimestamp(
        (_TS0_US + offset * 1_000_000) / 1e6, dt.timezone.utc
    ).replace(tzinfo=None)
    return (
        key,
        value,
        "pg.app.users",
        partition,
        offset if offset_col is None else offset_col,
        ts,
        0,
    )


try:  # pragma: no cover - import guard mirrors the repo convention
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        DataSourceStreamReader,
        InputPartition,
    )

    class _RangePartition(InputPartition):
        def __init__(self, index: int, start: int, end: int):
            self.index = index
            self.start = start
            self.end = end

    class CDCFeedBatchReader(DataSourceReader):
        """Partition-parallel batch read of offsets [0, n_rows)."""

        def __init__(self, options):
            self.n_rows = int(options.get("rows", 100))
            self.n_parts = int(options.get("partitions", 2))

        def partitions(self):
            step = -(-self.n_rows // self.n_parts)  # ceil
            return [
                _RangePartition(i, i * step, min((i + 1) * step, self.n_rows))
                for i in range(self.n_parts)
            ]

        def read(self, partition):
            for off in range(partition.start, partition.end):
                yield _row(off, partition.index)

    class CDCFeedStreamReader(DataSourceStreamReader):
        """Partition-planned stream reader: offsets are a per-partition
        map (exactly Kafka's (topic-partition → offset) shape), the
        driver only PLANS ranges, and ``read`` runs ON EXECUTORS, one
        task per partition — records never route through the driver.
        Partition p's offset i carries the deterministic envelope at
        global index ``i * n_parts + p``, so partition streams are
        disjoint and the union is exactly the single-stream corpus."""

        def __init__(self, options):
            self.n_parts = int(options.get("partitions", 4))
            self.available = int(options.get("available", 100))

        def initialOffset(self):
            return {str(p): 0 for p in range(self.n_parts)}

        def latestOffset(self):
            # what has ARRIVED per partition — the broker's high-water
            # mark.  An external fact (a real reader asks the broker),
            # so it is an option, not reader state: restarts resume
            # from the CHECKPOINTED start offset and drain up to here,
            # exactly the produce-then-drain integration-test shape.
            return {str(p): self.available for p in range(self.n_parts)}

        def partitions(self, start, end):
            return [
                _RangePartition(p, start[str(p)], end[str(p)])
                for p in range(self.n_parts)
                if end[str(p)] > start[str(p)]
            ]

        def read(self, partition):
            # executor-side: this generator runs in the task, not on
            # the driver
            for off in range(partition.start, partition.end):
                yield _row(
                    off * self.n_parts + partition.index,
                    partition.index,
                    offset_col=off,
                )

        def commit(self, end):
            pass  # offsets are derivable; nothing to clean up

    class CDCFeedDataSource(DataSource):
        """``format("cdc_feed")`` — options: rows, partitions (batch);
        partitions, available (streaming)."""

        @classmethod
        def name(cls):
            return "cdc_feed"

        def schema(self):
            # imported at call time: operators.cdc builds its oracle
            # from this module at import, and cdc_stream imports it
            from ..streaming.cdc_stream import KAFKA_SOURCE_SCHEMA

            return KAFKA_SOURCE_SCHEMA

        def reader(self, schema):
            return CDCFeedBatchReader(self.options)

        def streamReader(self, schema):
            return CDCFeedStreamReader(self.options)

    HAVE_DATASOURCE_API = True
except ImportError:  # pragma: no cover
    HAVE_DATASOURCE_API = False


def register(spark) -> None:
    """Register the ``cdc_feed`` source on this session (idempotent)."""
    if not HAVE_DATASOURCE_API:
        raise RuntimeError("pyspark.sql.datasource API unavailable")
    spark.dataSource.register(CDCFeedDataSource)
