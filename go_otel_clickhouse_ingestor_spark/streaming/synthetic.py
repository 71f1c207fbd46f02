"""Synthetic event stream — the reference's default mode (A1+A2).

Reference behavior: a ticker fires ``rate`` times/sec for ``duration``
seconds (``cmd/root.go:119-147``); each tick builds one random event
(``internal/generator/generator.go:10-23``): now(), ``"user-"+uuid``,
uniform action from 4 choices, constant payload.

Spark translation: the ``rate`` source *is* the ticker — it emits
(timestamp, value) rows at rowsPerSecond with backpressure handled by
the engine instead of dropped ticks.  The generator is a pure
projection over it.  Unlike the reference (single-threaded loop,
one synchronous HTTP POST per event), rate-source partitions scale
horizontally and the sink micro-batches.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: generator.go:10 — the four actions, uniform.
ACTIONS = ("login", "click", "purchase", "logout")
#: generator.go:17 — constant payload.
PAYLOAD = "example-payload"


def event_columns(tick_value: Column, tick_ts: Column) -> list[Column]:
    """A2 as pure columns: ``"user-"+uuid``, uniform action, constant
    payload.  The action pick hashes the tick value instead of rand()
    so replays of the same ticks are deterministic (exactly-once
    friendly); uuid() matches the reference's per-event randomness."""
    actions = F.array(*[F.lit(a) for a in ACTIONS])
    return [
        tick_ts.alias("timestamp"),
        F.concat(F.lit("user-"), F.uuid()).alias("user_id"),
        F.element_at(actions, (F.pmod(F.xxhash64(tick_value), F.lit(4)) + 1).cast("int")).alias(
            "action"
        ),
        F.lit(PAYLOAD).alias("payload"),
    ]


def synthetic_events(spark: SparkSession, rate: int = 5) -> DataFrame:
    """Streaming DataFrame of synthetic events at ``rate`` events/sec
    (reference default 5/s, ``cmd/root.go:65``).  Stop-after-duration
    is the caller's ``query.stop()`` — mirroring ``cmd/root.go:119-124``."""
    ticks = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rate)
        .option("numPartitions", 1)
        .load()
    )
    return ticks.select(*event_columns(F.col("value"), F.col("timestamp")))


def synthetic_events_batch(spark: SparkSession, n: int) -> DataFrame:
    """Batch twin of the generator (same expressions over spark.range)
    — used by tests and by backfills."""
    ticks = spark.range(n).select(
        F.col("id").alias("value"),
        F.timestamp_micros(F.lit(0) + F.col("id") * 200_000).alias("timestamp"),
    )
    return ticks.select(*event_columns(F.col("value"), F.col("timestamp")))
