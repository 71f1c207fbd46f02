"""Streaming CDC pipeline — the reference's second mode (A3-A13).

Reference: a Kafka consumer-group loop reads Debezium envelopes one
message at a time (``internal/ingestion/cdc.go:25-85``), translates,
and POSTs row-by-row to ClickHouse; a failed insert is *lost* (offset
already committed).

Spark translation: ``readStream.format("kafka")`` → the exact same
column-expression translation the batch path uses
(``operators/cdc.py`` — one codebase, two execution modes) →
``foreachBatch`` sink with checkpointing.  Delivery is therefore
at-least-once with batch retry — strictly stronger than the
reference's drop-on-error.

The Kafka source itself needs brokers, so tests exercise the pipeline
through a file/memory source with the same (key, value) schema; the
``kafka_cdc_stream`` wiring is the production entry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cdc import current_state, parse_envelope, translate_envelope
from .sinks import merge_partitions, replace_partitions


def translate_stream(kafka_shaped: DataFrame) -> DataFrame:
    """(msg_id, key string, value string) stream -> users_cur rows.
    Pure column expressions — runs identically in batch and streaming
    (same whole-stage-codegen plan, no state)."""
    return translate_envelope(parse_envelope(kafka_shaped))


#: The fixed schema Spark's Kafka source emits (spark-sql-kafka);
#: tests build raw frames with exactly this schema so the projection
#: below is exercised without a broker and fails loudly on drift.
KAFKA_SOURCE_SCHEMA = (
    "key binary, value binary, topic string, partition int, "
    "offset long, timestamp timestamp, timestampType int"
)


def kafka_source_options(
    brokers: str,
    topic: str,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """The exact option map handed to ``readStream.format("kafka")`` —
    kept as data (not inline builder calls) so tests can assert it and
    ops can log it.  maxOffsetsPerTrigger is the backpressure knob the
    reference's consumer loop lacked (``cdc.go:36-43``)."""
    opts = {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        # on executor failure mid-batch, refuse silent data loss — the
        # checkpoint replays the range instead (at-least-once, A13)
        "failOnDataLoss": "true",
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def shape_kafka_raw(raw: DataFrame) -> DataFrame:
    """Kafka's (key binary, value binary, offset, ...) -> the
    (msg_id, key string, value string) contract every downstream stage
    (and every file/memory-source test) consumes.  Pure projection:
    works identically on a streaming or batch frame."""
    return raw.select(
        F.col("offset").alias("msg_id"),
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
    )


def kafka_cdc_stream(
    spark: SparkSession,
    brokers: str,
    topic: str,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Production wiring: Kafka source -> users_cur stream.

    Spark's Kafka source replaces the reference's consumer group
    (``cdc.go:36-43``): offsets live in the checkpoint (not Kafka),
    partitions fan out across executors, and maxOffsetsPerTrigger is
    the backpressure knob the Go loop lacked."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_source_options(
        brokers, topic, starting_offsets, max_offsets_per_trigger
    ).items():
        reader = reader.option(k, v)
    return translate_stream(shape_kafka_raw(reader.load()))


#: Hash buckets for the parquet state layout.  At 100 TB this number
#: scales with state size (e.g. 4096); per micro-batch only the buckets
#: a batch's ids hash into are read and rewritten.
N_STATE_BUCKETS = 16


def upsert_foreach_batch(state_dir: str):
    """A16 online: a foreachBatch MERGE maintaining the versions +
    current-state tables (latest ``_lsn`` per id, soft deletes kept as
    versions), id-bucketed so per-batch work is O(touched state), not
    O(total state).

    Layout: ``versions/`` and ``current/`` are parquet partitioned by
    ``bucket = pmod(xxhash64(id), N_STATE_BUCKETS)``.  Each micro-batch:

    1. merges its rows into the ``versions/`` buckets its ids hash into
       with ``sinks.merge_partitions``, de-duplicating exact replays
       (idempotent under the at-least-once retry), then
    2. replaces the same ``current/`` buckets with the current state of
       the merged versions (``sinks.replace_partitions``), which drops
       a touched bucket left with no live id.

    Versions is written before current, so a retried batch also
    recomputes a stale current.
    """

    def bucketed(df: DataFrame) -> DataFrame:
        return df.withColumn("bucket", F.pmod(F.xxhash64("id"), F.lit(N_STATE_BUCKETS)))

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        # The merge runs two actions on the batch (the touched-bucket
        # collect, then the merge itself).  Unpersisted, each re-runs
        # the source scan and the translate, and doubles the trigger's
        # numInputRows and observed metrics.
        batch_df.persist()
        try:
            merged, touched = merge_partitions(
                bucketed(batch_df), state_dir + "/versions", "bucket", DataFrame.dropDuplicates
            )
        finally:
            batch_df.unpersist()
        if touched:
            cur = bucketed(current_state(merged))
            spark = batch_df.sparkSession
            replace_partitions(spark, cur, state_dir + "/current", "bucket", touched)

    return apply
