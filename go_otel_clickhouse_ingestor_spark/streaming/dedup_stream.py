"""Streaming exact dedup: the at-least-once → exactly-once repair
stage.

The reference delivers AT-LEAST-ONCE by design: its sink skips ahead
on error after logging (``internal/ingestion/clickhouse.go:95-107``)
and Kafka redelivers uncommitted messages after a crash
(``cdc.go:36-43``), so the ClickHouse tables it feeds see duplicate
rows under failure — which is exactly why ClickHouse deployments put
a ReplacingMergeTree (or ``FINAL`` reads) behind ingestors of this
shape.  The engine-native equivalent is a streaming dedup stage
between source and sink: every row carries a natural identity key
(event id / CDC LSN / trace+span id), and duplicates of a key that
arrive within the redelivery horizon are dropped in-flight.

``dropDuplicatesWithinWatermark`` is the Spark primitive built for
precisely this (Spark 3.5+): state keeps one entry per key, the
event-time watermark EXPIRES entries once the redelivery horizon has
passed, so state is bounded by (keys arriving per horizon), not by
stream lifetime — the property that separates it from a naive
``dropDuplicates`` on a stream, whose state grows forever and OOMs a
1000-executor cluster some Tuesday.  Duplicates separated by more
than the horizon are NOT caught in-flight (they can't be, with
bounded state); the lake-side batch twin (``dedup_exact`` /
``dedup_incremental_corpus``) is the backstop for those, same as
ReplacingMergeTree's eventual merge.

``tests/test_streaming_dedup.py`` pins the contract through a real
multi-trigger feed: duplicates inside one trigger, across triggers,
and a redelivery of the whole first batch all collapse to the batch
``dropDuplicates`` answer.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame

#: Default redelivery horizon: how stale a duplicate can be and still
#: be dropped in-flight.  Kafka redeliveries arrive within seconds of
#: the original under rebalance/crash; a generous default costs only
#: state-entry lifetime, not correctness.
DEFAULT_HORIZON = "10 minutes"


def dedup_exact_stream(
    stream: DataFrame,
    keys: Sequence[str] = ("event_id",),
    ts_col: str = "ts",
    horizon: str = DEFAULT_HORIZON,
) -> DataFrame:
    """Drop duplicate deliveries of ``keys`` arriving within
    ``horizon`` of the first sighting (event-time, via ``ts_col``).

    State shape: one entry per distinct key seen inside the current
    horizon, expired by the watermark — bounded by arrival rate ×
    horizon, independent of stream lifetime.  Output is append-mode
    compatible: the FIRST delivery of each key passes through
    unchanged (all columns intact), later deliveries vanish.
    """
    return stream.withWatermark(ts_col, horizon).dropDuplicatesWithinWatermark(
        list(keys)
    )


def near_dup_ingest_stream(
    stream: DataFrame,
    index_path: str,
    decisions_path: str,
):
    """Streaming ingest against the MAINTAINED near-dup index: the
    deployment face of ``operators.dedup.near_index_probe`` /
    ``near_index_write`` (round 15).  Per micro-batch of raw
    ``(doc_id, text, ...)`` documents, ``foreachBatch``:

    1. **probe** the batch against the index as of the PREVIOUS batch
       (decisions are forced to disk before any append, so a batch can
       never LSH-match its own bands — ordering, not luck);
    2. **act**: decisions land in ``decisions_path`` parquet with the
       batch id (the downstream keep/drop filter consumes this);
    3. **maintain**: the batch's bands/grams APPEND to the index — two
       O(batch) parquet writes — so batch N+1 probes an index that
       already contains batch N (the two-batch pytest contract,
       re-proven through a real multi-trigger stream in
       tests/test_streaming_dedup.py).

    foreachBatch rather than a stateful operator because the state IS
    a lake table: the band index must outlive the query, serve batch
    re-probes and the batch-side operators, and hold 100 TB of corpus
    — none of which fits an executor state store.  At-least-once is
    closed to effectively-once by the standard batch-id guard: a
    replayed batch whose decisions already landed SKIPS the probe (its
    first-attempt decisions stand — re-probing would see its own
    appended bands and self-match) and redoes only the index append,
    which is idempotent FOR MATCHING (duplicate band rows produce the
    same candidate set after the pair ``distinct``; the storage dup
    lasts until compaction).  Proven by a redelivery pytest that
    re-invokes the batch function verbatim.

    Returns the ``DataStreamWriter`` (caller sets trigger/checkpoint
    and starts it)."""
    return (
        stream.writeStream.foreachBatch(
            near_dup_ingest_batch(index_path, decisions_path)
        ).outputMode("append")
    )


def near_dup_ingest_batch(index_path: str, decisions_path: str):
    """The foreachBatch function behind :func:`near_dup_ingest_stream`,
    exposed so the redelivery pytest can invoke the PRODUCTION closure
    verbatim (a shimmed copy would prove nothing)."""
    from ..operators.dedup import (
        _near_sigs,
        materialized,
        near_index_probe,
        near_index_write,
    )
    from pyspark.sql import functions as F

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return  # empty trigger: nothing to probe or append
        spark = batch_df.sparkSession
        try:
            done = (
                spark.read.parquet(decisions_path)
                .filter(F.col("batch_id") == batch_id)
                .take(1)
            )
        except AnalysisException as exc:
            # no decisions committed yet: no table, or only the
            # _temporary of a first write that crashed.  Anything else
            # (IO, a corrupt file) fails the batch: re-probing a
            # redelivered one would self-match its own bands.
            if exc.getCondition() not in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
                raise
            done = []
        if done:
            # redelivery after a crash between decision write and
            # index append: decisions stand, only the (matching-
            # idempotent) append is redone — signature pass alone
            sig = materialized(_near_sigs(batch_df))
            near_index_write(sig, index_path, mode="append")
            sig.unpersist()
            return
        decisions, sig = near_index_probe(spark, index_path, batch_df)
        (
            decisions.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(decisions_path)
        )
        near_index_write(sig, index_path, mode="append")
        sig.unpersist()

    return _ingest
