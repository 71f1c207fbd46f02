"""Incremental materialized-view maintenance — the streaming rollup
the reference's sink tables exist to serve, kept up to date per
micro-batch instead of recomputed per query.

The maintained view is the hourly event rollup (the batch twin is
``operators/windows.agg_windowed_time``): count + sum(value) per
(event_type, hour bucket).  Because the aggregate is ADDITIVE, each
micro-batch only needs:

1. its own partial aggregate (tiny — bounded by types × hours touched),
2. a read of the CURRENT rows of the touched event_type partitions
   (only their directories, with the partial aggregate's schema —
   never the rest of the view or the event history),
3. re-summation and a staged swap of just those partitions.

State is O(view), not O(stream): the raw events are never re-read.
This is the same partition merge as ``cdc_stream.upsert_foreach_batch``
(A16), ``sinks.merge_partitions``, applied to additive aggregation.  At
100 TB the view partitions by (event_type, day) and a batch rewrites
only the slivers it touched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sinks import merge_partitions


def hourly_rollup(batch_df: DataFrame) -> DataFrame:
    """The per-batch partial aggregate of the maintained view."""
    return (
        batch_df.groupBy(
            F.col("event_type"),
            F.unix_micros(F.date_trunc("hour", F.col("ts"))).alias("bucket_us"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total_value"),
        )
    )


def _resum(rows: DataFrame) -> DataFrame:
    return rows.groupBy("event_type", "bucket_us").agg(
        F.sum("n").alias("n"), F.sum("total_value").alias("total_value")
    )


def matview_foreach_batch(view_dir: str):
    """foreachBatch maintainer: combine each micro-batch's partial
    aggregate into the stored view with ``sinks.merge_partitions``,
    rewriting only touched event_type partitions.  A crash inside the
    swap is rolled back before the retry (``sinks.replace_partitions``),
    but replays are NOT idempotent for additive aggregates: a batch
    re-delivered after its swap committed but before the checkpoint did
    is counted twice."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        merge_partitions(hourly_rollup(batch_df), view_dir, "event_type", _resum)

    return apply
