"""Event-time windowing, watermarks, stream-static and stream-stream
joins (SURVEY.md §2.B streaming-only rows).  Streaming exact dedup is
``dedup_stream.dedup_exact_stream``.

The reference is processing-time only (a Go ticker); these are the
event-time operators its sink tables exist to feed.  All builders take
a *stream* of events shaped like the ``events`` fixture table
(event_id, ts, user_id, event_type, value) and return streaming
DataFrames; with a batch DataFrame they degrade to the batch
equivalents (same expressions), which is how tests pin semantics.

Scale notes: windowed aggregation state is partitioned by (window,
keys) in the state store; the watermark bounds state size — without
it a 100 TB stream grows state forever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_watermark(events: DataFrame, delay: str = "10 minutes") -> DataFrame:
    """Late-data bound: events older than max(ts) - delay are dropped
    from stateful operators."""
    return events.withWatermark("ts", delay)


def tumbling_counts(events: DataFrame, width: str = "1 minute") -> DataFrame:
    """Event counts + value sum per tumbling window per event_type."""
    return (
        with_watermark(events)
        .groupBy(F.window("ts", width).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame, width: str = "1 minute", slide: str = "30 seconds"
) -> DataFrame:
    """Overlapping (sliding) windows: each event lands in
    width/slide windows."""
    return (
        with_watermark(events)
        .groupBy(F.window("ts", width, slide).alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "n_events",
        )
    )


def session_counts(events: DataFrame, gap: str = "5 minutes") -> DataFrame:
    """Session windows per user: a session closes after ``gap`` of
    inactivity (dynamic-width state)."""
    return (
        with_watermark(events)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "user_id",
            "n_events",
        )
    )


def enrich_with_users(events: DataFrame, users_cur: DataFrame) -> DataFrame:
    """Stream-static join: enrich the event stream with the (batch)
    current-state user table (A16's output).  The static side is
    re-read per micro-batch and broadcast when small."""
    return events.join(
        F.broadcast(users_cur.select("id", "name", "email")),
        events.user_id == F.col("id"),
        "left",
    ).drop("id")


def stream_stream_click_purchase_join(
    events_a: DataFrame,
    events_b: DataFrame,
    horizon: str = "2 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: each click pairs with the same user's
    purchases within ``horizon`` after it — the attribution-join shape.

    Both sides are watermarked and the join condition carries the
    event-time interval, so the state store only buffers rows inside
    watermark + horizon: the two bounds together are what make an
    unbounded×unbounded join finite.  State is partitioned by the join
    key (user_id) like any shuffled join.

    ``how="left_outer"`` is the attribution-complete form: matched
    rows emit as the purchase arrives; an UNmatched click emits (null
    purchase columns) only once the watermark passes click_ts +
    horizon — until then a match could still arrive.  The outer
    emission is watermark bookkeeping over the same state, not extra
    buffering."""
    clicks = (
        with_watermark(events_a, "1 minute")
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        with_watermark(events_b, "1 minute")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("purchase_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    return clicks.join(
        purchases,
        (F.col("click_user") == F.col("purchase_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")),
        how,
    )


def session_counts_dynamic_gap(events: DataFrame) -> DataFrame:
    """Session windows with a PER-ROW gap expression — purchases hold a
    session open for 30 minutes, everything else 5 — the Spark 4
    dynamic-gap form of ``session_counts``.  Real pipelines need this
    the moment different event classes have different engagement
    half-lives (a checkout flow shouldn't time out like a pageview);
    per-row gaps mean session merge is decided by each event's OWN
    horizon, and the state-store mechanics (merge on overlap, evict on
    watermark) are identical to the fixed-gap case."""
    gap = F.when(F.col("event_type") == "purchase", F.lit("30 minutes")).otherwise(
        F.lit("5 minutes")
    )
    return (
        with_watermark(events)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "user_id",
            "n_events",
        )
    )


def exp_histogram_windowed(
    events: DataFrame, width: str = "1 day", delay: str = "10 minutes"
) -> DataFrame:
    """Per-window OTLP ExponentialHistogram (scale 0) bucket counts —
    the streaming face of the batch ``events_exp_histogram`` query:
    values in exact integer micro-units, spec upper-inclusive bucket
    index ceil(log2 |v|)-1 = bit-length(|v|-1)-1 (never float log2),
    negative spectrum by magnitude, dedicated zero bucket — the ONE
    formula shared via ``otlp_scale0_parts``.  Emits
    (window, event_type, spectrum, bucket_idx, n).

    Mergeability is the contract this face exists to prove: scale-0
    buckets form a partial-aggregable map, so window grids merge by
    plain addition — summing the per-window counts over all windows
    must reproduce the batch grid exactly (pinned in
    tests/test_streaming_analytics.py).  At 100 TB the state store
    holds one counter per (window, type, bucket) — ~5×40 cells per
    window, watermark-bounded — the same reason the reference's
    explicit-bucket histograms (A14, internal/metrics/metrics.go)
    are cheap to keep per label set."""
    from ..operators.analytics import otlp_scale0_parts

    v_us = F.expr("cast(round(value * 1000000) as bigint)")
    spectrum, bucket = otlp_scale0_parts(v_us)
    return (
        events.withWatermark("ts", delay)
        .select("ts", "event_type", spectrum, bucket)
        .groupBy(F.window("ts", width), "event_type", "spectrum", "bucket_idx")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def log_templates_windowed(
    lines: DataFrame, width: str = "1 day", delay: str = "10 minutes"
) -> DataFrame:
    """Per-window log-template mining — the streaming face of the
    batch ``events_log_templates`` query, because template mining is
    an ONLINE operator in every real log stack (new templates page the
    on-call; a template's volume spike IS the incident signal): mask
    each arriving line's variable fields with the shared Drain-lite
    formula (``operators.analytics.mask_log_template`` — one formula,
    so window grids merge into the batch grid exactly, the
    exp-histogram mergeability discipline) and count per (window,
    template).  Emits (window, template, n_lines, sample_line); the
    deterministic min-line exemplar survives streaming aggregation
    (F.min is a streaming-safe agg; exact count-distinct users is not
    — the batch face keeps that column).  State is one counter + one
    exemplar per (window, template): template cardinality is ~10^3 at
    100 TB (Drain's premise) and windows are watermark-bounded, so the
    state store stays tiny no matter the line rate."""
    from ..operators.analytics import mask_log_template

    return (
        lines.withWatermark("ts", delay)
        .select("ts", mask_log_template("line").alias("template"), "line")
        .groupBy(F.window("ts", width), "template")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.min("line").alias("sample_line"),
        )
    )


def apdex_windowed(
    spans: DataFrame, width: str = "1 day", delay: str = "10 minutes"
) -> DataFrame:
    """Per-window per-service Apdex — the streaming face of the batch
    ``spans_apdex`` query, because the index is an ONLINE SLI on every
    APM dashboard (the alert fires when a window's index dips, not at
    end of day).  Input is a span stream shaped like
    ``trace_assembly_stream``'s (service, dur_us, ts).

    Mergeability is the design rule (the exp_histogram_windowed
    contract): the three bucket COUNTS are partial-aggregable, so
    window grids re-aggregate by addition and the ppm index is derived
    from the merged counts — summing the per-window counts over all
    windows and re-deriving the index must reproduce the batch grid
    exactly.  State: one 3-counter cell per (window, service),
    watermark-bounded."""
    from ..operators.traces import _APDEX_T_US

    sat = F.when(F.col("dur_us") <= _APDEX_T_US, 1).otherwise(0)
    tol = F.when(
        (F.col("dur_us") > _APDEX_T_US)
        & (F.col("dur_us") <= 4 * _APDEX_T_US),
        1,
    ).otherwise(0)
    fru = F.when(F.col("dur_us") > 4 * _APDEX_T_US, 1).otherwise(0)
    return (
        spans.withWatermark("ts", delay)
        .groupBy(F.window("ts", width).alias("win"), "service")
        .agg(
            F.sum(sat).cast("long").alias("n_satisfied"),
            F.sum(tol).cast("long").alias("n_tolerating"),
            F.sum(fru).cast("long").alias("n_frustrated"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "service",
            "n_satisfied",
            "n_tolerating",
            "n_frustrated",
            F.expr(
                "(n_satisfied * 1000000 + n_tolerating * 500000)"
                " div (n_satisfied + n_tolerating + n_frustrated)"
            )
            .cast("long")
            .alias("apdex_ppm"),
        )
    )


def red_metrics_windowed(
    spans: DataFrame, width: str = "1 day", delay: str = "10 minutes"
) -> DataFrame:
    """Per-window spanmetrics RED grid — the streaming face of the
    batch ``spans_red_metrics`` query, because the spanmetrics
    connector IS a streaming component (the OTel collector emits these
    metrics per flush interval, not per day-end batch).  Input is a
    flat span stream shaped like ``operators/traces.py::_span_flat``
    plus event time: (service, span_name, dur_us, is_error, ts).

    Mergeability is the whole design (the apdex_windowed /
    exp-histogram contract): every output is a COUNT or SUM over a
    (window, service, span_name) cell — calls, errors, total duration,
    and the cumulative explicit-bounds duration histogram — so window
    grids re-aggregate by addition and the derived err_ppm is
    recomputed after any merge; summing all windows reproduces the
    batch grid exactly (pytest-pinned).  This is also why the OTel
    wire format ships cumulative `le` buckets: merging histograms is
    element-wise addition, nothing else.  State: one (4 + #bounds)-
    counter cell per (window, service, span_name), watermark-bounded."""
    from ..operators.traces import _RED_BOUNDS_US

    buckets = [
        F.sum(F.when(F.col("dur_us") <= b, 1).otherwise(0))
        .cast("long")
        .alias(f"le_{b // 1_000_000}s")
        for b in _RED_BOUNDS_US
    ]
    return (
        spans.withWatermark("ts", delay)
        .groupBy(F.window("ts", width).alias("win"), "service", "span_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_calls"),
            F.sum("is_error").cast("long").alias("n_errors"),
            F.sum("dur_us").cast("long").alias("total_dur_us"),
            *buckets,
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "service",
            "span_name",
            "n_calls",
            "n_errors",
            F.expr("n_errors * 1000000 div n_calls").cast("long").alias("err_ppm"),
            "total_dur_us",
            *[f"le_{b // 1_000_000}s" for b in _RED_BOUNDS_US],
        )
    )
