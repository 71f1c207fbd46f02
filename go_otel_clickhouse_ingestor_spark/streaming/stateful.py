"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference keeps no stream state at all (every message is handled
and forgotten; the only "state" is ClickHouse's ReplacingMergeTree,
A16).  This module supplies the custom-state extension point a real
pipeline needs when built-in stateful ops (windowed aggs, stream
dedup, ``foreachBatch`` merge — all in ``windows.py``/``cdc_stream.py``)
can't express the semantics: arbitrary per-key accumulators that
survive across micro-batches in the state store.

Every recurrence here has one face, on ``applyInPandasWithState``.
Where the state lives is a session setting, not a second API: the
default provider keeps it in executor heap, and setting
``spark.sql.streaming.stateStore.providerClass`` to
``ROCKSDB_PROVIDER`` keeps it on local disk, with the same operators
unchanged.

Scale notes: state lives in the executor state store partitioned by
the grouping key — the same shuffle partitioning as any keyed agg; a
key's state must stay small (two numbers here).  Keys that can go idle
need a timeout so they age out instead of growing the store forever;
``user_running_totals_ttl`` shows the event-time form.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: RocksDB state-store provider class, for
#: ``spark.sql.streaming.stateStore.providerClass``.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

#: Output row per updated user; state is (total_value, n_events).
_OUT_SCHEMA = "user_id long, n_events long, total_value double"
_STATE_SCHEMA = "total double, cnt long"


def _accumulate(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold this batch's rows for one user into the running state and
    emit the updated totals (one row per user per batch)."""
    total, cnt = state.get if state.exists else (0.0, 0)
    for pdf in pdfs:
        cnt += len(pdf)
        total += float(pdf["value"].sum())
    state.update((total, cnt))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [cnt], "total_value": [round(total, 6)]}
    )


def user_running_totals(events: DataFrame) -> DataFrame:
    """Per-user running (n_events, total_value) maintained in the state
    store across micro-batches — the A16-style 'current value per key'
    pattern generalized to arbitrary accumulators."""
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _accumulate,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# --------------------------------------------------------------------
# Streaming EWMA: the stateful twin of the batch ``events_ewma`` query
# (operators/analytics.py) — same α=0.3 left fold, but the accumulator
# lives in the state store and folds each micro-batch's rows in
# (ts, event_id) order, so an out-of-order-free feed reproduces the
# batch result exactly (tested in tests/test_streaming.py).

_EWMA_ALPHA = 0.3
_EWMA_OUT_SCHEMA = "user_id long, n_obs long, ewma double"
_EWMA_STATE_SCHEMA = "ewma double, n long"


def _ewma_fold(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold one user's batch rows into the running EWMA.  Rows within
    the batch are sorted by (ts, event_id) — the same total order the
    batch query pins — so the fold is deterministic however Spark
    chunks the group across Arrow batches."""
    ewma, n = state.get if state.exists else (None, 0)
    chunks = list(pdfs)
    rows = pd.concat(chunks) if chunks else pd.DataFrame()
    if len(rows):
        rows = rows.sort_values(["ts", "event_id"])
        for v in rows["value"].astype(float):
            ewma = v if ewma is None else _EWMA_ALPHA * v + (1 - _EWMA_ALPHA) * ewma
            n += 1
        state.update((float(ewma), int(n)))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_obs": [n], "ewma": [None if ewma is None else round(float(ewma), 6)]}
    )


def user_ewma(events: DataFrame) -> DataFrame:
    """Per-user streaming EWMA maintained across micro-batches.  State
    is two numbers per user; the shuffle key is user_id — identical
    partitioning to the batch agg, so at 100 TB the state store scales
    with the user population, not traffic."""
    return (
        events.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _ewma_fold,
            outputStructType=_EWMA_OUT_SCHEMA,
            stateStructType=_EWMA_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# --------------------------------------------------------------------
# Event-time state TTL: the watermark-driven eviction pattern.  At
# 100 TB of keyed state the store only survives if abandoned keys AGE
# OUT; the deterministic way is an EventTimeTimeout pinned to
# last-seen event time + TTL — when the watermark passes it, the key
# gets one final "expired" emission and its state is dropped.  (The
# processing-time variant exists but is wall-clock-dependent and
# untestable deterministically; event-time TTL is what replays
# correctly.)

_TTL_OUT_SCHEMA = "user_id long, n_events long, total_value double, status string"
_TTL_STATE_SCHEMA = "total double, cnt long"

#: Keys expire after this much EVENT TIME without activity.
STATE_TTL_MS = 10 * 60 * 1000


def _accumulate_ttl(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Running totals with event-time TTL: fold rows, arm the timeout
    at (max event time this batch + TTL); on watermark-driven timeout
    emit the final row flagged 'expired' and remove the state."""
    if state.hasTimedOut:
        total, cnt = state.get if state.exists else (0.0, 0)
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [cnt],
                "total_value": [round(total, 6)],
                "status": ["expired"],
            }
        )
        return
    total, cnt = state.get if state.exists else (0.0, 0)
    max_ts_ms = 0
    for pdf in pdfs:
        if not len(pdf):
            continue
        cnt += len(pdf)
        total += float(pdf["value"].sum())
        batch_max = pdf["ts"].max()
        if pd.notna(batch_max):
            max_ts_ms = max(max_ts_ms, int(batch_max.value // 1_000_000))
    state.update((total, cnt))
    if max_ts_ms:
        state.setTimeoutTimestamp(max_ts_ms + STATE_TTL_MS)
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [cnt],
            "total_value": [round(total, 6)],
            "status": ["active"],
        }
    )


def user_running_totals_ttl(events: DataFrame) -> DataFrame:
    """Per-user running totals whose state EXPIRES after
    ``STATE_TTL_MS`` of event-time inactivity (watermark-driven
    EventTimeTimeout): active updates emit 'active' rows; a key whose
    timeout fires emits one final 'expired' row and frees its state.
    Requires a watermark on ``ts`` (the timeout is meaningless without
    one — Spark enforces this)."""
    return (
        events.withWatermark("ts", "1 minute")
        .select("ts", "user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _accumulate_ttl,
            outputStructType=_TTL_OUT_SCHEMA,
            stateStructType=_TTL_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# --------------------------------------------------------------------
# Streaming Holt: the stateful twin of the batch ``events_forecast_holt``
# query (operators/analytics.py) — same (level, trend) recurrence with
# α=0.5, β=0.3, folded per event_type as daily totals arrive.  State is
# three numbers per key; a complete in-order feed reproduces the batch
# fold bit-for-bit (tested against the batch query's arithmetic).

_HOLT_ALPHA = 0.5
_HOLT_BETA = 0.3
_HOLT_OUT_SCHEMA = (
    "event_type string, n_days long, level double, trend double, forecast_next double"
)
_HOLT_STATE_SCHEMA = "level double, trend double, n long"


def _holt_fold(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold one event type's arriving daily totals into the Holt
    (level, trend) state.  Batch rows are sorted by day; the first
    observation seeds level (trend 0), matching the batch query's
    aggregate() zero element."""
    level, trend, n = state.get if state.exists else (None, 0.0, 0)
    chunks = list(pdfs)
    rows = pd.concat(chunks) if chunks else pd.DataFrame()
    if len(rows):
        rows = rows.sort_values("day")
        for x in rows["x"].astype(float):
            if level is None:
                level, trend = x, 0.0
            else:
                new_level = _HOLT_ALPHA * x + (1 - _HOLT_ALPHA) * (level + trend)
                trend = _HOLT_BETA * (new_level - level) + (1 - _HOLT_BETA) * trend
                level = new_level
            n += 1
        state.update((float(level), float(trend), int(n)))
    out_level = None if level is None else round(float(level), 6)
    out_trend = None if level is None else round(float(trend), 6)
    fc = None if level is None else round(float(level) + float(trend), 6)
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "n_days": [n],
            "level": [out_level],
            "trend": [out_trend],
            "forecast_next": [fc],
        }
    )


def type_holt_forecast(daily: DataFrame) -> DataFrame:
    """Per-type streaming Holt level/trend maintained across
    micro-batches over a (event_type, day, x) daily-total feed.  The
    upstream stage is the watermarked daily rollup (windows.py); state
    is O(|event types|), shuffle keyed identically to the batch agg."""
    return (
        daily.select("event_type", "day", "x")
        .groupBy("event_type")
        .applyInPandasWithState(
            _holt_fold,
            outputStructType=_HOLT_OUT_SCHEMA,
            stateStructType=_HOLT_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# --------------------------------------------------------------------
# Streaming Croston: the stateful twin of the batch
# ``orders_croston_demand`` query (operators/analytics.py) — separate
# α=0.5 exponential smoothing of nonzero demand SIZES (z) and of the
# INTERVALS between demand days (p), forecast = z/p units/day, folded
# per part as (partkey, demand-day, quantity) rows arrive.  The batch
# fold is exact dyadic arithmetic over integer sizes/intervals, so the
# streamed recurrence is bit-identical under ANY micro-batch split of
# an in-order feed (the Holt/CUSUM equivalence argument, strengthened:
# no β cross-term, every coefficient is a power of two).

_CROSTON_OUT_SCHEMA = (
    "partkey long, n_demand_days long, demand_level double, "
    "mean_interval_days double, forecast_per_day double"
)
#: p < 0 is the "no interval yet" sentinel (real intervals are ≥ 1 day)
#: — avoids nullable-field round-trips through the state store.
_CROSTON_STATE_SCHEMA = "z double, p double, prev_d long, n long"


def _croston_fold(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold one part's arriving demand days into Croston (z, p) state.
    Matches the batch init exactly: the first demand day seeds z = q₁;
    the second seeds p to its own interval BEFORE the shared update —
    so p₂ = 0.5·i₂ + 0.5·i₂ = i₂, the recursive-CTE oracle's base
    case (analytics.py orders_croston_demand)."""
    z, p, prev_d, n = state.get if state.exists else (0.0, -1.0, 0, 0)
    chunks = list(pdfs)
    rows = pd.concat(chunks) if chunks else pd.DataFrame()
    if len(rows):
        rows = rows.sort_values("d")
        for d, q in zip(rows["d"].astype(int), rows["q"].astype(int)):
            if n == 0:
                z, prev_d = float(q), d
            else:
                i = d - prev_d
                if p < 0:
                    p = float(i)  # first interval seeds p (batch init)
                z = 0.5 * q + 0.5 * z
                p = 0.5 * i + 0.5 * p
                prev_d = d
            n += 1
        state.update((float(z), float(p), int(prev_d), int(n)))
    started = n >= 2  # single-demand-day parts are excluded batch-side
    yield pd.DataFrame(
        {
            "partkey": [int(key[0])],
            "n_demand_days": [n],
            "demand_level": [round(z, 6) if started else None],
            "mean_interval_days": [round(p, 6) if started else None],
            "forecast_per_day": [round(z / p, 6) if started else None],
        }
    )


def part_croston_stream(demand: DataFrame) -> DataFrame:
    """Per-part streaming Croston state over a (partkey, d, q)
    demand-day feed (d = days since epoch anchor, q = integer demand).
    State is four numbers per part — O(|parts|), the same key the
    batch op's single groupBy shuffles on; update-mode emission per
    touched part per trigger is the intermittent-demand alerting face
    (a part whose forecast_per_day crosses a reorder threshold pages
    the planner without waiting for the nightly batch)."""
    return (
        demand.select("partkey", "d", "q")
        .groupBy("partkey")
        .applyInPandasWithState(
            _croston_fold,
            outputStructType=_CROSTON_OUT_SCHEMA,
            stateStructType=_CROSTON_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# --------------------------------------------------------------------
# Round-9: streaming faces of the newest batch analytics.  The batch
# twins (operators/analytics.py ``events_changepoint_cusum`` /
# ``events_hysteresis_alerts``) are closed-form set-based plans; these
# are the SAME recursions run incrementally per key in the state
# store, for the alerting pipeline that can't wait for the batch pass.
# Equivalence is provable, not approximate: the batch CUSUM's
# prefix-sum-minus-running-min construction equals the recursion
# S⁺_t = max(0, S⁺_{t-1} + z_t − k) fold below term by term, and both
# sides pin z to the same integer micro-units so there is no float
# drift to accumulate (tests/test_streaming_analytics.py re-proves it
# row-for-row each run).

_CUSUM_OUT_SCHEMA = (
    "series string, day string, cusum_pos double, cusum_neg double, "
    "alarm_up boolean, alarm_down boolean"
)
#: integer micro-unit chart state — exact under any batch chunking
_CUSUM_STATE_SCHEMA = "sp long, sn long"

#: CUSUM constants shared with the batch op: allowance k = 0.5σ, alarm
#: threshold h = 4σ, in z micro-units.
_CUSUM_K_U = 500_000
_CUSUM_H_U = 4_000_000


def cusum_fold(mu: float, sigma: float):
    """Per-series two-sided CUSUM fold with a FIXED baseline (mu,
    sigma) — the control-chart deployment shape: the baseline comes
    from a reference window (or the batch job), the stream folds new
    points against it.  z is pinned to integer micro-units with the
    batch op's exact floor(z·1e6 + 0.5) rule."""
    import math

    def fold(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        sp, sn = state.get if state.exists else (0, 0)
        chunks = list(pdfs)
        rows = pd.concat(chunks) if chunks else pd.DataFrame()
        out = []
        if len(rows):
            rows = rows.sort_values("day")
            for day, x in zip(rows["day"], rows["x"].astype(float)):
                z_u = int(math.floor((x - mu) / sigma * 1_000_000 + 0.5))
                sp = max(0, sp + z_u - _CUSUM_K_U)
                sn = max(0, sn - z_u - _CUSUM_K_U)
                out.append(
                    (
                        key[0],
                        day,
                        round(sp / 1_000_000.0, 6),
                        round(sn / 1_000_000.0, 6),
                        sp > _CUSUM_H_U,
                        sn > _CUSUM_H_U,
                    )
                )
            state.update((int(sp), int(sn)))
        yield pd.DataFrame(
            out,
            columns=[
                "series", "day", "cusum_pos", "cusum_neg",
                "alarm_up", "alarm_down",
            ],
        )

    return fold


def series_cusum_stream(daily: DataFrame, mu: float, sigma: float) -> DataFrame:
    """Streaming two-sided CUSUM chart over a (series, day, x) feed.
    State is two longs per series; shuffle keyed on the series id —
    at 100 TB the store scales with the metric population, never with
    traffic, and the fold is O(rows in batch)."""
    return (
        daily.select("series", "day", "x")
        .groupBy("series")
        .applyInPandasWithState(
            cusum_fold(mu, sigma),
            outputStructType=_CUSUM_OUT_SCHEMA,
            stateStructType=_CUSUM_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_HYST_OUT_SCHEMA = (
    "event_type string, day string, total_c long, n long, state string"
)
_HYST_STATE_SCHEMA = "st string"


def hysteresis_fold(thresholds: dict):
    """Per-type two-threshold alert state machine: enter 'alert' above
    hi, return to 'clear' only below lo, carry in between — the batch
    op's last-non-null window as an explicit carried state.  The
    comparison is the batch op's exact multiplied-out integer form
    (centi-total vs hi·n·100), so boundary days classify identically.
    ``thresholds`` maps event_type -> (hi, lo); in production it is the
    broadcast output of the baseline job."""

    def fold(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if key[0] not in thresholds:
            # a type with no baseline thresholds (new in the live
            # stream) is passed through un-alerted rather than killing
            # the query with a KeyError; the next baseline refresh
            # picks it up
            for pdf in pdfs:  # drain the iterator per the state protocol
                pass
            yield pd.DataFrame(
                [], columns=["event_type", "day", "total_c", "n", "state"]
            )
            return
        (st,) = state.get if state.exists else ("clear",)
        hi, lo = thresholds[key[0]]
        chunks = list(pdfs)
        rows = pd.concat(chunks) if chunks else pd.DataFrame()
        out = []
        if len(rows):
            rows = rows.sort_values("day")
            for day, total_c, n in zip(
                rows["day"], rows["total_c"].astype(int), rows["n"].astype(int)
            ):
                if total_c > hi * n * 100.0:
                    st = "alert"
                elif total_c < lo * n * 100.0:
                    st = "clear"
                out.append((key[0], day, total_c, n, st))
            state.update((st,))
        yield pd.DataFrame(
            out, columns=["event_type", "day", "total_c", "n", "state"]
        )

    return fold


def type_hysteresis_stream(daily: DataFrame, thresholds: dict) -> DataFrame:
    """Streaming hysteresis alerting over a (event_type, day, total_c,
    n) daily feed.  One short string of state per type."""
    return (
        daily.select("event_type", "day", "total_c", "n")
        .groupBy("event_type")
        .applyInPandasWithState(
            hysteresis_fold(thresholds),
            outputStructType=_HYST_OUT_SCHEMA,
            stateStructType=_HYST_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# --------------------------------------------------------------------
# Streaming heavy hitters: a Misra–Gries summary per group key carried
# in the state store — the streaming face of agg_heavy_hitters_topk
# (operators/relational.py, approx_top_k's datasketches cousin).  The
# summary is MERGEABLE and fixed-size (k counters), so at 100 TB the
# state per group is O(k) regardless of item cardinality or traffic —
# the whole point of sketch-in-state over a keyed count: a groupBy
# count stream would carry state per DISTINCT ITEM.  Guarantee
# (Misra–Gries 1982): every item with true count > N/(k+1) is in the
# summary, and each kept counter undercounts by at most the total
# decrement weight; when the summary never evicts (≤ k distinct items,
# or one dominant plateau), counts are EXACT — the regime the
# equivalence test pins against the batch top-k.

_MG_K = 8  # counters per group — tune to the alerting k, not traffic
_MG_OUT_SCHEMA = "group string, item string, cnt long, rank long"
#: state: parallel arrays of the k tracked items and their counters
_MG_STATE_SCHEMA = "items array<string>, counts array<long>"


def _mg_fold(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    items, counts = state.get if state.exists else ([], [])
    sketch = dict(zip(items, counts))
    chunks = list(pdfs)
    rows = pd.concat(chunks) if chunks else pd.DataFrame()
    if len(rows):
        for item in rows["item"]:
            if item in sketch:
                sketch[item] += 1
            elif len(sketch) < _MG_K:
                sketch[item] = 1
            else:  # decrement-all step; drop zeroed counters
                sketch = {i: c - 1 for i, c in sketch.items() if c > 1}
        state.update((list(sketch.keys()), [int(c) for c in sketch.values()]))
    top = sorted(sketch.items(), key=lambda kv: (-kv[1], kv[0]))
    yield pd.DataFrame(
        [
            (key[0], item, int(cnt), rank)
            for rank, (item, cnt) in enumerate(top, start=1)
        ],
        columns=["group", "item", "cnt", "rank"],
    )


def group_heavy_hitters_stream(events: DataFrame) -> DataFrame:
    """Streaming Misra–Gries top items per group over a (group, item)
    feed.  Emits the current summary (item, cnt, rank) per group per
    batch; state is k counters per group."""
    return (
        events.select("group", "item")
        .groupBy("group")
        .applyInPandasWithState(
            _mg_fold,
            outputStructType=_MG_OUT_SCHEMA,
            stateStructType=_MG_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _token_bucket_fold(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold one user's in-order events through the token bucket,
    carrying (balance, last_ts) across micro-batches."""
    from ..operators.analytics import _TB_CAP_US, _TB_COST_US

    bal, prev_ts, rn = state.get if state.exists else (_TB_CAP_US, -1, 0)
    out_eid, out_rn, out_adm, out_bal = [], [], [], []
    # concat BEFORE sorting: a group larger than the Arrow batch size
    # arrives as several chunks in arbitrary order, and a per-chunk
    # sort would feed the recurrence out-of-order timestamps (negative
    # refills) — the cusum_fold discipline
    chunks = list(pdfs)
    rows = pd.concat(chunks) if chunks else pd.DataFrame()
    if len(rows):
        rows = rows.sort_values(["ts_us", "event_id"])
        for eid, ts in zip(rows["event_id"], rows["ts_us"]):
            if prev_ts >= 0:
                bal = min(_TB_CAP_US, bal + (int(ts) - prev_ts))
            prev_ts = int(ts)
            admitted = bal >= _TB_COST_US
            if admitted:
                bal -= _TB_COST_US
            rn += 1
            out_eid.append(int(eid))
            out_rn.append(rn)
            out_adm.append(admitted)
            out_bal.append(bal)
    state.update((bal, prev_ts, rn))
    yield pd.DataFrame(
        {
            "user_id": key[0],
            "event_id": out_eid,
            "rn": out_rn,
            "admitted": out_adm,
            "balance_us": out_bal,
        }
    )


def token_bucket_stream(events: DataFrame) -> DataFrame:
    """Streaming face of ``events_token_bucket_admission``: admit or
    reject each event AS IT ARRIVES from a per-user token bucket
    (capacity/refill constants shared with the batch op), state =
    (balance, last event time, admitted rank) carried across
    micro-batches — the burst-tolerant generalization of the
    reference's A1 pacing (``cmd/root.go:119``'s fixed-cadence
    ``time.Ticker``) applied to the ingest stream itself, i.e.
    admission control at the pipeline mouth.  Requires per-user event-time order
    across batches (the upstream sort/watermark discipline the CUSUM
    face documents); the equivalence test feeds ordered splits and
    pins stream == batch row for row."""
    return (
        events.select(
            "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            _token_bucket_fold,
            outputStructType=(
                "user_id long, event_id long, rn long, "
                "admitted boolean, balance_us long"
            ),
            stateStructType="bal long, prev_ts long, rn long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

