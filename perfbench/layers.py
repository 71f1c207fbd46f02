"""Per-layer measurements for the traced run.

Each function times one layer of the program through its public
functions and returns metrics named ``<layer>.<what>``.  A traced run
reports every per-layer metric: the layers its workload exercises come
from its own measured phase, the others from the small probes here.
"""

from __future__ import annotations

import os
import time

import cdc
import gen
from harness import median


def _translated(spark, src_dir: str):
    from go_otel_clickhouse_ingestor_spark.operators.cdc import parse_envelope, translate_envelope

    return translate_envelope(parse_envelope(spark.read.schema(gen.SOURCE_SCHEMA).json(src_dir)))


def translate_layer(spark, tracer, src_dir: str, n_messages: int) -> dict:
    """``operators.cdc``: parse + translate into a ``noop`` sink, and
    ``current_state`` over the translated rows."""
    from go_otel_clickhouse_ingestor_spark.operators.cdc import current_state

    with tracer.span("cdc.translate"):
        t0 = time.perf_counter()
        _translated(spark, src_dir).write.format("noop").mode("overwrite").save()
        secs = time.perf_counter() - t0
    kept = _translated(spark, src_dir).count()
    with tracer.span("cdc.current_state"):
        t0 = time.perf_counter()
        current_state(_translated(spark, src_dir)).count()
        cs = time.perf_counter() - t0
    return {"cdc.translate_s": secs, "cdc.translate_eps": n_messages / secs,
            "cdc.kept_ratio": kept / n_messages, "cdc.current_state_s": cs}


def sink_layer(spark, tracer, backlog: cdc.Backlog, timers: list) -> tuple[dict, int]:
    """``streaming.sinks``: the JDBC apply calls of drains already run
    (``timers``), plus one apply over an already-materialized translated
    frame.  Returns (metrics, wrong rows of the isolated write)."""
    from go_otel_clickhouse_ingestor_spark.streaming.sinks import jdbc_foreach_batch

    write_s = sum(t.busy_s() for t in timers)
    rows = len(backlog.want) * len(timers)
    frame = _translated(spark, backlog.dir).localCheckpoint(eager=True)
    backlog.derby.truncate()
    apply = jdbc_foreach_batch(backlog.derby.sink_config())
    with tracer.span("sink.isolated"):
        t0 = time.perf_counter()
        apply(frame, 0)
        iso = time.perf_counter() - t0
    wrong = backlog.wrong_rows(full=False)
    return {
        "sink.jdbc_write_s": write_s,
        "sink.rows": float(rows),
        "sink.batches": float(sum(len(t.calls) for t in timers)),
        "sink.rows_per_s": rows / write_s,
        "sink.failed_batches": float(sum(t.failed for t in timers)),
        "sink.jdbc_isolated_s": iso,
    }, wrong


def upsert_metrics(timer: cdc.StateWatchTimer, batch_kept: dict[int, int], state: str,
                   sizes: dict) -> dict:
    """``streaming.cdc_stream`` upsert, from the watched apply calls."""
    calls = [(b, e - s) for b, s, e in timer.calls if b in timer.rewrites]
    rewrites = [timer.rewrites[b] for b, _ in calls]
    versions_bytes = sum(b for d, (b, _) in cdc.state_bytes(state).items()
                         if f"{os.sep}versions{os.sep}" in d)
    row_bytes = versions_bytes / max(sizes["state_rows"], 1)
    new_bytes = sum(batch_kept.get(b, 0) for b, _ in calls) * row_bytes
    written = sum(r[1] for r in rewrites)
    return {
        "upsert.apply_s_p50": median([d for _, d in calls]),
        "upsert.apply_s_max": max((d for _, d in calls), default=0.0),
        "upsert.buckets_touched_mean": sum(r[0] for r in rewrites) / max(len(rewrites), 1),
        "upsert.state_rows_end": float(sizes["state_rows"]),
        "upsert.current_rows_end": float(sizes["current_rows"]),
        "upsert.bytes_written": float(written),
        "upsert.write_amplification": written / new_bytes if new_bytes else 0.0,
    }


def upsert_probe(spark, tracer, backlog: cdc.Backlog, work, n_batches: int = 2) -> tuple[dict, int]:
    """Upsert a few backlog files as micro-batches by calling the
    foreachBatch function directly; returns (metrics, wrong rows)."""
    from go_otel_clickhouse_ingestor_spark.streaming.cdc_stream import upsert_foreach_batch

    state = str(work / "probe-state")
    timer = cdc.StateWatchTimer(upsert_foreach_batch(state), tracer, "upsert.apply", state)
    timer.watch = True
    files = sorted(f for f in os.listdir(backlog.dir) if f.endswith(".json"))[:n_batches]
    per = -(-backlog.n_messages // backlog.n_files)
    kept, expected = {}, []
    for i, f in enumerate(files):
        exp = [e for e in backlog.expected[i * per:(i + 1) * per] if e is not None]
        expected.extend(exp)
        kept[i] = len(exp)
        timer(_translated(spark, os.path.join(backlog.dir, f)), i)
    wrong, sizes = cdc.check_state(state, expected)
    return upsert_metrics(timer, kept, state, sizes), wrong


def query_layer(passes: list[dict]) -> dict:
    names = passes[0].keys()
    return {f"query.{n}_s": median([p[n] for p in passes]) for n in names}


def floor_jvm(spark) -> dict:
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        spark.range(1).count()
        times.append(time.perf_counter() - t0)
    return {"query.floor_jvm_s": median(times)}


def self_time_layer(tracer) -> dict:
    """Self time of the spans that sit at layer boundaries."""
    st = tracer.self_times()
    return {
        "self.session_s": st.get("session.get_spark", 0.0),
        "self.drain_engine_s": st.get("stream.drain", 0.0),
        "self.sink_apply_s": st.get("sink.apply", 0.0),
        "self.upsert_apply_s": st.get("upsert.apply", 0.0),
        "self.query_pass_s": sum(v for k, v in st.items() if k.startswith("query.") and k != "query.pass"),
    }
