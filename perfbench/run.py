"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads: ``cdc_backlog_jdbc`` and ``cdc_live_upsert`` (``cdc.py``),
which BENCHMARK.json gates, and ``query_mix`` (``querymix.py``), which
runs on demand: its cold and warm passes take about 45 s per run, more
than the per-run budget of the gated benchmark.  Inputs are generated
from the seed before the Spark session starts; the program sees only the
generated files.  A run sets up (session + warm-up), measures for
``--seconds``, checks every output against a reference outside the
timed region, and prints a report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones.  With
``--trace 1`` the run measures the workload untraced, traced (spans
plus a ``StreamingQueryListener``) and untraced again, each for half of
``--seconds``, reports the traced phase against the mean of the other
two as the tracing overhead, probes the layers the workload
does not exercise, drains a small backlog on ``local[1]`` as the
single-threaded baseline, and prints the per-layer metrics; its spans
are written to ``.perfbench_work/spans/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import go_otel_clickhouse_ingestor_spark  # noqa: E402,F401  (fails fast without the program)

import cdc  # noqa: E402
import gen  # noqa: E402
import harness  # noqa: E402
import layers  # noqa: E402
import querymix  # noqa: E402

WORKLOADS = ("cdc_backlog_jdbc", "cdc_live_upsert", "query_mix")
BACKLOG_MESSAGES = 40_000
WARM_DRAINS = 3  # drains keep getting faster for about the first three
PROBE_MESSAGES = 24_000
SCALE = 0.01
#: End-to-end metrics of the CDC workloads (the ones BENCHMARK.json gates).
#: Ingest rate and freshness are printed by every run but reported as
#: per-layer readings (stream.*) without a bound: on a VM whose host steals
#: 0-28% of its CPU, both swing by 30% to 2x between runs, while the CPU
#: time the program spends per message moves by about a tenth.
E2E_UNITS = {"setup_s": "s", "cpu_ms_per_kmsg": "ms"}
#: query_mix runs on demand and reports its own: median pass and query time.
MIX_UNITS = {"setup_s": "s", "query_mix_s": "s", "query_p50_s": "s"}


# ---------------------------------------------------------------- workloads
class BacklogWorkload:
    def __init__(self, work, seed):
        self.backlog = cdc.Backlog.generate(work, seed, BACKLOG_MESSAGES)
        self.inputs = {"backlog_messages": BACKLOG_MESSAGES, "backlog_files": self.backlog.n_files,
                       "backlog_bytes": _dir_bytes(self.backlog.dir),
                       "generator": self.backlog.gen.stats()}
        self.timers = []

    def warm(self, spark, tracer) -> tuple[int, int]:
        self.backlog.attach(spark)
        wrong = 0
        for _ in range(WARM_DRAINS):
            self.backlog.drain_once(spark, tracer, "warmup.drain")
            wrong += self.backlog.wrong_rows(full=False)
        return WARM_DRAINS * BACKLOG_MESSAGES, wrong

    def measure(self, spark, tracer, seconds) -> dict:
        r = cdc.run_backlog(spark, self.backlog, tracer, seconds)
        self.timers = r.pop("timers")
        return r

    def finish(self) -> tuple[int, int]:
        return 0, 0


class LiveWorkload:
    def __init__(self, work, seed):
        self.live = cdc.LiveUpsert(work, seed)
        self.inputs = {"initial_messages": cdc.LiveUpsert.INIT_MESSAGES, "rate_per_s": cdc.RATE,
                       "file_every_s": cdc.FILE_EVERY_S, "id_space": self.live.cdc.n_ids}
        self.results = []

    def warm(self, spark, tracer) -> tuple[int, int]:
        self.live.start(spark, tracer)
        self.w0 = self.live.begin(cdc.LiveUpsert.WARM_S)
        return 0, 0

    def measure(self, spark, tracer, seconds) -> dict:
        if self.results:  # a later phase starts its own open loop
            self.w0 = self.live.begin(cdc.LiveUpsert.REWARM_S)
        r = self.live.finish(self.w0, seconds)
        self.results.append(r)
        late_ms = [x * 1000 for x in r["late_s"]]
        return {k: r[k] for k in ("ingest_eps", "freshness_p50_ms", "freshness_p99_ms", "cpu_ms_per_kmsg",
                                  "samples", "batches", "tail_batches", "backlog_end", "batch_s")} | {
            "gen_late_p99_ms": harness.pct(late_ms, 99), "gen_late_max_ms": max(late_ms)}

    def finish(self) -> tuple[int, int]:
        self.live.stop()
        wrong, self.sizes = self.live.wrong_rows()
        self.inputs["generator"] = self.live.cdc.stats()
        return len(self.live.expected), wrong


class QueryWorkload:
    def __init__(self, work, seed):
        tables = gen.write_tables(str(work / "sf"), seed, SCALE)
        self.mix = querymix.QueryMix(str(work / "sf"))
        self.inputs = {"scale": SCALE, "queries": len(querymix.MIX), "table_rows": tables}
        self.passes = []

    def warm(self, spark, tracer) -> tuple[int, int]:
        self.mix.attach()
        return len(querymix.MIX), self.mix.warm_pass(spark, tracer)

    def measure(self, spark, tracer, seconds) -> dict:
        r = querymix.run_mix(spark, self.mix, tracer, seconds)
        self.passes = r.pop("passes")
        r["passes"] = len(self.passes)
        return r

    def finish(self) -> tuple[int, int]:
        return 0, 0


def _dir_bytes(d: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))


def _e2e(r: dict, setup_s: float, units: dict) -> dict:
    vals = r | {"setup_s": setup_s}
    return {k: {"value": vals[k], "unit": u} for k, u in units.items()}


# ------------------------------------------------------------- traced run
def traced_layers(spark, args, wl, work, tracer, first: dict):
    """The traced phase, a second untraced phase, then the layer probes
    and the single-threaded baseline.  ``first`` is the untraced phase
    already run.  Returns (metrics, attempted, failed, session), the
    session being the local[1] one the baseline ends on."""
    attempted = failed = 0
    half = args.seconds / 2
    listener = harness.TriggerListener()
    spark.streams.addListener(listener.listener)
    tracer.enabled = True
    if isinstance(wl, LiveWorkload):
        wl.live.timer.watch = True
    gc0, ticks0 = harness.gc_ms(spark), harness.cpu_ticks()
    with tracer.span("measure.traced"):
        traced = wl.measure(spark, tracer, half)
    ticks = harness.cpu_ticks()
    m = {"jvm.gc_ms": float(harness.gc_ms(spark) - gc0),
         "env.steal_share": (ticks[0] - ticks0[0]) / max(ticks[1] - ticks0[1], 1),
         "stream.ingest_eps": traced.get("ingest_eps", 0.0),
         "stream.freshness_p50_ms": traced.get("freshness_p50_ms", 0.0),
         "stream.freshness_p99_ms": traced.get("freshness_p99_ms", 0.0),
         "jvm.peak_rss_mb": harness.peak_rss_mb(spark)}
    m.update(listener.metrics())
    spark.streams.removeListener(listener.listener)
    tracer.enabled = False
    # what the traced phase left behind, before the second untraced phase
    b_timers, b_passes = getattr(wl, "timers", []), getattr(wl, "passes", [])
    b_live = wl.results[-1] if isinstance(wl, LiveWorkload) else None
    if b_live is not None:
        wl.live.timer.watch = False
    second = wl.measure(spark, tracer, half)
    key = "query_mix_s" if isinstance(wl, QueryWorkload) else "freshness_p50_ms"
    m["trace.overhead_ratio"] = traced[key] / ((first[key] + second[key]) / 2) - 1.0
    for r in (traced, second):
        attempted += r.get("attempted", 0)
        failed += r.get("failed", 0)
    tracer.enabled = True

    # single-threaded baseline and the CDC probes share one small backlog
    probe = cdc.Backlog.generate(work / "probe", args.seed + 1, PROBE_MESSAGES, n_files=4)
    probe.attach(spark, "probe")
    if isinstance(wl, BacklogWorkload):
        m.update(layers.translate_layer(spark, tracer, wl.backlog.dir, BACKLOG_MESSAGES))
        sink, wrong = layers.sink_layer(spark, tracer, wl.backlog, b_timers)
    else:
        m.update(layers.translate_layer(spark, tracer, probe.dir, PROBE_MESSAGES))
        spark.streams.addListener(listener.listener)
        timers = []
        for _ in range(2):
            timers.append(probe.drain_once(spark, tracer)[1])
            failed += probe.wrong_rows(full=False)
            attempted += PROBE_MESSAGES
        spark.streams.removeListener(listener.listener)
        if not m["trigger.batches"]:  # no stream in the workload itself
            m.update(listener.metrics())
        sink, wrong = layers.sink_layer(spark, tracer, probe, timers)
    m.update(sink)
    failed += wrong
    attempted += len(probe.want)

    if b_live is not None:
        m.update({"gen.late_p99_ms": traced["gen_late_p99_ms"], "gen.late_max_ms": traced["gen_late_max_ms"],
                  "source.backlog_end_msgs": float(b_live["backlog_end"])})
        n, wrong = wl.finish()
        attempted += n
        failed += wrong
        m.update(layers.upsert_metrics(wl.live.timer, b_live["batch_kept"], wl.live.state, wl.sizes))
    else:
        # closed loops have no schedule to fall behind and no backlog left
        m.update({"gen.late_p99_ms": 0.0, "gen.late_max_ms": 0.0, "source.backlog_end_msgs": 0.0})
        ups, wrong = layers.upsert_probe(spark, tracer, probe, work)
        m.update(ups)
        failed += wrong
        attempted += PROBE_MESSAGES

    if not b_passes:
        mix = querymix.QueryMix(str(work / "sf"))
        mix.attach()
        times, wrong = mix.timed_pass(spark, tracer)
        b_passes = [times]
        attempted += len(times)
        failed += wrong
    m.update(layers.query_layer(b_passes))
    m.update(layers.floor_jvm(spark))
    m.update(layers.self_time_layer(tracer))

    # single-threaded baseline: the probe drain on nproc cores, then on local[1]
    eps_n, n, wrong = _baseline_eps(spark, tracer, probe)
    attempted, failed = attempted + n, failed + wrong
    spark.stop()
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    spark1, _ = harness.start_session("perfbench-local1")
    probe.attach(spark1, "probe1")
    eps_1, n, wrong = _baseline_eps(spark1, tracer, probe, warm=True)
    attempted, failed = attempted + n, failed + wrong
    m.update({"baseline.local1_eps": eps_1, "baseline.nproc_eps": eps_n,
              "baseline.speedup": eps_n / eps_1})
    return m, attempted, failed, spark1


def _baseline_eps(spark, tracer, probe: cdc.Backlog, warm: bool = False) -> tuple[float, int, int]:
    """Median valid messages/s of two drains (after one warm-up drain if
    ``warm``); returns (eps, messages attempted, wrong rows)."""
    runs, wrong = [], 0
    for i in range(3 if warm else 2):
        secs = probe.drain_once(spark, tracer, "baseline.drain")[0]
        wrong += probe.wrong_rows(full=False)
        if i or not warm:
            runs.append(len(probe.want) / secs)
    return harness.median(runs), probe.n_messages * (3 if warm else 2), wrong


# ------------------------------------------------------------------- main
def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    loadavg = os.getloadavg()[0]
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = harness.prepare_work_dir(run_id)
    tracer = harness.Tracer(run_id, enabled=bool(args.trace))
    traced_run = bool(args.trace)
    if traced_run and args.workload != "query_mix":  # for the query probe
        gen.write_tables(str(work / "sf"), args.seed, SCALE)
    wl = {"cdc_backlog_jdbc": BacklogWorkload, "cdc_live_upsert": LiveWorkload,
          "query_mix": QueryWorkload}[args.workload](work, args.seed)

    t0 = time.perf_counter()
    with tracer.span("setup"):
        with tracer.span("session.get_spark"):
            spark, get_spark_s = harness.start_session("perfbench")
        with tracer.span("warmup"):
            attempted, failed = wl.warm(spark, tracer)
    setup_s = time.perf_counter() - t0
    stamp = harness.env_stamp(spark, args.seed, wl.inputs, loadavg)

    tracer.enabled = False  # the untraced measurement, in every run
    gc0, ticks0 = harness.gc_ms(spark), harness.cpu_ticks()
    r = wl.measure(spark, tracer, args.seconds / 2 if traced_run else args.seconds)
    gc_measure = harness.gc_ms(spark) - gc0
    ticks1 = harness.cpu_ticks()
    stamp["steal_share_measure"] = (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1)
    attempted += r.pop("attempted", 0)
    failed += r.pop("failed", 0)
    r["peak_rss_mb"] = harness.peak_rss_mb(spark)

    if traced_run:
        m, a, f, spark = traced_layers(spark, args, wl, work, tracer, r)
        m["session.get_spark_s"] = get_spark_s
        attempted += a
        failed += f
        metrics = {k: {"value": v, "unit": _layer_unit(k)} for k, v in sorted(m.items())}
    else:
        n, wrong = wl.finish()
        attempted += n
        failed += wrong
        metrics = _e2e(r, setup_s, MIX_UNITS if isinstance(wl, QueryWorkload) else E2E_UNITS)
    stamp["inputs"] = wl.inputs
    harness.stop_jvm(spark)

    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print("# env " + json.dumps(stamp, sort_keys=True))
    print("# measure " + json.dumps(r | {"gc_ms": gc_measure}))
    if traced_run:
        os.makedirs(harness.ROOT / ".perfbench_work" / "spans", exist_ok=True)
        tracer.dump(harness.ROOT / ".perfbench_work" / "spans" / f"{run_id}.jsonl")
    for k, v in metrics.items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    mismatched = getattr(getattr(wl, "mix", None), "mismatched", [])
    print(f"# failed_ratio = {failed / max(attempted, 1):.6g} ({failed} of {attempted})"
          + (f" mismatched queries: {sorted(set(mismatched))}" if mismatched else ""))
    print(f"# correct = {failed == 0}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def _layer_unit(name: str) -> str:
    if name.endswith(("_eps", "_per_s")):
        return "1/s"
    if name.endswith("_ms") or "_ms_" in name:
        return "ms"
    if name.endswith("_s") or "_s_" in name:
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("bytes_written"):
        return "B"
    if name.endswith(("ratio", "amplification", "speedup", "share")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
