"""Run plumbing shared by the workloads: the work directory, the Spark
session's life, memory and GC readings, the environment stamp, spans
and small statistics helpers.

Nothing here changes a conf of the program.  The session is sized by
``SPARK_GRAFT_CPUS`` (read by ``session.get_spark``) and every file the
JVM, Derby, Spark and Python write goes under the work directory.
"""

from __future__ import annotations

import os
import resource
import shutil
import threading
import time
from contextlib import contextmanager
from pathlib import Path

import numpy as np

ROOT = Path(__file__).resolve().parent.parent


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_work_dir(name: str) -> Path:
    """A fresh work directory under the checkout, and the environment
    that keeps the JVM, Spark and Python temp files inside it.  Must run
    before the first session starts."""
    work = ROOT / ".perfbench_work" / name
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "derby"):
        (work / sub).mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    java_opts = " ".join([
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dderby.system.home={work / 'derby'}",
        f"-Dderby.stream.error.file={work / 'derby' / 'derby.log'}",
        # Derby stands in for the ClickHouse server: keep its log fsyncs
        # out of the sink's time, which is the program's
        "-Dderby.system.durability=test",
        "-XX:-UsePerfData",
    ])
    os.environ["PYSPARK_SUBMIT_ARGS"] = f'--driver-java-options "{java_opts}" pyspark-shell'
    # the launcher JVM that spark-submit starts first reads only this
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    return work


def start_session(app: str):
    """``session.get_spark`` timed; returns (spark, seconds)."""
    from go_otel_clickhouse_ingestor_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app)
    return spark, time.perf_counter() - t0


def jvm_pid(spark) -> int:
    """Pid of the driver JVM (spark-submit execs into java)."""
    return spark.sparkContext._gateway.proc.pid


def peak_rss_mb(spark) -> float:
    """High-water RSS of the driver JVM plus this Python process."""
    jvm_kb = 0
    with open(f"/proc/{jvm_pid(spark)}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def cpu_s(spark) -> float:
    """CPU time (user + system) used so far by the driver JVM and this
    Python process.  Time the host steals from the VM is not in it."""
    with open(f"/proc/{jvm_pid(spark)}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    jvm = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    t = os.times()
    return jvm + t.user + t.system


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of this VM since boot, from /proc/stat;
    two readings give the share of a window that the host stole."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def gc_ms(spark) -> int:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(int(b.getCollectionTime()) for b in beans)


def stop_jvm(spark) -> None:
    """Stop the session and wait until the JVM process has ended."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


def env_stamp(spark, seed: int, inputs: dict, loadavg: float) -> dict:
    """Facts that make results from different hosts incomparable."""
    jvm = spark._jvm
    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": spark.version,
        "java": str(jvm.java.lang.System.getProperty("java.version")),
        "loadavg_start": loadavg,
        "seed": seed,
        "inputs": inputs,
    }


# ------------------------------------------------------------------ spans
class Tracer:
    """In-memory spans (name, start, end, parent, run id).  Disabled, it
    records nothing and ``span`` costs one branch."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": parent, "run": self.run_id,
                   "start": time.perf_counter(), "end": None, **attrs}
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part covered by its
        children."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, cur_end = 0.0, s["start"]
            for k in sorted(kids.get(s["id"], []), key=lambda k: k["start"]):
                lo, hi = max(k["start"], cur_end), min(k["end"] or s["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered)
        return out

    def dump(self, path: Path) -> None:
        import json

        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class TriggerListener:
    """Collects ``StreamingQueryProgress`` of every micro-batch through a
    Python ``StreamingQueryListener`` (traced runs only)."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        progress = self.progress = []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                progress.append({"batch": p.batchId, "rows": p.numInputRows,
                                 "durations": dict(p.durationMs)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _L()

    def metrics(self) -> dict[str, float]:
        ps = [p for p in self.progress if p["rows"] > 0]
        out = {"trigger.batches": float(len(ps)),
               "trigger.rows_per_batch_p50": median([p["rows"] for p in ps])}
        for key, name in (("latestOffset", "latest_offset"), ("getBatch", "get_batch"),
                          ("queryPlanning", "query_planning"), ("addBatch", "add_batch"),
                          ("walCommit", "wal_commit"), ("commitOffsets", "commit_offsets")):
            out[f"trigger.{name}_ms_p50"] = median([p["durations"].get(key, 0) for p in ps])
        return out


# ------------------------------------------------------------------ stats
def median(xs) -> float:
    return float(np.median(xs)) if len(xs) else 0.0


def pct(xs, q: float) -> float:
    return float(np.percentile(xs, q)) if len(xs) else 0.0
