"""The two CDC workloads and the measurements they share.

``cdc_backlog_jdbc`` (closed loop, one client): a seeded backlog of
Debezium messages is landed as JSONL, then drained again and again,
each time with ``trigger(availableNow=True)`` through
``translate_stream`` -> ``jdbc_foreach_batch`` into an embedded Derby
table, until the run's time is up.  One drain is one micro-batch.

``cdc_live_upsert`` (open loop): a generator thread lands a file every
250 ms on a fixed schedule (500 messages/s, each stamped with its due
time in ``ts_us``) while ``translate_stream`` -> ``upsert_foreach_batch``
runs with the program's default trigger.  Freshness of a message is
the time from its due time to the return of the upsert call for the
batch that held it; the batch of each file is read from the
checkpoint's source log after the run, so the timed path has no extra
Spark action.

Outputs are checked outside the timed region against the generator's
Python reference translation.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import Counter
from pathlib import Path

import numpy as np

import gen
from harness import cpu_s, median, pct

TABLE = "users_cur"
DATABASE = "appdb"
_DDL = (
    f'CREATE TABLE {DATABASE}.{TABLE} ("msg_id" BIGINT, "id" BIGINT, '
    '"name" VARCHAR(128), "email" VARCHAR(128), "is_deleted" BIGINT, '
    '"_op" BIGINT, "_lsn" BIGINT, "_ts" VARCHAR(19))'
)
_FINGERPRINT = (
    'SELECT COUNT(*), SUM("msg_id"), SUM("id"), SUM("is_deleted"), SUM("_op"), '
    'SUM("_lsn"), SUM(LENGTH("name")), SUM(LENGTH("email")) '
    f"FROM {DATABASE}.{TABLE}"
)


# ------------------------------------------------------------------ Derby
class Derby:
    """Embedded Derby database in the driver JVM, reached over JDBC."""

    def __init__(self, spark, path: Path):
        self.url = f"jdbc:derby:{path};create=true"
        self.spark = spark
        self._conn = spark._jvm.java.sql.DriverManager.getConnection(self.url)

    def execute(self, sql: str) -> None:
        st = self._conn.createStatement()
        try:
            st.execute(sql)
        finally:
            st.close()

    def create_table(self) -> None:
        self.execute(f"CREATE SCHEMA {DATABASE}")
        self.execute(_DDL)

    def truncate(self) -> None:
        self.execute(f"TRUNCATE TABLE {DATABASE}.{TABLE}")

    def fingerprint(self) -> tuple:
        st = self._conn.createStatement()
        try:
            rs = st.executeQuery(_FINGERPRINT)
            rs.next()
            return tuple(int(rs.getLong(i)) for i in range(1, 9))
        finally:
            st.close()

    def rows(self) -> list[tuple]:
        pdf = self.spark.read.jdbc(self.url, f"{DATABASE}.{TABLE}").toPandas()
        return list(pdf.itertuples(index=False, name=None))

    def sink_config(self):
        from go_otel_clickhouse_ingestor_spark.streaming.sinks import JdbcSinkConfig

        return JdbcSinkConfig(url=self.url, table=TABLE, database=DATABASE)


def sink_rows(expected: list) -> list[tuple]:
    """Reference rows as the JDBC sink stores them (``_ts`` as text)."""
    return [(*e[:7], gen.ts_string(e[7])) for e in expected if e is not None]


def fingerprint_of(rows: list[tuple]) -> tuple:
    return (
        len(rows), sum(r[0] for r in rows), sum(r[1] for r in rows),
        sum(r[4] for r in rows), sum(r[5] for r in rows), sum(r[6] for r in rows),
        sum(len(r[2]) for r in rows), sum(len(r[3]) for r in rows),
    )


def count_wrong(got: list[tuple], want: list[tuple]) -> int:
    """Rows missing, extra or different: size of the multiset
    symmetric difference, counted once per wrong row."""
    g, w = Counter(got), Counter(want)
    return max(sum((g - w).values()), sum((w - g).values()))


def source_stream(spark, src_dir: str):
    return spark.readStream.schema(gen.SOURCE_SCHEMA).json(src_dir)


def drain(spark, src_dir: str, ckpt: str, apply) -> None:
    """One availableNow drain of ``src_dir`` through translate + ``apply``."""
    from go_otel_clickhouse_ingestor_spark.streaming.cdc_stream import translate_stream

    q = (
        translate_stream(source_stream(spark, src_dir))
        .writeStream.foreachBatch(apply)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


class SinkTimer:
    """Wraps a foreachBatch function; records each call's duration
    (and a span when tracing)."""

    def __init__(self, apply, tracer, span_name: str, parent=None):
        self.apply, self.tracer, self.span_name = apply, tracer, span_name
        self.parent = parent
        self.calls: list[tuple[int, float, float]] = []  # (batch, start, end)
        self.failed = 0

    def __call__(self, df, batch_id: int) -> None:
        t0 = time.perf_counter()
        with self.tracer.span(self.span_name, parent=self.parent, batch=batch_id):
            try:
                self.apply(df, batch_id)
            except Exception:
                self.failed += 1
                raise
        self.calls.append((batch_id, t0, time.perf_counter()))

    def busy_s(self) -> float:
        return sum(e - s for _, s, e in self.calls)


class StateWatchTimer(SinkTimer):
    """A ``SinkTimer`` for the upsert that, while ``watch`` is on, also
    records per batch the bucket directories rewritten under
    ``versions/`` and the bytes of every rewritten bucket (versions and
    current), from file sizes and modification times."""

    def __init__(self, apply, tracer, span_name: str, state: str, parent=None):
        super().__init__(apply, tracer, span_name, parent)
        self.state = state
        self.watch = False
        self.rewrites: dict[int, tuple[int, int]] = {}  # batch -> (buckets, bytes)

    def __call__(self, df, batch_id: int) -> None:
        t0 = time.time()
        super().__call__(df, batch_id)
        if self.watch:
            fresh = {d: b for d, (b, m) in state_bytes(self.state).items() if m >= t0 - 0.01}
            touched = sum(1 for d in fresh if f"{os.sep}versions{os.sep}" in d)
            self.rewrites[batch_id] = (touched, sum(fresh.values()))


# ---------------------------------------------------------- backlog drain
class Backlog:
    """A landed backlog, its reference rows, and the Derby table it
    drains into."""

    def __init__(self, work: Path, src_dir: str, expected: list, n_files: int):
        self.work, self.dir, self.n_files = work, src_dir, n_files
        self.expected = expected
        self.n_messages = len(expected)
        self.want = sink_rows(expected)
        self.want_fp = fingerprint_of(self.want)
        self._n_drains = 0

    @classmethod
    def generate(cls, work: Path, seed: int, n_messages: int, n_files: int = 8) -> "Backlog":
        src = str(work / "backlog")
        g = gen.CdcGenerator(seed)
        b = cls(work, src, g.write_backlog(src, n_messages, n_files), n_files)
        b.gen = g
        return b

    def attach(self, spark, db: str = "db") -> None:
        self.derby = Derby(spark, self.work / "derby" / db)
        self.derby.create_table()

    def drain_once(self, spark, tracer, span_name: str = "stream.drain") -> tuple[float, SinkTimer]:
        """Empty the table, drain the backlog, return (seconds, timer)."""
        from go_otel_clickhouse_ingestor_spark.streaming.sinks import jdbc_foreach_batch

        self.derby.truncate()
        self._n_drains += 1
        ckpt = f"{self.dir}-ckpt-{self._n_drains}"
        with tracer.span(span_name) as sid:
            timer = SinkTimer(jdbc_foreach_batch(self.derby.sink_config()), tracer, "sink.apply", sid)
            t0 = time.perf_counter()
            drain(spark, self.dir, ckpt, timer)
            secs = time.perf_counter() - t0
        return secs, timer

    def wrong_rows(self, full: bool) -> int:
        """Check the table against the reference: a cheap aggregate
        fingerprint, and a row-by-row comparison when ``full`` or when
        the fingerprint differs."""
        if not full and self.derby.fingerprint() == self.want_fp:
            return 0
        return count_wrong(self.derby.rows(), self.want)


def run_backlog(spark, backlog: Backlog, tracer, seconds: float) -> dict:
    """The measured loop: drains until ``seconds`` have passed."""
    drains, failed, cpu = [], 0, 0.0
    t_end = time.perf_counter() + seconds
    while True:
        c0 = cpu_s(spark)
        secs, timer = backlog.drain_once(spark, tracer)
        cpu += cpu_s(spark) - c0
        last = time.perf_counter() >= t_end
        failed += backlog.wrong_rows(full=last)
        drains.append((secs, timer))
        if last:
            break
    kept = len(backlog.want)
    times = [s for s, _ in drains]
    return {
        "ingest_eps": median([kept / s for s in times]),
        "cpu_ms_per_kmsg": cpu * 1e6 / (backlog.n_messages * len(drains)),
        # every backlog message is due when its drain starts
        "freshness_p50_ms": median(times) * 1000,
        "freshness_p99_ms": pct(times, 99) * 1000,
        "attempted": backlog.n_messages * len(drains),
        "failed": failed,
        "drain_s": [round(t, 2) for t in times],
        "timers": [t for _, t in drains],
    }


# ------------------------------------------------------- live open loop
RATE = 500
FILE_EVERY_S = 0.25
PER_FILE = int(RATE * FILE_EVERY_S)


class OpenLoopGenerator(threading.Thread):
    """Lands one file every ``FILE_EVERY_S`` on a fixed schedule that
    does not slow when the system does.  Message ``j`` of the schedule
    is due at ``t0 + (j + 1) / RATE``; a file is due when its last
    message is, and every message is stamped with its due time."""

    def __init__(self, cdc: gen.CdcGenerator, out_dir: str, first_msg_id: int, t0: float,
                 prefix: str):
        super().__init__(name="open-loop-generator", daemon=True)
        self.cdc, self.out_dir, self.next_id, self.t0 = cdc, out_dir, first_msg_id, t0
        self.prefix = prefix
        self.wall0 = time.time() - (time.perf_counter() - t0)
        self.files: list[dict] = []
        self.expected: list = []
        self._stop_evt = threading.Event()
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            k = 0
            while True:
                k += 1
                due = self.t0 + k * FILE_EVERY_S
                wait = due - time.perf_counter()
                if self._stop_evt.wait(max(wait, 0.0)):
                    return
                first = (k - 1) * PER_FILE
                dues = self.t0 + (np.arange(first, first + PER_FILE) + 1) / RATE
                ts_us = ((dues - self.t0 + self.wall0) * 1e6).astype(np.int64)
                lines, exp = self.cdc.messages(self.next_id, ts_us)
                name = f"{self.prefix}-{k:06d}.json"
                gen.write_atomic(os.path.join(self.out_dir, name), "\n".join(lines) + "\n")
                self.files.append({"name": name, "due": due, "landed": time.perf_counter(),
                                   "dues": dues, "kept": sum(e is not None for e in exp)})
                self.expected.extend(exp)
                self.next_id += PER_FILE
        except BaseException as exc:  # reported by the main thread after join
            self.error = exc

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=30)
        if self.is_alive():
            raise RuntimeError("generator thread did not stop")
        if self.error is not None:
            raise self.error


def file_batches(ckpt: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's metadata log
    in the checkpoint (plain and compacted entries)."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    rec = json.loads(line)
                    out[os.path.basename(rec["path"])] = int(rec["batchId"])
    return out


class LiveUpsert:
    """State directory, initial state, stream and open-loop schedule of
    ``cdc_live_upsert``.  ``begin`` may run several open loops one after
    another on the same stream; message ids continue across them."""

    INIT_MESSAGES = 1_000
    #: batches keep getting faster for about the first eight seconds
    WARM_S = 8.0
    #: a later open loop on the same, already warm stream
    REWARM_S = 2.0

    def __init__(self, work: Path, seed: int):
        self.work = work
        self.src = str(work / "live")
        self.state = str(work / "state")
        self.ckpt = str(work / "ckpt-live")
        self.cdc = gen.CdcGenerator(seed)
        self.generators: list[OpenLoopGenerator] = []
        os.makedirs(self.src)
        # initial state: landed before the stream starts, stamped an hour back
        ts = int((time.time() - 3600) * 1e6) + np.arange(self.INIT_MESSAGES, dtype=np.int64) * 1000
        lines, self.expected = self.cdc.messages(0, ts)
        for f in range(4):
            chunk = lines[f::4]
            gen.write_atomic(os.path.join(self.src, f"init-{f}.json"), "\n".join(chunk) + "\n")

    def start(self, spark, tracer) -> None:
        """Start the stream and wait until the initial state is built."""
        from go_otel_clickhouse_ingestor_spark.streaming.cdc_stream import (
            translate_stream,
            upsert_foreach_batch,
        )

        self.spark = spark
        self.timer = StateWatchTimer(upsert_foreach_batch(self.state), tracer, "upsert.apply", self.state)
        self.query = (
            translate_stream(source_stream(spark, self.src))
            .writeStream.foreachBatch(self.timer)
            .option("checkpointLocation", self.ckpt)
            .start()
        )
        self.query.processAllAvailable()

    def begin(self, warm_s: float) -> float:
        """Start an open loop; returns when its warm-up is over, with
        the start of the measured window."""
        first = self.generators[-1].next_id if self.generators else self.INIT_MESSAGES
        t0 = time.perf_counter()
        g = OpenLoopGenerator(self.cdc, self.src, first, t0, prefix=f"live{len(self.generators)}")
        self.generators.append(g)
        g.start()
        w0 = t0 + warm_s
        time.sleep(max(w0 - time.perf_counter(), 0.0))
        self.cpu_w0 = cpu_s(self.spark)
        return w0

    def finish(self, w0: float, seconds: float) -> dict:
        """End the current open loop at ``w0 + seconds``, let the stream
        commit everything landed, and measure the window."""
        g = self.generators[-1]
        time.sleep(max(w0 + seconds - time.perf_counter(), 0.0))
        g.stop()
        t_stop = time.perf_counter()
        self.expected.extend(g.expected)
        n_before = len(self.timer.calls)
        self.query.processAllAvailable()
        cpu = cpu_s(self.spark) - self.cpu_w0
        batches = file_batches(self.ckpt)
        commit = {b: end for b, _, end in self.timer.calls}
        fresh, late, backlog_end, batch_kept, after_w0 = [], [], 0, {}, 0
        for f in g.files:
            b = batches[f["name"]]
            end = commit[b]
            after_w0 += PER_FILE if end > w0 else 0
            late.append(f["landed"] - f["due"])
            batch_kept[b] = batch_kept.get(b, 0) + f["kept"]
            if f["landed"] <= t_stop and end > t_stop:
                backlog_end += PER_FILE
            sel = (f["dues"] >= w0) & (f["dues"] < w0 + seconds)
            fresh.extend((end - f["dues"][sel]).tolist())
        ps = [p for p in self.query.recentProgress if p["batchId"] in batch_kept]
        busy = sum(p["durationMs"]["triggerExecution"] for p in ps) / 1000.0
        return {
            "ingest_eps": sum(batch_kept.values()) / busy,
            "freshness_p50_ms": median(fresh) * 1000,
            "freshness_p99_ms": pct(fresh, 99) * 1000,
            # CPU from the window's start to the last commit, per message
            # committed in that time
            "cpu_ms_per_kmsg": cpu * 1e6 / after_w0,
            "samples": len(fresh),
            "batches": len(batch_kept),
            "tail_batches": len(self.timer.calls) - n_before,
            "late_s": late,
            "backlog_end": backlog_end,
            "batch_kept": batch_kept,
            "batch_s": [round(e - s, 2) for b, s, e in self.timer.calls if b in batch_kept],
        }

    def stop(self) -> None:
        self.query.stop()

    def wrong_rows(self) -> tuple[int, dict]:
        """Compare ``versions/`` and ``current/`` with the reference."""
        return check_state(self.state, [e for e in self.expected if e is not None])


def check_state(state: str, expected: list) -> tuple[int, dict]:
    """Wrong rows of the upsert's ``versions/`` and ``current/`` against
    the reference rows, and the state sizes."""
    versions = _read_state(state + "/versions",
                           ["msg_id", "id", "name", "email", "is_deleted", "_op", "_lsn", "_ts"])
    current = _read_state(state + "/current", ["id", "name", "email", "_op", "_lsn", "_ts"])
    latest: dict[int, tuple] = {}
    for e in expected:
        if e[1] not in latest or e[6] > latest[e[1]][6]:
            latest[e[1]] = e
    want_cur = [(e[1], e[2], e[3], e[5], e[6], e[7]) for e in latest.values() if e[4] == 0]
    wrong = count_wrong(versions, expected) + count_wrong(current, want_cur)
    return wrong, {"state_rows": len(versions), "current_rows": len(current)}


def _read_state(path: str, cols: list[str]) -> list[tuple]:
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    if not os.path.isdir(path):
        return []
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=cols)
    ts = t.column("_ts").cast("timestamp[us]")
    t = t.set_column(t.schema.get_field_index("_ts"), "_ts", pc.cast(ts, "int64"))
    return list(zip(*[t.column(c).to_pylist() for c in cols]))


def state_bytes(state: str) -> dict[str, tuple[int, float]]:
    """Bucket directory -> (bytes, newest mtime) under versions/ and current/."""
    out = {}
    for d in glob.glob(os.path.join(state, "*", "bucket=*")):
        files = [os.path.join(d, f) for f in os.listdir(d) if not f.startswith((".", "_"))]
        stats = [os.stat(f) for f in files]
        out[d] = (sum(s.st_size for s in stats), max((s.st_mtime for s in stats), default=0.0))
    return out
