"""Runnable dual-mode ingestion app — the reference's CLI
(``cmd/root.go:40-78``) on the Spark engine.

Same mode switch (synthetic|cdc, ``root.go:42-52``) and the same
flag/env table with flags overriding envs (``root.go:62-78``,
``README.md:19-21``):

    --mode                MODE                 synthetic
    --rate                EVENT_RATE           5
    --duration            INGESTION_DURATION   60
    --brokers             REDPANDA_BROKERS     localhost:9092
    --topic               TOPIC                dbserver1.app.users
    --group               GROUP_ID             wal-cdc-ingestor
    --clickhouse-url      CLICKHOUSE_URL       (empty -> parquet sink)
    --clickhouse-user     CLICKHOUSE_USER      ""
    --clickhouse-password CLICKHOUSE_PASSWORD  ""
    --clickhouse-db       CLICKHOUSE_DB        appdb
    --clickhouse-table    CLICKHOUSE_TABLE     app.users_cur
    --metrics-port        METRICS_PORT         8080

Differences, on purpose: the ClickHouse endpoint is a JDBC url instead
of host:port (the engine writes micro-batched JDBC, not row-at-a-time
HTTP), and ``--sink-dir`` selects a parquet sink for environments
without a database (this harness).  Offsets live in the Spark checkpoint,
not Kafka (``streaming/cdc_stream.py``); in cdc mode the consumer
group id keys the default checkpoint directory, so a restart resumes.

Usage::

    python -m go_otel_clickhouse_ingestor_spark --mode synthetic \
        --rate 5 --duration 10 --sink-dir /tmp/events_sink
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import time


def _env(key: str, fallback: str) -> str:
    return os.environ.get(key) or fallback


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="go_otel_clickhouse_ingestor_spark",
        description="Dual-mode ingestion (synthetic|cdc) into ClickHouse/parquet",
    )
    p.add_argument("--mode", default=_env("MODE", "synthetic"), help="synthetic|cdc")
    p.add_argument("--rate", type=int, default=int(_env("EVENT_RATE", "5")),
                   help="Events per second (synthetic mode)")
    p.add_argument("--duration", type=int, default=int(_env("INGESTION_DURATION", "60")),
                   help="How long to run ingestion (in seconds)")
    p.add_argument("--brokers", default=_env("REDPANDA_BROKERS", "localhost:9092"),
                   help="comma-separated Kafka brokers (cdc mode)")
    p.add_argument("--topic", default=_env("TOPIC", "dbserver1.app.users"))
    p.add_argument("--group", default=_env("GROUP_ID", "wal-cdc-ingestor"))
    p.add_argument("--clickhouse-url", default=_env("CLICKHOUSE_URL", ""),
                   help="JDBC url, e.g. jdbc:clickhouse://host:8123/appdb; empty -> parquet sink")
    p.add_argument("--clickhouse-user", default=_env("CLICKHOUSE_USER", ""))
    p.add_argument("--clickhouse-password", default=_env("CLICKHOUSE_PASSWORD", ""))
    p.add_argument("--clickhouse-db", default=_env("CLICKHOUSE_DB", "appdb"))
    p.add_argument("--clickhouse-table", default=_env("CLICKHOUSE_TABLE", "app.users_cur"))
    p.add_argument("--metrics-port", type=int, default=int(_env("METRICS_PORT", "8080")))
    p.add_argument("--sink-dir", default="",
                   help="parquet sink directory (used when --clickhouse-url is empty)")
    p.add_argument("--checkpoint-dir", default="",
                   help="streaming checkpoint location (default: cdc mode "
                        "resumes from <tmp>/ingestor_ckpt_cdc_<group>)")
    p.add_argument("--source-dir", default="",
                   help="cdc mode: read Kafka-shaped JSON lines "
                        "(msg_id/key/value) from this directory instead of "
                        "brokers — the no-Kafka test/replay path")
    return p


def _sink(args):
    from .streaming.sinks import JdbcSinkConfig, jdbc_foreach_batch, parquet_foreach_batch

    if args.clickhouse_url:
        cfg = JdbcSinkConfig(
            url=args.clickhouse_url,
            table=args.clickhouse_table,
            user=args.clickhouse_user or None,
            password=args.clickhouse_password or None,
            database=args.clickhouse_db,
        )
        return jdbc_foreach_batch(cfg)
    sink_dir = args.sink_dir or os.path.join(tempfile.gettempdir(), "ingestor_sink")
    return parquet_foreach_batch(sink_dir)


def _checkpoint_dir(args, mode: str) -> str:
    """``--checkpoint-dir``, else a default a CDC restart resumes from:
    a stable path under the temp dir keyed by mode and ``--group`` (the
    reference's offsets were keyed by that consumer group).  Synthetic
    mode has nothing to resume and gets a fresh directory: a restored
    rate source would emit every tick missed while down as one batch."""
    if args.checkpoint_dir:
        return args.checkpoint_dir
    if mode == "synthetic":
        return tempfile.mkdtemp(prefix="ingestor_ckpt_")
    return os.path.join(tempfile.gettempdir(), f"ingestor_ckpt_{mode}_{args.group}")


def run(argv: list[str] | None = None) -> int:
    """Build the pipeline for ``--mode``, run it for ``--duration``
    seconds, then stop — the Spark twin of ``runIngestion``/``runCDC``
    (``cmd/root.go:99-172``)."""
    args = build_parser().parse_args(argv)
    mode = args.mode.lower() or "synthetic"
    if mode not in ("synthetic", "cdc"):
        print(f"unknown --mode={args.mode} (expected synthetic|cdc)", file=sys.stderr)
        return 1

    from .session import get_spark
    from .streaming.metrics import IngestionMetricsListener, observe_stream, serve_metrics
    from .streaming.tracing import SPAN_CDC_MESSAGE, SPAN_GENERATE

    spark = get_spark("ingestion-service")
    telemetry = IngestionMetricsListener(SPAN_GENERATE if mode == "synthetic" else SPAN_CDC_MESSAGE)
    spark.streams.addListener(telemetry)
    server = serve_metrics(telemetry, port=args.metrics_port)
    print(
        f"Prometheus metrics at http://127.0.0.1:{server.server_address[1]}/metrics",
        file=sys.stderr,
    )

    if mode == "synthetic":
        from .streaming.synthetic import synthetic_events

        stream = synthetic_events(spark, rate=args.rate)
    elif args.source_dir:
        from .streaming.cdc_stream import translate_stream

        raw = spark.readStream.schema("msg_id long, key string, value string").json(
            args.source_dir
        )
        stream = translate_stream(raw)
    else:
        from .streaming.cdc_stream import kafka_cdc_stream

        stream = kafka_cdc_stream(spark, args.brokers, args.topic)

    query = (
        observe_stream(stream)
        .writeStream.queryName(mode)
        .foreachBatch(_sink(args))
        .option("checkpointLocation", _checkpoint_dir(args, mode))
        .start()
    )
    try:
        deadline = time.time() + args.duration
        while time.time() < deadline and query.isActive:
            query.awaitTermination(1)
    finally:
        query.stop()
        server.shutdown()
        spark.streams.removeListener(telemetry)
    if query.exception() is not None:
        print(f"query failed: {query.exception()}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(run())
