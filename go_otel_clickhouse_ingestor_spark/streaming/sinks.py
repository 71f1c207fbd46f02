"""Sinks — the reference's ClickHouse HTTP JSONEachRow sink (A11/A12)
as micro-batched JDBC, a parquet sink for tests, and the partition
merge every stateful foreachBatch maintainer shares.

Reference behavior being replaced: one synchronous HTTP POST *per
row*, new http.Client per call, non-200 -> error, basic auth only when
both user and pass are set (``internal/ingestion/clickhouse.go:19-132``).
The Spark sink batches thousands of rows per JDBC round trip and
retries failed micro-batches from the checkpoint — strictly stronger
delivery than the reference's log-and-drop (``cdc.go:76-80``).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from typing import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class JdbcSinkConfig:
    """Connection config mirroring the reference's flag/env table
    (``internal/ingestion/config.go:14-25``, ``cmd/root.go:62-78``)."""

    url: str  # e.g. jdbc:clickhouse://host:8123/events_db
    table: str  # e.g. events  /  app.users_cur (clickhouse.go:100-110)
    user: str | None = None
    password: str | None = None
    batchsize: int = 10_000
    database: str = "appdb"  # default db, cmd/root.go:75
    options: dict[str, str] = field(default_factory=dict)

    def qualified_table(self) -> str:
        """A12 table routing: an unqualified table name gets the
        configured database prefix, a qualified one is used verbatim —
        mirroring ``InsertCDCUser``'s db/table defaulting
        (``clickhouse.go:100-110``, defaults ``cmd/root.go:75-76``)."""
        return self.table if "." in self.table else f"{self.database}.{self.table}"

    def properties(self) -> dict[str, str]:
        props = {"batchsize": str(self.batchsize), **self.options}
        # clickhouse.go:48-50: auth header only when BOTH are set
        if self.user and self.password:
            props["user"] = self.user
            props["password"] = self.password
        return props


def clickhouse_shape(df: DataFrame) -> DataFrame:
    """Format timestamp columns the way the reference serializes them:
    UTC ``"yyyy-MM-dd HH:mm:ss"``, second precision (A10,
    ``clickhouse.go:77,84,112``).  Applied at the sink edge only —
    native TimestampType everywhere else."""
    out = df
    for f_ in df.schema.fields:
        if f_.dataType.typeName().startswith("timestamp"):
            out = out.withColumn(
                f_.name, F.date_format(f_.name, "yyyy-MM-dd HH:mm:ss")
            )
    return out


def jdbc_foreach_batch(cfg: JdbcSinkConfig):
    """foreachBatch writer: micro-batch append via JDBC.  A failed
    batch raises -> Structured Streaming retries from the checkpoint.
    JDBC commits per task partition, so a retried batch re-inserts the
    partitions that already committed: at-least-once, and the target
    table's ReplacingMergeTree contract dedups (README.md:121)."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        clickhouse_shape(batch_df).write.mode("append").jdbc(
            cfg.url, cfg.qualified_table(), properties=cfg.properties()
        )

    return apply


def parquet_foreach_batch(path: str):
    """Test/demo sink: append micro-batches to a parquet directory
    (stands in for the JDBC sink where no database exists).  A batch
    retried after its append committed appends again: at-least-once."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        clickhouse_shape(batch_df).write.mode("append").parquet(path)

    return apply


def read_partitions(spark: SparkSession, path: str, col: str, values: list):
    """The partitions ``col IN values`` of the parquet table at ``path``
    (a partition-pruned scan), or ``None`` while the table does not
    exist yet.  Only the missing-path case means "no prior state": any
    other failure (transient IO, corrupt footer, schema drift) raises,
    so Structured Streaming retries the batch instead of a caller
    overwriting the partitions with the batch's rows alone."""
    # null-safe: a null value is the __HIVE_DEFAULT_PARTITION__ partition
    keep = reduce(lambda acc, v: acc | F.col(col).eqNullSafe(v), values, F.lit(False))
    try:
        return spark.read.parquet(path).filter(keep)
    except AnalysisException as exc:
        cls = exc.getCondition() or ""
        if "PATH_NOT_FOUND" not in cls and "UNABLE_TO_INFER_SCHEMA" not in cls:
            raise
        return None


def merge_partitions(
    delta: DataFrame, path: str, col: str, combine: Callable[[DataFrame], DataFrame]
) -> tuple[DataFrame, list]:
    """Merge ``delta`` into the parquet table at ``path``, partitioned by
    ``col``, rewriting only the partitions ``delta`` touches — a poor
    man's ``MERGE INTO``; untouched partitions are never read or
    written.  Returns the merged rows of the touched partitions and the
    touched ``col`` values (``[]`` for an empty delta, which writes
    nothing).

    ``combine`` maps (existing rows ∪ delta) of the touched partitions
    to their new contents; the result is localCheckpointed so the
    overwrite does not read the path it writes.  The overwrite uses the
    per-write ``partitionOverwriteMode=dynamic`` option, never the
    session-wide conf another query may be changing.

    Crash safety: a failure before the write's job commit leaves every
    partition as it was, so the batch's retry redoes the merge.  The
    commit itself is not atomic: per touched partition it deletes the
    live directory and then renames the staged one into place.  A crash
    between the two leaves that partition missing, and the retry reads
    it as empty, so its earlier rows are lost.  A transactional
    lake-format MERGE closes that window; the partition strategy is the
    same."""
    touched = [r[col] for r in delta.select(col).distinct().collect()]
    if not touched:
        return delta, touched
    existing = read_partitions(delta.sparkSession, path, col, touched)
    merged = delta if existing is None else existing.unionByName(delta)
    merged = combine(merged).localCheckpoint(eager=True)
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(col)
        .parquet(path)
    )
    return merged, touched
