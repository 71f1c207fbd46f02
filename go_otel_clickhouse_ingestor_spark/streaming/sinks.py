"""Sinks — the reference's ClickHouse HTTP JSONEachRow sink (A11/A12)
as micro-batched JDBC, a parquet sink for tests, and the partition
merge and swap behind every partition rewrite.

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


def _dirs(spark: SparkSession, path: str):
    """``path``'s Hadoop FileSystem, and ``under("a", "b")`` = ``<path>/a/b``."""
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    fs = Path(path).getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    root = fs.makeQualified(Path(path))
    return fs, lambda *names: Path(root, "/".join(names))


def _rename(fs, src, dst) -> None:
    if not fs.rename(src, dst):
        raise OSError(f"could not move {src} to {dst}")


def _delete(fs, p) -> None:
    if not fs.delete(p, True) and fs.exists(p):
        raise OSError(f"could not delete {p}")


# ``_``-prefixed: Spark's and pyarrow's partition discovery skip both.
_STAGING, _TRASH = "_staging", "_trash"


def _restore(fs, under) -> None:
    """Undo a swap a crash interrupted.  While ``_staging`` exists the
    swap has not committed, so each partition parked in ``_trash`` goes
    back over whatever replaced it (an empty parked directory marks a
    partition that did not exist before); then both are removed."""
    if fs.exists(under(_TRASH)) and fs.exists(under(_STAGING)):
        for st in fs.listStatus(under(_TRASH)):
            parked, live = st.getPath(), under(st.getPath().getName())
            _delete(fs, live)
            if len(fs.listStatus(parked)):
                _rename(fs, parked, live)
    _delete(fs, under(_STAGING))
    _delete(fs, under(_TRASH))


def replace_partitions(
    spark: SparkSession, rows: DataFrame | None, path: str, col: str, values: list
) -> None:
    """Replace the partitions ``col IN values`` of the parquet table at
    ``path`` with ``rows`` (partitioned by ``col``); a value without
    rows is dropped.  The one place that renames or deletes a partition
    directory, named by Spark's ``getPartitionPathString``.

    ``rows`` is staged in ``<path>/_staging``; per value the live
    partition is parked in ``<path>/_trash`` and the staged one moved
    in; deleting ``_staging`` commits.  The next call here or in
    :func:`merge_partitions` rolls an uncommitted swap back, so a batch
    retried after a crash reads the state from before it."""
    fs, under = _dirs(spark, path)
    _restore(fs, under)
    if rows is not None:
        rows.write.partitionBy(col).parquet(under(_STAGING).toString())
    fs.mkdirs(under(_TRASH))
    catalog = spark.sparkContext._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    for v in values:
        part = catalog.getPartitionPathString(col, None if v is None else str(v))
        fs.mkdirs(under(part))  # parked empty, it marks a partition that did not exist
        _rename(fs, under(part), under(_TRASH, part))
        if fs.exists(under(_STAGING, part)):
            _rename(fs, under(_STAGING, part), under(part))
    _delete(fs, under(_STAGING))
    _delete(fs, under(_TRASH))


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
    to their new contents, swapped in by :func:`replace_partitions`.
    The staged write fills the lazy local checkpoint the caller reads."""
    touched = [r[col] for r in delta.select(col).distinct().collect()]
    if not touched:
        return delta, touched
    spark = delta.sparkSession
    _restore(*_dirs(spark, path))
    existing = read_partitions(spark, path, col, touched)
    merged = delta if existing is None else existing.unionByName(delta)
    merged = combine(merged).localCheckpoint(eager=False)
    replace_partitions(spark, merged, path, col, touched)
    return merged, touched
