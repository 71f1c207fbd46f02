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
from typing import Callable

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


def _dirs(spark: SparkSession, path: str, col: str):
    """``path``'s Hadoop FileSystem; ``under("a", "b")`` = ``<path>/a/b``
    (``under()`` = ``<path>``); and ``part(v)``, the directory name of
    partition ``col = v`` as Spark's writer names it
    (``getPartitionPathString``; a null is ``__HIVE_DEFAULT_PARTITION__``)."""
    jvm = spark.sparkContext._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    fs = Path(path).getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    root = fs.makeQualified(Path(path))
    name = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.getPartitionPathString
    return (
        fs,
        lambda *names: Path(root, "/".join(names)) if names else root,
        lambda v: name(col, None if v is None else str(v)),
    )


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


def _check_columns(spark: SparkSession, fs, part, names: list[str]) -> None:
    """Raise unless the first data file in the partition directory
    ``part`` stores exactly the columns ``names``, read from its parquet
    footer on the driver."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    parquet = spark.sparkContext._jvm.org.apache.parquet.hadoop
    for st in fs.listStatus(part):
        if st.getPath().getName().startswith(("_", ".")):
            continue  # _SUCCESS, .crc checksums
        reader = parquet.ParquetFileReader.open(parquet.util.HadoopInputFile.fromStatus(st, conf))
        try:
            stored = [f.getName() for f in reader.getFileMetaData().getSchema().getFields()]
        finally:
            reader.close()
        if sorted(stored) != sorted(names):
            raise ValueError(f"{part} stores columns {stored}, the writer has {names}")
        return


def read_partitions(rows: DataFrame, path: str, col: str, values: list) -> DataFrame | None:
    """The stored partitions ``col IN values`` of the parquet table at
    ``path``, read with the schema of ``rows``, the frame being written
    into it; ``None`` when none of them exists.

    An interrupted swap is rolled back first.  Each value's directory is
    named as :func:`replace_partitions` names it and kept if it exists;
    only those directories are listed and read (with ``basePath``), so
    the read costs O(touched partitions), and no schema is inferred: a
    partition value reads back with ``rows``' type (``"007"`` stays a
    string).  One stored file whose columns differ from ``rows``' (its
    footer is checked on the driver) raises, as does any failure to
    read, so Structured Streaming retries the batch instead of a caller
    overwriting the partitions with the batch's rows alone."""
    spark = rows.sparkSession
    fs, under, part = _dirs(spark, path, col)
    _restore(fs, under)
    dirs = [d for d in (under(part(v)) for v in values) if fs.exists(d)]
    if not dirs:
        return None
    _check_columns(spark, fs, dirs[0], [c for c in rows.columns if c != col])
    return (
        spark.read.schema(rows.schema)
        .option("basePath", under().toString())
        .parquet(*(d.toString() for d in dirs))
    )


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
    :func:`read_partitions` rolls an uncommitted swap back, so a batch
    retried after a crash reads the state from before it."""
    fs, under, part = _dirs(spark, path, col)
    _restore(fs, under)
    staged = {}
    if rows is not None:
        rows.write.partitionBy(col).parquet(under(_STAGING).toString())
        staged = {p.getName(): p for p in (st.getPath() for st in fs.listStatus(under(_STAGING)))}
    trash = under(_TRASH)
    fs.mkdirs(trash)
    for v in values:
        name = part(v)
        live = under(name)
        fs.mkdirs(live)  # parked empty, it marks a partition that did not exist
        _rename(fs, live, under(_TRASH, name))
        if name in staged:
            _rename(fs, staged[name], live)
    _delete(fs, under(_STAGING))
    _delete(fs, trash)


def merge_partitions(
    delta: DataFrame, path: str, col: str, combine: Callable[[DataFrame], DataFrame]
) -> tuple[DataFrame, list]:
    """Merge ``delta`` into the parquet table at ``path``, partitioned by
    ``col``, rewriting only the partitions ``delta`` touches — a poor
    man's ``MERGE INTO``; untouched partitions are never listed, read or
    written.  Returns the merged rows of the touched partitions and the
    touched ``col`` values (``[]`` for an empty delta, which writes
    nothing).

    The touched partitions are read by :func:`read_partitions` with
    ``delta``'s schema; ``combine`` maps (their rows ∪ delta) to their
    new contents, swapped in by :func:`replace_partitions`.  The staged
    write fills the lazy local checkpoint the caller reads."""
    touched = [r[col] for r in delta.select(col).distinct().collect()]
    if not touched:
        return delta, touched
    existing = read_partitions(delta, path, col, touched)
    merged = delta if existing is None else existing.unionByName(delta)
    merged = combine(merged).localCheckpoint(eager=False)
    replace_partitions(delta.sparkSession, merged, path, col, touched)
    return merged, touched
