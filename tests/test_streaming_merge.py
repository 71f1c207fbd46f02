"""The partition merge and swap the stateful foreachBatch maintainers
and lake maintenance share (streaming/sinks.py ``read_partitions`` /
``merge_partitions`` / ``replace_partitions``), a guard that nothing
else rewrites a partition directory, and a guard on the Spark jobs one
warm apply of each maintainer launches."""

from __future__ import annotations

import ast
import datetime as dt
import pathlib
import re

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from go_otel_clickhouse_ingestor_spark.streaming.sinks import (
    merge_partitions,
    read_partitions,
)


def test_read_partitions_is_none_only_for_a_missing_table(spark, tmp_path):
    """``None`` means no touched partition is stored; a touched partition
    that cannot be read raises instead."""
    path = tmp_path / "t"
    table = spark.createDataFrame([(1, "a"), (2, "b")], "p long, v string")
    assert read_partitions(table, str(path), "p", [1]) is None
    table.write.partitionBy("p").parquet(str(path))
    assert read_partitions(table, str(path), "p", [3, 4]) is None
    assert [r.v for r in read_partitions(table, str(path), "p", [2, 3]).collect()] == ["b"]
    (path / "p=1" / "part-00000.snappy.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        read_partitions(table, str(path), "p", [1]).collect()


def test_merge_partitions_raises_on_stored_columns_unlike_the_writers(spark, tmp_path):
    """A stored partition with a column the writer lacks fails the batch
    rather than merging rows of two shapes."""
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, 10, "x")], "p long, v long, extra string").write.partitionBy(
        "p"
    ).parquet(path)
    with pytest.raises(ValueError, match="extra"):
        merge_partitions(
            spark.createDataFrame([(1, 11)], "p long, v long"), path, "p", DataFrame.dropDuplicates
        )


def test_merge_partitions_ignores_a_static_session_overwrite_mode(spark, tmp_path):
    """The merge swaps staged partitions in rather than overwriting: a
    session left in ``static`` overwrite mode (say by another query)
    must not wipe untouched partitions."""
    path = str(tmp_path / "t")

    def rows(*r):
        return spark.createDataFrame(list(r), "p long, v long")

    merge_partitions(rows((1, 10), (2, 20)), path, "p", DataFrame.dropDuplicates)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        merged, touched = merge_partitions(rows((2, 21)), path, "p", DataFrame.dropDuplicates)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    assert touched == [2] and merged.count() == 2
    got = sorted(tuple(r) for r in spark.read.parquet(path).select("p", "v").collect())
    assert got == [(1, 10), (2, 20), (2, 21)]
    assert merge_partitions(rows(), path, "p", DataFrame.dropDuplicates)[1] == []


def test_matview_merges_into_a_null_event_type_partition(spark, tmp_path):
    """A null partition value is stored as __HIVE_DEFAULT_PARTITION__,
    and a view whose other values are ``"007"`` / ``"1.50"`` would read
    back as doubles if the type were inferred from the directory names:
    the merge must read each partition back as the string it wrote, not
    overwrite it with the batch's rows alone."""
    from go_otel_clickhouse_ingestor_spark.streaming.matview import matview_foreach_batch

    t0 = dt.datetime(2024, 1, 1)
    stored = "bucket_us long, n long, total_value double, event_type string"
    cases = [
        ([(None, 1.0), ("x", 2.0)], [("", 2, 2.0), ("x", 2, 4.0)]),
        ([(None, 1.0), ("007", 3.0), ("1.50", 4.0)],
         [("", 2, 2.0), ("007", 2, 6.0), ("1.50", 2, 8.0)]),
    ]
    for i, (rows, want) in enumerate(cases):
        batch = spark.createDataFrame(
            [(t, t0, v) for t, v in rows], "event_type string, ts timestamp, value double"
        )
        view = str(tmp_path / f"view{i}")
        apply_batch = matview_foreach_batch(view)
        apply_batch(batch, 0)
        apply_batch(batch, 1)
        got = sorted(
            (r.event_type or "", r.n, r.total_value)
            for r in spark.read.schema(stored).parquet(view).collect()
        )
        assert got == want


def _jobs(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


# Jobs one warm apply launches on these inputs since the merge reads
# only the touched partition directories, with the writer's schema (no
# schema-inference job).  A cheaper apply lowers them.
_MAX_JOBS = {"upsert": 5, "matview": 5, "join": 10}


@pytest.mark.parametrize("maintainer", sorted(_MAX_JOBS))
def test_warm_apply_launches_no_more_spark_jobs(spark, tmp_path, maintainer):
    state = str(tmp_path / "state")
    if maintainer == "upsert":
        from go_otel_clickhouse_ingestor_spark.operators.cdc import (
            parse_envelope,
            translate_envelope,
        )
        from go_otel_clickhouse_ingestor_spark.sources.fixtures import cdc_messages_df
        from go_otel_clickhouse_ingestor_spark.streaming.cdc_stream import (
            upsert_foreach_batch,
        )

        rows = translate_envelope(parse_envelope(cdc_messages_df(spark)))
        apply_batch = upsert_foreach_batch(state)
        batches = [rows.filter(F.col("id") != 3), rows.filter(F.col("id") == 3)]
    elif maintainer == "matview":
        from go_otel_clickhouse_ingestor_spark.streaming.matview import matview_foreach_batch

        t0 = dt.datetime(2024, 1, 1)
        apply_batch = matview_foreach_batch(state)
        batches = [
            spark.createDataFrame(
                [(f"t{i % 3}", t0 + dt.timedelta(minutes=37 * i + k), float(i)) for i in range(12)],
                "event_type string, ts timestamp, value double",
            )
            for k in (0, 1)
        ]
    else:
        from go_otel_clickhouse_ingestor_spark.streaming.join_matview import (
            join_matview_foreach_batch,
        )

        schema = (
            "side string, o_orderkey long, o_custkey long, o_totalprice double, "
            "c_custkey long, c_name string, c_mktsegment string"
        )
        apply_batch = join_matview_foreach_batch(state)
        batches = [
            spark.createDataFrame(
                [("b", None, None, None, 1, "c1", "X"), ("a", 10, 2, 5.0, None, None, None)], schema
            ),
            spark.createDataFrame(
                [("a", 11, 1, 7.0, None, None, None), ("b", None, None, None, 2, "c2", "Y")], schema
            ),
        ]
    apply_batch(batches[0], 0)
    n = _jobs(spark, f"warm-{maintainer}-{tmp_path.name}", lambda: apply_batch(batches[1], 1))
    assert n <= _MAX_JOBS[maintainer], f"{maintainer}: {n} jobs"


#: JVM entry points only streaming/sinks.py may call.
_SINKS_ONLY = ("getFileSystem", "getPartitionPathString")


def test_only_replace_partitions_rewrites_partition_directories():
    """One partition-swap path: no dynamic partition overwrite, no
    ``os.rename``, no hand-formatted ``col=value`` path, and only
    ``streaming/sinks.py`` reaches a Hadoop FileSystem or names a
    partition directory."""
    import go_otel_clickhouse_ingestor_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    f_path = re.compile(r"(?:^|/|\{\})\w*=(?:\{\}|$)")  # f"{col}={v}", f".../bucket={b}"
    c_path = re.compile(r"(?:^|/)\w*=(?:\{\w*\}|%[sd])")  # "bucket={}", "%s=%s"
    found = []
    for py in sorted(root.rglob("*.py")):
        rel, src = py.relative_to(root).as_posix(), py.read_text()
        if "partitionOverwriteMode" in src:
            found.append((rel, "partitionOverwriteMode"))
        tree = ast.parse(src)
        in_fstr = {id(v) for n in ast.walk(tree) if isinstance(n, ast.JoinedStr) for v in n.values}
        for n in ast.walk(tree):
            if isinstance(n, ast.Attribute) and isinstance(n.value, ast.Name):
                if (n.value.id, n.attr) == ("os", "rename"):
                    found.append((rel, n.lineno, "os.rename"))
            if isinstance(n, ast.Attribute) and n.attr in _SINKS_ONLY:
                if rel != "streaming/sinks.py":
                    found.append((rel, n.lineno, n.attr))
            if isinstance(n, ast.JoinedStr):
                t = "".join(v.value if isinstance(v, ast.Constant) else "{}" for v in n.values)
                if any(f_path.search(line) for line in t.splitlines()):
                    found.append((rel, n.lineno, t))
            elif isinstance(n, ast.Constant) and isinstance(n.value, str) and id(n) not in in_fstr:
                if any(c_path.search(line) for line in n.value.splitlines()):
                    found.append((rel, n.lineno, n.value))
    assert found == []
