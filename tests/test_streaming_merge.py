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
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from go_otel_clickhouse_ingestor_spark.streaming.sinks import (
    merge_partitions,
    read_partitions,
)


def test_read_partitions_is_none_only_for_a_missing_table(spark, tmp_path):
    path = str(tmp_path / "t")
    assert read_partitions(spark, path, "p", [1]) is None
    table = spark.createDataFrame([(1, "a"), (2, "b")], "p long, v string")
    table.write.partitionBy("p").parquet(path)
    assert [r.v for r in read_partitions(spark, path, "p", [2]).collect()] == ["b"]
    with pytest.raises(AnalysisException):
        read_partitions(spark, path, "no_such_col", [1])


def test_merge_partitions_ignores_a_static_session_overwrite_mode(spark, tmp_path):
    """The overwrite is dynamic per write: a session left in ``static``
    mode (say by another query) must not wipe untouched partitions."""
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
    """A null partition value is stored as __HIVE_DEFAULT_PARTITION__:
    the merge must read that partition back, not overwrite it with the
    batch's rows alone."""
    from go_otel_clickhouse_ingestor_spark.streaming.matview import matview_foreach_batch

    t0 = dt.datetime(2024, 1, 1)
    batch = spark.createDataFrame(
        [(None, t0, 1.0), ("x", t0, 2.0)], "event_type string, ts timestamp, value double"
    )
    view = str(tmp_path / "view")
    apply_batch = matview_foreach_batch(view)
    apply_batch(batch, 0)
    apply_batch(batch, 1)
    got = sorted(
        (r.event_type or "", r.n, r.total_value) for r in spark.read.parquet(view).collect()
    )
    assert got == [("", 2, 2.0), ("x", 2, 4.0)]


def _jobs(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


# Jobs one warm apply launches on these inputs since the merge swaps
# staged partitions in.  A cheaper apply lowers them.
_MAX_JOBS = {"upsert": 7, "matview": 6, "join": 12}


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


def test_only_replace_partitions_rewrites_partition_directories():
    """One partition-swap path: no dynamic partition overwrite, no
    ``os.rename``, no hand-formatted ``col=value`` path, and only
    ``streaming/sinks.py`` reaches a Hadoop FileSystem."""
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
            if isinstance(n, ast.Attribute) and n.attr == "getFileSystem":
                if rel != "streaming/sinks.py":
                    found.append((rel, n.lineno, "Hadoop FileSystem"))
            if isinstance(n, ast.JoinedStr):
                t = "".join(v.value if isinstance(v, ast.Constant) else "{}" for v in n.values)
                if any(f_path.search(line) for line in t.splitlines()):
                    found.append((rel, n.lineno, t))
            elif isinstance(n, ast.Constant) and isinstance(n.value, str) and id(n) not in in_fstr:
                if any(c_path.search(line) for line in n.value.splitlines()):
                    found.append((rel, n.lineno, n.value))
    assert found == []
