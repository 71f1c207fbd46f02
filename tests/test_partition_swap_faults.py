"""Crash injection into the partition swap (streaming/sinks.py
``replace_partitions``): an apply that dies at a named point of the
swap and then re-runs the same batch converges to the reference, and
leaves no staging or parked directory behind."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from go_otel_clickhouse_ingestor_spark.streaming import sinks


class InjectedCrash(Exception):
    pass


def _crash(monkeypatch, point: str, table: str) -> None:
    """Make the next swap into ``<...>/<table>`` die at ``point``:

    - ``staged``: the staged files have landed but the write never returns;
    - ``parked``: a live partition is parked, its replacement not moved in;
    - ``swapped``: the last staged partition is moved in, before cleanup.
    """
    if point == "staged":
        write = DataFrameWriter.parquet

        def parquet(self, path, *args, **kwargs):
            write(self, path, *args, **kwargs)
            if path.endswith(f"/{table}/_staging"):
                raise InjectedCrash(point)

        monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
        return
    rename, parked = sinks._rename, set()

    def crashing(fs, src, dst):
        into = src.getParent().getName() == "_staging" and dst.getParent().getName() == table
        if point == "parked" and into and table in parked:
            raise InjectedCrash(point)
        rename(fs, src, dst)
        if dst.getParent().getName() == "_trash":
            parked.add(dst.getParent().getParent().getName())
        staged = fs.listStatus(src.getParent()) if into else []
        if point == "swapped" and into and not any("=" in s.getPath().getName() for s in staged):
            raise InjectedCrash(point)

    monkeypatch.setattr(sinks, "_rename", crashing)


def _rows(df, cols) -> list:
    return sorted(map(tuple, df.select(*cols).collect()), key=str)


def _no_leftovers(root) -> bool:
    return not list(root.glob("*/_staging")) + list(root.glob("*/_trash"))


@pytest.mark.parametrize("table", ["versions", "current"])
@pytest.mark.parametrize("point", ["staged", "parked", "swapped"])
def test_upsert_retry_after_a_crash_in_the_swap_converges(
    spark, tmp_path, monkeypatch, point, table
):
    from go_otel_clickhouse_ingestor_spark.operators.cdc import (
        current_state,
        parse_envelope,
        translate_envelope,
    )
    from go_otel_clickhouse_ingestor_spark.sources.fixtures import cdc_messages_df
    from go_otel_clickhouse_ingestor_spark.streaming.cdc_stream import upsert_foreach_batch

    rows = translate_envelope(parse_envelope(cdc_messages_df(spark))).localCheckpoint()
    # the second batch touches the buckets of ids 1 and 9, which hold
    # versions only the first batch carries: a parked bucket lost by
    # the crash would not come back with the retry
    first = F.col("msg_id").isin(1, 2, 9)
    state = tmp_path / "state"
    apply_batch = upsert_foreach_batch(str(state))
    apply_batch(rows.filter(first), 0)
    with monkeypatch.context() as m:
        _crash(m, point, table)
        with pytest.raises(InjectedCrash):
            apply_batch(rows.filter(~first), 1)
    apply_batch(rows.filter(~first), 1)  # the retry of the same batch

    assert _rows(spark.read.parquet(str(state / "versions")), rows.columns) == _rows(
        rows.dropDuplicates(), rows.columns
    )
    want = current_state(rows)
    assert _rows(spark.read.parquet(str(state / "current")), want.columns) == _rows(
        want, want.columns
    )
    assert _no_leftovers(state)


@pytest.mark.parametrize("point", ["parked", "swapped"])
def test_matview_retry_after_a_crash_in_the_swap_counts_once(spark, tmp_path, monkeypatch, point):
    """The rollup is additive, so only a full rollback makes its retry
    safe: a partition the batch created (``t3``) must go too."""
    from go_otel_clickhouse_ingestor_spark.streaming.matview import (
        _resum,
        hourly_rollup,
        matview_foreach_batch,
    )

    t0 = dt.datetime(2024, 1, 1)
    batches = [
        spark.createDataFrame(
            [(f"t{i % (3 + k)}", t0 + dt.timedelta(minutes=37 * i + k), float(i))
             for i in range(12)],
            "event_type string, ts timestamp, value double",
        )
        for k in (0, 1)
    ]
    view = tmp_path / "state" / "view"
    apply_batch = matview_foreach_batch(str(view))
    apply_batch(batches[0], 0)
    with monkeypatch.context() as m:
        _crash(m, point, "view")
        with pytest.raises(InjectedCrash):
            apply_batch(batches[1], 1)
    apply_batch(batches[1], 1)

    cols = ["event_type", "bucket_us", "n", "total_value"]
    want = _resum(hourly_rollup(batches[0].unionByName(batches[1])))
    assert _rows(spark.read.parquet(str(view)), cols) == _rows(want, cols)
    assert _no_leftovers(tmp_path / "state")
