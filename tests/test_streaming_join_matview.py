"""Incremental JOIN-view maintenance (streaming/join_matview.py):
after a multi-trigger run where matching rows arrive in DIFFERENT
micro-batches on BOTH sides, the maintained view must row-equal the
batch inner join of the full inputs — the delta rule
ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB leaves no pair behind and double-counts none."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from go_otel_clickhouse_ingestor_spark.streaming.join_matview import (
    N_BUCKETS,
    join_matview_foreach_batch,
)
from go_otel_clickhouse_ingestor_spark.tables import table

_FEED_SCHEMA = (
    "side string, o_orderkey long, o_custkey long, o_totalprice double, "
    "c_custkey long, c_name string, c_mktsegment string"
)


def _rows(side, frame):
    out = []
    for r in frame.collect():
        d = {"side": side}
        d.update(r.asDict())
        out.append(json.dumps(d))
    return out


def test_join_matview_matches_batch_join_across_triggers(spark, sf_dir, tmp_path):
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    # split both sides so cross-batch pairs exist in BOTH directions:
    # batch1 = even orders + customers 0..half, batch2 = the rest
    o1 = o.filter(F.col("o_orderkey") % 2 == 0)
    o2 = o.filter(F.col("o_orderkey") % 2 == 1)
    c1 = c.filter(F.col("c_custkey") % 2 == 0)
    c2 = c.filter(F.col("c_custkey") % 2 == 1)

    feed = tmp_path / "feed"
    feed.mkdir()
    (feed / "a_batch1.json").write_text(
        "\n".join(_rows("a", o1) + _rows("b", c1))
    )
    (feed / "b_batch2.json").write_text(
        "\n".join(_rows("a", o2) + _rows("b", c2))
    )

    state = str(tmp_path / "state")
    stream = (
        spark.readStream.schema(_FEED_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(feed))
    )
    q = (
        stream.writeStream.foreachBatch(join_matview_foreach_batch(state))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    got = spark.read.parquet(f"{state}/view")
    want = o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", "o_custkey", "o_totalprice", "c_name", "c_mktsegment"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # the accumulated sides carry the bucket layout the prune relies on
    a_acc = spark.read.parquet(f"{state}/a_acc")
    assert a_acc.count() == o.count()
    buckets = {r.bucket for r in a_acc.select("bucket").distinct().collect()}
    assert buckets <= set(range(N_BUCKETS))
    # cross-batch pairs really exist (the delta rule was exercised in
    # both directions, not just ΔA⋈ΔB)
    n_cross = (
        o2.join(c1, o2.o_custkey == c1.c_custkey).count()
        + o1.join(c2, o1.o_custkey == c2.c_custkey).count()
    )
    assert n_cross > 0


def test_join_matview_pairs_across_batches_under_file_uri(spark, tmp_path):
    """The accumulated sides are found through the state dir's URI: a
    customer in batch 0 joins their order arriving in batch 1."""
    state = "file://" + str(tmp_path / "state")
    apply_batch = join_matview_foreach_batch(state)
    apply_batch(spark.createDataFrame([("b", None, None, None, 1, "c1", "X")], _FEED_SCHEMA), 0)
    apply_batch(spark.createDataFrame([("a", 10, 1, 5.0, None, None, None)], _FEED_SCHEMA), 1)
    got = [tuple(r) for r in spark.read.parquet(f"{state}/view").collect()]
    assert got == [(10, 1, 5.0, "c1", "X")]
