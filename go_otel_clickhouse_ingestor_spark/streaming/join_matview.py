"""Incremental JOIN-view maintenance — the delta-rule sibling of the
additive rollup in ``matview.py``.

``matview.py`` maintains an ADDITIVE aggregate (partial agg + combine).
A join view cannot be maintained that way: the classic IVM delta rule
for an insert-only inner join V = A ⋈ B is

    ΔV  =  ΔA ⋈ B_old  ∪  A_old ⋈ ΔB  ∪  ΔA ⋈ ΔB

— each micro-batch touches only its OWN rows joined against the
accumulated other side, and the view/state tables only ever APPEND.
The reference's deployment meets this shape the moment two of its
ingest topics must be served pre-joined (spans ⋈ resources, orders ⋈
customers): recomputing the join per query re-reads both histories;
maintaining it costs O(Δ ⋈ touched-buckets) per batch.

Concrete view here: ``orders ⋈ customer`` on custkey, fed by ONE
tagged CDC-style stream (``side`` ∈ {'a','b'} — the single-topic
multi-table topology the reference's envelope already uses,
``cdc.go``'s table routing).  Scale discipline:

- both accumulated sides land PARTITIONED BY a custkey bucket;
- each batch reads the other side's bucket directories its delta
  actually touches, and no others (the history is never listed or
  scanned whole);
- state is O(inputs) in the LAKE (the two base tables), zero executor
  state — same argument as the near-dup index's foreachBatch face:
  this state must outlive the query and serve batch readers anyway.

Delivery: at-least-once.  The accumulated sides are read with
``sinks.read_partitions`` (the read behind ``sinks.merge_partitions``:
only the touched bucket directories, with the delta's schema), but the
view and both sides only APPEND, so a batch replayed after a
crash between its appends can duplicate rows.  The pytest
contract checks the maintained view row-equals the batch join of the
full inputs after a multi-trigger run
(tests/test_streaming_join_matview.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sinks import read_partitions

#: custkey-bucket fanout of the accumulated sides.  16 at fixture
#: scale; at 100 TB this is the lake table's bucket/partition spec —
#: the delta-join prune ratio is 1/buckets per touched key.
N_BUCKETS = 16


def _bucket(key):
    return F.pmod(key, F.lit(N_BUCKETS))


def join_matview_foreach_batch(state_dir: str):
    """foreachBatch maintainer for the orders ⋈ customer view.  The
    incoming stream carries tagged rows:

      side='a': (o_orderkey, o_custkey, o_totalprice) in payload cols
      side='b': (c_custkey, c_name, c_mktsegment)

    Per batch: split the delta, apply the three delta-rule joins with
    the OTHER side's accumulated table read in the delta's touched
    buckets only, append ΔV to ``view/`` and the deltas to
    their acc tables (ordering: view first, so a replayed batch can
    never join against its own half-appended state)."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        key = F.when(F.col("side") == "a", F.col("o_custkey")).otherwise(F.col("c_custkey"))
        # the delta is read 3×; one checkpoint and one bucket collect
        # serve both sides
        delta = batch_df.withColumn("bucket", _bucket(key).cast("int")).localCheckpoint(eager=True)
        touched = delta.select("side", "bucket").distinct().collect()
        a_buckets = [r.bucket for r in touched if r.side == "a"]
        b_buckets = [r.bucket for r in touched if r.side == "b"]
        da = delta.filter(F.col("side") == "a").select(
            "o_orderkey", "o_custkey", "o_totalprice", "bucket"
        )
        db = delta.filter(F.col("side") == "b").select(
            "c_custkey", "c_name", "c_mktsegment", "bucket"
        )
        # the history side is read ONLY in the bucket directories the
        # delta touches (a list bounded by N_BUCKETS, not by the batch),
        # with the schema its own delta is appended with
        b_old = a_old = None
        if a_buckets:
            b_old = read_partitions(db, f"{state_dir}/b_acc", "bucket", a_buckets)
        if b_buckets:
            a_old = read_partitions(da, f"{state_dir}/a_acc", "bucket", b_buckets)

        on = F.col("o_custkey") == F.col("c_custkey")
        cols = [
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            "c_name",
            "c_mktsegment",
        ]
        parts = []
        if b_old is not None:
            parts.append(da.join(b_old.drop("bucket"), on).select(*cols))
        if a_old is not None:
            parts.append(a_old.drop("bucket").join(db, on).select(*cols))
        if a_buckets and b_buckets:
            parts.append(da.join(db.drop("bucket"), on).select(*cols))
        if parts:
            dv = parts[0]
            for p in parts[1:]:
                dv = dv.unionByName(p)
            dv.write.mode("append").parquet(f"{state_dir}/view")
        if a_buckets:
            da.write.mode("append").partitionBy("bucket").parquet(
                f"{state_dir}/a_acc"
            )
        if b_buckets:
            db.write.mode("append").partitionBy("bucket").parquet(
                f"{state_dir}/b_acc"
            )

    return apply
