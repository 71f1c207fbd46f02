"""Streaming exact dedup vs the batch answer.

The at-least-once repair stage (``streaming/dedup_stream.py``) must
collapse every duplicate-delivery pattern a Kafka redelivery produces
— duplicates inside one trigger, across a trigger boundary, and a
wholesale redelivery of an earlier batch — to exactly the batch
``dropDuplicates`` row set.  Feed discipline is
``test_streaming_drift.py``'s: file source with ``maxFilesPerTrigger=1``
so dedup state genuinely crosses trigger boundaries, far-future
sentinel rows to push the watermark, sentinels excluded from the
assertion window.
"""

from __future__ import annotations

import pytest

import json
import os
import uuid

from pyspark.sql import functions as F


def _feed(spark, tmp_path, batches, horizon):
    from go_otel_clickhouse_ingestor_spark.streaming.dedup_stream import (
        dedup_exact_stream,
    )

    d = tmp_path / "dedup_feed"
    d.mkdir()
    for i, batch in enumerate(batches):
        p = d / f"{i}.json"
        p.write_text("\n".join(json.dumps(r) for r in batch))
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    q = (
        dedup_exact_stream(stream, keys=("event_id",), horizon=horizon)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    return spark.table(name).filter(F.year("ts") < 2100)


def _rows(event_ids, ts="2024-03-01 12:00:00.000000"):
    return [
        {"event_id": e, "ts": ts, "value": float(e) / 10.0}
        for e in event_ids
    ]


_SENTINELS = [
    [{"event_id": -1, "ts": "2200-01-01 00:00:00.000000", "value": 0.0}],
    [{"event_id": -2, "ts": "2200-01-02 00:00:00.000000", "value": 0.0}],
]


def test_stream_dedup_collapses_all_redelivery_patterns(spark, tmp_path):
    """in-trigger dupes + cross-trigger dupes + a full redelivered
    batch — output ids equal the distinct input set, exactly once."""
    b1 = _rows([1, 2, 2, 3])          # duplicate inside one trigger
    b2 = _rows([3, 4, 5])             # 3 duplicates across the boundary
    b3 = _rows([1, 2, 3])             # wholesale redelivery of batch 1
    out = _feed(spark, tmp_path, [b1, b2, b3] + _SENTINELS, "10 minutes")
    got = sorted(r.event_id for r in out.collect())
    assert got == [1, 2, 3, 4, 5]


@pytest.mark.slow
def test_stream_dedup_first_delivery_wins_with_all_columns(spark, tmp_path):
    """The surviving row is a real passthrough: every column of the
    first delivery is intact (value here disambiguates deliveries)."""
    b1 = [{"event_id": 7, "ts": "2024-03-01 12:00:00.000000", "value": 1.0}]
    b2 = [{"event_id": 7, "ts": "2024-03-01 12:00:01.000000", "value": 2.0}]
    out = _feed(spark, tmp_path, [b1, b2] + _SENTINELS, "10 minutes")
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0].event_id == 7 and rows[0].value == 1.0


@pytest.mark.slow
def test_stream_dedup_matches_batch_drop_duplicates(spark, tmp_path):
    """Equivalence with the batch twin: the streamed output row COUNT
    equals batch dropDuplicates over the same concatenated feed."""
    b1 = _rows([10, 11, 11, 12])
    b2 = _rows([12, 13, 10])
    out = _feed(spark, tmp_path, [b1, b2] + _SENTINELS, "10 minutes")
    flat = b1 + b2
    batch = (
        spark.createDataFrame(
            [(r["event_id"],) for r in flat], "event_id long"
        )
        .dropDuplicates(["event_id"])
        .count()
    )
    assert out.count() == batch == 4


@pytest.mark.parametrize(
    "horizon, deliveries", [("1 minute", 2), ("30 minutes", 1)]
)
def test_stream_dedup_passes_redelivery_after_horizon(
    spark, tmp_path, horizon, deliveries
):
    """State is bounded by the horizon: once the watermark has passed a
    key's first sighting by more than the horizon, its entry is gone
    and a redelivery passes through again.  Trigger 2 moves the
    watermark to 12:10 − horizon, trigger 3 evicts with it, trigger 4
    redelivers id 7 at 12:10 (not late under either horizon)."""
    later = "2024-03-01 12:10:00.000000"
    b1 = _rows([7])
    b2 = _rows([8], ts=later)
    b3 = _rows([9], ts=later)
    b4 = _rows([7], ts=later)
    out = _feed(spark, tmp_path, [b1, b2, b3, b4], horizon)
    got = sorted(r.event_id for r in out.collect())
    assert got == sorted([7] * deliveries + [8, 9])


def test_near_dup_ingest_stream_matches_batch_sequence(spark, sf_dir, tmp_path):
    """The foreachBatch near-dup ingest must reproduce the batch
    maintained-index sequence EXACTLY through a real two-trigger
    stream: trigger 1 probes the corpus-built index, trigger 2 (planted
    near-copies of trigger 1) probes the index WITH trigger 1's
    appended bands — decisions per batch equal the batch API run of
    the same sequence, and the index ends with both appends."""
    from go_otel_clickhouse_ingestor_spark.operators.dedup import (
        _near_sigs,
        materialized,
        near_index_probe,
        near_index_write,
    )
    from go_otel_clickhouse_ingestor_spark.streaming.dedup_stream import (
        near_dup_ingest_stream,
    )
    from go_otel_clickhouse_ingestor_spark.tables import table

    d = table(spark, sf_dir, "documents")
    corpus_sig = materialized(_near_sigs(d.filter(F.col("doc_id") % 10 < 8)))
    b1 = d.filter(F.col("doc_id") % 10 == 8).select("doc_id", "text")
    b2 = b1.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qq zz qq")).alias("text"),
    )

    # ---- batch-API reference sequence on its own index copy
    ref_path = str(tmp_path / "idx_ref")
    near_index_write(corpus_sig, ref_path)
    ref1, sig1 = near_index_probe(spark, ref_path, b1)
    ref1_rows = {r.doc_id: (r.matched_doc, r.jaccard_sim, r.is_new) for r in ref1.collect()}
    near_index_write(sig1, ref_path, mode="append")
    ref2, _ = near_index_probe(spark, ref_path, b2)
    ref2_rows = {r.doc_id: (r.matched_doc, r.jaccard_sim, r.is_new) for r in ref2.collect()}

    # ---- the same sequence through the stream
    idx_path = str(tmp_path / "idx_stream")
    near_index_write(corpus_sig, idx_path)
    feed_dir = tmp_path / "feed"
    feed_dir.mkdir()
    for name, frame in (("a_batch1", b1), ("b_batch2", b2)):
        rows = [
            json.dumps({"doc_id": r.doc_id, "text": r.text})
            for r in frame.collect()
        ]
        (feed_dir / f"{name}.json").write_text("\n".join(rows))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(feed_dir))
    )
    dec_path = str(tmp_path / "decisions")
    q = (
        near_dup_ingest_stream(stream, idx_path, dec_path)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    got = spark.read.parquet(dec_path)
    got1 = {
        r.doc_id: (r.matched_doc, r.jaccard_sim, r.is_new)
        for r in got.filter("doc_id < 10000000").collect()
    }
    got2 = {
        r.doc_id: (r.matched_doc, r.jaccard_sim, r.is_new)
        for r in got.filter("doc_id >= 10000000").collect()
    }
    assert got1 == ref1_rows
    assert got2 == ref2_rows
    # trigger 2 really matched into trigger 1's appended rows
    assert any(
        md is not None and md % 10 == 8 for md, _j, _n in got2.values()
    )
    # and the streamed index carries both appends (corpus + b1 + b2)
    n_docs = spark.read.parquet(f"{idx_path}/grams").count()
    assert n_docs == corpus_sig.count() + b1.count() + b2.count()


def test_near_dup_ingest_redelivery_is_effectively_once(spark, sf_dir, tmp_path):
    """Crash-redelivery contract for the PRODUCTION foreachBatch
    closure (near_dup_ingest_batch): re-invoking it with the SAME
    (batch_df, batch_id) — what Structured Streaming does after a
    failure before the checkpoint commit — must (1) leave the
    decisions table row-identical (no duplicates, no self-match
    rewrites from probing its own appended bands), (2) re-append the
    batch bands (storage dup, tolerated — idempotent for matching),
    and (3) keep a LATER batch's decisions identical to the
    never-crashed sequence."""
    from go_otel_clickhouse_ingestor_spark.operators.dedup import (
        _near_sigs,
        materialized,
        near_index_probe,
        near_index_write,
    )
    from go_otel_clickhouse_ingestor_spark.streaming.dedup_stream import (
        near_dup_ingest_batch,
    )
    from go_otel_clickhouse_ingestor_spark.tables import table

    d = table(spark, sf_dir, "documents")
    corpus_sig = materialized(_near_sigs(d.filter(F.col("doc_id") % 10 < 8)))
    b1 = d.filter(F.col("doc_id") % 10 == 8).select("doc_id", "text")
    b2 = b1.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qq zz qq")).alias("text"),
    )

    # reference: the never-crashed sequence on its own index copy
    idx_ref = str(tmp_path / "idx_ref")
    near_index_write(corpus_sig, idx_ref)
    ref1, s1 = near_index_probe(spark, idx_ref, b1)
    ref1_rows = {
        r.doc_id: (r.matched_doc, r.jaccard_sim, r.is_new) for r in ref1.collect()
    }
    near_index_write(s1, idx_ref, mode="append")
    ref2, _ = near_index_probe(spark, idx_ref, b2)
    ref2_rows = {
        r.doc_id: (r.matched_doc, r.jaccard_sim, r.is_new) for r in ref2.collect()
    }

    idx = str(tmp_path / "idx")
    dec = str(tmp_path / "dec")
    near_index_write(corpus_sig, idx)
    ingest = near_dup_ingest_batch(idx, dec)

    ingest(b1, 0)
    n_grams_once = spark.read.parquet(f"{idx}/grams").count()
    dec1 = {
        r.doc_id: (r.matched_doc, r.jaccard_sim, r.is_new)
        for r in spark.read.parquet(dec).collect()
    }
    assert dec1 == ref1_rows

    ingest(b1, 0)  # redelivery of the SAME batch
    rows_after = spark.read.parquet(dec).collect()
    assert len(rows_after) == len(dec1), "redelivery must not duplicate decisions"
    assert {
        r.doc_id: (r.matched_doc, r.jaccard_sim, r.is_new) for r in rows_after
    } == ref1_rows
    # bands were re-appended (storage dup) ...
    assert spark.read.parquet(f"{idx}/grams").count() == n_grams_once + b1.count()

    # ... and a later batch still decides exactly as the clean sequence
    ingest(b2, 1)
    dec2 = {
        r.doc_id: (r.matched_doc, r.jaccard_sim, r.is_new)
        for r in spark.read.parquet(dec).filter("batch_id = 1").collect()
    }
    assert dec2 == ref2_rows


@pytest.mark.parametrize("leftover", ["garbage_file", "crashed_first_write"])
def test_near_dup_batch_guard_treats_only_a_missing_table_as_no_decisions(
    spark, tmp_path, leftover
):
    """The batch-id guard may read "no decisions yet" only from a
    decisions table with no committed file.  Any other read failure (a
    corrupt file here) fails the batch: re-probing a redelivered batch
    against an index that holds its own bands would self-match."""
    from go_otel_clickhouse_ingestor_spark.operators.dedup import (
        _near_sigs,
        materialized,
        near_index_write,
    )
    from go_otel_clickhouse_ingestor_spark.streaming.dedup_stream import (
        near_dup_ingest_batch,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "pack my box with five dozen liquor jugs")],
        "doc_id long, text string",
    )
    idx, dec = str(tmp_path / "idx"), tmp_path / "dec"
    near_index_write(materialized(_near_sigs(docs)), idx)
    if leftover == "garbage_file":
        dec.mkdir()
        (dec / "part-00000.snappy.parquet").write_bytes(b"not a parquet file")
        with pytest.raises(Exception):
            near_dup_ingest_batch(idx, str(dec))(docs, 0)
    else:
        (dec / "_temporary" / "0").mkdir(parents=True)
        near_dup_ingest_batch(idx, str(dec))(docs, 0)
        assert sorted(r.doc_id for r in spark.read.parquet(str(dec)).collect()) == [1, 2]
