"""Quality gates for the approximate operators: the rows-only queries
still have to be *good*, so tests measure them against their exact
twins."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from go_otel_clickhouse_ingestor_spark.registry import load_all

REGISTRY = load_all()


@pytest.mark.slow
def test_minhash_recall_vs_exact_jaccard(spark, sf_dir):
    """MinHash-LSH must recover the strong exact-Jaccard pairs (≥0.5)
    found by the exact verifier."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in REGISTRY["dedup_ngram_jaccard"].fn(spark, sf_dir).collect()
        if r.jaccard >= 0.5
    }
    approx = {
        (r.doc_a, r.doc_b)
        for r in REGISTRY["dedup_minhash_lsh"].fn(spark, sf_dir).collect()
    }
    assert exact, "fixture should contain planted near-dup pairs"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"MinHash recall {recall:.2f} on {len(exact)} strong pairs"


@pytest.mark.slow
def test_ann_lsh_recall_vs_brute_force(spark, sf_dir):
    """The hyperplane-LSH ANN must find ≥0.8 of the true top-10
    neighbors (512-bit signatures at ham<=_ANN_HAM screen to ~6% of
    the corpus; fraction vs recall trade-off measured in SCALING.md).
    The fixtures are uniform-random — the LSH worst case — so this
    floor holds a fortiori on clustered real corpora (see the
    planted-neighbor test below for that regime)."""
    exact = {
        (r.query_id, r.vec_id)
        for r in REGISTRY["sim_topk_cosine"].fn(spark, sf_dir).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in REGISTRY["sim_ann_lsh"].fn(spark, sf_dir).collect()
    }
    assert exact
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"ANN recall {recall:.2f}"


def test_ann_lsh_planted_neighbors_full_recall(spark, sf_dir):
    """Realistic-regime recall: plant a strong near-duplicate for every
    query vector (base + small noise → cosine ≈ 0.97) and require the
    SAME 512-bit screen to recover every planted pair as its top
    neighbor.  Uniform-random fixtures are the LSH worst case; this is
    the case ANN actually serves — near-identical vectors must never be
    screened out."""
    import numpy as np

    from go_otel_clickhouse_ingestor_spark.operators import similarity as S
    from go_otel_clickhouse_ingestor_spark.tables import table

    base = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    rows = base.filter(F.col("vec_id") % 50 == 0).collect()
    rng = np.random.RandomState(7)
    planted = []
    for r in rows:
        v = np.asarray(r.embedding, dtype=np.float64)
        noisy = v + rng.normal(0.0, 0.05 * np.abs(v).mean(), size=v.shape)
        planted.append((int(r.vec_id) + 1_000_000, [float(x) for x in noisy]))
    aug = base.unionAll(
        spark.createDataFrame(planted, "vec_id long, embedding array<float>")
    )
    sigs = S.with_signatures(aug)
    q = sigs.filter(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 1_000_000)
    ).select(
        F.col("vec_id").alias("query_id"),
        *[F.col(f"sig{w}").alias(f"qsig{w}") for w in range(S._ANN_WORDS)],
    )
    ham = sum(
        F.bit_count(F.col(f"sig{w}").bitwiseXOR(F.col(f"qsig{w}")))
        for w in range(S._ANN_WORDS)
    )
    cand = {
        (r.query_id, r.vec_id)
        for r in sigs.join(
            F.broadcast(q), F.col("vec_id") == F.col("query_id") + 1_000_000
        )
        .filter(ham <= S._ANN_HAM)
        .select("query_id", "vec_id")
        .collect()
    }
    assert len(cand) == len(rows), (
        f"planted-neighbor recall {len(cand)}/{len(rows)} — the screen must "
        "never drop a true near-duplicate"
    )


def test_ann_candidates_are_true_cosines(spark, sf_dir):
    """Every ANN result must carry the same cosine the exact path
    computes (the re-rank is exact, only the candidate set is approx)."""
    exact = {
        (r.query_id, r.vec_id): r.cos_sim
        for r in REGISTRY["sim_topk_cosine"].fn(spark, sf_dir).collect()
    }
    for r in REGISTRY["sim_ann_lsh"].fn(spark, sf_dir).collect():
        if (r.query_id, r.vec_id) in exact:
            assert abs(exact[(r.query_id, r.vec_id)] - r.cos_sim) < 1e-9


def test_simhash_pairs_have_high_jaccard(spark, sf_dir):
    """SimHash candidates (ham<=12 of 64) should be enriched for real
    similarity: precision vs exact jaccard>=0.2 must beat random."""
    sim_pairs = {
        (r.doc_a, r.doc_b)
        for r in REGISTRY["dedup_simhash"].fn(spark, sf_dir).collect()
    }
    if not sim_pairs:
        return  # nothing claimed, nothing to verify
    exactish = {
        (r.doc_a, r.doc_b)
        for r in REGISTRY["dedup_ngram_jaccard"].fn(spark, sf_dir).collect()
    }
    strong = {
        (r.doc_a, r.doc_b)
        for r in REGISTRY["dedup_ngram_jaccard"].fn(spark, sf_dir).collect()
        if r.jaccard >= 0.5
    }
    if strong:
        assert strong & sim_pairs, "simhash should catch at least one planted near-dup"


def test_multimodal_decode_deterministic(spark, sf_dir):
    """The fake codec is a pure function of the payload bytes."""
    q = REGISTRY["multimodal_decode"].fn

    def norm(rows):
        return {
            (r.doc_id, r.media_type, r.n_bytes, r.width, r.height, r.f0, r.f1, r.f2, r.f3)
            for r in rows
        }

    a = norm(q(spark, sf_dir).collect())
    b = norm(q(spark, sf_dir).collect())
    assert a == b and len(a) > 0


def test_multimodal_decode_rejects_real_codecs():
    """Real media types must fail loudly, not silently fake-decode."""
    import pandas as pd
    import pytest

    from go_otel_clickhouse_ingestor_spark.operators.multimodal import (
        decode_media_batch,
    )

    pdf = pd.DataFrame(
        {"doc_id": [1], "media_type": ["image/png"], "payload": [b"\x89PNG"]}
    )
    with pytest.raises(NotImplementedError):
        decode_media_batch(pdf)


def test_dedup_exact_is_lossless_partition(spark, sf_dir):
    """Keeper set + copy counts must cover every document exactly once."""
    out = REGISTRY["dedup_exact"].fn(spark, sf_dir)
    from go_otel_clickhouse_ingestor_spark.tables import table

    n_docs = table(spark, sf_dir, "documents").count()
    agg = out.agg(F.sum("n_copies").alias("s"), F.count(F.lit(1)).alias("k")).collect()[0]
    assert agg.s == n_docs
    assert agg.k == out.select("keeper_doc_id").distinct().count()


def test_ann_ivf_recall_and_exact_rerank(spark, sf_dir):
    """IVF recall is bounded by probed-fraction (~nprobe/ncells = 0.3)
    on the uniform-random fixtures; assert the floor AND that every
    returned candidate carries the true exact cosine."""
    exact = {
        (r.query_id, r.vec_id): r.cos_sim
        for r in REGISTRY["sim_topk_cosine"].fn(spark, sf_dir).collect()
    }
    ivf = REGISTRY["sim_ann_ivf"].fn(spark, sf_dir).collect()
    assert ivf, "IVF should return candidates"
    hits = [(r.query_id, r.vec_id) for r in ivf if (r.query_id, r.vec_id) in exact]
    recall = len(hits) / len(exact)
    assert recall >= 0.1, f"IVF recall {recall:.2f}"
    for r in ivf:
        if (r.query_id, r.vec_id) in exact:
            assert abs(exact[(r.query_id, r.vec_id)] - r.cos_sim) < 1e-9


def test_ann_ivfpq_recall_matches_plain_ivf(spark, sf_dir):
    """The composed IVFPQ layout must not lose recall to compression
    at the same probe budget: same cells, same nprobe, ADC shortlist
    wide enough that the compressed scan keeps every true in-cell
    top-10 the exact-rerank IVF finds (VERDICT r14 #2's gate).  Also:
    every returned candidate carries the TRUE exact cosine (the rerank
    reads floats), and exactly 10 rows per probed query."""
    exact = {
        (r.query_id, r.vec_id): r.cos_sim
        for r in REGISTRY["sim_topk_cosine"].fn(spark, sf_dir).collect()
    }
    ivf = REGISTRY["sim_ann_ivf"].fn(spark, sf_dir).collect()
    ivfpq = REGISTRY["sim_ann_ivfpq"].fn(spark, sf_dir).collect()
    assert ivfpq, "IVFPQ should return candidates"
    qset = {r.query_id for r in ivfpq}
    assert qset == {r.query_id for r in ivf}, "probe query sets must match"
    per_q = {}
    for r in ivfpq:
        per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
    assert all(v == 10 for v in per_q.values()), per_q
    exact_q = {p for p in exact if p[0] in qset}
    r_ivf = len({(r.query_id, r.vec_id) for r in ivf} & exact_q) / len(exact_q)
    r_ivfpq = len({(r.query_id, r.vec_id) for r in ivfpq} & exact_q) / len(exact_q)
    assert r_ivfpq >= r_ivf, f"IVFPQ recall {r_ivfpq:.3f} < IVF {r_ivf:.3f}"
    for r in ivfpq:
        if (r.query_id, r.vec_id) in exact:
            assert abs(exact[(r.query_id, r.vec_id)] - r.cos_sim) < 1e-9


def test_ann_index_lake_matches_in_memory_plan(spark, sf_dir):
    """The persisted lake index must serve IDENTICAL answers to the
    in-query build: same training sample, same cells, same
    ``_ivfpq_search`` — so a build → write → read → probe round trip
    through parquet changes nothing.  This is the gate that makes the
    saved artifact trustworthy: any codebook/centroid/posting
    round-trip loss would surface as a rank flip here."""
    a = sorted(map(tuple, REGISTRY["sim_ann_ivfpq"].fn(spark, sf_dir).collect()))
    b = sorted(map(tuple, REGISTRY["sim_ann_index_lake"].fn(spark, sf_dir).collect()))
    assert a == b


def test_ann_index_append_serves_new_vectors(spark, sf_dir, tmp_path):
    """Incremental maintenance: after ``ann_index_append`` of a new
    batch, (1) the postings grew by exactly the batch (O(batch) write,
    nothing rewritten), (2) the centroids/codebooks are untouched
    (append never retrains), and (3) a probe issued after the append
    RETRIEVES the appended vectors — planted queries duplicating a
    batch vector must find it at rank 1 with cosine 1."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from go_otel_clickhouse_ingestor_spark.operators import similarity as S
    from go_otel_clickhouse_ingestor_spark.tables import table

    e = table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    base = e.filter(F.col("vec_id") % 10 < 8)
    batch = e.filter(F.col("vec_id") % 10 >= 8).select("vec_id", "embedding")
    idx = str(tmp_path / "annidx")
    S.ann_index_build(spark, base, idx)
    n0 = spark.read.parquet(f"{idx}/postings").count()
    cent0 = sorted(r.cell for r in spark.read.parquet(f"{idx}/centroids").collect())
    S.ann_index_append(spark, idx, batch)
    assert spark.read.parquet(f"{idx}/postings").count() == n0 + batch.count()
    cent1 = sorted(r.cell for r in spark.read.parquet(f"{idx}/centroids").collect())
    assert cent1 == cent0, "append must not touch the coarse structure"

    # planted queries: clones of appended vectors under fresh ids ->
    # the appended original must come back as the top hit, cosine 1
    probe_src = batch.orderBy("vec_id").limit(5)
    clones = probe_src.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.lit("probe").alias("label"),
        "embedding",
    )
    books = S._ann_books_read(spark, idx)
    cent2 = spark.read.parquet(f"{idx}/centroids")
    postings = spark.read.parquet(f"{idx}/postings")
    probes = (
        clones.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qemb")
        )
        .crossJoin(F.broadcast(cent2))
        .withColumn(
            "cell_rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    S.sq_dist(F.col("qemb"), F.col("centroid")).asc(),
                    F.col("cell").asc(),
                )
            ),
        )
        .filter(F.col("cell_rank") <= 3)
        .select("query_id", "qemb", "cell")
    )
    cand = probes.join(postings, "cell").select("query_id", "vec_id", "qemb")
    top = (
        cand.join(e.select("vec_id", "embedding"), "vec_id")
        .select(
            "query_id",
            "vec_id",
            F.round(S.cosine(F.col("qemb"), F.col("embedding")), 5).alias("cs"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("cs").desc(), F.col("vec_id").asc()
                )
            ),
        )
        .filter("rk = 1")
        .collect()
    )
    assert len(top) == 5
    for r in top:
        assert r.vec_id == r.query_id - 1_000_000, (
            "appended vector must be retrievable as its clone's top hit"
        )
        assert r.cs == 1.0


def test_multimodal_framesample_shape(spark, sf_dir):
    """1->N expansion: exactly N_FRAMES rows per document, deterministic."""
    from go_otel_clickhouse_ingestor_spark.operators.multimodal import N_FRAMES
    from go_otel_clickhouse_ingestor_spark.tables import table

    out = REGISTRY["multimodal_framesample"].fn(spark, sf_dir)
    n_docs = table(spark, sf_dir, "documents").count()
    assert out.count() == n_docs * N_FRAMES
    per_doc = out.groupBy("doc_id").count().select("count").distinct().collect()
    assert [r["count"] for r in per_doc] == [N_FRAMES]
    a = {tuple(r) for r in out.collect()}
    b = {tuple(r) for r in REGISTRY["multimodal_framesample"].fn(spark, sf_dir).collect()}
    assert a == b


def test_approx_quantile_within_error_bound(spark, sf_dir):
    """The sketch estimate must sit within the rank-error bound of the
    exact quantile (accuracy=1000 -> ~0.1% rank error; assert a loose
    1% value envelope via exact quantiles at p +- 2%)."""
    from go_otel_clickhouse_ingestor_spark.tables import table

    approx = {
        r.event_type: (r.p50_approx, r.p95_approx)
        for r in REGISTRY["agg_approx_quantile"].fn(spark, sf_dir).collect()
    }
    exact = {
        r.event_type: r.qs
        for r in table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.expr("percentile(value, array(0.48, 0.52, 0.93, 0.97))").alias("qs"))
        .collect()
    }
    for et, (p50, p95) in approx.items():
        lo50, hi50, lo95, hi95 = exact[et]
        assert lo50 <= p50 <= hi50, f"{et}: p50 {p50} outside [{lo50}, {hi50}]"
        assert lo95 <= p95 <= hi95, f"{et}: p95 {p95} outside [{lo95}, {hi95}]"


def test_connected_components_chain_cycle_singleton(spark):
    """CC on a synthetic graph: a 4-chain (propagation depth > 1), a
    3-cycle, a 2-clique, and an isolated node — labels must be the
    component-minimum ids."""
    from go_otel_clickhouse_ingestor_spark.operators.graph import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(10)], "node long")
    #        chain 0-1-2-3   cycle 4-5-6-4   clique 7-8   singleton 9
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (4, 5), (5, 6), (6, 4), (7, 8)],
        "src long, dst long",
    )
    got = {r.node: r.label for r in connected_components(nodes, edges).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4, 6: 4, 7: 7, 8: 7, 9: 9}


def test_ann_pq_recall_and_exact_rerank(spark, sf_dir):
    """PQ-ADC must (a) recall a reasonable share of the true top-10
    despite 64x code compression, and (b) report TRUE cosines for what
    it returns (the rerank is exact, so every returned pair's cos_sim
    must equal the brute-force value).  The exact baseline is computed
    here over PQ's OWN fixed md5-ranked query set (``pq_query_set``),
    with the same round-then-rank tie rule as the operators."""
    from pyspark.sql.window import Window

    from go_otel_clickhouse_ingestor_spark.operators.similarity import (
        cosine,
        embedding_dim,
        pq_query_set,
    )
    from go_otel_clickhouse_ingestor_spark.tables import table

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dim = embedding_dim(e)
    q = pq_query_set(e)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    exact = (
        e.repartition(spark.sparkContext.defaultParallelism)
        .join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("qemb"), F.col("embedding"), dim), 5).alias(
                "cos_sim"
            ),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .collect()
    )
    exact_pairs = {(r.query_id, r.vec_id) for r in exact}
    exact_cos = {(r.query_id, r.vec_id): r.cos_sim for r in exact}

    got = REGISTRY["sim_ann_pq"].fn(spark, sf_dir).collect()
    assert len({r.query_id for r in got}) == len({r.query_id for r in exact})
    got_pairs = {(r.query_id, r.vec_id) for r in got}
    recall = len(got_pairs & exact_pairs) / len(exact_pairs)
    assert recall >= 0.4, f"PQ recall {recall:.2f} below floor"
    for r in got:
        if (r.query_id, r.vec_id) in exact_cos:
            assert abs(r.cos_sim - exact_cos[(r.query_id, r.vec_id)]) < 1e-9


@pytest.mark.slow
def test_semantic_dedup_planted_near_dup_recall(spark, sf_dir):
    """SemDeDup recall gate (mirrors the LSH planted-neighbor test):
    plant a strong near-duplicate (cosine ≈ 0.97) for every 50th
    vector and require the blocking+verify pipeline to recover most of
    them.  SemDeDup recall is bounded by the clustering — a planted
    pair split across two cells is unseen by design — so the floor is
    a measured 0.75, not 1.0 (the LSH screen's contract); what this
    gate catches is a blocking regression that silently drops
    co-located near-dups."""
    import numpy as np

    from go_otel_clickhouse_ingestor_spark.operators.clustering import (
        _SEM_THRESHOLD,
        semantic_pairs,
    )
    from go_otel_clickhouse_ingestor_spark.tables import table

    base = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    rows = base.filter(F.col("vec_id") % 50 == 0).collect()
    rng = np.random.RandomState(11)
    planted = []
    for r in rows:
        v = np.asarray(r.embedding, dtype=np.float64)
        noisy = v + rng.normal(0.0, 0.05 * np.abs(v).mean(), size=v.shape)
        planted.append((int(r.vec_id) + 1_000_000, [float(x) for x in noisy]))
    aug = base.unionAll(
        spark.createDataFrame(planted, "vec_id long, embedding array<float>")
    )
    got = semantic_pairs(spark, aug).collect()
    pairs = {(r.vec_a, r.vec_b) for r in got}
    hit = sum(1 for r in rows if (r.vec_id, r.vec_id + 1_000_000) in pairs)
    recall = hit / len(rows)
    assert recall >= 0.75, (
        f"planted near-dup recall {recall:.2f} ({hit}/{len(rows)}) below the "
        "measured SemDeDup floor — blocking is splitting near-identical pairs"
    )
    # precision stays 1.0 by construction: every emitted pair is at/above
    # the exact-cosine threshold
    assert all(r.cos_sim >= _SEM_THRESHOLD for r in got)


@pytest.mark.slow
def test_kmeans_inertia_monotone_and_deterministic(spark, sf_dir):
    """Lloyd's invariants: inertia never increases across iterations,
    every vector lands in exactly one of K cells, and a rerun is
    bit-identical (hash-sample init, deterministic tie-breaks)."""
    from go_otel_clickhouse_ingestor_spark.operators.clustering import _KM_K, kmeans
    from go_otel_clickhouse_ingestor_spark.tables import table

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assigned, inertia = kmeans(spark, e)
    assert all(b <= a * (1 + 1e-9) for a, b in zip(inertia, inertia[1:])), inertia
    rows = assigned.select("vec_id", "cell").collect()
    assert len(rows) == e.count()
    assert {r.cell for r in rows} <= set(range(_KM_K))
    rerun, inertia2 = kmeans(spark, e)
    assert inertia == inertia2
    assert sorted((r.vec_id, r.cell) for r in rows) == sorted(
        (r.vec_id, r.cell) for r in rerun.select("vec_id", "cell").collect()
    )


@pytest.mark.slow
def test_semantic_dedup_pairs_are_true_cosines_within_cells(spark, sf_dir):
    """SemDeDup precision is 1.0 by construction: every emitted pair's
    cosine must equal the exact cosine, be >= the threshold, and both
    members must share the claimed cell."""
    import math

    from go_otel_clickhouse_ingestor_spark.operators.clustering import _SEM_THRESHOLD
    from go_otel_clickhouse_ingestor_spark.tables import table

    pairs = REGISTRY["dedup_semantic"].fn(spark, sf_dir).collect()
    assert pairs, "threshold 0.3 should admit pairs on the fixtures"
    emb = {
        r.vec_id: r.embedding
        for r in table(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    }
    for r in pairs[:50]:
        assert r.cos_sim >= _SEM_THRESHOLD
        a, b = emb[r.vec_a], emb[r.vec_b]
        exact = sum(x * y for x, y in zip(a, b)) / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        )
        assert abs(exact - r.cos_sim) < 1e-4


def test_pack_sequences_bin_invariants(spark, sf_dir):
    """Contiguous-fill packing invariants: bins are consecutive integers
    per source, every bin except possibly the last STARTS below the
    budget boundary (a doc may straddle), and total tokens are
    conserved."""
    from go_otel_clickhouse_ingestor_spark.operators.packing import SEQ_BUDGET

    rows = REGISTRY["pack_sequences_bins"].fn(spark, sf_dir).collect()
    by_source: dict[str, list] = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r)
    assert by_source
    for source, docs in by_source.items():
        docs.sort(key=lambda r: r.doc_id)
        bins = [r.bin for r in docs]
        assert bins == sorted(bins), f"{source}: bins must be monotone in doc order"
        assert bins[0] == 0
        assert set(bins) == set(range(max(bins) + 1)), f"{source}: bins must be dense"
        cum = 0
        for r in docs:
            assert r.bin_offset_base == cum
            assert r.bin == cum // SEQ_BUDGET
            cum += r.n_tokens


def test_hll_sketch_estimates_near_exact(spark, sf_dir):
    """Both sketch levels (per-type and the merged global union) must
    land within HLL error bounds (~3% at default lgK=12) of the exact
    distinct counts."""
    exact_global = (
        REGISTRY["agg_count_distinct"].fn(spark, sf_dir)  # exact per type
    )
    from go_otel_clickhouse_ingestor_spark.tables import table

    ev = table(spark, sf_dir, "events")
    exact_by_type = {
        r.event_type: r.n_users for r in exact_global.collect()
    }
    true_global = ev.select("user_id").distinct().count()
    for r in REGISTRY["agg_hll_sketch_union"].fn(spark, sf_dir).collect():
        assert abs(r.distinct_users - exact_by_type[r.event_type]) <= max(
            3, 0.05 * exact_by_type[r.event_type]
        ), (r.event_type, r.distinct_users, exact_by_type[r.event_type])
        assert abs(r.distinct_users_global - true_global) <= max(3, 0.05 * true_global)


def test_lake_writer_layout_contract(spark, sf_dir, tmp_path):
    """write_lake_partitioned: hive directories per partition value,
    no file above maxRecordsPerFile, rows sorted within every file,
    and a lossless round-trip."""
    import glob
    import os

    from go_otel_clickhouse_ingestor_spark.operators.formats import (
        LAKE_MAX_RECORDS_PER_FILE,
        write_lake_partitioned,
    )
    from go_otel_clickhouse_ingestor_spark.tables import table

    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "source", "n_chars")
    out = str(tmp_path / "lake")
    write_lake_partitioned(d, out, "lang")

    langs = {r.lang for r in d.select("lang").distinct().collect()}
    dirs = {os.path.basename(p) for p in glob.glob(f"{out}/lang=*")}
    assert dirs == {f"lang={v}" for v in langs}

    import pyarrow.parquet as pq

    for f in glob.glob(f"{out}/lang=*/*.parquet"):
        t = pq.read_table(f, columns=["doc_id"])
        ids = t.column("doc_id").to_pylist()
        assert len(ids) <= LAKE_MAX_RECORDS_PER_FILE, f
        assert ids == sorted(ids), f"{f} not clustered by doc_id"

    back = spark.read.parquet(out)
    assert back.count() == d.count()
    a = {tuple(sorted(r.asDict().items())) for r in back.collect()}
    b = {tuple(sorted(r.asDict().items())) for r in d.collect()}
    assert a == b


@pytest.mark.slow
def test_pca_power_iteration_converges_to_numpy_top_eigen(spark, sf_dir):
    """Power-iteration invariants: the Rayleigh quotient is monotone
    non-decreasing across iterations, reruns are bit-identical, and at
    fixture scale the direction/eigenvalue agree with numpy's dense
    eigendecomposition of the same (uncentered) second-moment matrix."""
    import numpy as np

    from go_otel_clickhouse_ingestor_spark.operators.clustering import (
        power_iteration,
    )
    from go_otel_clickhouse_ingestor_spark.tables import table

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    v, ray = power_iteration(spark, e)
    assert all(b >= a * (1 - 1e-9) for a, b in zip(ray, ray[1:])), ray
    v2, ray2 = power_iteration(spark, e)
    assert v == v2 and ray == ray2

    X = np.array([r.embedding for r in e.collect()], dtype=np.float64)
    M = X.T @ X / len(X)
    w, _ = np.linalg.eigh(M)
    # Uniform-random fixtures have a near-FLAT spectrum (top/mean ≈ 1.8
    # here) — power iteration's hardest regime, and direction recovery
    # is ill-posed when eigenvalues are near-degenerate.  The honest
    # invariants: the 3-step Rayleigh quotient already sits well above
    # the mean eigenvalue (it found signal), and more iterations keep
    # climbing toward the numpy top eigenvalue (it converges).
    assert ray[-1] >= 1.25 * float(np.mean(w)), (ray[-1], float(np.mean(w)))
    assert ray[-1] >= 0.7 * float(w[-1])
    _, ray6 = power_iteration(spark, e, iters=6)
    assert ray6[-1] >= ray[-1] * (1 - 1e-9)
    assert ray6[-1] >= 0.75 * float(w[-1])


def test_multimodal_resize_geometry_invariants(spark, sf_dir):
    """Resize stage: aspect preserved to integer rounding, longest side
    fits 224, never upscaled, scale==1 rows keep identity geometry."""
    from go_otel_clickhouse_ingestor_spark.registry import load_all

    rows = load_all()["multimodal_resize"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert max(r.out_w, r.out_h) <= 224
        assert r.scale <= 1.0
        if r.scale == 1.0:
            assert (r.out_w, r.out_h) == (r.width, r.height)
        else:
            # aspect ratio preserved within rounding of the scale fit
            assert abs(r.out_w - r.width * r.scale) <= 0.5 + 1e-6
            assert abs(r.out_h - r.height * r.scale) <= 0.5 + 1e-6
        assert r.resized_bytes == r.out_w * r.out_h * 3


def test_compression_ratio_orders_repetition(spark, sf_dir):
    """zlib ratio must be deterministic across runs and must rank a
    highly repetitive synthetic document below (more compressible
    than) the corpus median — the signal the filter exists for."""
    q = REGISTRY["text_compression_ratio"].fn
    a = {(r.doc_id, r.ratio) for r in q(spark, sf_dir).collect()}
    b = {(r.doc_id, r.ratio) for r in q(spark, sf_dir).collect()}
    assert a == b and a

    import zlib

    rows = sorted(r for _, r in a)
    median = rows[len(rows) // 2]
    rep = ("spam " * 200).encode()
    rep_ratio = len(zlib.compress(rep, 6)) / len(rep)
    assert rep_ratio < median, (rep_ratio, median)


def _bpe_reference(word: str) -> list[str]:
    """Independent BPE reference: apply each merge RANK-EXHAUSTIVELY in
    table order (a different algorithm from the engine's
    lowest-rank-first loop).  The two are equivalent exactly when every
    merge's output token only feeds HIGHER-rank merges — true for the
    frozen BPE_MERGES table by construction (each compound's parts are
    produced at strictly lower ranks), so any divergence flags a bug in
    the merge loop."""
    from go_otel_clickhouse_ingestor_spark.operators.text import BPE_MERGES

    parts = list(word)
    for a, b in BPE_MERGES:
        out: list[str] = []
        i = 0
        while i < len(parts):
            if i < len(parts) - 1 and parts[i] == a and parts[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(parts[i])
                i += 1
        parts = out
    return parts


def test_bpe_tokenize_matches_reference_and_bounds(spark, sf_dir):
    """text_bpe_tokenize: hand-computed merges, independent reference
    equality over the corpus vocabulary, determinism, and the
    n_words <= n_bpe <= n_chars sandwich."""
    from go_otel_clickhouse_ingestor_spark.operators.text import bpe_encode
    from go_otel_clickhouse_ingestor_spark.registry import load_all

    # hand-computed merge chains
    assert bpe_encode("the") == ["the"]
    assert bpe_encode("and") == ["and"]
    assert bpe_encode("where") == ["whe", "re"]
    assert bpe_encode("x") == ["x"]
    assert bpe_encode("") == []

    q = load_all()["text_bpe_tokenize"]
    rows = q.fn(spark, sf_dir).collect()
    rows2 = q.fn(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2)), "nondeterministic"

    docs = {r.doc_id: r for r in rows}
    import duckdb

    texts = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    assert len(docs) == len(texts)
    for doc_id, text in texts[:100]:
        words = text.lower().split()
        want = sum(len(_bpe_reference(w)) for w in words)
        got = docs[doc_id]
        assert got.n_tokens_ws == len(words)
        assert got.n_tokens_bpe == want, f"doc {doc_id}"
        # sandwich: merging only shrinks char count, never below words
        assert len(words) <= got.n_tokens_bpe <= sum(len(w) for w in words)


def test_compaction_rewrites_only_oversplit_partitions(spark, sf_dir, tmp_path):
    """compact_lake_partitions: oversplit partitions collapse to the
    file budget with identical data; healthy partitions keep their
    exact files (same names, same bytes) — per-partition atomicity."""
    import os

    from go_otel_clickhouse_ingestor_spark.operators.formats import (
        compact_lake_partitions,
        list_partition_files,
    )
    from go_otel_clickhouse_ingestor_spark.tables import table as t

    path = str(tmp_path / "lake")
    ev = t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    # 'click' lands as sliver files (oversplit); the rest land healthy.
    click = ev.filter(F.col("event_type") == "click").repartition(16)
    rest = ev.filter(F.col("event_type") != "click").repartition(2)
    click.write.mode("overwrite").partitionBy("event_type").parquet(path)
    rest.write.mode("append").partitionBy("event_type").parquet(path)

    before = list_partition_files(path, "event_type")
    assert len(before["click"]) > 4
    healthy = {v: f for v, f in before.items() if v != "click"}
    sizes_before = {
        v: [(os.path.basename(p), os.path.getsize(p)) for p in fs]
        for v, fs in healthy.items()
    }
    want = spark.read.parquet(path).groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("event_id").alias("s")
    ).collect()

    result = compact_lake_partitions(spark, path, "event_type", max_files_per_partition=4)
    assert set(result) == {"click"}
    nb, na = result["click"]
    assert nb > 4 and na <= 4

    after = list_partition_files(path, "event_type")
    assert len(after["click"]) <= 4
    for v, fs in healthy.items():
        assert [
            (os.path.basename(p), os.path.getsize(p)) for p in after[v]
        ] == sizes_before[v], f"partition {v} was touched"
    got = spark.read.parquet(path).groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("event_id").alias("s")
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_aho_corasick_matches_brute_force():
    """decontaminate_aho_corasick's automaton vs str-in brute force on
    randomized adversarial probe sets (overlaps, nested prefixes)."""
    import random

    from go_otel_clickhouse_ingestor_spark.operators.pipeline import _aho_build

    def scan(text, probes):
        goto, fail, out = _aho_build(probes)
        found, s = set(), 0
        for ch in text:
            while s and ch not in goto[s]:
                s = fail[s]
            s = goto[s].get(ch, 0)
            found |= out[s]
        return {probes[i] for i in found}

    rng = random.Random(7)
    for _ in range(300):
        probes = list(
            dict.fromkeys(
                "".join(rng.choices("ab", k=rng.randint(1, 5)))
                for _ in range(rng.randint(1, 8))
            )
        )
        text = "".join(rng.choices("ab", k=60))
        assert scan(text, probes) == {p for p in probes if p in text}


def test_webdataset_shards_roundtrip_and_layout(spark, sf_dir, tmp_path):
    """write_webdataset_shards: deterministic shard membership, one tar
    per shard with sorted zero-mtime members, manifest consistent with
    the files on disk, and a byte-lossless read-back."""
    import os

    from go_otel_clickhouse_ingestor_spark.operators.multimodal import (
        WDS_SAMPLES_PER_SHARD,
        read_webdataset_shards,
        write_webdataset_shards,
    )
    from go_otel_clickhouse_ingestor_spark.tables import table as t

    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.to_json(F.struct("lang", "source", "n_chars")).alias("meta"),
    )
    out = str(tmp_path / "wds")
    manifest = write_webdataset_shards(docs, out).collect()

    n_docs = docs.count()
    assert sum(r.n_samples for r in manifest) == n_docs
    assert all(r.n_samples <= WDS_SAMPLES_PER_SHARD for r in manifest)
    for r in manifest:
        assert os.path.getsize(r.path) == r.n_bytes
    # deterministic: rewrite produces byte-identical shards
    sizes1 = {r.shard_id: r.n_bytes for r in manifest}
    manifest2 = write_webdataset_shards(docs, out).collect()
    assert {r.shard_id: r.n_bytes for r in manifest2} == sizes1

    back = read_webdataset_shards(spark, out)
    orig = {r.doc_id: (bytes(r.payload), r.meta) for r in docs.collect()}
    got = {r.doc_id: (bytes(r.payload), r.meta) for r in back.collect()}
    assert got == orig


def test_zorder_layout_prunes_both_dimensions(spark, sf_dir, tmp_path):
    """write_zordered: with per-file min/max stats, a selective range
    filter on EITHER column must skip most files — while the
    single-column-sorted baseline skips only on its sort key."""
    from go_otel_clickhouse_ingestor_spark.operators.formats import (
        file_skipping_stats,
        write_zordered,
    )
    from go_otel_clickhouse_ingestor_spark.tables import table as t

    ev = t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    z_path = str(tmp_path / "zorder")
    s_path = str(tmp_path / "single")
    write_zordered(ev, z_path, "user_id", "value", files=16)
    (
        ev.repartitionByRange(16, "user_id")
        .sortWithinPartitions("user_id")
        .write.mode("overwrite")
        .parquet(s_path)
    )

    def surviving(path, col, lo, hi):
        stats = file_skipping_stats(spark, path, "user_id", "value").collect()
        pre = "a" if col == "user_id" else "b"
        keep = [r for r in stats if not (r[f"{pre}_max"] < lo or r[f"{pre}_min"] > hi)]
        return len(keep), len(stats)

    # data identical either way
    assert (
        spark.read.parquet(z_path).count()
        == spark.read.parquet(s_path).count()
        == ev.count()
    )

    lo_u, hi_u = 100, 150          # narrow user_id slice
    lo_v, hi_v = 10.0, 15.0        # narrow value slice
    zu, zn = surviving(z_path, "user_id", lo_u, hi_u)
    su, sn = surviving(s_path, "user_id", lo_u, hi_u)
    zv, _ = surviving(z_path, "value", lo_v, hi_v)
    sv, _ = surviving(s_path, "value", lo_v, hi_v)

    # single-sort: near-perfect on its key, useless on the other
    assert su <= sn // 4
    assert sv == sn, "value filter should prune nothing in the user-sorted layout"
    # z-order: prunes meaningfully on BOTH dimensions
    assert zu <= zn // 2, (zu, zn)
    assert zv <= zn // 2, (zv, zn)


def test_corpus_to_webdataset_export_chain(spark, sf_dir, tmp_path):
    """End-to-end composition: the corpus_build_e2e pipeline's
    surviving documents flow straight into the WebDataset shard writer
    and come back byte-lossless — the full curate→package path a
    training run consumes."""
    from go_otel_clickhouse_ingestor_spark.registry import load_all
    from go_otel_clickhouse_ingestor_spark.operators.multimodal import (
        read_webdataset_shards,
        write_webdataset_shards,
    )
    from go_otel_clickhouse_ingestor_spark.tables import table as t

    built = load_all()["corpus_build_e2e"].fn(spark, sf_dir)
    keep_ids = built.select("doc_id").distinct()
    docs = (
        t(spark, sf_dir, "documents")
        .join(keep_ids, "doc_id")
        .select(
            "doc_id",
            F.encode("text", "utf-8").alias("payload"),
            F.to_json(F.struct("lang", "source")).alias("meta"),
        )
    )
    out = str(tmp_path / "export")
    manifest = write_webdataset_shards(docs, out).collect()
    n = docs.count()
    assert n > 0 and sum(r.n_samples for r in manifest) == n
    back = read_webdataset_shards(spark, out)
    assert back.count() == n
    joined = back.alias("b").join(docs.alias("d"), "doc_id")
    assert (
        joined.filter(F.expr("b.payload <> d.payload")).count() == 0
    ), "payload bytes must survive the export chain"


def test_near_dup_e2e_matches_exact_pipeline(spark, sf_dir):
    """dedup_near_e2e (LSH → verify → CC) must produce the SAME
    clusters and survivors as the exact corpus-wide pipeline (full
    n-gram Jaccard + components, computed independently in DuckDB) —
    end-to-end recall 1.0 on the fixture's planted near-dups."""
    import duckdb

    got = {
        r.doc_id: (r.keeper_doc_id, r.cluster_size)
        for r in load_all()["dedup_near_e2e"].fn(spark, sf_dir).collect()
    }

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    want_rows = con.execute("""
    WITH RECURSIVE tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                            for i in range(1, greatest(len(toks) - 1, 1))]) AS grams
      FROM tok
    ),
    e AS (SELECT doc_id, unnest(grams) AS g FROM sh),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sz AS (SELECT doc_id, len(grams) AS s FROM sh),
    pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
      WHERE n_common * 1.0 / (sa.s + sb.s - n_common) >= 0.3
    ),
    edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    -- true fixpoint: full reachability via UNION-distinct recursion
    -- (terminates on cycles), then min over everything reachable.
    -- The old decreasing-path recursion (WHERE e.d < cc.label) missed
    -- minima only reachable through a larger intermediate node — an
    -- under-merge masked by clique-shaped fixtures (r6 ADVICE).
    cc AS (
      SELECT doc_id AS node, doc_id AS label FROM documents
      UNION
      SELECT cc.node, e.d AS label
      FROM cc JOIN edges e ON e.s = cc.label
    ),
    final AS (SELECT node, min(label) AS label FROM cc GROUP BY node)
    SELECT node, label, count(*) OVER (PARTITION BY label) AS csize
    FROM final
    """).fetchall()
    want = {n: (l, c) for n, l, c in want_rows}
    assert got == want


def test_k_core_is_a_fixpoint_and_internally_consistent(spark, sf_dir):
    """The fixed 8-round unroll must have converged on the fixture
    graph: (a) every surviving node's degree among survivors is >= k,
    and (b) one MORE peel round removes nothing (true fixpoint), so
    the fixed unroll equals the unbounded algorithm here."""
    from go_otel_clickhouse_ingestor_spark.operators.graph import _KCORE_K

    rows = REGISTRY["graph_k_core"].fn(spark, sf_dir).collect()
    core = {r.node: r.core_degree for r in rows}
    assert core, "fixture trade graph should have a non-empty 3-core"
    assert all(d >= _KCORE_K for d in core.values())

    # rebuild the edge set and peel once more in plain Python
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    half = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
        .collect()
    )
    adj: dict[str, set[str]] = {}
    for r in half:
        adj.setdefault(r.src, set()).add(r.dst)
        adj.setdefault(r.dst, set()).add(r.src)
    surv = set(core)
    again = {n for n in surv if len(adj[n] & surv) >= _KCORE_K}
    assert again == surv, "one more peel round changed the core"
    # and the reported degrees match the survivor-restricted degrees
    assert all(core[n] == len(adj[n] & surv) for n in surv)


def test_matryoshka_recall_reasonable_and_exact_at_full_width(spark, sf_dir):
    """Recall must be exactly 1.0 at the full stored width (sanity by
    construction) and should not collapse at the narrowest prefix —
    random-ish fixtures still retain some neighborhood structure."""
    rows = REGISTRY["emb_matryoshka_recall"].fn(spark, sf_dir).collect()
    rec = {r.dim: r.mean_recall for r in rows}
    from go_otel_clickhouse_ingestor_spark.operators.similarity import _MRL_DIMS

    assert set(rec) == set(_MRL_DIMS)
    assert rec[_MRL_DIMS[-1]] == 1.0
    assert all(0.0 <= v <= 1.0 for v in rec.values())
    assert rec[_MRL_DIMS[-2]] >= rec[_MRL_DIMS[0]] * 0.8, (
        "wider prefixes should not be drastically worse than narrow ones"
    )


def test_mmr_rerank_diversity_contract(spark, sf_dir):
    """MMR's reason to exist: (a) rank 1 equals the plain relevance
    top-1, (b) the MMR set's mean pairwise cosine never exceeds the
    plain top-k set's (diversity no worse), with strict improvement
    for at least one query on this fixture."""
    import itertools

    import numpy as np

    rows = REGISTRY["emb_mmr_rerank"].fn(spark, sf_dir).collect()
    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }

    def unit(v):
        n = np.linalg.norm(v)
        return v / (n if n else 1.0)

    def mean_pairwise(ids):
        pairs = list(itertools.combinations(ids, 2))
        return sum(
            float(unit(emb[a]) @ unit(emb[b])) for a, b in pairs
        ) / len(pairs)

    from go_otel_clickhouse_ingestor_spark.operators.similarity import (
        _MMR_K,
        _MMR_QUERIES,
    )

    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.qid, []).append(r)
    assert len(by_q) == _MMR_QUERIES

    improved = 0
    gains: list[float] = []
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.mmr_rank)
        assert len(rs) == _MMR_K
        # (a) rank 1 is the relevance top-1 of the shortlist
        assert rs[0].relevance == max(r.relevance for r in rs)
        # (b) diversity no worse than the plain top-k (the k most
        # relevant among what MMR saw is a subset of its shortlist;
        # compare against the k highest-relevance picks)
        mmr_ids = [r.vec_id for r in rs]
        plain_ids = [
            r.vec_id
            for r in sorted(rs, key=lambda r: (-r.relevance, r.vec_id))
        ]
        q = unit(emb[qid])
        # plain top-k by relevance from the same output rows is not the
        # true shortlist top-k; recompute the true plain top-k by cosine
        sims = sorted(
            ((float(q @ unit(v)), vid) for vid, v in emb.items() if vid != qid),
            reverse=True,
        )
        true_topk = [vid for _, vid in sims[:_MMR_K]]
        gains.append(mean_pairwise(true_topk) - mean_pairwise(mmr_ids))
        if gains[-1] > 1e-9:
            improved += 1
        # greedy MMR bounds the max-sim-to-selected at each step, not
        # the set's MEAN pairwise — allow tiny per-query regressions on
        # near-orthogonal fixtures, but never a real one
        assert gains[-1] > -0.01, (qid, gains[-1])
    assert improved >= len(by_q) // 2, "MMR rarely improved diversity"
    assert sum(gains) > 0, "no net diversity gain across queries"


def test_ttl_expiry_drops_only_expired_partitions(spark, sf_dir, tmp_path):
    """expire_lake_partitions: partitions older than the TTL cutoff
    vanish, everything newer keeps its exact files, and the surviving
    data round-trips identically — all without reading a single row."""
    import os

    from go_otel_clickhouse_ingestor_spark.operators.formats import (
        expire_lake_partitions,
        list_partition_files,
    )
    from go_otel_clickhouse_ingestor_spark.tables import table as t

    path = str(tmp_path / "lake")
    ev = (
        t(spark, sf_dir, "events")
        .select(
            "event_id",
            "user_id",
            "value",
            F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
        )
    )
    ev.write.mode("overwrite").partitionBy("day").parquet(path)
    before = list_partition_files(path, "day")
    days = sorted(before)
    assert len(days) >= 10
    # choose now/ttl so a non-trivial prefix of days expires
    now_day = days[-1]
    import datetime

    ttl = (
        datetime.date.fromisoformat(now_day)
        - datetime.date.fromisoformat(days[len(days) // 2])
    ).days
    cutoff = (
        datetime.date.fromisoformat(now_day) - datetime.timedelta(days=ttl)
    ).isoformat()
    keep = {d for d in days if d >= cutoff}
    want = (
        spark.read.parquet(path)
        .filter(F.col("day") >= cutoff)
        .agg(F.count("*").alias("n"), F.sum("event_id").alias("s"))
        .collect()
    )
    sizes_before = {
        d: [(os.path.basename(p), os.path.getsize(p)) for p in before[d]]
        for d in keep
    }

    dropped = expire_lake_partitions(spark, path, "day", ttl, now_day)
    assert set(dropped) == set(days) - keep
    assert all(n > 0 for n in dropped.values())

    after = list_partition_files(path, "day")
    assert set(after) == keep
    for d in keep:
        assert [
            (os.path.basename(p), os.path.getsize(p)) for p in after[d]
        ] == sizes_before[d], f"partition {d} was touched"
    got = spark.read.parquet(path).agg(
        F.count("*").alias("n"), F.sum("event_id").alias("s")
    ).collect()
    assert list(map(tuple, got)) == list(map(tuple, want))
    # idempotence: a second sweep with the same clock drops nothing
    assert expire_lake_partitions(spark, path, "day", ttl, now_day) == {}


def _lake_leftovers(tmp_path) -> set:
    import os

    return {n for n in os.listdir(tmp_path / "lake") if n.startswith("_") and n != "_SUCCESS"}


def test_compaction_under_file_uri(spark, tmp_path):
    """compact_lake_partitions at a ``file://`` URI: the oversplit
    partitions (the null one too) collapse to the file budget, the
    healthy one keeps its exact files, the rows are unchanged, and no
    staging or parked directory is left behind."""
    from go_otel_clickhouse_ingestor_spark.operators.formats import (
        compact_lake_partitions,
        list_partition_files,
    )

    lake = (tmp_path / "lake").as_uri()
    keys = ["a", "b", None]
    rows = spark.createDataFrame([(i, keys[i % 3]) for i in range(60)], "id long, k string")
    oversplit = F.col("k").isNull() | (F.col("k") == "a")
    rows.filter(oversplit).repartition(8).write.partitionBy("k").parquet(lake)
    rows.filter(~oversplit).coalesce(1).write.mode("append").partitionBy("k").parquet(lake)
    before = list_partition_files(lake, "k")
    assert len(before["a"]) > 2 and len(before[None]) > 2 and len(before["b"]) == 1
    want = sorted(map(tuple, spark.read.parquet(lake).collect()), key=str)

    result = compact_lake_partitions(spark, lake, "k", max_files_per_partition=2)
    assert set(result) == {"a", None}
    assert all(nb > 2 >= na for nb, na in result.values())
    after = list_partition_files(lake, "k")
    assert after["b"] == before["b"]
    assert sorted(map(tuple, spark.read.parquet(lake).collect()), key=str) == want
    assert _lake_leftovers(tmp_path) == set()


def test_ttl_expiry_under_file_uri(spark, tmp_path):
    """expire_lake_partitions at a ``file://`` URI drops exactly the
    partitions before the cutoff, keeps the others' files, and a second
    sweep drops nothing."""
    from go_otel_clickhouse_ingestor_spark.operators.formats import (
        expire_lake_partitions,
        list_partition_files,
    )

    lake = (tmp_path / "lake").as_uri()
    days = [f"2024-01-0{d}" for d in range(1, 7)]
    spark.createDataFrame(
        [(i, days[i % 6]) for i in range(24)], "id long, day string"
    ).write.partitionBy("day").parquet(lake)
    before = list_partition_files(lake, "day")

    dropped = expire_lake_partitions(spark, lake, "day", 3, "2024-01-06")  # cutoff 01-03
    assert dropped == {d: len(before[d]) for d in days[:2]}
    assert list_partition_files(lake, "day") == {d: before[d] for d in days[2:]}
    assert spark.read.parquet(lake).count() == 16
    assert _lake_leftovers(tmp_path) == set()
    assert expire_lake_partitions(spark, lake, "day", 3, "2024-01-06") == {}


def test_lttb_structural_contract(spark, sf_dir):
    """LTTB downsample: exactly n_out ordered points, endpoints
    pinned to the true series endpoints, strictly increasing day
    index, and every kept point exists in the source series with its
    exact value."""
    from go_otel_clickhouse_ingestor_spark.operators.analytics import (
        _LTTB_N_OUT,
    )

    rows = sorted(
        REGISTRY["events_lttb_downsample"].fn(spark, sf_dir).collect(),
        key=lambda r: r.rank,
    )
    # rebuild the source series directly
    from go_otel_clickhouse_ingestor_spark.tables import table as t

    ev = t(spark, sf_dir, "events")
    src = {}
    for r in (
        ev.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.sum(F.expr("cast(round(value*100) as bigint)")).alias("x"))
        .selectExpr(
            "cast(datediff(day, date'2020-01-01') as long) as t",
            "x / 100.0 as v",
        )
        .collect()
    ):
        src[r.t] = float(r.v)
    n = len(src)
    assert len(rows) == min(_LTTB_N_OUT, n)
    idxs = [r.day_index for r in rows]
    assert idxs == sorted(idxs) and len(set(idxs)) == len(idxs)
    assert idxs[0] == min(src) and idxs[-1] == max(src)
    for r in rows:
        assert abs(src[r.day_index] - r.total_value) < 1e-9


def test_multiline_logs_reassemble_per_file(spark, tmp_path):
    """The multiline-log window is partitioned by input_file_name():
    records must reassemble independently per file (records never span
    files), with no cross-file bleed of record ids — the multi-file
    landing-zone case the single-file fixture can't exercise."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    (tmp_path / "a.log").write_text(
        "evt eid=1 type=error v=1.0\n    at frame_a(eid=1)\n"
        "evt eid=2 type=click v=2.0\n"
    )
    (tmp_path / "b.log").write_text(
        "evt eid=3 type=error v=3.0\n    at frame_a(eid=3)\n"
        "    at frame_b(eid=3)\n"
    )
    # the exact stage shape source_multiline_logs runs
    raw = spark.read.text(str(tmp_path)).select(
        "value",
        F.monotonically_increasing_id().alias("line_no"),
        F.input_file_name().alias("src_file"),
    )
    is_start = (~F.col("value").startswith(" ")).cast("int")
    w = (
        Window.partitionBy("src_file")
        .orderBy("line_no")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    rec = (
        raw.select(
            "value", "line_no", "src_file",
            F.sum(is_start).over(w).alias("rec_id"),
        )
        .groupBy("src_file", "rec_id")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list("
                "struct(line_no, value))), s -> s.value), chr(10))"
            ).alias("record"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .select(
            F.regexp_extract("record", "eid=(\\d+)", 1).cast("long").alias(
                "event_id"
            ),
            "n_lines",
        )
    )
    got = {(r.event_id, r.n_lines) for r in rec.collect()}
    assert got == {(1, 2), (2, 1), (3, 3)}


def test_bmp_decoder_against_handcrafted_bytes():
    """decode_bmp parses REAL BMP bytes: a hand-assembled 2x1 24-bit
    image (bytes written out literally here, NOT via encode_bmp, so
    decoder and encoder cannot share a bug) with known pixels."""
    import struct

    from go_otel_clickhouse_ingestor_spark.operators.multimodal import (
        decode_bmp,
    )

    # 2x1, 24bpp: pixels (B,G,R) = (255,0,0) and (0,255,0); row pad 2
    row = bytes((255, 0, 0, 0, 255, 0)) + b"\x00\x00"
    hdr = b"BM" + struct.pack("<IHHI", 14 + 40 + len(row), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, 2, 1, 1, 24, 0, len(row), 0, 0, 0, 0)
    w, h, mb, mg, mr, bright = decode_bmp(hdr + dib + row)
    assert (w, h) == (2, 1)
    assert (mb, mg, mr) == (127.5 / 255.0, 127.5 / 255.0, 0.0)
    assert abs(bright - (127.5 + 127.5) / (3 * 255.0)) < 1e-12


def test_bmp_roundtrip_bottom_up_orientation():
    """encode->decode round trip, with the row flip checked: the
    bottom-up storage must come back in raster order (top row first),
    which the mean per channel alone can't see — use an asymmetric
    image and a custom probe."""
    import numpy as np
    import struct

    from go_otel_clickhouse_ingestor_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    # top row blue, bottom row red (raster coordinates)
    buf = encode_bmp(2, 2, lambda x, y: (255, 0, 0) if y == 0 else (0, 0, 255))
    w, h, mb, mg, mr, _ = decode_bmp(buf)
    assert (w, h) == (2, 2) and mb == mr == 0.5 and mg == 0.0
    # orientation probe: first stored row (bottom of file) is the red one
    data_off = struct.unpack_from("<I", buf, 10)[0]
    first_stored = buf[data_off : data_off + 3]
    assert first_stored == bytes((0, 0, 255))  # red pixel, stored first


def test_wav_decoder_against_handcrafted_bytes():
    """decode_wav parses REAL RIFF/WAVE bytes assembled literally:
    samples [16384, -16384] -> rms = 0.5 exactly, one zero crossing."""
    import struct

    from go_otel_clickhouse_ingestor_spark.operators.multimodal import (
        decode_wav,
    )

    data = struct.pack("<hh", 16384, -16384)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    buf = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    rate, n, rms, zc = decode_wav(buf)
    assert (rate, n) == (8000, 2)
    assert rms == 0.5 and zc == 1.0


def test_decode_stage_rejects_external_codec_types():
    """The codec boundary never fakes an answer: a 2-byte jpeg stub
    raises NotImplementedError where Pillow is absent (the type has no
    codec) and a context-carrying ValueError where Pillow is present
    (the type HAS a codec but the payload is garbage) — parametrized on
    availability so the suite is green in both environments (the r11
    advisor caught the unconditional NotImplementedError expectation
    going red exactly when the PIL opt-in activates)."""
    import pandas as pd
    import pytest as _pytest

    from go_otel_clickhouse_ingestor_spark.operators.multimodal import (
        _try_pil,
        decode_media_batch,
    )

    pdf = pd.DataFrame(
        {"doc_id": [1], "media_type": ["jpeg"], "payload": [b"\xff\xd8"]}
    )
    if _try_pil() is None:
        with _pytest.raises(NotImplementedError):
            decode_media_batch(pdf)
    else:
        with _pytest.raises(ValueError, match="doc_id=1"):
            decode_media_batch(pdf)


def test_decode_codecs_query_real_end_to_end(spark, sf_dir):
    """multimodal_decode_codecs: every document yields one decoded bmp
    row (real header dims) and one decoded wav row (real sample
    stats), through the production Arrow decode stage."""
    from go_otel_clickhouse_ingestor_spark.registry import load_all

    pdf = load_all()["multimodal_decode_codecs"].fn(spark, sf_dir).toPandas()
    n_docs = pdf.doc_id.nunique()
    assert len(pdf) == 2 * n_docs > 0
    bmp = pdf[pdf.media_type == "bmp"]
    wav = pdf[pdf.media_type == "wav"]
    assert ((bmp.width >= 4) & (bmp.width <= 8)).all()
    assert ((bmp.height >= 3) & (bmp.height <= 6)).all()
    assert (wav.width == 8000).all()  # sample rate from the fmt chunk
    assert ((wav.f0 > 0) & (wav.f0 < 1)).all()  # rms normalized


def test_resize_bmp_nearest_neighbor_exact():
    """resize_bmp: hand-checkable nearest-neighbor on a 4x2 image
    resized to max_side 2 -> 2x1: pixel-center sampling picks columns
    1 and 3 of row 1 exactly (x_src = round((x+0.5)*4/2 - 0.5))."""
    from go_otel_clickhouse_ingestor_spark.operators.multimodal import (
        bmp_pixels,
        encode_bmp,
        resize_bmp,
    )

    # 4x2: pixel (x,y) -> (x*10, y*10, x+y) so every pixel is unique
    src = encode_bmp(4, 2, lambda x, y: (x * 10, y * 10, x + y))
    out_buf, in_w, in_h, out_w, out_h = resize_bmp(src, 2)
    assert (in_w, in_h, out_w, out_h) == (4, 2, 2, 1)
    px = bmp_pixels(out_buf)
    # y_src = round((0+0.5)*2/1 - 0.5) = round(0.5) = 0 (banker's? numpy
    # round-half-even gives 0); x_src = round((x+0.5)*4/2 - 0.5) = {0,2}
    # -> expected pixels (0*10, 0, 0+0) and (2*10, 0, 2+0)
    assert px.shape == (1, 2, 3)
    assert px[0, 0].tolist() == [0, 0, 0]
    assert px[0, 1].tolist() == [20, 0, 2]


def test_resize_bmp_never_upscales_and_roundtrips():
    from go_otel_clickhouse_ingestor_spark.operators.multimodal import (
        bmp_pixels,
        encode_bmp,
        resize_bmp,
    )

    src = encode_bmp(5, 3, lambda x, y: (x, y, 100))
    out_buf, _, _, out_w, out_h = resize_bmp(src, 224)
    assert (out_w, out_h) == (5, 3)
    assert bmp_pixels(out_buf).tolist() == bmp_pixels(src).tolist()


def test_resize_codecs_query_geometry(spark, sf_dir):
    from go_otel_clickhouse_ingestor_spark.registry import load_all

    pdf = load_all()["multimodal_resize_codecs"].fn(spark, sf_dir).toPandas()
    assert len(pdf) > 0
    longest = pdf[["out_w", "out_h"]].max(axis=1)
    assert (longest <= 32).all()
    assert (pdf.scale <= 1.0).all()  # downscale-only
    # aspect ratio preserved to rounding
    import numpy as np

    ar_in = pdf.width / pdf.height
    ar_out = pdf.out_w / pdf.out_h
    assert (np.abs(ar_in - ar_out) <= np.maximum(ar_in, ar_out) * 0.12).all()


def test_audio_frame_features_hand_computed():
    """_audio_features_iter: a hand-built WAV of 240 samples gives
    exactly two 160-sample frames at hop 80 with hand-computable RMS:
    constant amplitude A -> rms = A/32768 exactly."""
    import pandas as pd

    from go_otel_clickhouse_ingestor_spark.operators.multimodal import (
        _audio_features_iter,
        encode_wav,
    )

    wav = encode_wav(8000, [16384] * 240)  # constant, no zero crossings
    out = pd.concat(
        list(_audio_features_iter(iter([pd.DataFrame(
            {"doc_id": [7], "payload": [wav]}
        )])))
    )
    assert list(out.frame_idx) == [0, 1]
    assert list(out.offset_samples) == [0, 80]
    assert (out.rms == 0.5).all() and (out.zcr == 0.0).all()


def test_audio_features_query_grid_matches_oracle_formula(spark, sf_dir):
    """The real-PCM frame grid must follow the same 20 ms / 10 ms
    formula multimodal_audio_frames oracle-checks: n_frames =
    1 + (n_samples - 160) // 80."""
    from go_otel_clickhouse_ingestor_spark.registry import load_all

    pdf = (
        load_all()["multimodal_audio_features_codecs"]
        .fn(spark, sf_dir)
        .toPandas()
    )
    fc = pdf.groupby("doc_id").frame_idx.max() + 1
    for d, n_frames in fc.items():
        n = 320 + (int(d) * 13) % 512
        assert n_frames == 1 + (n - 160) // 80
    assert ((pdf.rms >= 0) & (pdf.rms <= 1) & (pdf.zcr >= 0) & (pdf.zcr <= 1)).all()


def test_phash_near_dup_planted_pairs(spark, sf_dir):
    """multimodal_phash_near_dup: every planted 2-pixel-perturbed pair
    (doc_id ≡ 1 mod 5 repeats doc_id−1's image) is recovered (recall
    1.0) at Hamming ≤ 2, NO unplanted pair passes the threshold
    (precision 1.0 on decorrelated noise images), and the whole
    pipeline — real BMP encode → decode → DCT pHash → banded join →
    popcount verify — is rerun-deterministic."""
    import duckdb

    from go_otel_clickhouse_ingestor_spark.registry import load_all

    fn = load_all()["multimodal_phash_near_dup"].fn
    rows = fn(spark, sf_dir).collect()
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in rows}
    n_docs = duckdb.sql(
        f"select count(*) from '{sf_dir}/documents.parquet'"
    ).fetchone()[0]
    want = {(i - 1, i) for i in range(n_docs) if i % 5 == 1}
    assert want, "fixture too small to plant pairs"
    assert set(pairs) == want, (
        f"recall {len(set(pairs) & want)}/{len(want)}, "
        f"false positives {sorted(set(pairs) - want)[:5]}"
    )
    assert max(pairs.values()) <= 2, "perturbation moved too many bits"
    rows2 = fn(spark, sf_dir).collect()
    assert {(r.doc_a, r.doc_b, r.hamming) for r in rows2} == {
        (r.doc_a, r.doc_b, r.hamming) for r in rows
    }


def test_phash_kernel_properties():
    """phash64 unit properties on hand-built BMPs: identical images
    hash identically; a 2-pixel nudge moves ≤ 4 bits; inverting the
    image moves ~half the bits (the hash actually depends on content)."""
    from go_otel_clickhouse_ingestor_spark.operators.multimodal import (
        encode_bmp,
        phash64,
    )

    def noise(x, y):
        v = (x + 131 * y) & 0xFFFFFFFF
        v = (v * 2654435761) & 0xFFFFFFFF
        v ^= v >> 15
        return (v % 256, (v >> 8) % 256, (v >> 16) % 256)

    base = encode_bmp(48, 40, noise)
    assert phash64(base) == phash64(encode_bmp(48, 40, noise))

    def nudged(x, y):
        b, g, r = noise(x, y)
        if (x, y) in ((0, 0), (47, 39)):
            b = (b + 8) % 256
        return (b, g, r)

    m = (1 << 64) - 1
    d_small = bin((phash64(base) ^ phash64(encode_bmp(48, 40, nudged))) & m).count("1")
    assert d_small <= 4

    def inverted(x, y):
        b, g, r = noise(x, y)
        return (255 - b, 255 - g, 255 - r)

    d_big = bin((phash64(base) ^ phash64(encode_bmp(48, 40, inverted))) & m).count("1")
    assert d_big >= 16


def test_wav_vad_matches_sequential_reference(spark, sf_dir):
    """multimodal_wav_vad: the Arrow kernel's segments equal the
    pure-python sequential reference (vad_segments) run on the same
    decoded samples, every doc recovers exactly doc_id % 3 planted
    bursts, and all-silence docs emit nothing."""
    from collections import Counter

    import duckdb

    from go_otel_clickhouse_ingestor_spark.operators.multimodal import (
        _synth_speech_wav_iter,
        vad_segments,
        wav_samples,
    )
    from go_otel_clickhouse_ingestor_spark.registry import load_all

    rows = load_all()["multimodal_wav_vad"].fn(spark, sf_dir).collect()
    got = {}
    for r in rows:
        got.setdefault(r.doc_id, []).append(
            (r.seg_start, r.seg_end, r.n_frames, r.peak_energy)
        )
    n_docs = duckdb.sql(
        f"select count(*) from '{sf_dir}/documents.parquet'"
    ).fetchone()[0]
    per_doc = Counter(r.doc_id for r in rows)
    assert all(per_doc.get(d, 0) == d % 3 for d in range(n_docs))

    import pandas as pd

    sample_ids = [0, 1, 2, 7, 11, 29, 100, 101, 102]
    pdf = pd.DataFrame({"doc_id": [d for d in sample_ids if d < n_docs]})
    for out in _synth_speech_wav_iter(iter([pdf])):
        for doc_id, payload in zip(out["doc_id"], out["payload"]):
            _, samples = wav_samples(bytes(payload))
            want = [
                (s, e, n, round(p, 4))
                for s, e, n, p in vad_segments(samples.astype(int).tolist())
            ]
            assert got.get(int(doc_id), []) == want, f"doc {doc_id}"


def test_jaccard_link_prediction_lsh_recall_vs_exact(spark, sf_dir):
    """The LSH-banded link-prediction path must recover the exact
    wedge join's top-20 pairs (SURVEY §2: the exact form is this
    path's oracle).  Verification inside the LSH path is exact, so
    every recovered pair must also carry identical n_common/jaccard."""
    from go_otel_clickhouse_ingestor_spark.operators.graph import (
        graph_jaccard_link_prediction,
        graph_jaccard_link_prediction_lsh,
    )

    exact = {
        (r.node_a, r.node_b): (r.n_common, r.jaccard)
        for r in graph_jaccard_link_prediction(spark, sf_dir).collect()
    }
    approx = {
        (r.node_a, r.node_b): (r.n_common, r.jaccard)
        for r in graph_jaccard_link_prediction_lsh(spark, sf_dir).collect()
    }
    assert exact, "exact top-k empty — fixture too small"
    hit = set(exact) & set(approx)
    recall = len(hit) / len(exact)
    assert recall >= 0.9, f"LSH link-prediction recall {recall:.2f}"
    for pair in hit:
        assert approx[pair] == exact[pair], (
            f"LSH verify drifted from exact for {pair}: "
            f"{approx[pair]} != {exact[pair]}"
        )


def test_pil_decode_optin_when_importable(spark):
    """Optional-dependency codec path: where Pillow is importable the
    jpeg/png types decode through the SAME Arrow stage as bmp (same
    DECODE_SCHEMA, same channel-mean features); where it is absent
    this test skips and the types keep raising NotImplementedError
    (the rejection test above pins whichever branch this environment
    is in)."""
    import pytest

    pytest.importorskip("PIL")
    import io

    import pandas as pd
    from PIL import Image

    from go_otel_clickhouse_ingestor_spark.operators.multimodal import (
        decode_media_batch,
    )

    img = Image.new("RGB", (8, 4), (255, 0, 0))  # pure red
    out = {}
    for fmt, media in (("PNG", "png"), ("JPEG", "jpeg")):
        b = io.BytesIO()
        img.save(b, fmt)
        out[media] = b.getvalue()
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "media_type": ["png", "jpeg"],
            "payload": [out["png"], out["jpeg"]],
        }
    )
    res = decode_media_batch(pdf).set_index("media_type")
    for media in ("png", "jpeg"):
        r = res.loc[media]
        assert (r.width, r.height) == (8, 4)
        # red image: mean_r (f2) high, mean_b (f0) / mean_g (f1) low
        # (JPEG is lossy, so bounds not equalities)
        assert r.f2 > 0.9 and r.f0 < 0.1 and r.f1 < 0.1
        assert abs(r.f3 - (r.f0 + r.f1 + r.f2) / 3) < 1e-9


def test_fuzzy_levenshtein_planted_recall(spark, sf_dir):
    """Every dirty probe (its entity's name with one character
    deleted) must match back to its own source entity at distance
    exactly 1 — the prefix filter may not drop a planted true match,
    and the deletion construction guarantees dist(probe, source) = 1."""
    from go_otel_clickhouse_ingestor_spark.operators.dedup import (
        dedup_fuzzy_levenshtein,
    )
    from go_otel_clickhouse_ingestor_spark.tables import table

    n_entities = (
        table(spark, sf_dir, "part").select("p_name").distinct().count()
    )
    rows = dedup_fuzzy_levenshtein(spark, sf_dir).collect()
    self_hits = {
        r.probe_key for r in rows if r.probe_key == r.match_key and r.dist == 1
    }
    assert len(self_hits) == n_entities, (
        f"prefix filter dropped planted matches: "
        f"{len(self_hits)}/{n_entities}"
    )


def test_near_incremental_matches_exact_batch_vs_corpus(spark, sf_dir):
    """dedup_near_incremental's LSH-fed decisions must equal the EXACT
    batch×corpus best matches (full 3-gram Jaccard ≥ 0.3, best by
    (jaccard desc, corpus_doc asc)), computed independently in DuckDB —
    end-to-end recall 1.0 on the fixture's planted near-dups, the
    dedup_near_e2e evidence standard applied to the incremental face."""
    import duckdb

    got = {
        r.doc_id: (r.matched_doc, r.jaccard_sim, r.is_new)
        for r in load_all()["dedup_near_incremental"].fn(spark, sf_dir).collect()
    }

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    want_rows = con.execute("""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                            for i in range(1, greatest(len(toks) - 1, 1))]) AS grams
      FROM tok
    ),
    e AS (SELECT doc_id, unnest(grams) AS g FROM sh),
    inter AS (
      SELECT b.doc_id AS batch_doc, c.doc_id AS corpus_doc, count(*) AS n_common
      FROM e b JOIN e c ON b.g = c.g
      WHERE b.doc_id % 10 >= 8 AND c.doc_id % 10 < 8
      GROUP BY 1, 2
    ),
    sz AS (SELECT doc_id, len(grams) AS s FROM sh),
    scored AS (
      SELECT batch_doc, corpus_doc,
             round(n_common * 1.0 / (sb.s + sc.s - n_common), 6) AS jac
      FROM inter
      JOIN sz sb ON batch_doc = sb.doc_id
      JOIN sz sc ON corpus_doc = sc.doc_id
      WHERE n_common * 1.0 / (sb.s + sc.s - n_common) >= 0.3
    ),
    best AS (
      SELECT batch_doc, corpus_doc, jac,
             row_number() OVER (PARTITION BY batch_doc
                                ORDER BY jac DESC, corpus_doc) AS rk
      FROM scored
    )
    SELECT d.doc_id, b.corpus_doc, b.jac
    FROM documents d
    LEFT JOIN best b ON b.batch_doc = d.doc_id AND b.rk = 1
    WHERE d.doc_id % 10 >= 8
    """).fetchall()
    want = {
        did: (md, jac, md is None) for did, md, jac in want_rows
    }
    assert set(got) == set(want)
    n_matched = sum(1 for v in want.values() if v[0] is not None)
    assert n_matched > 0, "fixture has no planted batch-vs-corpus near-dups"
    for did, (md, jac, new) in want.items():
        gmd, gjac, gnew = got[did]
        assert gnew == new and gmd == md, (did, got[did], want[did])
        if jac is not None:
            assert abs(gjac - jac) < 1e-6, (did, gjac, jac)


def test_near_index_maintained_two_batch(spark, sf_dir, tmp_path):
    """The maintained near-dup index's two-batch contract (VERDICT r14
    #3): build the index from the corpus split, probe batch 1, APPEND
    batch 1's bands/grams (the O(batch) maintenance step — exactly
    12·|batch| band rows and |batch| gram rows are written, the corpus
    is never re-signatured), then probe batch 2 against the UPDATED
    index and require its decisions to equal the exact 3-gram-Jaccard
    best matches over corpus ∪ batch1, recomputed independently in
    DuckDB — the dedup_near_e2e evidence standard applied to the
    maintenance mechanics."""
    import duckdb

    from go_otel_clickhouse_ingestor_spark.operators.dedup import (
        _near_sigs,
        materialized,
        near_index_probe,
        near_index_write,
    )
    from go_otel_clickhouse_ingestor_spark.tables import table

    d = table(spark, sf_dir, "documents")
    path = str(tmp_path / "near_index")
    near_index_write(
        materialized(_near_sigs(d.filter(F.col("doc_id") % 10 < 8))), path
    )
    n_bands0 = spark.read.parquet(f"{path}/bands").count()
    n_grams0 = spark.read.parquet(f"{path}/grams").count()

    b1 = d.filter(F.col("doc_id") % 10 == 8)
    dec1, sig1 = near_index_probe(spark, path, b1)
    assert dec1.count() == b1.count()  # act on batch 1's decisions...
    near_index_write(sig1, path, mode="append")  # ...then maintain

    # O(batch) maintenance: the append wrote exactly batch 1's rows
    n_b1 = b1.count()
    assert spark.read.parquet(f"{path}/bands").count() - n_bands0 == 12 * n_b1
    assert spark.read.parquet(f"{path}/grams").count() - n_grams0 == n_b1

    # batch 2 PLANTS near-dups of batch 1 (doc_id + 10M, a short token
    # tail appended): its best matches MUST resolve into the rows the
    # append just wrote — a batch 2 that only matched the original
    # corpus would never prove the maintenance step worked.  Written to
    # parquet so Spark and the DuckDB recompute read identical bytes.
    b2_path = str(tmp_path / "batch2.parquet")
    b1.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qq zz qq")).alias("text"),
    ).write.parquet(b2_path)
    dec2, _sig2 = near_index_probe(spark, path, spark.read.parquet(b2_path))
    got = {
        r.doc_id: (r.matched_doc, r.jaccard_sim, r.is_new)
        for r in dec2.collect()
    }

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW corpus AS SELECT doc_id, text FROM "
        f"read_parquet('{sf_dir}/documents.parquet') WHERE doc_id % 10 <= 8"
    )
    con.execute(
        f"CREATE VIEW batch2 AS SELECT doc_id, text FROM "
        f"read_parquet('{b2_path}/*.parquet')"
    )
    want_rows = con.execute("""
    WITH docs AS (
      SELECT doc_id, text FROM corpus UNION ALL SELECT doc_id, text FROM batch2
    ),
    tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks
      FROM docs
    ),
    sh AS (
      SELECT doc_id,
             list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                            for i in range(1, greatest(len(toks) - 1, 1))]) AS grams
      FROM tok
    ),
    e AS (SELECT doc_id, unnest(grams) AS g FROM sh),
    inter AS (
      SELECT b.doc_id AS batch_doc, c.doc_id AS corpus_doc, count(*) AS n_common
      FROM e b JOIN e c ON b.g = c.g
      WHERE b.doc_id >= 10000000 AND c.doc_id < 10000000
      GROUP BY 1, 2
    ),
    sz AS (SELECT doc_id, len(grams) AS s FROM sh),
    scored AS (
      SELECT batch_doc, corpus_doc,
             round(n_common * 1.0 / (sb.s + sc.s - n_common), 6) AS jac
      FROM inter
      JOIN sz sb ON batch_doc = sb.doc_id
      JOIN sz sc ON corpus_doc = sc.doc_id
      WHERE n_common * 1.0 / (sb.s + sc.s - n_common) >= 0.3
    ),
    best AS (
      SELECT batch_doc, corpus_doc, jac,
             row_number() OVER (PARTITION BY batch_doc
                                ORDER BY jac DESC, corpus_doc) AS rk
      FROM scored
    )
    SELECT d.doc_id, b.corpus_doc, b.jac
    FROM batch2 d
    LEFT JOIN best b ON b.batch_doc = d.doc_id AND b.rk = 1
    """).fetchall()
    want = {did: (md, jac, md is None) for did, md, jac in want_rows}
    assert set(got) == set(want)
    n_cross = sum(1 for v in want.values() if v[0] is not None)
    assert n_cross > 0, "no batch2 near-dups planted against corpus ∪ batch1"
    # at least one batch-2 doc must match INTO batch 1 (doc_id % 10 == 8)
    # — otherwise the test never exercises the appended index rows
    assert any(
        v[0] is not None and v[0] % 10 == 8 for v in want.values()
    ), "no batch2→batch1 match: the appended rows were never probed"
    for did, (md, jac, new) in want.items():
        gmd, gjac, gnew = got[did]
        assert gnew == new and gmd == md, (did, got[did], want[did])
        if jac is not None:
            assert abs(gjac - jac) < 1e-6, (did, gjac, jac)


def test_decontaminate_near_lsh_matches_exact(spark, sf_dir):
    """decontaminate_near_lsh's LSH-fed flag set must equal the EXACT
    train×eval whole-document Jaccard ≥ 0.3 matches (best eval match by
    jaccard desc, eval_doc asc; n_eval_matches the full count),
    recomputed independently in DuckDB — the near-dup evidence
    standard applied to the decontamination tier."""
    import duckdb

    got = {
        r.doc_id: (r.matched_eval_doc, r.jaccard_sim, r.n_eval_matches)
        for r in load_all()["decontaminate_near_lsh"].fn(spark, sf_dir).collect()
    }

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    want_rows = con.execute("""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                            for i in range(1, greatest(len(toks) - 1, 1))]) AS grams
      FROM tok
    ),
    e AS (SELECT doc_id, unnest(grams) AS g FROM sh),
    inter AS (
      SELECT t.doc_id AS train_doc, v.doc_id AS eval_doc, count(*) AS n_common
      FROM e t JOIN e v ON t.g = v.g
      WHERE t.doc_id % 20 <> 0 AND v.doc_id % 20 = 0
      GROUP BY 1, 2
    ),
    sz AS (SELECT doc_id, len(grams) AS s FROM sh),
    scored AS (
      SELECT train_doc, eval_doc,
             round(n_common * 1.0 / (st.s + se.s - n_common), 6) AS jac
      FROM inter
      JOIN sz st ON train_doc = st.doc_id
      JOIN sz se ON eval_doc = se.doc_id
      WHERE n_common * 1.0 / (st.s + se.s - n_common) >= 0.3
    )
    ,ranked AS (
      SELECT *, row_number() OVER (PARTITION BY train_doc
                                   ORDER BY jac DESC, eval_doc ASC) AS rk,
             count(*) OVER (PARTITION BY train_doc) AS n_eval_matches
      FROM scored
    )
    SELECT train_doc, eval_doc AS matched_eval_doc, jac AS jaccard_sim,
           n_eval_matches
    FROM ranked WHERE rk = 1
    """).fetchall()
    want = {td: (md, jac, n) for td, md, jac, n in want_rows}
    assert want, "fixture has no planted train-vs-eval near-dups"
    assert set(got) == set(want), (
        set(got) ^ set(want),
        "flag sets differ",
    )
    for td, (md, jac, n) in want.items():
        gmd, gjac, gn = got[td]
        assert (gmd, gn) == (md, n), (td, got[td], want[td])
        assert abs(gjac - jac) < 1e-6, (td, gjac, jac)


def test_connected_components_multi_task_forest(spark, monkeypatch):
    """r16 CC internals: force the MULTI-TASK union-find branch
    (n_tasks > 1 → star forests + min-label propagation over them) on a
    39-hop chain — long enough that several propagate rounds must run —
    plus a cycle and an edge-free node, and pin label equality with the
    known component minima (the single-task branch is covered by
    ``test_connected_components_chain_cycle_singleton`` and the oracle
    differential)."""
    from go_otel_clickhouse_ingestor_spark.operators import graph as g

    n = 40
    chain = [(i, i + 1) for i in range(n - 1)]  # diameter 39
    cyc = [(100, 101), (101, 102), (102, 100)]
    edges = spark.createDataFrame(chain + cyc, "src long, dst long")
    nodes = spark.createDataFrame(
        [(i,) for i in range(n)] + [(100,), (101,), (102,), (999,)], "node long"
    )
    monkeypatch.setattr(g, "_CC_UF_EDGES_PER_TASK", 8)
    got = {r.node: r.label for r in g.connected_components(nodes, edges).collect()}
    want = {i: 0 for i in range(n)}
    want.update({100: 100, 101: 100, 102: 100, 999: 999})
    assert got == want


def test_ann_index_build_stats_row(spark, sf_dir):
    """r16 (verdict ask #1): the BUILD half of the lake lifecycle is a
    timed query — its stats must describe a real, complete index: one
    posting per corpus vector, one centroid per posting cell, M×K
    codebook rows."""
    from go_otel_clickhouse_ingestor_spark.operators import similarity as s
    from go_otel_clickhouse_ingestor_spark.tables import table

    stats = {
        r.artifact: r for r in REGISTRY["sim_ann_index_build"].fn(spark, sf_dir).collect()
    }
    n = table(spark, sf_dir, "embeddings").count()
    assert stats["postings"].n_rows == n
    assert stats["centroids"].n_rows == stats["postings"].n_cells
    assert stats["codebooks"].n_rows == s._PQ_M * s._PQ_K


def test_ann_index_build_stats_survive_the_next_build(spark, sf_dir):
    """The returned stats are pinned, not a lazy scan of the scratch
    directory: holding one result across the next invocation (which
    builds into a fresh directory) must still collect the same rows."""
    fn = REGISTRY["sim_ann_index_build"].fn
    first = fn(spark, sf_dir)
    second = sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert sorted(map(tuple, first.collect())) == second


def test_ann_index_build_and_probe_under_file_uri(spark, sf_dir, tmp_path, monkeypatch):
    """An index path given as a ``file://`` URI builds and serves the
    same answers as the plain path, and leaves nothing in the cwd."""
    from go_otel_clickhouse_ingestor_spark.operators import similarity as S
    from go_otel_clickhouse_ingestor_spark.tables import table

    monkeypatch.chdir(tmp_path)
    e = table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    plain = str(tmp_path / "plain")
    uri = (tmp_path / "uri").as_uri()
    got = {}
    for path in (plain, uri):
        S.ann_index_build(spark, e, path)
        got[path] = sorted(map(tuple, S.ann_index_probe(spark, path, e).collect()))
    assert got[plain] and got[uri] == got[plain]
    assert (tmp_path / "uri" / "codebooks" / "part-00000.parquet").is_file()
    assert sorted(p.name for p in tmp_path.iterdir()) == ["plain", "uri"]


def test_mrl_zero_norm_prefix_ranks_last(spark):
    """r15 ADVICE: a zero-norm embedding PREFIX must score -inf (ranks
    last under the desc window, as the replaced JVM Divide's NULL did)
    — numpy division alone would yield NaN, which Spark sorts ABOVE
    every real cosine."""
    import numpy as np
    import pandas as pd

    from go_otel_clickhouse_ingestor_spark.operators.dedup import tracked_broadcast
    from go_otel_clickhouse_ingestor_spark.operators.similarity import (
        _mrl_score_batches,
    )

    bc = tracked_broadcast(spark, [(0, [1.0] * 64)])
    emb = np.zeros(64)
    emb[32] = 1.0  # widths 8/16/32 are zero-norm prefixes; 64 is not
    pdf = pd.DataFrame({"vec_id": [5], "embedding": [emb.tolist()]})
    out = pd.concat(list(_mrl_score_batches(bc)(iter([pdf]))))
    byd = {int(r.d): r.c for r in out.itertuples()}
    assert byd[8] == float("-inf")
    assert byd[16] == float("-inf")
    assert byd[32] == float("-inf")
    assert np.isfinite(byd[64])
