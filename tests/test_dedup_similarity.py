"""Dedup + similarity + multimodal semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from executor_u1mindexer_spark import plans, tables
from executor_u1mindexer_spark.operators import dedup as D
from executor_u1mindexer_spark.operators import knn, multimodal as MM
from executor_u1mindexer_spark.operators import similarity as S
from executor_u1mindexer_spark.suites import dedup_suite, similarity_suite


def test_exact_dedup_collapses_injected_dups(spark, sf_dir):
    out = dedup_suite.exact_dedup_text(spark, sf_dir).collect()
    n_docs = tables.load(spark, sf_dir, "documents").count()
    assert len(out) == n_docs  # every survivor is an original
    dup_groups = [r for r in out if r.n_copies == 2]
    assert len(dup_groups) == dedup_suite.N_DUP
    assert all(r.keep_id < dedup_suite.DUP_OFFSET for r in out)  # lowest id wins


def test_minhash_pairs_are_high_jaccard(spark, sf_dir):
    rows = dedup_suite.near_dedup_minhash_lsh(spark, sf_dir).collect()
    assert len(rows) > 0
    assert all(r.jaccard >= 0.5 and r.id_a < r.id_b for r in rows)


def test_minhash_arrow_and_catalyst_signatures_identical(spark, sf_dir):
    docs = tables.load(spark, sf_dir, "documents")
    arrow = {r.id: r.sig for r in D.minhash_signatures_arrow(docs).collect()}
    catalyst = {
        r.id: r.sig
        for r in docs.select(
            F.col("doc_id").alias("id"), D.minhash_signature("text").alias("sig")
        ).collect()
    }
    assert arrow == catalyst


def test_simhash_arrow_matches_expression(spark, sf_dir):
    docs = tables.load(spark, sf_dir, "documents")
    arrow = {r.id: r.simhash for r in D.simhash32_arrow(docs).collect()}
    expr = {
        r.doc_id: r.simhash
        for r in docs.select("doc_id", D.simhash32("text").alias("simhash")).collect()
    }
    assert arrow == {k: v for k, v in expr.items()}


def test_simhash_pairs_within_hamming(spark, sf_dir):
    rows = dedup_suite.near_dedup_simhash(spark, sf_dir).collect()
    assert len(rows) > 0
    assert all(r.hamming <= 3 and r.id_a < r.id_b for r in rows)


def test_partitioned_topk_equals_catalyst_knn(spark, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    exact = {
        (r.query_id, r.rank): r.vec_id
        for r in knn.knn_search(emb, q, k=5, metric="cosine").collect()
    }
    part = {
        (r.query_id, r.rank): r.vec_id
        for r in similarity_suite.ann_partitioned_topk(spark, sf_dir).collect()
    }
    assert part == exact  # numpy kernel + merge reproduces the Catalyst ranking


def test_bucketed_search_is_subset_of_corpus(spark, sf_dir):
    rows = similarity_suite.ann_ivf_label_topk(spark, sf_dir).collect()
    emb = {r.vec_id: r.label for r in tables.load(spark, sf_dir, "embeddings").collect()}
    for r in rows:
        assert emb[r.vec_id] == emb[r.query_id]  # match stayed in the query's cell


def test_dedup_clusters_chain_quality_and_singletons(spark):
    """A 4-node chain (1-2, 2-3, 3-4) must collapse to ONE cluster labeled
    by its min id even though the diameter (3) exceeds one propagation hop;
    the canonical doc is the highest-quality member (ties lowest id);
    unpaired docs come back as singleton canonicals. A 10-doc pair chain
    (diameter 9) must also come back whole, as one cluster with id 0."""
    docs = spark.createDataFrame(
        [(i, q) for i, q in [(1, 10), (2, 99), (3, 10), (4, 10), (7, 5)]],
        "doc_id long, n_chars long",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "id_a long, id_b long")
    rows = {
        r.doc_id: r
        for r in D.dedup_clusters(docs, pairs, quality_col="n_chars").collect()
    }
    assert {rows[i].cluster_id for i in (1, 2, 3, 4)} == {1}
    assert all(rows[i].cluster_size == 4 for i in (1, 2, 3, 4))
    assert [i for i in (1, 2, 3, 4) if rows[i].is_canonical] == [2]  # best quality
    assert rows[7].cluster_id == 7 and rows[7].cluster_size == 1 and rows[7].is_canonical

    docs = spark.createDataFrame([(i, 1) for i in range(10)], "doc_id long, n_chars long")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(9)], "id_a long, id_b long")
    rows = D.dedup_clusters(docs, pairs, quality_col="n_chars").collect()
    assert {r.cluster_id for r in rows} == {0}
    assert all(r.cluster_size == 10 for r in rows)


def test_dedup_clusters_no_pairs_all_singletons(spark):
    docs = spark.createDataFrame([(i, 1) for i in range(5)], "doc_id long, n_chars long")
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    rows = D.dedup_clusters(docs, pairs, quality_col="n_chars").collect()
    assert len(rows) == 5
    assert all(r.cluster_id == r.doc_id and r.is_canonical for r in rows)


def test_kmeans_ivf_self_match_first(spark, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % similarity_suite.QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    rows = S.kmeans_ivf_topk(emb, q, k=similarity_suite.K).collect()
    assert len(rows) > 0
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, matches in by_q.items():
        first = min(matches, key=lambda r: r.rank)
        assert first.vec_id == qid  # a query is always in its own cell
        assert len({r.cell for r in matches}) <= 2  # nprobe=2 cells max


def test_binary_metadata_shapes(spark, sf_dir):
    out = MM.extract_binary_metadata(
        MM.attach_fake_binary(tables.load(spark, sf_dir, "documents"))
    )
    rows = out.collect()
    assert all(r.n_bytes == 16 and 1 <= r.fake_width <= 64 for r in rows)


def test_range_search_radius_zero_returns_only_self(spark, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    q = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    rows = S.range_search(emb, q, 1e-12, metric="cosine").collect()
    # each query matches exactly itself (cosine dist 0), nothing else
    assert sorted((r.query_id, r.vec_id) for r in rows) == sorted(
        (r.query_id, r.query_id) for r in q.collect()
    )
    assert all(abs(r.dist) < 1e-9 for r in rows)


def test_label_centroids_mean_and_counts(spark):
    df = spark.createDataFrame(
        [
            ("a", [1.0, 3.0]),
            ("a", [3.0, 5.0]),
            ("b", [10.0, -2.0]),
        ],
        "label string, embedding array<double>",
    )
    got = {(r.label, r.dim): (r.centroid, r.n_vectors) for r in S.label_centroids(df).collect()}
    assert got == {
        ("a", 1): (2.0, 2),
        ("a", 2): (4.0, 2),
        ("b", 1): (10.0, 1),
        ("b", 2): (-2.0, 1),
    }


def test_product_quantize_recovers_clustered_data(spark):
    # two tight clusters per subspace -> codebook centers land on them and
    # reconstruction error collapses to ~0
    rows = []
    for i in range(64):
        base = 1.0 if i % 2 == 0 else -1.0
        rows.append((i, [base] * 8))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = S.product_quantize(df, m=2, n_codes=2).collect()
    assert len(out) == 64
    for r in out:
        assert len(r.codes) == 2
        assert all(0 <= c < 2 for c in r.codes)
        assert r.recon_err < 1e-12
        assert abs(r.sq_norm - 8.0) < 1e-9
    # the two input patterns map to distinct code words
    pats = {tuple(r.codes) for r in out}
    assert len(pats) == 2


def test_fit_sample_bounded_and_deterministic(spark):
    df = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3)]) for i in range(500)],
        "vec_id long, embedding array<double>",
    )
    a = S.fit_sample(df, "vec_id", cap=50)
    assert a.count() == 50
    # deterministic under repartitioning: same ids, same content
    b = S.fit_sample(df.repartition(7), "vec_id", cap=50)
    assert sorted(r.vec_id for r in a.collect()) == sorted(r.vec_id for r in b.collect())
    # bounded plan: TakeOrderedAndProject, not a full global sort
    assert "TakeOrderedAndProject" in [n.name for n in plans.nodes(a)]


def test_quantizers_fit_on_bounded_sample(spark, sf_dir):
    # cap far below the corpus size: results must still satisfy the
    # operator contracts (the fit input is a sample, the TRANSFORM covers
    # everything)
    emb = tables.load(spark, sf_dir, "embeddings")
    n = emb.count()
    cap = 32
    assert n > cap
    q = emb.filter(F.col("vec_id") % similarity_suite.QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    ivf = S.kmeans_ivf_topk(emb, q, k=3, fit_sample_cap=cap).collect()
    by_q = {}
    for r in ivf:
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == q.count()
    for qid, matches in by_q.items():
        assert min(matches, key=lambda r: r.rank).vec_id == qid
        assert len({r.cell for r in matches}) <= 2  # nprobe=2 cells max
    pq = S.product_quantize(emb, fit_sample_cap=cap)
    assert pq.count() == n  # every corpus vector encoded despite sampled fit


def test_product_quantize_rejects_indivisible_dim(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="not divisible"):
        S.product_quantize(df, m=2, n_codes=2)


def test_ivf_pq_topk_contract(spark, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % similarity_suite.QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    rows = S.ivf_pq_topk(emb, q, k=3).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == q.count()
    for qid, matches in by_q.items():
        assert len(matches) == 3
        assert len({r.cell for r in matches}) <= 2  # multi-probe (nprobe=2) IVF contract survives PQ
        assert all(r.adc_dist >= 0 for r in matches)
        # ranks are dense 1..k and ordered by adc distance
        ranked = sorted(matches, key=lambda r: r.rank)
        assert [r.rank for r in ranked] == [1, 2, 3]
        assert all(a.adc_dist <= b.adc_dist for a, b in zip(ranked, ranked[1:]))


def test_hnsw_kernel_recall_determinism_selfmatch():
    """The pure-numpy HNSW (operators/hnsw.py): high recall vs exact on
    random vectors, bit-identical results under input permutation (the
    determinism hnswlib does not give), and guaranteed self-match."""
    import numpy as np

    from executor_u1mindexer_spark.operators.hnsw import HNSW

    rng = np.random.RandomState(3)
    n, d, k = 600, 32, 10
    vecs = rng.randn(n, d)
    ids = np.arange(n) * 7  # non-contiguous external ids
    idx = HNSW(d, metric="cosine", m=16, ef_construction=100).build(ids, vecs)

    vn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    hits = 0
    for qi in range(0, n, 30):
        q = vecs[qi]
        exact = np.argsort(1.0 - vn @ (q / np.linalg.norm(q)), kind="stable")[:k]
        got, dists = idx.search(q, k, ef=50)
        hits += len(set(ids[exact]) & set(got))
        assert got[0] == ids[qi] and dists[0] <= 1e-12  # self at rank 1
        assert list(dists) == sorted(dists)
    assert hits >= 0.9 * k * len(range(0, n, 30))

    perm = rng.permutation(n)
    idx2 = HNSW(d, metric="cosine", m=16, ef_construction=100).build(ids[perm], vecs[perm])
    for qi in range(0, n, 60):
        a_ids, a_d = idx.search(vecs[qi], k)
        b_ids, b_d = idx2.search(vecs[qi], k)
        assert np.array_equal(a_ids, b_ids) and np.allclose(a_d, b_d)


def test_hnsw_kernel_l2_and_ip_metrics():
    import numpy as np

    from executor_u1mindexer_spark.operators.hnsw import HNSW

    rng = np.random.RandomState(9)
    n, d = 200, 16
    vecs = rng.randn(n, d)
    ids = np.arange(n)
    for metric, score in (
        ("l2", lambda q: ((vecs - q) ** 2).sum(axis=1)),
        ("ip", lambda q: 1.0 - vecs @ q),
    ):
        idx = HNSW(d, metric=metric, m=8, ef_construction=64).build(ids, vecs)
        q = vecs[17]
        got, dists = idx.search(q, 5, ef=40)
        exact = np.argsort(score(q), kind="stable")[:5]
        assert len(set(exact) & set(got)) >= 4
        # reference metric semantics: squared L2 / 1 - <a,b>
        assert abs(dists[0] - score(q)[got[0]]) < 1e-9


def test_hnsw_partitioned_topk_contract(spark, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % similarity_suite.QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    rows = S.hnsw_partitioned_topk(emb, q, k=3).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == q.count()
    for qid, matches in by_q.items():
        ranked = sorted(matches, key=lambda r: r.rank)
        assert [r.rank for r in ranked] == [1, 2, 3]
        assert all(a.dist <= b.dist for a, b in zip(ranked, ranked[1:]))
        assert ranked[0].vec_id == qid and ranked[0].dist <= 1e-12  # self-match


def test_hnsw_c_and_python_kernels_bit_identical():
    """The r06 C kernel (same OpenBLAS, same batch shapes, same
    alignment) must produce EXACTLY the Python kernel's graph and search
    results — the bit-identity contract hnsw.py documents. dim=24 keeps
    vector rows at varying 64-byte alignment (the measured dgemv
    sensitivity), so this also pins the aligned-gather engineering."""
    import numpy as np

    from executor_u1mindexer_spark.operators.hnsw import HNSW, _load_ckernel

    if _load_ckernel() is None:
        pytest.skip("no C compiler in this environment")
    rng = np.random.RandomState(21)
    n, d = 1200, 24
    vecs = rng.randn(n, d)
    ids = np.arange(n, dtype=np.int64) * 5 + 3
    for metric in ("cosine", "ip"):
        hc = HNSW(d, metric=metric, m=12, ef_construction=80).build(ids, vecs)
        hp = HNSW(d, metric=metric, m=12, ef_construction=80, use_ckernel=False).build(
            ids, vecs
        )
        assert hc._built_with_c and not hp._built_with_c
        assert hc.levels == hp.levels
        assert hc.entry == hp.entry and hc.max_level == hp.max_level
        assert hc.neighbors == hp.neighbors
        q = rng.randn(25, d)
        rc = hc.search_batch(q, 7, ef=40)
        rp = hp.search_batch(q, 7, ef=40)
        for a, b in zip(rc, rp):
            assert np.array_equal(a, b)  # dists exactly equal too


def test_hnsw_kernels_bit_identical_under_duplicate_vectors():
    """Duplicate vectors create EXACT distance ties — the regime where a
    single ulp of divergence between kernels would flip the id tie-break
    and change the graph. 4x-duplicated corpus, duplicated queries."""
    import numpy as np

    from executor_u1mindexer_spark.operators.hnsw import HNSW, _load_ckernel

    if _load_ckernel() is None:
        pytest.skip("no C compiler in this environment")
    rng = np.random.RandomState(77)
    base = rng.randn(150, 16)
    vecs = np.repeat(base, 4, axis=0)
    ids = rng.permutation(600).astype(np.int64)
    for metric in ("cosine", "ip", "l2"):
        hc = HNSW(16, metric=metric, m=8, ef_construction=60).build(ids, vecs)
        hp = HNSW(16, metric=metric, m=8, ef_construction=60, use_ckernel=False).build(
            ids, vecs
        )
        assert hc.neighbors == hp.neighbors and hc.entry == hp.entry
        q = np.repeat(rng.randn(4, 16), 2, axis=0)
        for a, b in zip(hc.search_batch(q, 9, ef=40), hp.search_batch(q, 9, ef=40)):
            assert np.array_equal(a, b)


def test_hnsw_l2_runs_on_c_kernel():
    """r07 (VERDICT r06 #6): l2 moved onto the C path via the pinned-order
    squared-norm expansion with shared precomputed norms — forcing the C
    kernel must now WORK, build bit-identically to the Python kernel, and
    return true squared-euclidean distances."""
    import numpy as np

    from executor_u1mindexer_spark.operators.hnsw import HNSW, _load_ckernel

    rng = np.random.RandomState(4)
    vecs = rng.randn(60, 8)
    ids = np.arange(60)
    hp = HNSW(8, metric="l2", m=4, ef_construction=30, use_ckernel=False).build(
        ids, vecs
    )
    got, dists = hp.search(vecs[7], 3)
    assert got[0] == 7 and dists[0] == 0.0
    if _load_ckernel() is None:
        pytest.skip("no C compiler in this environment")
    hc = HNSW(8, metric="l2", m=4, ef_construction=30, use_ckernel=True).build(
        ids, vecs
    )
    assert hc._built_with_c
    assert hc.neighbors == hp.neighbors and hc.entry == hp.entry
    q = rng.randn(10, 8)
    for a, b in zip(hc.search_batch(q, 5, ef=30), hp.search_batch(q, 5, ef=30)):
        assert np.array_equal(a, b)
    # distances are the real squared L2 (within expansion rounding)
    ids1, ds1 = hc.search(q[0], 1, ef=30)
    brute = ((vecs - q[0]) ** 2).sum(axis=1)
    assert abs(ds1[0] - brute[ids1[0]]) < 1e-9 * max(1.0, brute[ids1[0]])


def test_hnsw_partitioned_topk_bucket_ceiling(spark, sf_dir):
    """max_bucket_rows raises n_partitions so no bucket exceeds the
    per-executor build budget; a ceiling above the corpus is inert."""
    emb = tables.load(spark, sf_dir, "embeddings")
    n = emb.count()
    q = emb.limit(2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    # ceiling of 10 rows/bucket -> >= ceil(n/10) buckets; results still
    # exactly k rows per query with self-match (merge is partition-proof)
    rows = S.hnsw_partitioned_topk(
        emb, q, k=3, max_bucket_rows=10, n_partitions=2
    ).collect()
    assert len(rows) == 2 * 3
    with pytest.raises(ValueError, match="max_bucket_rows"):
        S.hnsw_partitioned_topk(emb, q, k=3, max_bucket_rows=0)
    assert n > 10  # the ceiling above actually triggered


def test_ivf_pq_rejects_indivisible_dim(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
    )
    q = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "query_id long, query_embedding array<double>"
    )
    with pytest.raises(ValueError, match="not divisible"):
        S.ivf_pq_topk(df, q, k=1, m=2)


def test_train_pq_codebooks_deterministic_under_partitioning(spark):
    df = spark.createDataFrame(
        [(i, [float((i * 13) % 7), float(i % 5), float(i % 3), float(i % 2)]) for i in range(200)],
        "vec_id long, embedding array<double>",
    ).selectExpr("vec_id", "cast(embedding as array<double>) as __v")
    a = S.train_pq_codebooks(df, m=2, n_codes=4, sub=2, id_col="vec_id")
    b = S.train_pq_codebooks(df.repartition(7), m=2, n_codes=4, sub=2, id_col="vec_id")
    assert a == b  # kernel sorts by id: partitioning cannot change the books
    assert len(a) == 2 and all(len(book) == 4 for book in a)
    assert all(len(center) == 2 for book in a for center in book)


def test_span_dedup_crafted_semantics(spark):
    """First occurrence (lowest doc_id, span_idx) survives; later exact
    spans drop — including a WITHIN-doc repeat and a doc whose every span
    is seen earlier (comes back empty, still present in the output)."""
    rows = [
        # doc 1: two spans; the second repeats the first within the doc
        (1, "a b c d e a b c d e"),
        # doc 2: first span copies doc 1's; second span is fresh
        (2, "a b c d e f g h i j"),
        # doc 3: both spans seen earlier -> fully deduplicated
        (3, "a b c d e f g h i j"),
        # doc 4: short tail span (3 words), unique
        (4, "x y z"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in D.span_dedup(df, span_words=5).collect()
    }
    assert out[1]["clean_text"] == "a b c d e"
    assert out[1]["n_spans"] == 2 and out[1]["n_dropped"] == 1
    assert out[2]["clean_text"] == "f g h i j"
    assert out[2]["n_dropped"] == 1
    assert out[3]["clean_text"] == "" and out[3]["n_dropped"] == 2
    assert out[4]["clean_text"] == "x y z" and out[4]["n_dropped"] == 0


def test_span_dedup_properties(spark):
    """Property check against a pure-Python replay: on arbitrary small
    word-corpora, span_dedup must (a) preserve word mass (kept + dropped
    spans = total), (b) return clean_text == text whenever nothing
    dropped, and (c) equal the sequential first-occurrence replay."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    vocab = ["a", "b", "c", "d"]
    doc_strat = st.lists(
        st.sampled_from(vocab), min_size=1, max_size=12
    ).map(" ".join)

    @settings(max_examples=6, deadline=None)
    @given(st.lists(doc_strat, min_size=1, max_size=5))
    def check(texts):
        k = 3
        df = spark.createDataFrame(
            list(enumerate(texts)), ["doc_id", "text"]
        )
        got = {
            r["doc_id"]: r
            for r in D.span_dedup(df, span_words=k).collect()
        }
        seen: set[str] = set()
        for doc_id, text in enumerate(texts):
            ws = text.split(" ")
            spans = [
                " ".join(ws[i : i + k]) for i in range(0, len(ws), k)
            ]
            kept = []
            for s in spans:
                if s in seen:
                    continue
                seen.add(s)
                kept.append(s)
            r = got[doc_id]
            assert r["n_spans"] == len(spans)
            assert r["n_dropped"] == len(spans) - len(kept)
            assert r["clean_text"] == " ".join(kept)
            if r["n_dropped"] == 0:
                assert r["clean_text"] == text

    check()


def test_containment_prefix_filter_is_lossless(spark):
    """The prefix theorem in action: prefix-filtered candidates must
    recover EXACTLY the brute-force all-ordered-pairs containment set —
    subsets, supersets, partial overlaps, and disjoint docs."""
    corpus = [
        (1, "a b c d e f g h i j k l"),          # base doc
        (2, "a b c d e f g"),                    # strict prefix -> contained in 1
        (3, "f g h i j k l"),                    # strict suffix -> contained in 1
        (4, "a b c x y z q w e r t u"),          # partial overlap, below t
        (5, "m n o p q r s"),                    # disjoint
        (6, "a b c d e f g h i j k l"),          # exact dup of 1 (both ways)
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): (r.n_a, r.n_shared)
        for r in D.containment_prefix_pairs(df).collect()
    }

    def shingles(text):
        toks = text.split(" ")
        if len(toks) >= 3:
            return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
        return {" ".join(toks)}

    sh = {i: shingles(t) for i, t in corpus}
    want = {}
    for a in sh:
        for b in sh:
            if a == b:
                continue
            i = len(sh[a] & sh[b])
            if i * 5 >= len(sh[a]) * 4:
                want[(a, b)] = (len(sh[a]), i)
    assert got == want
    assert (2, 1) in got and (3, 1) in got       # asymmetric directions found
    assert (1, 2) not in got                     # the container is NOT contained
    assert (1, 6) in got and (6, 1) in got       # exact dup both ways


def test_containment_injected_subsets_score_one(spark, sf_dir):
    out = dedup_suite.near_dedup_containment_prefix(spark, sf_dir)
    inj = out.filter(
        (F.col("id_a") >= dedup_suite.CONTAIN_OFFSET)
        & (F.col("id_b") == F.col("id_a") - dedup_suite.CONTAIN_OFFSET)
    )
    rows = inj.collect()
    assert len(rows) == dedup_suite.N_CONTAIN
    assert all(r.containment == 1.0 for r in rows)


def test_containment_prefix_filter_lossless_on_random_corpus(spark):
    """Seeded-random stress of the prefix theorem: 60 docs drawn from a
    40-word vocabulary (heavy shingle sharing, many borderline pairs),
    prefix-filtered output == brute-force all-ordered-pairs containment."""
    import random

    rng = random.Random(20260815)
    vocab = [f"w{i}" for i in range(40)]
    corpus = []
    for i in range(60):
        n = rng.randint(1, 30)
        corpus.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    # plant explicit subset/superset relations on top of the noise
    corpus.append((100, corpus[0][1] + " " + corpus[1][1]))
    corpus.append((101, " ".join(corpus[2][1].split(" ")[:5])))
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {(r.id_a, r.id_b): (r.n_a, r.n_shared)
           for r in D.containment_prefix_pairs(df).collect()}

    def shingles(text):
        toks = text.split(" ")
        if len(toks) >= 3:
            return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
        return {" ".join(toks)}

    sh = {i: shingles(t) for i, t in corpus}
    want = {}
    for a in sh:
        for b in sh:
            if a != b:
                i = len(sh[a] & sh[b])
                if i * 5 >= len(sh[a]) * 4:
                    want[(a, b)] = (len(sh[a]), i)
    assert got == want
    assert len(want) >= 3  # the stress actually produced pairs


def test_edit_distance_pairs_lossless_vs_brute_force(spark):
    """PassJoin pigeonhole losslessness (r11): seeded corpus of random
    strings plus planted <=2-edit variants (substitutions, inserts,
    deletes at random positions, including length-changing edits that
    shift every later segment) — operator pairs must EQUAL brute-force
    Levenshtein-filtered all-pairs exactly."""
    import random

    from executor_u1mindexer_spark.operators import dedup as D

    rng = random.Random(20260815)
    alpha = "abcdef"
    docs = []
    for i in range(60):
        docs.append((i, "".join(rng.choice(alpha) for _ in range(rng.randint(8, 24)))))
    # planted variants: for each base in a sample, apply 1-2 random edits
    nid = 1000
    for i in range(0, 60, 3):
        s = list(docs[i][1])
        for _ in range(rng.randint(1, 2)):
            op = rng.choice("sid")
            p = rng.randrange(len(s))
            if op == "s":
                s[p] = rng.choice(alpha)
            elif op == "i":
                s.insert(p, rng.choice(alpha))
            elif len(s) > 4:
                del s[p]
        docs.append((nid + i, "".join(s)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r.id_a, r.id_b, r.dist)
           for r in D.edit_distance_pairs(df, d=2, key_len=48).collect()}

    def lev(a, b):
        m, n = len(a), len(b)
        dp = list(range(n + 1))
        for ii in range(1, m + 1):
            prev, dp[0] = dp[0], ii
            for jj in range(1, n + 1):
                cur = dp[jj]
                dp[jj] = min(dp[jj] + 1, dp[jj - 1] + 1,
                             prev + (a[ii - 1] != b[jj - 1]))
                prev = cur
        return dp[n]

    want = set()
    for x in range(len(docs)):
        for y in range(x + 1, len(docs)):
            ia, sa = docs[x]
            ib, sb = docs[y]
            if ia > ib:
                ia, ib, sa, sb = ib, ia, sb, sa
            d = lev(sa, sb)
            if d <= 2:
                want.add((ia, ib, d))
    assert got == want and len(want) >= 20


def test_mmr_rerank_hand_computed(spark):
    """MMR greedy on a hand-built corpus: q = e1; docs near-duplicate pair
    (d1, d2) both highly relevant, d3 orthogonal-ish. Pure top-2 would be
    {d1, d2}; MMR at lambda=0.5 must pick d1 then d3 (d2's near-dup
    penalty beats d3's lower relevance)."""
    from executor_u1mindexer_spark.operators import similarity as S

    # q must differ from d1: with q == d1, rel(d) == sim(d1, d) for every
    # candidate and all step-2 MMR scores tie at exactly 0.5*(rel - rel)=0
    emb = spark.createDataFrame(
        [
            (1, [0.9701, 0.2425, 0.0]),  # d1: rel ~0.970 (picked first)
            (2, [0.9701, 0.2425, 0.0]),  # d2: duplicate of d1 -> sim 1.0,
            #    mmr = 0.5*0.970 - 0.5*1.0 ~= -0.015
            (3, [0.8, 0.0, 0.6]),        # d3: rel 0.8, sim(d1,d3) ~0.776,
            #    mmr = 0.5*0.8 - 0.5*0.776 ~= +0.012 -> beats the duplicate
        ],
        "vec_id long, embedding array<double>",
    )
    q = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0])], "query_id long, query_embedding array<double>"
    )
    got = [
        (r.step, r.vec_id)
        for r in S.mmr_rerank(emb, q, m=3, n=2, lam=0.5)
        .orderBy("step")
        .collect()
    ]
    assert got == [(1, 1), (2, 3)]

    # lambda=1.0 degenerates to pure relevance order
    got_rel = [
        (r.step, r.vec_id)
        for r in S.mmr_rerank(emb, q, m=3, n=2, lam=1.0)
        .orderBy("step")
        .collect()
    ]
    assert got_rel == [(1, 1), (2, 2)]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="n <= m"):
        S.mmr_rerank(emb, q, m=2, n=3)


def test_sorted_neighborhood_catches_adjacent_and_misses_far_keys(spark):
    """The SNM contract: a near-dup pair sharing its key prefix sorts
    adjacent and is caught; the same text prefixed with a different
    first word sorts into another block and is the method's documented
    miss (the MinHash row's catch). Jaccard values are exact."""
    from executor_u1mindexer_spark.operators import dedup as D

    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, base),
        (2, base + " iota"),          # same prefix -> adjacent -> caught
        (3, "zzz " + base),           # far key -> different block -> missed
        (4, "unrelated words entirely different content here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.sorted_neighborhood_pairs(
            df, window=3, threshold=0.3
        ).collect()
    }
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)
    # exact jaccard of the caught pair: shingles of 8-token vs 9-token
    # texts share 6 of (6 + 7 - 6) distinct 3-shingles
    assert abs(pairs[(1, 2)] - 6 / 7) < 1e-12

    import pytest as _pytest

    with _pytest.raises(ValueError):
        D.sorted_neighborhood_pairs(df, window=1)


def test_eval_retrieval_ndcg_matches_python_replay(spark, sf_dir):
    """nDCG@K (r14): the summary row replayed in python from a numpy
    brute-force run over the same fixture — ranks, binary label
    relevance, the shared integer discount literals, floor divisions.
    Also pins the discount table invariants (d_1 = 1e6, strictly
    decreasing, prefix sums strict-monotone) so an accidental literal
    edit on one engine side cannot pass."""
    import numpy as np

    from executor_u1mindexer_spark import tables
    from executor_u1mindexer_spark.suites import similarity_suite as SS

    assert SS._NDCG_D[0] == 1_000_000
    assert all(a > b for a, b in zip(SS._NDCG_D, SS._NDCG_D[1:]))
    assert all(b > a for a, b in zip(SS._NDCG_P, SS._NDCG_P[1:]))

    got = SS.eval_retrieval_ndcg(spark, sf_dir).collect()[0]

    emb = tables.load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    rows = emb.collect()
    ids = np.array([r.vec_id for r in rows])
    labels = {r.vec_id: r.label for r in rows}
    M = np.array([r.embedding for r in rows], dtype=np.float64)
    M = M / np.linalg.norm(M, axis=1, keepdims=True)
    K = SS.K
    n_label = {}
    for r in rows:
        n_label[r.label] = n_label.get(r.label, 0) + 1
    q_ids = [int(i) for i in ids if i % SS.QUERY_MOD == 0]
    sum_dcg = sum_ndcg = n_with = 0
    for qid in q_ids:
        qv = M[np.where(ids == qid)[0][0]]
        dist = 1.0 - M @ qv
        order = sorted(zip(dist, ids), key=lambda t: (t[0], t[1]))
        run = [int(v) for _, v in order if int(v) != qid][:K]
        dcg = sum(
            SS._NDCG_D[r]
            for r, v in enumerate(run)
            if labels[v] == labels[qid]
        )
        n_ideal = min(n_label[labels[qid]] - 1, K)
        ndcg = 0 if n_ideal <= 0 else (1_000_000 * dcg) // SS._NDCG_P[n_ideal]
        sum_dcg += dcg
        sum_ndcg += ndcg
        n_with += 1 if dcg > 0 else 0
    assert got.n_queries == len(q_ids)
    assert got.n_queries_with_rel == n_with
    assert got.sum_dcg_micro == sum_dcg
    assert got.mean_ndcg_micro == sum_ndcg // len(q_ids)


def test_recall_by_group_keeps_zero_hit_slice(spark, tmp_path):
    # ADVICE r14 (medium): a (lane, label) slice whose retrieved set has
    # ZERO exact-KNN hits must surface as recall 0, not vanish — the
    # inner n_hits join dropped exactly the collapsed slice this row
    # exists to audit. Fixture: six identical unit vectors; the query
    # (vec 100, label 0) is alone in its IVF cell, while the five global
    # nearest under the (dist, vec_id) tie-break all sit in label 1 —
    # the ivf_label slice retrieves only the query itself and hits
    # nothing; the LSH lane (one shared bucket) mirrors exact.
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    SS = similarity_suite
    dim = 64
    e1 = [1.0] + [0.0] * (dim - 1)
    rows = [(i, e1, 1) for i in range(1, 6)] + [(100, e1, 0)]
    tbl = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
            "label": pa.array([r[2] for r in rows], pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))

    out = SS.eval_ann_recall_by_group(spark, str(tmp_path)).collect()
    got = {
        (r.method, r.label): (r.n_queries, r.n_results, r.n_hits, r.recall_at_k_micro)
        for r in out
    }
    assert got[("ivf_label", 0)] == (1, 1, 0, 0)
    assert got[("lsh_hyperplane", 0)] == (1, 5, 5, SS.EVAL_SCALE)
    assert len(got) == 2

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet')"
    )
    ora = con.execute(SS.ORACLES["eval_ann_recall_by_group"]).fetchall()
    spark_rows = sorted(tuple(r) for r in out)
    assert sorted(tuple(r) for r in ora) == spark_rows


def test_duplicated_span_profile_islands_and_cross_doc_rule(spark):
    """duplicated_span_profile (r15): any-offset verbatim 8-token runs
    across DISTINCT docs, islands merged. Handcrafted corpus pins:
    - a shared 8-token span found at different offsets in two docs;
    - a shared 10-token run -> three overlapping shingle starts merge
      into ONE island covering exactly 10 tokens;
    - two shared runs in one doc separated by > k tokens -> 2 islands;
    - an intra-doc-only repeat (never in another doc) is NOT duplicated;
    - docs shorter than k and docs with no shared span emit no row."""
    from executor_u1mindexer_spark.operators import dedup as D

    A = "a1 a2 a3 a4 a5 a6 a7 a8"           # 8 shared tokens
    RUN10 = "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10"  # 10 shared tokens
    FILL = " ".join(f"f{i}" for i in range(12))
    docs = [
        (1, f"{A} x1 x2 x3"),                 # span at offset 0
        (2, f"y1 y2 {A} y3"),                 # same span at offset 2
        (3, f"{RUN10} z1"),                   # 10-token run, offset 0
        (4, f"w1 {RUN10}"),                   # same run, offset 1
        (5, f"{A} {FILL} {RUN10}"),           # two islands, gap 12 > 8
        (6, "q1 q2 q3 q4 q5 q6 q7 q8 m q1 q2 q3 q4 q5 q6 q7 q8"),  # intra-only
        (7, "s1 s2 s3"),                      # shorter than k
        (8, "u1 u2 u3 u4 u5 u6 u7 u8 u9"),    # unique text
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    out = {r.doc_id: r for r in D.duplicated_span_profile(df, k=8).collect()}
    assert set(out) == {1, 2, 3, 4, 5}
    for d, total in ((1, 11), (2, 11)):
        assert (
            out[d].n_dup_spans,
            out[d].dup_tokens,
            out[d].total_tokens,
            out[d].dup_fraction_micro,
        ) == (1, 8, total, 1_000_000 * 8 // total)
    for d, total in ((3, 11), (4, 11)):
        assert (out[d].n_dup_spans, out[d].dup_tokens, out[d].total_tokens) == (
            1,
            10,
            total,
        )
    assert out[5].n_dup_spans == 2 and out[5].dup_tokens == 18
    assert out[5].total_tokens == 8 + 12 + 10

    # DuckDB oracle replay over the identical corpus
    import duckdb

    vals = ", ".join(f"({d}, '{t}')" for d, t in docs)
    sql = dedup_suite.ORACLES["exact_dedup_substring_spans"].replace(
        "FROM documents",
        f"FROM (SELECT col0 AS doc_id, col1 AS text FROM (VALUES {vals}) v(col0, col1))",
    )
    ora = duckdb.sql(sql).fetchall()
    spark_rows = [tuple(out[d]) for d in sorted(out)]
    assert [tuple(r) for r in ora] == spark_rows
