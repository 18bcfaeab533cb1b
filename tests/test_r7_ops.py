"""Round-7 operators: persistent ANN index (build-once / probe-many IVF
and IVF-PQ), incremental index add, and the stored-vs-fit equivalences
the annindex module promises."""

import re

from pyspark.sql import functions as F

from magiceye_spark import plans
from magiceye_spark.llmops import annindex, simsearch


def _embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _queries(corpus, ids=range(8)):
    return corpus.where(F.col("vec_id").isin(list(ids)))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# --------------------------------------------------- stored == fit-per-call

def test_flat_index_probe_equals_fit_probe(spark, sf_dir, tmp_path):
    """Probe-from-stored must be bit-identical to probe-from-fit: same
    corpus, same fit parameters, one path through parquet."""
    corpus = _embs(spark, sf_dir)
    q = _queries(corpus)
    fit = simsearch.ivf_topk(
        corpus, q, k=10, n_centroids=16, n_probe=4, kmeans_iters=2
    )
    idx = annindex.write_ivf_index(
        corpus, str(tmp_path / "flat"), n_centroids=16, kmeans_iters=2
    )
    stored = annindex.ivf_index_topk(idx, q, k=10, n_probe=4)
    assert _rows(stored) == _rows(fit)


def test_pq_index_probe_equals_fit_probe(spark, sf_dir, tmp_path):
    corpus = _embs(spark, sf_dir)
    q = _queries(corpus)
    fit = simsearch.ivf_pq_topk(
        corpus, q, k=10, n_centroids=16, n_probe=4, kmeans_iters=2
    )
    idx = annindex.write_ivf_index(
        corpus, str(tmp_path / "pq"), pq=True, n_centroids=16, kmeans_iters=2
    )
    stored = annindex.ivf_pq_index_topk(idx, q, corpus, k=10, n_probe=4)
    assert _rows(stored) == _rows(fit)


def test_ivf_topk_accepts_prebuilt_index(spark, sf_dir, tmp_path):
    """The index= parameter routes ivf_topk/ivf_pq_topk through the stored
    path — fit parameters ignored, results equal the explicit probe."""
    corpus = _embs(spark, sf_dir)
    q = _queries(corpus)
    idx = annindex.write_ivf_index(
        corpus, str(tmp_path / "flat"), n_centroids=16, kmeans_iters=2
    )
    via_param = simsearch.ivf_topk(corpus, q, k=10, n_probe=4, index=idx)
    explicit = annindex.ivf_index_topk(idx, q, k=10, n_probe=4)
    assert _rows(via_param) == _rows(explicit)

    pq_idx = annindex.write_ivf_index(
        corpus, str(tmp_path / "pq"), pq=True, n_centroids=16, kmeans_iters=2
    )
    via_param = simsearch.ivf_pq_topk(corpus, q, k=10, n_probe=4, index=pq_idx)
    explicit = annindex.ivf_pq_index_topk(pq_idx, q, corpus, k=10, n_probe=4)
    assert _rows(via_param) == _rows(explicit)


def test_indexed_exact_mode_matches_bruteforce(spark, sf_dir, tmp_path):
    """n_probe = n_centroids probes every cell: the stored index must
    reproduce brute-force cosine top-k exactly, independent of centroid
    quality — the deterministic driver-row contract."""
    corpus = _embs(spark, sf_dir)
    q = _queries(corpus)
    idx = annindex.write_ivf_index(
        corpus, str(tmp_path / "flat"), n_centroids=16, kmeans_iters=2
    )
    stored = annindex.ivf_index_topk(idx, q, k=10, n_probe=16)
    brute = simsearch.cosine_topk(corpus, q, k=10)
    assert _rows(stored) == _rows(brute)


# --------------------------------------------------------- incremental add

def test_index_add_equals_rebuild_flat(spark, sf_dir, tmp_path):
    """Build on a prefix that contains the whole fit sample, add the rest:
    postings and probe results must equal a from-scratch build on the full
    corpus (the model is a pure function of the fit sample)."""
    corpus = _embs(spark, sf_dir)
    head = corpus.where(F.col("vec_id") < 250)
    tail = corpus.where(F.col("vec_id") >= 250)
    p_incr = str(tmp_path / "incr")
    annindex.write_ivf_index(
        head, p_incr, n_centroids=8, kmeans_iters=2, fit_sample=128
    )
    n = annindex.ivf_index_add(spark, p_incr, tail)
    assert n == tail.count()
    p_full = str(tmp_path / "full")
    annindex.write_ivf_index(
        corpus, p_full, n_centroids=8, kmeans_iters=2, fit_sample=128
    )
    incr = annindex.read_ivf_index(spark, p_incr)
    full = annindex.read_ivf_index(spark, p_full)
    assert incr.centroids == full.centroids
    assert _rows(incr.postings) == _rows(full.postings)
    q = _queries(corpus)
    assert _rows(annindex.ivf_index_topk(incr, q, k=10, n_probe=4)) == _rows(
        annindex.ivf_index_topk(full, q, k=10, n_probe=4)
    )


def test_index_add_equals_rebuild_pq(spark, sf_dir, tmp_path):
    corpus = _embs(spark, sf_dir)
    head = corpus.where(F.col("vec_id") < 250)
    tail = corpus.where(F.col("vec_id") >= 250)
    p_incr = str(tmp_path / "incr")
    annindex.write_ivf_index(
        head, p_incr, pq=True, n_centroids=8, kmeans_iters=2,
        fit_sample=128, train_sample=128,
    )
    annindex.ivf_index_add(spark, p_incr, tail)
    p_full = str(tmp_path / "full")
    annindex.write_ivf_index(
        corpus, p_full, pq=True, n_centroids=8, kmeans_iters=2,
        fit_sample=128, train_sample=128,
    )
    incr = annindex.read_ivf_index(spark, p_incr)
    full = annindex.read_ivf_index(spark, p_full)
    assert incr.codebooks == full.codebooks
    assert _rows(incr.postings) == _rows(full.postings)


# ------------------------------------------------------------ scale shape

def test_probe_prunes_postings_partitions(spark, sf_dir, tmp_path):
    """The probe's cell filter must prune at the DIRECTORY level
    (PartitionFilters on the postings scan), not post-scan — the reason
    postings are partitioned by cell at all."""
    corpus = _embs(spark, sf_dir)
    q = _queries(corpus, ids=[0])
    idx = annindex.write_ivf_index(
        corpus, str(tmp_path / "flat"), n_centroids=16, kmeans_iters=2
    )
    df = annindex.ivf_index_topk(idx, q, k=5, n_probe=2)
    plan = plans.formatted_plan(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), plan
    # probing 2 of 16 cells: the pruned scan reads a strict subset
    cells = simsearch._cell_sides(q, idx.centroids, 2, "vec_id", "embedding").cells
    assert len(cells) == 2


def test_bpe_train_cap_is_loud(spark):
    """The max_word_types cut must WARN when it binds (no-silent-caps
    rule) and stay silent when it doesn't."""
    import warnings

    import pytest

    from magiceye_spark.llmops.textstats import bpe_train

    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i}") for i in range(20)], "doc_id long, text string"
    )
    with pytest.warns(UserWarning, match="truncated to max_word_types"):
        bpe_train(docs, num_merges=2, max_word_types=5)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        bpe_train(docs, num_merges=2, max_word_types=1_000_000)


def test_rendered_literals_bit_equal(spark):
    """_vector_lit/_matrix_lit (expr-rendered, one JVM parse) must
    round-trip IEEE doubles bit-exactly vs F.lit — the whole ANN model
    path rides on this."""
    import struct

    vals = [1e-05, -3.2e17, 0.1 + 0.2, -0.0, 2.2250738585072014e-308, 7.0]
    got = spark.range(1).select(
        simsearch._vector_lit(vals).alias("v"),
        F.lit([vals, vals[::-1]]).alias("m_ref"),
        simsearch._matrix_lit([vals, vals[::-1]]).alias("m"),
    ).first()
    assert [struct.pack("d", x) for x in got["v"]] == [
        struct.pack("d", x) for x in vals
    ]
    assert got["m"] == got["m_ref"]


def test_ivf_index_stats(spark, sf_dir, tmp_path):
    corpus = _embs(spark, sf_dir)
    idx = annindex.write_ivf_index(
        corpus, str(tmp_path / "flat"), n_centroids=8, kmeans_iters=2
    )
    r = annindex.ivf_index_stats(idx).first()
    assert r["n_vectors"] == corpus.count()
    assert r["n_cells_used"] <= r["n_cells_total"] == 8
    assert r["min_postings"] <= r["avg_postings"] <= r["max_postings"]
    assert r["imbalance"] >= 1.0


def test_index_compaction_preserves_rows(spark, sf_dir, tmp_path):
    """Compaction must shrink the file count after appends and leave the
    row content bit-identical — for both stores."""
    from magiceye_spark.llmops import sigstore

    corpus = _embs(spark, sf_dir)
    p = str(tmp_path / "flat")
    annindex.write_ivf_index(
        corpus.where(F.col("vec_id") < 200), p, n_centroids=8,
        kmeans_iters=2, fit_sample=128,
    )
    for lo in (200, 300, 400):
        annindex.ivf_index_add(
            spark, p, corpus.where(
                (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 100)
            ),
        )
    before_rows = _rows(annindex.read_ivf_index(spark, p).postings)
    nb, na = annindex.ivf_index_compact(spark, p)
    assert na < nb, (nb, na)
    assert _rows(annindex.read_ivf_index(spark, p).postings) == before_rows

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ps = str(tmp_path / "sig")
    sigstore.write_minhash_index(docs.where(F.col("doc_id") < 200), ps)
    for lo in (200, 300, 400):
        sigstore.minhash_index_add(
            spark, ps, docs.where(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 100)
            ),
        )
    idx = sigstore.read_minhash_index(spark, ps)
    before_sig = _rows(idx.signatures)
    nb, na = sigstore.minhash_index_compact(spark, ps)
    assert na < nb, (nb, na)
    assert _rows(sigstore.read_minhash_index(spark, ps).signatures) == before_sig


# --------------------------------------------------------- SemDeDup

def test_semdedup_k1_equals_exact_closure(spark, sf_dir):
    """With one cluster, SemDeDup must equal keep-min-per-component over
    the exact global cosine pair relation — the structural twin pin."""
    from magiceye_spark.llmops.dedup import cluster_pairs

    emb = _embs(spark, sf_dir)
    pruned = simsearch.semdedup_prune(emb, k=1, threshold=0.45)
    pairs = simsearch.embedding_near_dup_pairs(emb, threshold=0.45).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    clusters = cluster_pairs(pairs)
    losers = clusters.where(F.col("id") != F.col("cluster")).select(
        F.col("id").alias("vec_id")
    )
    expected = emb.join(losers, "vec_id", "left_anti")
    assert _rows(pruned) == _rows(expected)


def test_semdedup_scoped_catches_planted_twins(spark, sf_dir):
    """The scoped (k>1) prune's contract is the HIGH-threshold regime:
    near-IDENTICAL embeddings land in the same Voronoi cell. Plant ten
    ε-perturbed twins of existing vectors; at threshold 0.99 / k=4 every
    planted twin must be removed (its source kept), and scoping can only
    keep MORE than the k=1 exact twin, never less. (At low thresholds —
    e.g. the corpus's own 0.45-cosine pairs — boundary straddling loses
    pairs by design; that regime belongs to embedding_near_dup_pairs /
    embedding_dedup_fused.)"""
    emb = _embs(spark, sf_dir).select("vec_id", "embedding")
    twins = emb.where(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x.cast("double") * 1.0001).cast("float")
        ).alias("embedding"),
    )
    corpus = emb.unionByName(twins)
    kept_scoped = simsearch.semdedup_prune(corpus, k=4, threshold=0.99)
    kept_ids = {r["vec_id"] for r in kept_scoped.select("vec_id").collect()}
    # every planted twin removed, every source kept
    assert all(100000 + i not in kept_ids for i in range(10))
    assert all(i in kept_ids for i in range(10))
    kept_exact = simsearch.semdedup_prune(corpus, k=1, threshold=0.99).count()
    assert kept_scoped.count() >= kept_exact  # scoping only misses pairs


# --------------------------------------------- minhash signature store

def test_sigstore_pairs_equal_fresh_lsh(spark, sf_dir, tmp_path):
    """Pairs from stored signatures must be BIT-identical to
    minhash_lsh_pairs on the original text (seed-fixed hash family)."""
    from magiceye_spark.llmops import dedup, sigstore

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = sigstore.write_minhash_index(docs, str(tmp_path / "sig"))
    stored = sigstore.lsh_pairs_from_index(idx)
    fresh = dedup.minhash_lsh_pairs(docs)
    assert _rows(stored) == _rows(fresh)


def test_sigstore_add_equals_rebuild(spark, sf_dir, tmp_path):
    """Signatures are a pure per-doc function of the seed-fixed hash
    family — append-path store must equal a from-scratch build."""
    from magiceye_spark.llmops import sigstore

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    head = docs.where(F.col("doc_id") < 250)
    tail = docs.where(F.col("doc_id") >= 250)
    p_incr, p_full = str(tmp_path / "incr"), str(tmp_path / "full")
    sigstore.write_minhash_index(head, p_incr)
    n = sigstore.minhash_index_add(spark, p_incr, tail)
    assert n == tail.count()
    sigstore.write_minhash_index(docs, p_full)
    incr = sigstore.read_minhash_index(spark, p_incr)
    full = sigstore.read_minhash_index(spark, p_full)
    assert _rows(incr.signatures) == _rows(full.signatures)


def test_sigstore_delta_admission_parity(spark, sf_dir, tmp_path):
    """Indexed delta admission (delta-touching edges only, batch-only
    shingling) must decide exactly what from-scratch closure admission
    over the full union LSH pair graph decides — the empirical validation
    of the delta-edge reduction argued in delta_pairs_from_index."""
    from magiceye_spark.llmops import dedup, graph, sigstore

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    existing = docs.where(F.col("doc_id") < 350)
    incoming = docs.where(F.col("doc_id") >= 350)
    idx = sigstore.write_minhash_index(existing, str(tmp_path / "sig"))
    got = sorted(
        map(
            tuple,
            sigstore.delta_dedup_admit_indexed(idx, incoming)
            .select("doc_id", "lang", "source", "n_chars")
            .collect(),
        )
    )
    pairs_full = dedup.minhash_lsh_pairs(docs, threshold=0.7)
    expected = sorted(
        map(
            tuple,
            graph.delta_dedup_admit(
                docs.withColumn("_inc", F.col("doc_id") >= 350),
                incoming_col="_inc",
                pairs=pairs_full,
            )
            .select("doc_id", "lang", "source", "n_chars")
            .collect(),
        )
    )
    assert got == expected
    # and the store was never asked to re-shingle: admission must admit a
    # strict subset of the incoming batch
    assert 0 < len(got) <= incoming.count()


# ------------------------------------------- shared pairs/closure paths

def test_graph_family_shared_pairs_and_comps_parity(spark, sf_dir):
    """pairs= and comps= short-circuits must be result-identical to the
    self-computing paths — the bench's shared-artifact protocol and the
    production pipeline both depend on it."""
    from magiceye_spark.llmops import graph

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = graph.near_dup_pairs(docs).persist()
    try:
        comps = graph.dup_graph_components(docs, pairs=pairs)
        base = graph.dup_graph_components(docs)
        assert sorted(map(tuple, comps.collect())) == sorted(
            map(tuple, base.collect())
        )
        for fn in (graph.dedup_keep_per_cluster, graph.delta_dedup_admit):
            via_comps = sorted(map(tuple, fn(docs, comps=comps).collect()))
            self_made = sorted(map(tuple, fn(docs).collect()))
            assert via_comps == self_made, fn.__name__
    finally:
        pairs.unpersist()


# ------------------------------------------- unicode canonical dedup

def test_unicode_dedup_catches_planted_variants(spark):
    """A composed/decomposed + zero-width + fullwidth variant family that
    raw-md5 exact dedup misses must land in ONE unicode cluster."""
    from magiceye_spark.llmops import dedup

    rows = [
        (1, "caf\u00e9 special deal today"),          # composed \u00e9
        (2, "cafe\u0301 special deal today"),         # decomposed e + combining acute
        (3, "caf\u00e9 spe\u200bcial deal today"),   # zero-width splice
        (4, "caf\u00e9 special deal \uff54oday"),    # fullwidth t
        (5, "totally different text"),
        (6, "totally different text"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exact = dedup.exact_duplicate_clusters(docs)
    uni = dedup.unicode_dup_clusters(docs)
    # raw md5 only pairs the byte-identical docs (5, 6)
    assert [r["keeper_doc_id"] for r in exact.collect()] == [5]
    got = {r["keeper_doc_id"]: r["doc_ids"] for r in uni.collect()}
    assert got == {1: "1,2,3,4", 5: "5,6"}


def test_unicode_dedup_stays_jvm_and_single_shuffle(spark, sf_dir):
    from magiceye_spark.llmops import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = dedup.unicode_dup_clusters(docs)
    assert plans.python_eval_count(df) == 0
    assert plans.count_shuffles(df) <= 1, plans.executed_plan(df)


def test_confusable_dedup_catches_cyrillic_clone(spark):
    """Cyrillic-а spam clones are invisible to BOTH raw md5 and canonical
    (NFC/collation) dedup; the skeleton fold must cluster them."""
    from magiceye_spark.llmops import dedup

    rows = [
        (1, "paypal account verify"),
        (2, "pаypаl аccount verify"),   # Cyrillic а
        (3, "paypαl account verify"),              # Greek α
        (4, "different text entirely"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    assert dedup.exact_duplicate_clusters(docs).count() == 0
    assert dedup.unicode_dup_clusters(docs).count() == 0
    got = {r["keeper_doc_id"]: r["doc_ids"]
           for r in dedup.confusable_dup_clusters(docs).collect()}
    assert got == {1: "1,2,3"}


def test_unicode_anomaly_scan_counts(spark):
    from magiceye_spark.llmops import dedup

    rows = [
        (1, "clean text"),
        (2, "zero​width‌ here"),
        (3, "fullｗｉｄｔｈ chars"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_zero_width"], r["n_fullwidth"])
           for r in dedup.unicode_anomaly_scan(docs).collect()}
    assert got == {2: (2, 0), 3: (0, 5)}


def test_index_flavor_mismatch_raises(spark, sf_dir, tmp_path):
    import pytest

    corpus = _embs(spark, sf_dir)
    q = _queries(corpus)
    flat = annindex.write_ivf_index(
        corpus, str(tmp_path / "flat"), n_centroids=8, kmeans_iters=2
    )
    pq = annindex.write_ivf_index(
        corpus, str(tmp_path / "pq"), pq=True, n_centroids=8, kmeans_iters=2
    )
    with pytest.raises(ValueError):
        annindex.ivf_pq_index_topk(flat, q, corpus)
    with pytest.raises(ValueError):
        annindex.ivf_index_topk(pq, q)
