"""Property tests for the LLM-pipeline operators: planted duplicates are
found, approximate methods reach known recall against their exact twins,
multimodal plumbing round-trips."""

import pytest
from pyspark.sql import functions as F

from magiceye_spark.llmops import dedup, multimodal, simsearch, textstats


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _planted(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en", "s", 43),
        (2, "the quick brown fox jumps over the lazy dog", "en", "s", 43),  # exact dup
        (3, "THE   quick brown fox jumps over the lazy DOG", "en", "s", 45),  # canon dup
        (4, "dog lazy the over jumps fox brown quick the", "en", "s", 43),  # bag dup
        (5, "a completely different document about spark engines", "en", "s", 51),
        (6, "the quick brown fox jumps over the lazy cat", "en", "s", 43),  # near dup
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_exact_dedup_planted(spark):
    d = _planted(spark)
    clusters = dedup.exact_duplicate_clusters(d).collect()
    assert len(clusters) == 1
    assert clusters[0]["n_dups"] == 3  # docs 1,2,3 normalize identically
    assert clusters[0]["keeper_doc_id"] == 1
    kept = sorted(r["doc_id"] for r in dedup.dedup_exact(d).collect())
    assert kept == [1, 4, 5, 6]


def test_bag_dedup_catches_reordering(spark):
    d = _planted(spark)
    clusters = dedup.bag_duplicate_clusters(d).collect()
    (c,) = clusters
    assert c["n_dups"] == 4  # 1,2,3,4 share the token set
    assert c["keeper_doc_id"] == 1


def test_simhash_identical_and_near(spark):
    d = _planted(spark)
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in
             dedup.simhash_near_dups(d, max_hamming=16).collect()}
    assert pairs[(1, 2)] == 0
    assert pairs[(1, 3)] == 0  # case/whitespace-insensitive tokens
    assert pairs[(1, 4)] == 0  # simhash over token SET ignores order
    assert (1, 6) in pairs and pairs[(1, 6)] > 0  # one word swapped: close


def test_minhash_recall_vs_exact(spark, sf_dir):
    """MinHash-LSH (unigram shingles) must recover ≥90% of the exact
    jaccard≥0.8 pairs on real documents."""
    d = _docs(spark, sf_dir)
    toks = F.array_distinct(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
    base = d.select("doc_id", toks.alias("toks"))
    a, b = base.alias("a"), base.alias("b")
    exact = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (
                F.size(F.array_intersect("a.toks", "b.toks"))
                / F.size(F.array_union("a.toks", "b.toks"))
            ).alias("j"),
        )
        .where(F.col("j") >= 0.8)
    )
    exact_pairs = {(r["doc_a"], r["doc_b"]) for r in exact.collect()}
    lsh_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(d, shingle_n=1, threshold=0.8).collect()
    }
    assert exact_pairs, "test data should contain near-dup token sets"
    recall = len(exact_pairs & lsh_pairs) / len(exact_pairs)
    assert recall >= 0.9, f"minhash recall {recall:.2f}"
    # verification step guarantees precision = 1 vs the same jaccard measure
    assert lsh_pairs <= {
        (r["doc_a"], r["doc_b"])
        for r in exact.where(F.col("j") >= 0.8).collect()
    } | lsh_pairs  # lsh may add pairs only if they also pass >= threshold


def test_lsh_topk_recall(spark, sf_dir):
    corpus = _embs(spark, sf_dir)
    queries = corpus.where(F.col("vec_id") < 8)
    exact = simsearch.cosine_topk(corpus, queries, k=10).collect()
    approx = simsearch.lsh_topk(corpus, queries, k=10).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"lsh ann recall {recall:.2f}"


def test_minhash_ngram_recall_vs_exact_shingles(spark, sf_dir):
    """3-gram MinHash-LSH must recover ≥90% of exact shingle-set
    jaccard≥0.7 pairs."""
    d = _docs(spark, sf_dir)
    sh = dedup._shingle_hashes("text", 3)  # noqa: SLF001
    base = d.select("doc_id", sh.alias("sh"))
    a, b = base.alias("a"), base.alias("b")
    exact = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (
                F.size(F.array_intersect("a.sh", "b.sh"))
                / F.size(F.array_union("a.sh", "b.sh"))
            ).alias("j"),
        )
        .where(F.col("j") >= 0.7)
    )
    exact_pairs = {(r["doc_a"], r["doc_b"]) for r in exact.collect()}
    lsh_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(
            d, num_hashes=32, bands=8, threshold=0.7, shingle_n=3
        ).collect()
    }
    assert exact_pairs, "fixture corpus must contain shingle near-dups"
    recall = len(exact_pairs & lsh_pairs) / len(exact_pairs)
    assert recall >= 0.9, f"3-gram minhash recall {recall:.2f}"


def test_ivf_pq_topk_recall(spark, sf_dir):
    """IVF-PQ (codes-only ADC scan + exact rerank) must hold the same
    recall floor as plain IVF — the rerank step restores what 8-byte codes
    lose, as long as the true neighbors survive into the finalist set."""
    corpus = _embs(spark, sf_dir)
    queries = corpus.where(F.col("vec_id") < 8)
    exact = simsearch.cosine_topk(corpus, queries, k=10).collect()
    approx = simsearch.ivf_pq_topk(corpus, queries, k=10).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"ivf-pq ann recall {recall:.2f}"
    # reranked cosine values are exact: every hit must match brute force
    exact_sim = {(r["query_id"], r["neighbor_id"]): r["cosine_sim"] for r in exact}
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_sim:
            assert abs(r["cosine_sim"] - exact_sim[key]) < 1e-9


def test_ivf_topk_recall(spark, sf_dir):
    corpus = _embs(spark, sf_dir)
    queries = corpus.where(F.col("vec_id") < 8)
    exact = simsearch.cosine_topk(corpus, queries, k=10).collect()
    approx = simsearch.ivf_topk(corpus, queries, k=10).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"ivf ann recall {recall:.2f}"
    # probing n_probe of n_centroids cells must not scan the whole corpus:
    # every returned neighbor's cosine is exact, so precision vs the scored
    # candidate set is 1 by construction; rank must be dense per query.
    per_q = {}
    for r in approx:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())


def test_pii_redaction_round_trip(spark):
    rows = [
        (1, "contact bob@example.com or +1 (555) 123-4567 now", "en", "s", 48),
        (2, "server at 192.168.1.10 went down", "en", "s", 32),
        (3, "nothing sensitive here", "en", "s", 22),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    scan = {r["doc_id"]: (r["n_email"], r["n_phone"], r["n_ipv4"], r["has_pii"])
            for r in textstats.pii_scan(d).collect()}
    assert scan[1][0] == 1 and scan[1][1] >= 1 and scan[1][3]
    assert scan[2][2] == 1 and scan[2][3]
    assert scan[3] == (0, 0, 0, False)
    red = {r["doc_id"]: r["text"] for r in textstats.redact_pii(d).collect()}
    assert "[EMAIL]" in red[1] and "bob@example.com" not in red[1]
    assert "[IP]" in red[2] and "192.168.1.10" not in red[2]
    assert red[3] == "nothing sensitive here"
    # redacted corpus scans clean
    clean = textstats.pii_scan(textstats.redact_pii(d))
    assert clean.where(F.col("has_pii")).count() == 0


def test_sequence_packing_planted(spark):
    """Concat-and-chunk semantics in one shard: offsets accumulate, a doc
    whose tokens cross a 10-token cut is flagged, seq_id advances when the
    prefix sum passes the budget."""
    from magiceye_spark.llmops import pipeline

    rows = [
        (1, "a b c d", "en", "s", 7),        # 4 toks, offset 0
        (2, "e f g h i", "en", "s", 9),      # 5 toks, offset 4
        (3, "j k l m", "en", "s", 7),        # 4 toks, offset 9 -> crosses 10
        (4, "n o", "en", "s", 3),            # 2 toks, offset 13 -> seq 1
    ]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {
        r["doc_id"]: (r["seq_id"], r["tok_offset"], r["spans_boundary"])
        for r in pipeline.sequence_packing(d, budget=10, n_shards=1).collect()
    }
    assert got == {
        1: (0, 0, False),
        2: (0, 4, False),
        3: (0, 9, True),
        4: (1, 3, False),
    }


def test_source_mixing_weights_planted(spark):
    """weight = target/natural; sources absent from the target mix get 0."""
    from magiceye_spark.llmops import pipeline

    rows = [(i, "t", "en", "keep" if i < 6 else "drop", 1) for i in range(8)]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {
        r["source"]: (r["natural_share"], r["target_share"], r["weight"])
        for r in pipeline.source_mixing_weights(d, {"keep": 1.0}).collect()
    }
    assert got["keep"] == (0.75, 1.0, round(1.0 / 0.75, 6))
    assert got["drop"] == (0.25, 0.0, 0.0)


def test_stratified_sample_deterministic_and_proportional(spark, sf_dir):
    from magiceye_spark.llmops.pipeline import stratified_sample

    d = _docs(spark, sf_dir)
    fr = {"en": 0.5, "de": 1.0, "es": 1.0, "fr": 1.0, "zh": 1.0}
    a = {r["doc_id"] for r in stratified_sample(d, fr).select("doc_id").collect()}
    b = {r["doc_id"] for r in stratified_sample(d, fr).select("doc_id").collect()}
    assert a == b  # same seed + same layout → identical sample
    counts = {
        r["lang"]: r["n"]
        for r in stratified_sample(d, fr).groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    full = {r["lang"]: r["n"] for r in d.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts["de"] == full["de"]  # fraction 1.0 keeps everything
    assert 0.3 * full["en"] <= counts["en"] <= 0.7 * full["en"]


def test_chunking_reconstructs_documents(spark, sf_dir):
    """Dropping each chunk's leading overlap and concatenating must
    reproduce the original text exactly — no gaps, no duplication."""
    docs = _docs(spark, sf_dir).limit(20)
    chunks = textstats.chunk_documents(docs, chunk_chars=128, overlap=16).collect()
    by_doc = {}
    for r in sorted(chunks, key=lambda r: (r["doc_id"], r["chunk_id"])):
        prev = by_doc.get(r["doc_id"], "")
        piece = r["chunk_text"] if not prev else r["chunk_text"][16:]
        by_doc[r["doc_id"]] = prev + piece
    originals = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert by_doc == originals


def test_embedding_lsh_near_dup_recall(spark, sf_dir):
    """LSH-blocked embedding near-dup must recover ≥90% of exact pairs, and
    every reported pair must also appear in the exact result (cosine rerank
    is exact, so precision is 1 by construction)."""
    corpus = _embs(spark, sf_dir)
    exact = {
        (r["id_a"], r["id_b"])
        for r in simsearch.embedding_near_dup_pairs(corpus, threshold=0.45).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in simsearch.embedding_near_dup_pairs_lsh(corpus, threshold=0.45).collect()
    }
    assert exact, "fixture corpus must contain embedding near-dups"
    assert lsh <= exact
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.9, f"embedding LSH recall {recall:.2f}"


def test_cluster_pairs_connected_components(spark):
    """Two chains and an isolated pair must collapse to their min ids,
    even when connectivity is only transitive (1-2, 2-3, 3-4)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (11, 12)],
        "doc_a long, doc_b long",
    )
    got = {r["id"]: r["cluster"] for r in dedup.cluster_pairs(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_dedup_near_keeps_representatives_and_singletons(spark, sf_dir):
    d = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(d, num_hashes=32, bands=8, threshold=0.7, shingle_n=3)
    kept = dedup.dedup_near(d, pairs)
    n_docs, n_kept = d.count(), kept.count()
    n_losers = dedup.cluster_pairs(pairs).where("id != cluster").count()
    assert n_kept == n_docs - n_losers
    # every cluster representative survives
    reps = {r["cluster"] for r in dedup.cluster_pairs(pairs).collect()}
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert reps <= kept_ids


def test_fused_dedup_matches_pairwise_keepset(spark, sf_dir):
    """The fused (bucket-component + rep-verify) path must keep the same
    corpus as the pairwise (pair-join + connected-components) path on the
    real corpus — the fused path is an optimization, not a semantics
    change, when bucket components equal verified-pair components."""
    d = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(d, num_hashes=32, bands=8, threshold=0.7, shingle_n=3)
    kept_pairwise = {r["doc_id"] for r in dedup.dedup_near(d, pairs).select("doc_id").collect()}
    kept_fused = {
        r["doc_id"]
        for r in dedup.dedup_near_fused(d, num_hashes=32, bands=8, threshold=0.7, shingle_n=3)
        .select("doc_id").collect()
    }
    assert kept_fused == kept_pairwise


def test_fused_cluster_reps_cover_verified_pairs(spark, sf_dir):
    """Every Jaccard-verified near-dup pair must land in one fused cluster
    (LSH-bucket components can only over-merge, never split a candidate
    pair — both docs share a bucket by construction)."""
    d = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(d, num_hashes=32, bands=8, threshold=0.7, shingle_n=3)
    labels = {
        r["doc_id"]: r["cluster"]
        for r in dedup.minhash_cluster_reps(d, num_hashes=32, bands=8, shingle_n=3).collect()
    }
    for r in pairs.collect():
        assert labels[r["doc_a"]] == labels[r["doc_b"]]


def test_bucket_components_long_chain_and_singleton(spark):
    """A 30-doc bucket chain (doc i and i+1 share bucket 1000+i) is one
    cluster however many hops it spans, and a doc that shares no bucket
    is its own cluster."""
    rows = [(i, 1000 + i) for i in range(29)] + [(i + 1, 1000 + i) for i in range(29)]
    rows.append((500, 9000))
    banded = spark.createDataFrame(rows, "doc_id long, bkey long")
    got = {r["doc_id"]: r["cluster"] for r in dedup.bucket_components(banded).collect()}
    assert got == {**{i: 0 for i in range(30)}, 500: 500}


def test_language_id_deterministic_argmax(spark):
    rows = [
        (1, "the cat and the dog of the house is big", "en", "s", 1),
        (2, "der hund und die katze das ist ein haus", "de", "s", 1),
        (3, "el perro y los gatos que una casa por", "es", "s", 1),
        (4, "le chien et les chats dans une maison pour", "fr", "s", 1),
        (5, "你好 世界 这是 中文 文本", "zh", "s", 1),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    preds = {r["doc_id"]: r["lang_pred"] for r in textstats.language_id(d).collect()}
    assert preds == {1: "en", 2: "de", 3: "es", 4: "fr", 5: "zh"}


def test_quality_score_bounds(spark, sf_dir):
    qs = textstats.quality_score(_docs(spark, sf_dir))
    bad = qs.where((F.col("quality_score") < 0) | (F.col("quality_score") > 1)).count()
    assert bad == 0


def test_multimodal_feature_plumbing(spark, sf_dir):
    media = multimodal.synth_media(spark, sf_dir)
    feats = multimodal.extract_features(media)
    assert feats.schema == multimodal.FEATURES_SCHEMA
    row = feats.where(F.col("media_id") == 0).collect()[0]
    doc0 = _docs(spark, sf_dir).where(F.col("doc_id") == 0).collect()[0]
    expected = multimodal._fake_features(doc0["text"].encode())
    assert [round(x, 4) for x in row["features"]] == expected
    assert row["n_bytes"] == len(doc0["text"].encode())


def test_multimodal_parquet_roundtrip(spark, sf_dir, tmp_path):
    media = multimodal.synth_media(spark, sf_dir)
    p = str(tmp_path / "media")
    media.write.parquet(p)
    back = spark.read.parquet(p)
    assert back.schema == multimodal.MEDIA_SCHEMA
    assert back.count() == media.count()


def test_repetition_stats_planted(spark):
    rows = [
        (1, "spam spam spam spam spam spam", "en", "s", 29),            # degenerate
        (2, "one two three four five six seven eight", "en", "s", 39),  # clean
    ]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    stats = {r["doc_id"]: r for r in textstats.repetition_stats(d).collect()}
    assert stats[1]["top_token_frac"] == 1.0
    assert stats[1]["dup_bigram_frac"] > 0.5
    assert stats[2]["dup_bigram_frac"] == 0.0
    assert stats[2]["dup_trigram_frac"] == 0.0
    assert abs(stats[2]["top_token_frac"] - round(1 / 8, 4)) < 1e-9


def test_decontamination_planted(spark):
    from magiceye_spark.llmops import pipeline

    shared = "alpha beta gamma delta epsilon"
    rows = [
        (1, f"intro text then {shared} and more trailing words", "en", "s", 40),
        (2, "completely unrelated training document here okay", "en", "s", 48),
        (50, f"benchmark question: {shared}?", "en", "s", 30),
    ]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    train = d.where("doc_id % 50 != 0")
    ev = d.where("doc_id % 50 = 0")
    overlap = pipeline.decontamination_overlap(train, ev, ngram_n=4).collect()
    assert {(r["doc_id"], r["eval_doc_id"]) for r in overlap} == {(1, 50)}
    kept = {r["doc_id"] for r in pipeline.decontaminate(train, ev, ngram_n=4).collect()}
    assert kept == {2}


def test_decontamination_stopgram_cut(spark):
    """Grams over the df cap are dropped before the join: a boilerplate
    phrase shared by every document stops linking pairs, while a
    discriminative shared phrase still does."""
    from magiceye_spark.llmops import pipeline

    boiler = "copyright notice all rights"
    rows = [(i, f"{boiler} doc {i} filler", "en", "s", 30) for i in (1, 2, 3, 4)]
    rows.append((5, f"{boiler} secret leaked answer", "en", "s", 30))
    rows.append((50, f"{boiler} secret leaked answer", "en", "s", 30))
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    train = d.where("doc_id % 50 != 0")
    ev = d.where("doc_id % 50 = 0")
    plain = {
        (r["doc_id"], r["eval_doc_id"])
        for r in pipeline.decontamination_overlap(train, ev, ngram_n=2).collect()
    }
    # boilerplate 2-grams appear in all 6 docs -> df cap 5 removes them
    cut = {
        (r["doc_id"], r["eval_doc_id"])
        for r in pipeline.decontamination_overlap(
            train, ev, ngram_n=2, max_ngram_df=5
        ).collect()
    }
    assert cut <= plain
    assert (5, 50) in cut, "discriminative overlap must survive the cut"
    assert (1, 50) in plain and (1, 50) not in cut, (
        "boilerplate-only pair must be cut"
    )


def test_embedding_dedup_fused_planted(spark):
    """Three near-identical vectors collapse to one representative; the two
    distinct vectors and sub-threshold members survive."""
    import math

    def unit(theta):
        return [math.cos(theta), math.sin(theta)] + [0.0] * 62

    rows = [
        (1, unit(0.0), "a"),
        (2, unit(0.01), "a"),      # cos≈0.99995 vs 1 — dup
        (3, unit(0.02), "a"),      # dup
        (4, unit(1.2), "b"),       # cos≈0.36 — distinct
        (5, unit(-1.3), "c"),      # distinct
    ]
    d = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label string")
    kept = {
        r["vec_id"]
        for r in simsearch.embedding_dedup_fused(d, threshold=0.95).collect()
    }
    assert kept == {1, 4, 5}


def test_embedding_dedup_fused_matches_pairwise_on_corpus(spark, sf_dir):
    """At the semantic-dedup threshold the fused path must agree with the
    pairwise (LSH pairs + connected components) path on the real corpus."""
    d = _embs(spark, sf_dir)
    pairs = simsearch.embedding_near_dup_pairs_lsh(d, threshold=0.95).selectExpr(
        "id_a AS doc_a", "id_b AS doc_b"
    )
    kept_pairwise = {
        r["vec_id"] for r in dedup.dedup_near(d, pairs, id_col="vec_id").collect()
    }
    kept_fused = {
        r["vec_id"]
        for r in simsearch.embedding_dedup_fused(d, threshold=0.95).collect()
    }
    assert kept_fused == kept_pairwise


def test_split_leakage_audit_planted(spark):
    """Cross-boundary near-dup pairs are flagged; same-split pairs are not.
    leakage_pairs is pair-generator-agnostic: the exact-Jaccard feed and a
    caller-supplied pair table (the LSH path's contract) agree."""
    from pyspark.sql import functions as F

    from magiceye_spark.llmops import dedup
    from magiceye_spark.llmops.pipeline import (
        hash_split,
        leakage_pairs,
        split_leakage_audit,
    )

    d = _planted(spark)
    splits = hash_split(d, train_pct=90)
    by_id = {r["doc_id"]: r["split"] for r in splits.collect()}
    out = split_leakage_audit(d, train_pct=90, threshold=0.8).collect()
    for r in out:  # every reported pair genuinely straddles
        assert by_id[r["doc_a"]] != by_id[r["doc_b"]]
        assert r["split_a"] == by_id[r["doc_a"]]
        assert r["jaccard"] >= 0.8
    # generic feed: identical result when the pair table is supplied
    pairs = dedup.jaccard_near_dups(d, threshold=0.8)
    via_generic = leakage_pairs(pairs, splits).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, via_generic))
    # force a straddle with a 2-doc corpus split by construction:
    # doc ids chosen so md5-bucket lands one in train, one in eval
    buckets = {
        r["doc_id"]: r["split"]
        for r in hash_split(
            spark.createDataFrame(
                [(i, "x", "en", "s", 1) for i in range(40)],
                "doc_id long, text string, lang string, source string, n_chars long",
            ),
            train_pct=50,
        ).collect()
    }
    tr = next(i for i, s in buckets.items() if s == "train")
    ev = next(i for i, s in buckets.items() if s == "eval")
    two = spark.createDataFrame(
        [
            (tr, "alpha beta gamma delta epsilon", "en", "s", 30),
            (ev, "alpha beta gamma delta epsilon", "en", "s", 30),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    flagged = split_leakage_audit(two, train_pct=50, threshold=0.8).collect()
    assert len(flagged) == 1 and {flagged[0]["split_a"], flagged[0]["split_b"]} == {
        "train",
        "eval",
    }


def test_hash_split_multi_consistent_with_binary(spark, sf_dir):
    """{'train': .9, 'eval': .1} multi-split must equal the binary
    hash_split exactly (same bucket, same boundary); fractions must sum
    to 1; every doc gets exactly one split."""
    import pytest as _pytest

    from magiceye_spark.llmops.pipeline import hash_split, hash_split_multi

    docs = _docs(spark, sf_dir)
    two = {(r["doc_id"], r["split"]) for r in
           hash_split_multi(docs, {"train": 0.9, "eval": 0.1}).collect()}
    binary = {(r["doc_id"], r["split"]) for r in hash_split(docs, 90).collect()}
    assert two == binary
    three = hash_split_multi(docs, {"train": 0.9, "val": 0.05, "test": 0.05})
    counts = {r["split"]: r["n"] for r in
              three.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) <= {"train", "val", "test"} and counts["train"] > 0
    assert sum(counts.values()) == docs.count()
    with _pytest.raises(ValueError):
        hash_split_multi(docs, {"a": 0.5, "b": 0.4})


def test_hash_split_multi_rejects_empty_percent_range(spark, sf_dir):
    import pytest as _pytest

    from magiceye_spark.llmops.pipeline import hash_split_multi

    docs = _docs(spark, sf_dir)
    with _pytest.raises(ValueError, match="empty 1% range"):
        hash_split_multi(docs, {"a": 0.004, "b": 0.996})


def test_approx_source_overlap_tracks_exact_matrix(spark, sf_dir):
    """HLL inclusion-exclusion estimates stay within sketch tolerance of
    the exact shared-content matrix, and cover ALL unordered pairs (the
    exact matrix only emits pairs with >=1 shared hash)."""
    from magiceye_spark.llmops.dedup import approx_source_overlap, cross_source_overlap

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = {
        (r.source_a, r.source_b): r.n_shared_texts
        for r in cross_source_overlap(docs).collect()
    }
    approx = {
        (r.source_a, r.source_b): r.approx_shared_texts
        for r in approx_source_overlap(docs).collect()
    }
    n_sources = docs.select("source").distinct().count()
    assert len(approx) == n_sources * (n_sources - 1) // 2
    for pair, n in exact.items():
        assert abs(approx[pair] - n) <= max(2.0, 0.05 * n), (pair, n, approx[pair])
    # pairs with no exact overlap must estimate ~0
    for pair, est in approx.items():
        if pair not in exact:
            assert est <= 2.0, (pair, est)


def test_source_report_card_entropy_semantics(spark):
    """Token entropy: 0 for a single repeated token, ln(k) for k uniform
    tokens; dup_doc_frac flags bag-identical docs across sources."""
    import math

    from magiceye_spark.llmops.textstats import source_report_card

    docs = spark.createDataFrame(
        [
            (0, "aa aa aa aa", "en", "s0", 11),      # entropy 0
            (1, "a b c d", "en", "s1", 7),            # entropy ln(4)
            (2, "x y z w", "de", "s2", 7),            # bag-dup with doc 3
            (3, "w z y x", "en", "s3", 7),            # bag-dup with doc 2
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    card = {r.source: r for r in source_report_card(docs).collect()}
    assert card["s0"].avg_token_entropy == pytest.approx(0.0, abs=1e-6)
    assert card["s1"].avg_token_entropy == pytest.approx(math.log(4), abs=1e-4)
    assert card["s2"].dup_doc_frac == 1.0 and card["s3"].dup_doc_frac == 1.0
    assert card["s0"].dup_doc_frac == 0.0
    assert card["s2"].en_frac == 0.0 and card["s1"].en_frac == 1.0


def test_containment_catches_subset_jaccard_misses(spark):
    """A short doc fully embedded in a long one: containment(A->B)=1.0
    even though Jaccard(A,B) is far below any near-dup threshold."""
    from magiceye_spark.llmops.dedup import containment_near_dups, jaccard_near_dups

    quote = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(30))
    docs = spark.createDataFrame(
        [
            (0, quote, "en", "s", len(quote)),
            (1, f"{filler} {quote} {filler}", "en", "s", 600),
            (2, "totally unrelated content here now", "en", "s", 34),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    pairs = {
        (r.contained_doc, r.container_doc): r.containment
        for r in containment_near_dups(docs, threshold=0.8).collect()
    }
    assert pairs == {(0, 1): 1.0}
    # symmetric Jaccard misses it entirely (length block aside, ratio tiny)
    assert jaccard_near_dups(docs, threshold=0.3, length_tol=10**6).count() == 0


def test_containment_indexed_equals_allpairs_twin(spark, sf_dir):
    """With max_df=None the inverted-index path is provably identical to
    the all-pairs twin on same-lang pairs (the twin lang-blocks; the
    index also finds cross-lang pairs, so compare on the twin's scope)."""
    from magiceye_spark.llmops.dedup import (
        containment_near_dups,
        containment_near_dups_indexed,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    twin = {
        (r.contained_doc, r.container_doc): r.containment
        for r in containment_near_dups(docs).collect()
    }
    indexed = {
        (r.contained_doc, r.container_doc): r.containment
        for r in containment_near_dups_indexed(docs, max_df=None).collect()
    }
    lang = {r.doc_id: r.lang for r in docs.select("doc_id", "lang").collect()}
    same_lang = {
        p: c for p, c in indexed.items() if lang[p[0]] == lang[p[1]]
    }
    assert same_lang == twin
    # the index is a superset generator: every twin pair must be found
    assert set(twin) <= set(indexed)


def test_negative_samples_deterministic_and_label_safe(spark, sf_dir):
    """Hash-ring negatives: run-to-run identical, never a same-label or
    self pair, and near-complete coverage (only label collisions drop)."""
    from magiceye_spark.llmops.pipeline import negative_samples

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = {(r.anchor_id, r.negative_id, r.j) for r in negative_samples(emb).collect()}
    b = {(r.anchor_id, r.negative_id, r.j) for r in negative_samples(emb).collect()}
    assert a == b and a
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    for anchor, neg, _ in a:
        assert anchor != neg
        assert labels[anchor] != labels[neg]
    # with 10 uniform labels, ~10% of draws collide and drop: expect >80%
    n = emb.count()
    assert len(a) > 0.8 * n * 4


def test_hard_negatives_planted_geometry(spark):
    """A planted near-duplicate with a different label must be the top
    hard negative; same-label vectors never appear."""
    from magiceye_spark.llmops.simsearch import hard_negatives

    rows = [
        (0, [1.0, 0.0, 0.0], "a"),
        (1, [0.999, 0.04, 0.0], "b"),   # near-dup of 0, different label
        (2, [0.98, 0.2, 0.0], "a"),     # near 0 but SAME label -> excluded
        (3, [0.0, 1.0, 0.0], "b"),
        (4, [0.0, 0.0, 1.0], "c"),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    out = hard_negatives(emb, k=2).collect()
    by_anchor = {}
    for r in out:
        by_anchor.setdefault(r.anchor_id, []).append(r)
    assert by_anchor[0][0].negative_id == 1  # the cross-label near-dup
    labels = {r[0]: r[2] for r in rows}
    for anchor, negs in by_anchor.items():
        for r in negs:
            assert labels[r.negative_id] != labels[anchor]


def test_bigram_logprob_flags_shredded_text(spark):
    """Docs made of corpus-typical transitions score higher than a doc of
    never-seen transitions (shredded/gibberish), and a doc repeating the
    corpus's dominant bigram scores highest."""
    from magiceye_spark.llmops.textstats import bigram_logprob

    normal = "the cat sat on the mat"
    rows = [(i, normal) for i in range(20)] + [
        (100, "mat the on sat cat the"),  # same words, shredded transitions
        (101, "zq xv qj wk bn pm"),        # alien vocabulary
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.avg_logprob for r in bigram_logprob(docs).collect()}
    # in-distribution docs beat BOTH failure modes; identical docs tie.
    # (shredded vs alien ordering is corpus-dependent: unseen vocabulary
    # gets the uniform smoothing floor ~ln(1/V), while common-word weird
    # transitions are punished by their large unigram denominators.)
    assert out[0] > out[100] and out[0] > out[101]
    assert out[0] == out[19]


def test_winnowing_guarantee_and_density(spark):
    """Schleimer guarantee: any shared run of n+window-1 tokens yields a
    shared fingerprint; density is far below the full gram count."""
    from magiceye_spark.llmops.dedup import winnow_fingerprints, winnow_overlap_pairs

    shared = " ".join(f"s{i}" for i in range(7))  # n+window-1 = 7 tokens
    docs = spark.createDataFrame(
        [
            (0, f"a1 a2 a3 {shared} a4 a5 a6 a7 a8"),
            (1, f"b1 b2 {shared} b3 b4 b5 b6 b7 b8 b9"),
            (2, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12"),
        ],
        "doc_id long, text string",
    )
    fp = winnow_fingerprints(docs)
    by_doc = {}
    for r in fp.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[0] & by_doc[1], "guaranteed shared fingerprint missing"
    assert not (by_doc[0] & by_doc[2]) and not (by_doc[1] & by_doc[2])
    # density: far fewer fingerprints than grams (16 grams in doc 2)
    assert len(by_doc[2]) < 16 / 2
    pairs = winnow_overlap_pairs(docs, min_shared=1).collect()
    assert [(p.doc_a, p.doc_b) for p in pairs] == [(0, 1)]


def test_source_similarity_matrix_geometry(spark):
    """Identical-token sources hit 1.0; disjoint-vocab sources emit no
    pair row (no shared tokens); all pairs are unordered a<b."""
    from magiceye_spark.llmops.textstats import source_similarity_matrix

    docs = spark.createDataFrame(
        [
            (0, "x y z x", "en", "sA", 7),
            (1, "x y z x", "en", "sB", 7),   # identical distribution to sA
            (2, "p q r s", "en", "sC", 7),   # disjoint vocab
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {(r.source_a, r.source_b): r.cosine_sim
           for r in source_similarity_matrix(docs).collect()}
    assert out == {("sA", "sB"): 1.0}


def test_label_audits_planted_geometry(spark):
    """Tight cluster vs scattered label: compactness separates them;
    near-parallel centroids show ~1.0 pair similarity."""
    rows = [
        # label a: tight around e1
        (0, [1.0, 0.01, 0.0], "a"), (1, [1.0, -0.01, 0.0], "a"),
        # label b: same direction as a (confusable)
        (2, [0.99, 0.05, 0.0], "b"), (3, [0.98, -0.05, 0.0], "b"),
        # label c: scattered orthogonally
        (4, [0.0, 1.0, 0.0], "c"), (5, [0.0, 0.0, 1.0], "c"),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    from magiceye_spark.llmops.simsearch import label_centroid_similarity, label_compactness

    comp = {r.label: r.avg_cos_to_centroid for r in label_compactness(emb).collect()}
    assert comp["a"] > 0.999 and comp["b"] > 0.99
    assert comp["c"] < 0.9  # scattered
    sim = {(r.label_a, r.label_b): r.centroid_cos
           for r in label_centroid_similarity(emb).collect()}
    assert sim[("a", "b")] > 0.99   # confusable pair
    assert sim[("a", "c")] < 0.6
