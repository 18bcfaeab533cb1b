"""LLM-data-pipeline rows (SURVEY §2.4 additions): dedup ladder, similarity search / ANN stores + ingest loops, text analysis, multimodal, sketches, streaming twins.

Split from the single-file registry in r13; each @register call populates the shared _REGISTRY in magiceye_spark.queries (same driver contract, same keys).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from magiceye_spark import events_ops, io
from magiceye_spark.llmops import dedup, multimodal, pipeline, simsearch, textstats
from magiceye_spark.queries import register


# ------------------------------------------------------------- LLM ops M5

def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _docs_par(spark, sf_dir):
    """documents with an under-split-scan repartition: for queries whose
    corpus-sized work (token explode + partial agg) runs BEFORE the first
    shuffle - a single-file local scan serializes it (stage audit: the NB
    fold plans spent 11.7 s of 13.8 in one task). No-op on a real lake."""
    return io.read_table(spark, sf_dir, "documents", parallelize=True)


def _embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@register("text_stats", textstats.SQL_TEXT_STATS)
def text_stats_q(spark, sf_dir):
    return textstats.text_stats(_docs(spark, sf_dir))


@register("quality_score", textstats.SQL_QUALITY)
def quality_q(spark, sf_dir):
    return textstats.quality_score(_docs(spark, sf_dir))


@register("language_id", textstats.sql_language_id())
def language_q(spark, sf_dir):
    return textstats.language_id(_docs(spark, sf_dir))


@register("doc_fingerprint", textstats.SQL_FINGERPRINT)
def fingerprint_q(spark, sf_dir):
    return textstats.doc_fingerprint(_docs(spark, sf_dir))


@register("tfidf_top_terms", textstats.sql_tfidf_top_terms(k=3))
def tfidf_q(spark, sf_dir):
    return textstats.tfidf_top_terms(_docs(spark, sf_dir), k=3)


@register("pii_scan", textstats.SQL_PII_SCAN)
def pii_q(spark, sf_dir):
    return textstats.pii_scan(_docs(spark, sf_dir))


@register("doc_rolling_fingerprint", textstats.SQL_ROLLING_FP)
def rolling_fp_q(spark, sf_dir):
    return textstats.rolling_fingerprint(_docs(spark, sf_dir))


# the synthetic corpus ships no exact dups at sf0.01 (0-row oracle parity
# is vacuous — r11 verdict ask #3), so both engines union in deterministic
# canonicalization-foldable clones of docs 0-4: an upper-cased twin and a
# whitespace-doubled twin per doc — the operator must fold each onto its
# source cluster (keeper = the original doc_id)
_EXACT_DUP_PLANT_SQL = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 40000000, UPPER(text) FROM documents WHERE doc_id < 5
UNION ALL
SELECT doc_id + 41000000, regexp_replace(text, ' ', '  ', 'g')
FROM documents WHERE doc_id < 5
"""


@register(
    "exact_dup_clusters",
    dedup.SQL_EXACT_CLUSTERS.replace(
        "FROM documents", f"FROM ({_EXACT_DUP_PLANT_SQL}) documents", 1
    ),
)
def exact_dups_q(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    planted = docs.where(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 40000000).alias("doc_id"),
        F.upper("text").alias("text"),
    ).unionByName(
        docs.where(F.col("doc_id") < 5).select(
            (F.col("doc_id") + 41000000).alias("doc_id"),
            F.regexp_replace("text", " ", "  ").alias("text"),
        )
    )
    return dedup.exact_duplicate_clusters(docs.unionByName(planted))


_UNICODE_PLANT_SQL = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 10000000,
       substr(text, 1, 1) || chr(8203) || substr(text, 2)
FROM documents WHERE doc_id < 5
"""


@register(
    "unicode_dup_clusters", dedup.sql_unicode_dup_clusters(_UNICODE_PLANT_SQL)
)
def unicode_dups_q(spark, sf_dir):
    """Homoglyph-resistant exact dedup: clusters under zero-width strip +
    width fold + canonical (NFC-class) equivalence. Spark groups by the
    ICU UNICODE collation (pure JVM — no NFC expression exists, collation
    equality IS canonical equivalence); the oracle groups by DuckDB
    nfc_normalize bytes — two engines reaching the same equivalence
    classes by different keys. The corpus ships no unicode-variant dups,
    so — the synthcat-perturbation precedent — both engines union in five
    deterministic zero-width-spliced clones of docs 0-4: the operator must
    cluster each clone with its source (byte-level md5 dedup misses all
    five; the raw-vs-canonical contrast is pinned in test_r7_ops)."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    planted = docs.where(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 10000000).alias("doc_id"),
        F.concat(
            F.substring("text", 1, 1),
            F.lit("​"),
            F.expr("substring(text, 2)"),
        ).alias("text"),
    )
    return dedup.unicode_dup_clusters(docs.unionByName(planted))


@register("sigstore_band_stats", None)  # buckets are xxhash64 over stored
# signature slices (no DuckDB twin); occupancy/accounting invariants and a
# planted-template max_bucket pin live in tests/test_r9_ops.py
def sigstore_band_stats_q(spark, sf_dir):
    """MinHash-store health: per-band bucket occupancy — the number that
    sizes the hot-bucket salt guard, completing the triad's diagnostic
    symmetry (hamstore.band_bucket_stats / annindex.ivf_index_stats)."""
    from magiceye_spark.llmops import sigstore

    idx = sigstore.write_minhash_index(
        _docs(spark, sf_dir), _ann_index_path(sf_dir) + "_sigstats"
    )
    return sigstore.band_bucket_stats(idx)


@register("delta_admit_indexed", None)  # xxhash64 MinHash store: rows-only;
# stored==fresh pair equality and admission parity vs the from-scratch
# closure are pinned exactly in tests/test_r7_ops.py
def delta_admit_indexed_q(spark, sf_dir):
    """Delta-ingest admission against a PERSISTED MinHash signature store
    (the dedup twin of the stored ANN index): docs 0-349 are signed and
    stored once; the 350+ batch is admitted by re-deriving band buckets
    from stored signatures — only the batch is shingled. Closure
    semantics identical to delta_dedup_admit."""
    from magiceye_spark.llmops import sigstore

    docs = _docs(spark, sf_dir)
    idx = sigstore.write_minhash_index(
        docs.where(F.col("doc_id") < 350), _ann_index_path(sf_dir) + "_sig"
    )
    # the function returns the caller's full schema; keep the driver row's
    # lean metadata projection (text elided)
    return sigstore.delta_dedup_admit_indexed(
        idx, docs.where(F.col("doc_id") >= 350)
    ).select("doc_id", "lang", "source", "n_chars")


_CONFUSABLE_PLANT_SQL = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 20000000, translate(text, 'aeop', 'аеор')
FROM documents WHERE doc_id < 5
"""


@register(
    "confusable_dup_clusters",
    dedup.sql_confusable_dup_clusters(_CONFUSABLE_PLANT_SQL),
)
def confusable_dups_q(spark, sf_dir):
    """Cross-script homoglyph dedup (UTS-#39 skeleton fold): the layer
    canonical equivalence cannot reach — Cyrillic а and Latin a are
    unrelated abstract characters, so NFC/collation keeps them distinct;
    mapping to the Latin twin and hashing catches the spam/dedup-evasion
    class. Both engines union in five Cyrillic-substituted clones of docs
    0-4 (same planted-perturbation precedent as unicode_dup_clusters);
    each must cluster with its source."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    planted = docs.where(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 20000000).alias("doc_id"),
        F.translate("text", "aeop", "аеор").alias("text"),
    )
    return dedup.confusable_dup_clusters(docs.unionByName(planted))


# the synthetic corpus ships no invisible characters (0-row oracle parity
# is vacuous — r11 verdict ask #3), so both engines union in deterministic
# anomalous clones: two zero-width chars spliced into docs 0-4 and three
# fullwidth chars prefixed to docs 0-4 — the scan must count exactly those
_UNICODE_ANOMALY_PLANT_SQL = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 30000000,
       substr(text, 1, 3) || chr(8203) || chr(8204) || substr(text, 4)
FROM documents WHERE doc_id < 5
UNION ALL
SELECT doc_id + 31000000, chr(65313) || chr(65314) || chr(12288) || text
FROM documents WHERE doc_id < 5
"""


@register(
    "unicode_anomaly_scan",
    dedup.SQL_UNICODE_ANOMALY_SCAN.replace(
        "FROM documents", f"FROM ({_UNICODE_ANOMALY_PLANT_SQL}) documents", 1
    ),
)
def unicode_anomaly_q(spark, sf_dir):
    """Invisible-character audit (zero-width + fullwidth counts per doc)
    — the detection side of dedup-evasion canonicalization. Planted
    anomalies (the synthcat-perturbation precedent): zero-width-spliced
    and fullwidth-prefixed clones of docs 0-4 keep the parity check
    non-vacuous on a clean corpus."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    planted = docs.where(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 30000000).alias("doc_id"),
        F.concat(
            F.substring("text", 1, 3),
            F.lit("​‌"),
            F.expr("substring(text, 4)"),
        ).alias("text"),
    ).unionByName(
        docs.where(F.col("doc_id") < 5).select(
            (F.col("doc_id") + 31000000).alias("doc_id"),
            F.concat(F.lit("ＡＢ　"), F.col("text")).alias("text"),
        )
    )
    return dedup.unicode_anomaly_scan(docs.unionByName(planted))


@register("bag_dup_clusters", dedup.SQL_BAG_CLUSTERS)
def bag_dups_q(spark, sf_dir):
    return dedup.bag_duplicate_clusters(_docs(spark, sf_dir))


SQL_DEDUP_EXACT = r"""
SELECT doc_id, text, lang, source, n_chars FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY md5(regexp_replace(TRIM(LOWER(text)), '\s+', ' ', 'g'))
    ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1
"""


@register("dedup_exact_corpus", SQL_DEDUP_EXACT)
def dedup_exact_q(spark, sf_dir):
    return dedup.dedup_exact(_docs(spark, sf_dir))


@register("jaccard_near_dups", dedup.sql_jaccard_near_dups(threshold=0.8))
def jaccard_q(spark, sf_dir):
    return dedup.jaccard_near_dups(_docs(spark, sf_dir), threshold=0.8)


@register("allpairs_jaccard_join", dedup.sql_allpairs_jaccard_join())
def allpairs_jaccard_q(spark, sf_dir):
    """Exact GLOBAL Jaccard join via AllPairs prefix filtering — the
    lossless scale path of the dedup ladder (vs the blocked twin and the
    probabilistic MinHash path)."""
    return dedup.allpairs_jaccard_join(_docs(spark, sf_dir))


@register("minhash_lsh_near_dups", None)  # xxhash64-based: rows-only check
def minhash_q(spark, sf_dir):
    return dedup.minhash_lsh_pairs(
        _docs(spark, sf_dir), num_hashes=32, bands=8, threshold=0.8, shingle_n=1
    )


@register("minhash_lsh_ngram_dups", None)  # xxhash64-based: rows-only check
def minhash_ngram_q(spark, sf_dir):
    """3-gram shingled variant — the pretraining-dedup standard (word
    n-grams catch local edits that whole-token sets miss)."""
    return dedup.minhash_lsh_pairs(
        _docs(spark, sf_dir), num_hashes=32, bands=8, threshold=0.7, shingle_n=3
    )


SQL_QUALITY_FILTERED = f"""
SELECT doc_id, text, lang, source, n_chars
FROM documents
WHERE doc_id IN (SELECT doc_id FROM ({textstats.SQL_QUALITY}) WHERE quality_score >= 0.5)
"""


@register("chunk_dedup_stats", pipeline.sql_chunk_dedup_stats(chunk_chars=512, overlap=64))
def chunk_dedup_q(spark, sf_dir):
    return pipeline.chunk_dedup_stats(_docs(spark, sf_dir))


@register("corpus_composition", pipeline.SQL_CORPUS_COMPOSITION)
def composition_q(spark, sf_dir):
    return pipeline.corpus_composition(_docs(spark, sf_dir))


@register("quality_filtered_corpus", SQL_QUALITY_FILTERED)
def quality_filter_q(spark, sf_dir):
    return pipeline.filter_quality(_docs(spark, sf_dir), min_score=0.5)


@register("corpus_stratified_sample", None)  # seeded RNG differs per engine: rows-only
def stratified_q(spark, sf_dir):
    fractions = {"en": 0.5, "de": 1.0, "es": 1.0, "fr": 1.0, "zh": 1.0}
    return pipeline.stratified_sample(_docs(spark, sf_dir), fractions)


@register("corpus_hash_split", pipeline.sql_hash_split(train_pct=90))
def hash_split_q(spark, sf_dir):
    return pipeline.hash_split(_docs(spark, sf_dir), train_pct=90)


_SPLIT3 = {"train": 0.9, "val": 0.05, "test": 0.05}


@register("corpus_hash_split3", pipeline.sql_hash_split_multi(_SPLIT3))
def hash_split3_q(spark, sf_dir):
    """N-way deterministic split (train/val/test from one md5 bucket):
    same engine/layout-independent bucket as corpus_hash_split, cut at
    cumulative integer-percent boundaries."""
    return pipeline.hash_split_multi(_docs(spark, sf_dir), _SPLIT3)


@register("split_leakage_audit", pipeline.sql_split_leakage(train_pct=90, threshold=0.8))
def split_leakage_q(spark, sf_dir):
    """Near-dup pairs that straddle the train/eval hash-split boundary —
    paraphrase-level benchmark leakage the n-gram decontamination check
    misses. Pair generator here is the exact Jaccard oracle twin
    (dedup.jaccard_near_dups); at corpus scale feed minhash_lsh_pairs into
    pipeline.leakage_pairs — the audit join itself adds no shuffle beyond
    the pair table's own."""
    return pipeline.split_leakage_audit(_docs(spark, sf_dir), train_pct=90, threshold=0.8)


@register("top_users_per_type_scalable", events_ops.sql_top_users_per_type(k=3))
def top_users_per_type_scalable_q(spark, sf_dir):
    """Salted two-phase grouped top-k: same output and same oracle SQL as
    top_users_per_type, but no per-type rank window — the single-task
    per-type sort that dies when one type has 10^9 users is replaced by
    n_salts parallel local top-ks plus a KB-sized merge."""
    return events_ops.top_users_per_type_scalable(
        events_ops._events(spark, sf_dir), k=3
    )


@register("sequence_packing", pipeline.sql_sequence_packing(budget=512, n_shards=32))
def sequence_packing_q(spark, sf_dir):
    """Concat-and-chunk token packing into 512-token training sequences,
    sharded 32 ways so the prefix sum parallelizes."""
    return pipeline.sequence_packing(_docs(spark, sf_dir), budget=512, n_shards=32)


#: target mixture for the mixing-weights query: upweight even sources,
#: drop src9 — arbitrary but fixed so the oracle is deterministic.
_TARGET_MIX = {f"src{i}": (0.075 if i % 2 == 0 else 0.03) for i in range(20) if i != 9}


@register("source_mixing_weights", pipeline.sql_source_mixing_weights(_TARGET_MIX))
def mixing_weights_q(spark, sf_dir):
    """Per-source sampling weights toward a prescribed training mixture
    (weight = target share / natural share; absent sources weight 0)."""
    return pipeline.source_mixing_weights(_docs(spark, sf_dir), _TARGET_MIX)


@register("daily_active_users", events_ops.sql_active_users(window_days=7))
def dau_q(spark, sf_dir):
    """DAU + rolling 7-day active users — the engagement curve; rolling
    COUNT DISTINCT via fan-out of the distinct (day, user) set."""
    return events_ops.active_users(events_ops._events(spark, sf_dir), window_days=7)


@register("top_users_per_type", events_ops.sql_top_users_per_type(k=3))
def top_users_per_type_q(spark, sf_dir):
    """Grouped top-k: top 3 users by summed value within each event type."""
    return events_ops.top_users_per_type(events_ops._events(spark, sf_dir), k=3)


SQL_KEY_SKEW = """
SELECT event_type, n_rows, share, rank FROM (
  SELECT event_type, n_rows,
         ROUND(n_rows / CAST((SELECT COUNT(*) FROM events) AS DOUBLE), 6) AS share,
         ROW_NUMBER() OVER (ORDER BY n_rows DESC, event_type ASC) AS rank
  FROM (SELECT event_type, COUNT(*) AS n_rows FROM events GROUP BY event_type)
)
WHERE rank <= 10
ORDER BY rank
"""


@register("events_key_skew", SQL_KEY_SKEW)
def key_skew_q(spark, sf_dir):
    """Shuffle-key skew diagnostics on the events stream's event_type —
    the pre-flight check before keying a join/agg on a hot column."""
    from magiceye_spark.skew import key_skew_stats

    return key_skew_stats(events_ops._events(spark, sf_dir), ["event_type"])


@register("repetition_stats", textstats.sql_repetition_stats())
def repetition_q(spark, sf_dir):
    """Gopher-style intra-document repetition filters: duplicate bigram/
    trigram fraction + most-frequent-token share."""
    return textstats.repetition_stats(_docs(spark, sf_dir))


#: deterministic eval-set selector for the decontamination queries: every
#: 50th doc plays the held-out benchmark.
_EVAL_MOD = 50


def _train_eval(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return (
        d.where(F.col("doc_id") % _EVAL_MOD != 0),
        d.where(F.col("doc_id") % _EVAL_MOD == 0),
    )


@register(
    "decontamination_overlap",
    pipeline.sql_decontamination_overlap(ngram_n=4, eval_mod=_EVAL_MOD),
)
def decontamination_q(spark, sf_dir):
    """Benchmark decontamination: (train doc, eval doc) pairs sharing any
    word 4-gram, with the shared-ngram count (4: the corpus sentences
    are short templated spans; real pipelines use 8-13)."""
    train, ev = _train_eval(spark, sf_dir)
    return pipeline.decontamination_overlap(train, ev, ngram_n=4)


@register(
    "decontamination_stopgram",
    pipeline.sql_decontamination_overlap(
        ngram_n=2, eval_mod=_EVAL_MOD, max_ngram_df=25
    ),
)
def decontamination_stopgram_q(spark, sf_dir):
    """Stopgram-cut decontamination: 2-gram overlap with grams whose
    corpus-wide document frequency exceeds 25 dropped before the join —
    the boilerplate-skew guard. On this corpus the cut removes ~70% of
    distinct 2-grams (the templated spans), so the pair join sees only
    discriminative grams."""
    train, ev = _train_eval(spark, sf_dir)
    return pipeline.decontamination_overlap(
        train, ev, ngram_n=2, max_ngram_df=25
    )


SQL_DECONTAMINATED = f"""
SELECT doc_id, text, lang, source, n_chars
FROM documents d
WHERE d.doc_id % {_EVAL_MOD} <> 0
  AND NOT EXISTS (
    SELECT 1 FROM ({pipeline.sql_decontamination_overlap(ngram_n=4, eval_mod=_EVAL_MOD)}) o
    WHERE o.doc_id = d.doc_id
  )
"""


@register("decontaminated_corpus", SQL_DECONTAMINATED)
def decontaminated_q(spark, sf_dir):
    """The post-decontamination training corpus (anti-join on overlaps)."""
    train, ev = _train_eval(spark, sf_dir)
    return pipeline.decontaminate(train, ev, ngram_n=4)


@register("curation_funnel", None)  # composite funnel: rows-only check
def curation_funnel_q(spark, sf_dir):
    return pipeline.curation_funnel_stats(spark, sf_dir)


@register("near_dedup_corpus", None)  # iterative clustering: rows-only check
def near_dedup_q(spark, sf_dir):
    """End-to-end near-dedup: 3-gram MinHash pairs → connected-component
    clusters → keep smallest doc_id per cluster."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(
        docs, num_hashes=32, bands=8, threshold=0.7, shingle_n=3
    )
    return dedup.dedup_near(docs, pairs)


@register("near_dedup_fused", None)  # iterative clustering: rows-only check
def near_dedup_fused_q(spark, sf_dir):
    """Scale-path near-dedup: LSH-bucket connected components with O(n)
    representative verification — no candidate-pair materialization, so the
    cost stays linear on high-duplication corpora where the pair join is
    O(cluster²) (BASELINE.md: 112 s → see bench note)."""
    return dedup.dedup_near_fused(
        _docs(spark, sf_dir), num_hashes=32, bands=8, threshold=0.7, shingle_n=3
    )


@register("simhash_near_dups", None)  # xxhash64-based: rows-only check
def simhash_q(spark, sf_dir):
    return dedup.simhash_near_dups(_docs(spark, sf_dir), max_hamming=3)


_QUERY_VEC_IDS = list(range(8))


@register("cosine_topk", simsearch.sql_cosine_topk(_QUERY_VEC_IDS, k=10))
def cosine_topk_q(spark, sf_dir):
    corpus = _embs(spark, sf_dir)
    queries_df = corpus.where(F.col("vec_id").isin(_QUERY_VEC_IDS))
    return simsearch.cosine_topk(corpus, queries_df, k=10)


@register("lsh_ann_topk", None)  # approximate: recall asserted in tests
def lsh_topk_q(spark, sf_dir):
    corpus = _embs(spark, sf_dir)
    queries_df = corpus.where(F.col("vec_id").isin(_QUERY_VEC_IDS))
    return simsearch.lsh_topk(corpus, queries_df, k=10)


@register("ivf_ann_topk", None)  # approximate: recall asserted in tests
def ivf_topk_q(spark, sf_dir):
    corpus = _embs(spark, sf_dir)
    queries_df = corpus.where(F.col("vec_id").isin(_QUERY_VEC_IDS))
    return simsearch.ivf_topk(corpus, queries_df, k=10)


@register("ivf_pq_ann_topk", None)  # approximate: recall asserted in tests
def ivf_pq_topk_q(spark, sf_dir):
    """IVF-PQ: codes-only ADC candidate scan (32× smaller index than raw
    float32 vectors) + exact rerank — the memory-bound-corpus ANN path."""
    corpus = _embs(spark, sf_dir)
    queries_df = corpus.where(F.col("vec_id").isin(_QUERY_VEC_IDS))
    return simsearch.ivf_pq_topk(corpus, queries_df, k=10)


def _ann_index_path(sf_dir: str, pq: bool = False) -> str:
    """Deterministic per-sf temp location for the stored ANN index — same
    keyed-tempdir pattern as datadiff_incremental_pruned. The index is
    REBUILT (mode overwrite) on every call so the query stays
    self-contained for the correctness driver; bench.py separately times
    the amortized probe-only path."""
    import hashlib
    import os
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    kind = "pq_" if pq else ""
    return os.path.join(tempfile.gettempdir(), f"magiceye_ivfidx_{kind}{tag}")


@register("ivf_indexed_exact", simsearch.sql_cosine_topk(_QUERY_VEC_IDS, k=10))
def ivf_indexed_exact_q(spark, sf_dir):
    """The FULL stored-index lifecycle under an exact oracle: fit → encode
    → write parquet (cell-partitioned postings) → read back → probe with
    n_probe = n_centroids. Probing every cell makes the result brute-force
    cosine top-k exactly, so any slip anywhere in the persistence chain —
    a float that doesn't round-trip, a dropped posting, a partition-pruning
    bug eating a cell — breaks the hash match. Complements ivf_ann_exact
    (same contract, fit-per-call path)."""
    from magiceye_spark.llmops import annindex

    corpus = _embs(spark, sf_dir)
    idx = annindex.write_ivf_index(
        corpus, _ann_index_path(sf_dir), n_centroids=16, kmeans_iters=2
    )
    queries_df = corpus.where(F.col("vec_id").isin(_QUERY_VEC_IDS))
    return annindex.ivf_index_topk(idx, queries_df, k=10, n_probe=16)


@register("semdedup_prune", None)  # kmeans driver fit: rows-only; k=1
# equality to the exact global-pair closure and the planted-twin
# high-threshold contract are pinned in tests/test_r7_ops.py
def semdedup_q(spark, sf_dir):
    """SemDeDup (arXiv 2303.09540): k-means-scoped semantic dedup —
    within-cluster exact cosine pairs + transitive closure + keep-min.
    The paper's cost model for embedding dedup at corpus scale (O(Σ|c|²)
    instead of O(n²))."""
    return simsearch.semdedup_prune(_embs(spark, sf_dir), k=4, threshold=0.45)


@register("ivf_index_stats", None)  # centroid-dependent: rows-only; the
# sum/bounds invariants are pinned in tests/test_r7_ops.py
def ivf_index_stats_q(spark, sf_dir):
    """Stored-index health row (FAISS imbalance_factor diagnostic):
    posting-count spread across Voronoi cells — the pre-flight check
    before trusting probe latency on a stored index."""
    from magiceye_spark.llmops import annindex

    corpus = _embs(spark, sf_dir)
    idx = annindex.write_ivf_index(
        corpus, _ann_index_path(sf_dir), n_centroids=16, kmeans_iters=2
    )
    return annindex.ivf_index_stats(idx)


# hash-checked sibling of ivf_index_stats (r12, verdict ask #2): the
# rows-only row's centroids come from the k-means fit (not SQL-expressible);
# THIS row pins the centroids to the embeddings of vec_id 0-3, so the cell
# assignment (argmax cosine, ties to the higher cell — _best_cells' reversed
# array_sort order) and therefore every stat is exactly computable in DuckDB.
# dot products are strictly left-to-right double sums in both engines
# (simsearch.dot's bit-identical discipline), so the argmax agrees.
_SQL_IVF_STATS_EXACT = """
WITH cents AS (
  SELECT CAST(vec_id AS INT) AS cell, CAST(embedding AS DOUBLE[]) AS cvec
  FROM embeddings WHERE vec_id < 4
),
assign AS (
  SELECT e.vec_id, c.cell,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY
             list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cvec)
             / (SQRT(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[])))
                * SQRT(list_dot_product(c.cvec, c.cvec))) DESC,
             c.cell DESC
         ) AS rk
  FROM embeddings e CROSS JOIN cents c
),
per_cell AS (SELECT cell, COUNT(*) AS n FROM assign WHERE rk = 1 GROUP BY cell)
SELECT CAST(COUNT(*) AS INT) AS n_cells_used,
       4 AS n_cells_total,
       CAST(SUM(n) AS BIGINT) AS n_vectors,
       CAST(MIN(n) AS BIGINT) AS min_postings,
       CAST(MAX(n) AS BIGINT) AS max_postings,
       ROUND(AVG(n), 2) AS avg_postings,
       ROUND(CAST(MAX(n) AS DOUBLE) / AVG(n), 4) AS imbalance
FROM per_cell
"""


@register("ivf_index_stats_exact", _SQL_IVF_STATS_EXACT)
def ivf_index_stats_exact_q(spark, sf_dir):
    """ivf_index_stats over a FIXTURE store whose quantizer is pinned to
    member vectors (vec_id 0-3 as the 4 centroids, via write_ivf_index's
    _fitted hook) — the stats of the resulting store are deterministic
    and oracle-checkable end-to-end: build → persist → read back →
    groupBy over the partitioned postings scan, hash-matched against
    DuckDB recomputing the argmax assignment from the same centroids."""
    from magiceye_spark.llmops import annindex

    corpus = _embs(spark, sf_dir)
    cents = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in corpus.where(F.col("vec_id") < 4)
        .select("vec_id", "embedding")
        .collect()
    }
    dim = len(next(iter(cents.values())))
    idx = annindex.write_ivf_index(
        corpus, _ann_index_path(sf_dir) + "_statsx", n_centroids=4,
        _fitted=(dim, cents, None),
    )
    return annindex.ivf_index_stats(idx)


@register("ivf_ann_exact", simsearch.sql_cosine_topk(_QUERY_VEC_IDS, k=10))
def ivf_ann_exact_q(spark, sf_dir):
    """IVF in exhaustive mode (n_probe = n_centroids): every cell is probed,
    so the full IVF machinery — quantizer fit, map-side cell assignment,
    banded probe join, windowed rerank — must reproduce brute-force cosine
    top-k EXACTLY, independent of centroid quality. The deterministic,
    oracle-checkable driver row for the ANN family; recall of the
    approximate modes stays pinned in pytest."""
    corpus = _embs(spark, sf_dir)
    queries_df = corpus.where(F.col("vec_id").isin(_QUERY_VEC_IDS))
    return simsearch.ivf_topk(
        corpus, queries_df, k=10, n_centroids=16, n_probe=16, kmeans_iters=2
    )


_ANN_ADMIT_COS = (
    "ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))"
    " / (SQRT(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))"
    " * SQRT(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6)"
)

# exact-mode oracle for the stored-IVF delta admission: delta-touching
# cosine edges (planted exact copies provide the dup structure — the
# corpus's own pairs top out at ~0.51) → recursive min-label closure →
# the triad's admission rule, all in SQL
_SQL_ANN_ADMIT_EXACT = f"""
WITH RECURSIVE
batch AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 350
  UNION ALL
  SELECT vec_id + 10000000, embedding FROM embeddings WHERE vec_id < 10
  UNION ALL
  SELECT vec_id + 20000000, embedding FROM embeddings WHERE vec_id = 400
  UNION ALL
  SELECT vec_id + 21000000, embedding FROM embeddings WHERE vec_id = 400
),
allv AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 350
  UNION ALL SELECT vec_id, embedding FROM batch
),
pairs AS (
  SELECT a.vec_id AS pa, b.vec_id AS pb
  FROM allv a JOIN allv b ON a.vec_id < b.vec_id
  WHERE (a.vec_id IN (SELECT vec_id FROM batch)
         OR b.vec_id IN (SELECT vec_id FROM batch))
    AND {_ANN_ADMIT_COS} >= 0.95
),
edges AS (SELECT pa AS a, pb AS b FROM pairs UNION SELECT pb, pa FROM pairs),
reach(node, comp) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.node
),
comps AS (SELECT node, MIN(comp) AS comp_id FROM reach GROUP BY node),
labeled AS (SELECT node, comp_id, (node < 350) AS stored FROM comps),
verdicts AS (
  SELECT comp_id,
         MAX(CASE WHEN stored THEN 1 ELSE 0 END) AS has_existing,
         MIN(CASE WHEN NOT stored THEN node END) AS min_incoming
  FROM labeled GROUP BY comp_id
),
rejected AS (
  SELECT l.node FROM labeled l JOIN verdicts v USING (comp_id)
  WHERE NOT l.stored AND (v.has_existing = 1 OR l.node <> v.min_incoming)
)
SELECT CAST(b.vec_id AS BIGINT) AS vec_id
FROM batch b LEFT JOIN rejected r ON b.vec_id = r.node
WHERE r.node IS NULL
"""


@register("ann_admit_indexed_exact", _SQL_ANN_ADMIT_EXACT)
def ann_admit_indexed_exact_q(spark, sf_dir):
    """Exhaustive-mode (n_probe = n_centroids) delta admission against a
    persisted FLAT IVF index (r9 — the embedding member of the store
    triad): candidate generation is exact under exhaustive probing, so
    the closure admission must equal the recursive-CTE oracle verdict for
    verdict. Planted exact copies of STORED vectors must be rejected
    (has-existing through a cosine-1.0 edge) and a planted same-batch
    twin pair keeps only its minimum id. The first hash-checked ADMISSION
    driver row — the MinHash/Hamming admission rows stay rows-only
    because their banded candidate generators are themselves the
    approximation; exhaustive probing removes it here."""
    from magiceye_spark.llmops import annindex

    emb = _embs(spark, sf_dir).select("vec_id", "embedding")

    def plant(cond, offset):
        return emb.where(cond).select(
            (F.col("vec_id") + offset).alias("vec_id"), "embedding"
        )

    batch = (
        emb.where(F.col("vec_id") >= 350)
        .unionByName(plant(F.col("vec_id") < 10, 10_000_000))
        .unionByName(plant(F.col("vec_id") == 400, 20_000_000))
        .unionByName(plant(F.col("vec_id") == 400, 21_000_000))
    )
    idx = annindex.write_ivf_index(
        emb.where(F.col("vec_id") < 350),
        _ann_index_path(sf_dir) + "_admit",
        n_centroids=8,
    )
    return annindex.delta_ann_admit_indexed(
        idx, batch, threshold=0.95, n_probe=8
    ).select("vec_id")


# batch-SEQUENTIAL oracle stage for a continuous ingest LOOP: admission of
# batch 1 against the seed store, then admission of batch 2 against
# seed ∪ admitted₁ — chained recursive closures, each the
# _SQL_ANN_ADMIT_EXACT rule. The cross-batch plant (a copy of a batch-1
# row arriving in batch 2) is rejected ONLY IF the loop carried batch 1's
# admissions into the store — the property no single-call admission row
# can attest. Shared by all three stores' loop oracles: only the id
# column, the payload column, and the near-dup predicate (a./b. aliased)
# differ per modality.
def _loop_stage(
    k: str,
    prev_store: str,
    batch: str,
    id_col: str = "vec_id",
    payload: str = "embedding",
    pred: str | None = None,
) -> str:
    pred = pred if pred is not None else f"{_ANN_ADMIT_COS} >= 0.95"
    # MATERIALIZED: DuckDB inlines a plain CTE at every reference, so the
    # all-pairs scan p would be re-run by each step of the recursive r,
    # and stage 1 again by every reference of stage 2 to its store
    return f"""
u{k} AS MATERIALIZED (
  SELECT * FROM {prev_store} UNION ALL SELECT * FROM {batch}
),
p{k} AS MATERIALIZED (
  SELECT a.{id_col} AS pa, b.{id_col} AS pb
  FROM u{k} a JOIN u{k} b ON a.{id_col} < b.{id_col}
  WHERE (a.{id_col} IN (SELECT {id_col} FROM {batch})
         OR b.{id_col} IN (SELECT {id_col} FROM {batch}))
    AND {pred}
),
e{k} AS MATERIALIZED (
  SELECT pa AS a, pb AS b FROM p{k} UNION SELECT pb, pa FROM p{k}
),
r{k}(node, comp) AS (
  SELECT DISTINCT a, a FROM e{k}
  UNION
  SELECT e.b, r.comp FROM r{k} r JOIN e{k} e ON e.a = r.node
),
c{k} AS (SELECT node, MIN(comp) AS comp_id FROM r{k} GROUP BY node),
l{k} AS MATERIALIZED (
  SELECT node, comp_id,
         (node IN (SELECT {id_col} FROM {prev_store})) AS stored
  FROM c{k}
),
v{k} AS (
  SELECT comp_id,
         MAX(CASE WHEN stored THEN 1 ELSE 0 END) AS has_existing,
         MIN(CASE WHEN NOT stored THEN node END) AS min_incoming
  FROM l{k} GROUP BY comp_id
),
rej{k} AS (
  SELECT l.node FROM l{k} l JOIN v{k} v USING (comp_id)
  WHERE NOT l.stored
    AND (v.has_existing = 1 OR l.node <> v.min_incoming)
),
a{k} AS MATERIALIZED (
  SELECT {id_col}, {payload} FROM {batch}
  WHERE {id_col} NOT IN (SELECT node FROM rej{k})
)"""


_SQL_ANN_INGEST_LOOP = f"""
WITH RECURSIVE
seed AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
b1 AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id >= 200 AND vec_id < 350
  UNION ALL
  SELECT vec_id + 10000000, embedding FROM embeddings WHERE vec_id < 5
),
b2 AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 350
  UNION ALL
  SELECT vec_id + 20000000, embedding FROM embeddings WHERE vec_id = 210
  UNION ALL
  SELECT vec_id + 21000000, embedding FROM embeddings WHERE vec_id = 400
  UNION ALL
  SELECT vec_id + 22000000, embedding FROM embeddings WHERE vec_id = 400
),
{_loop_stage("1", "seed", "b1")},
s1 AS (SELECT * FROM seed UNION ALL SELECT * FROM a1),
{_loop_stage("2", "s1", "b2")}
SELECT CAST(vec_id AS BIGINT) AS vec_id FROM a1
UNION ALL
SELECT CAST(vec_id AS BIGINT) AS vec_id FROM a2
"""


@register("ann_ingest_loop_exact", _SQL_ANN_INGEST_LOOP)
def ann_ingest_loop_exact_q(spark, sf_dir):
    """The continuous embedding-ingest LOOP attested end-to-end (r10,
    verdict ask #7): two micro-batches drain through
    annindex.streaming_ann_ingest under EXHAUSTIVE probing (n_probe =
    n_centroids → exact candidates → exact closure per batch), and the
    union of the admitted sinks must hash-match a batch-SEQUENTIAL
    double recursive-CTE oracle. Plants: exact copies of STORED vectors
    in batch 1 (rejected by the store), a copy of a batch-1 row arriving
    in batch 2 (rejected only because the loop appended batch 1's
    admissions — the loop property itself), and a batch-2 twin pair of
    which only the min id survives. Batch order is forced with distinct
    file mtimes (the file source processes oldest-first); local-FS
    specific, like every keyed-tempdir row."""
    import os
    import shutil
    import tempfile

    from magiceye_spark.llmops import annindex
    from magiceye_spark.streaming import drain

    emb = _embs(spark, sf_dir).select("vec_id", "embedding")

    def plant(cond, offset):
        return emb.where(cond).select(
            (F.col("vec_id") + offset).alias("vec_id"), "embedding"
        )

    b1 = emb.where((F.col("vec_id") >= 200) & (F.col("vec_id") < 350)).unionByName(
        plant(F.col("vec_id") < 5, 10_000_000)
    )
    b2 = (
        emb.where(F.col("vec_id") >= 350)
        .unionByName(plant(F.col("vec_id") == 210, 20_000_000))
        .unionByName(plant(F.col("vec_id") == 400, 21_000_000))
        .unionByName(plant(F.col("vec_id") == 400, 22_000_000))
    )

    base = _ann_index_path(sf_dir) + "_loop"
    shutil.rmtree(base, ignore_errors=True)  # fresh store/checkpoint per run
    store = os.path.join(base, "store")
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
    annindex.write_ivf_index(emb.where(F.col("vec_id") < 200), store, n_centroids=8)
    stream = _loop_batches_to_stream(spark, base, (b1, b2))
    q = annindex.streaming_ann_ingest(
        spark, store, stream, ckpt, threshold=0.95, n_probe=8, output_path=out
    )
    drain(q, 600)
    return spark.read.parquet(out).select(
        F.col("vec_id").cast("bigint").alias("vec_id")
    )


def _loop_batches_to_stream(spark, base: str, batches) -> "DataFrame":
    """Write micro-batches as separate files with PINNED mtimes (the file
    source takes oldest-first; sequential writes can land in one clock
    tick) and return the file-source stream — the keyed-tempdir pattern
    shared by all three ingest-loop driver rows."""
    import os
    import shutil

    src = os.path.join(base, "src")
    shutil.rmtree(src, ignore_errors=True)
    stamped: set[str] = set()
    for i, b in enumerate(batches):
        b.coalesce(1).write.mode("append").parquet(src)
        # stamp only files written THIS iteration — re-stamping an
        # already-pinned earlier batch to the current timestamp would
        # silently reorder arrivals under maxFilesPerTrigger=1 (the
        # `mtime > 1e9` guard alone re-pins batch k>=1 once 3+ batches
        # exist, since their pinned mtimes 1e9+k are themselves > 1e9)
        for f in os.listdir(src):
            p = os.path.join(src, f)
            if p not in stamped:
                os.utime(p, (1_000_000_000 + i, 1_000_000_000 + i))
                stamped.add(p)
    return (
        spark.readStream.schema(batches[0].schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )


# MinHash-loop oracle: word-3-gram shingle sets (the same construction the
# containment twin validates against dedup._shingle_hashes) and exact
# set Jaccard >= 0.7 (the store default). The Spark loop verifies Jaccard
# over xxhash64-HASHED shingles and generates candidates by LSH banding —
# both deterministic; at this corpus the banded candidates cover every
# >=0.7 pair and the 31-bit hashes are collision-free on the compared
# sets (pre-validated at the driver's own sf0.01), so the hash check is
# exact HERE while the banding stays an approximation in general (why the
# one-shot MinHash admission rows are rows-only: their statement is about
# any corpus; this row's statement is the LOOP carrying state across
# batches, checked on the driver's corpus).
_SIG_TOKS = "regexp_split_to_array(TRIM(LOWER(text)), '\\s+')"
# size filter first: J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so pairs whose
# sizes differ by more than 0.7 cannot reach the threshold — a sound,
# cheap integer pre-predicate before the O(|A|+|B|) set ops (measured
# 167 -> 44 s on the all-pairs stages at sf0.01, identical rows)
_SIG_JACC = (
    "LENGTH(a.sh) * 10 >= LENGTH(b.sh) * 7 "
    "AND LENGTH(b.sh) * 10 >= LENGTH(a.sh) * 7 "
    "AND LENGTH(list_intersect(a.sh, b.sh)) / "
    "CAST(LENGTH(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.7"
)
_SQL_SIG_INGEST_LOOP = f"""
WITH RECURSIVE
tok AS MATERIALIZED (SELECT doc_id, {_SIG_TOKS} AS toks FROM documents),
shingled AS MATERIALIZED (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, GREATEST(LENGTH(toks) - 3, 0) + 2),
           i -> array_to_string(toks[i:i+2], ' '))) AS sh
  FROM tok
),
seed AS MATERIALIZED (SELECT doc_id, sh FROM shingled WHERE doc_id < 200),
b1 AS MATERIALIZED (
  SELECT doc_id, sh FROM shingled WHERE doc_id >= 200 AND doc_id < 350
  UNION ALL
  SELECT doc_id + 10000000, sh FROM shingled WHERE doc_id < 5
),
b2 AS MATERIALIZED (
  SELECT doc_id, sh FROM shingled WHERE doc_id >= 350
  UNION ALL
  SELECT doc_id + 20000000, sh FROM shingled WHERE doc_id = 210
  UNION ALL
  SELECT doc_id + 21000000, sh FROM shingled WHERE doc_id = 400
  UNION ALL
  SELECT doc_id + 22000000, sh FROM shingled WHERE doc_id = 400
),
{_loop_stage("1", "seed", "b1", id_col="doc_id", payload="sh", pred=_SIG_JACC)},
s1 AS (SELECT * FROM seed UNION ALL SELECT * FROM a1),
{_loop_stage("2", "s1", "b2", id_col="doc_id", payload="sh", pred=_SIG_JACC)}
SELECT CAST(doc_id AS BIGINT) AS doc_id FROM a1
UNION ALL
SELECT CAST(doc_id AS BIGINT) AS doc_id FROM a2
"""


@register("sig_ingest_loop_exact", _SQL_SIG_INGEST_LOOP)
def sig_ingest_loop_exact_q(spark, sf_dir):
    """The continuous MinHash-ingest LOOP hash-checked end-to-end (r11,
    verdict ask #5 — the technique ann_ingest_loop_exact proved, applied
    to the text store): two micro-batches drain through
    sigstore.streaming_dedup_ingest and the union of the admitted sinks
    must match a batch-SEQUENTIAL double recursive-CTE oracle over exact
    shingle-set Jaccard. Plants: exact copies of STORED docs in batch 1
    (rejected by the store), a copy of a batch-1 doc arriving in batch 2
    (rejected only because the loop appended batch 1's signatures — the
    loop property), and a batch-2 twin pair of which only the min id
    survives."""
    import os
    import shutil

    from magiceye_spark.llmops import sigstore
    from magiceye_spark.streaming import drain

    docs = _docs(spark, sf_dir).select("doc_id", "text")

    def plant(cond, offset):
        return docs.where(cond).select(
            (F.col("doc_id") + offset).alias("doc_id"), "text"
        )

    b1 = docs.where(
        (F.col("doc_id") >= 200) & (F.col("doc_id") < 350)
    ).unionByName(plant(F.col("doc_id") < 5, 10_000_000))
    b2 = (
        docs.where(F.col("doc_id") >= 350)
        .unionByName(plant(F.col("doc_id") == 210, 20_000_000))
        .unionByName(plant(F.col("doc_id") == 400, 21_000_000))
        .unionByName(plant(F.col("doc_id") == 400, 22_000_000))
    )
    base = _ann_index_path(sf_dir) + "_sigloop"
    shutil.rmtree(base, ignore_errors=True)  # fresh store/checkpoint per run
    store, out = os.path.join(base, "store"), os.path.join(base, "out")
    sigstore.write_minhash_index(docs.where(F.col("doc_id") < 200), store)
    stream = _loop_batches_to_stream(spark, base, (b1, b2))
    q = sigstore.streaming_dedup_ingest(
        spark, store, stream, os.path.join(base, "ckpt"), output_path=out
    )
    drain(q, 600)
    return spark.read.parquet(out).select(
        F.col("doc_id").cast("bigint").alias("doc_id")
    )


# single-call MinHash-store admission under the exact-Jaccard closure
# oracle (r12, verdict ask #2: the hash-checked sibling of the rows-only
# delta_admit_indexed). Same exactness argument as sig_ingest_loop_exact:
# banded candidates cover every >=0.7 pair at this corpus and the 31-bit
# shingle hashes are collision-free on the compared sets (pre-validated
# at sf0.001 and the driver's sf0.01), so the check is exact HERE while
# LSH banding stays an approximation in general (why delta_admit_indexed
# itself remains rows-only: its statement is about any corpus).
_SQL_SIG_ADMIT_EXACT = f"""
WITH RECURSIVE
tok AS MATERIALIZED (SELECT doc_id, {_SIG_TOKS} AS toks FROM documents),
shingled AS MATERIALIZED (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, GREATEST(LENGTH(toks) - 3, 0) + 2),
           i -> array_to_string(toks[i:i+2], ' '))) AS sh
  FROM tok
),
seed AS MATERIALIZED (SELECT doc_id, sh FROM shingled WHERE doc_id < 350),
b1 AS MATERIALIZED (
  SELECT doc_id, sh FROM shingled WHERE doc_id >= 350
  UNION ALL
  SELECT doc_id + 10000000, sh FROM shingled WHERE doc_id < 5
  UNION ALL
  SELECT doc_id + 21000000, sh FROM shingled WHERE doc_id = 400
  UNION ALL
  SELECT doc_id + 22000000, sh FROM shingled WHERE doc_id = 400
),
{_loop_stage("1", "seed", "b1", id_col="doc_id", payload="sh", pred=_SIG_JACC)}
SELECT CAST(doc_id AS BIGINT) AS doc_id FROM a1
"""


@register("sig_admit_indexed_exact", _SQL_SIG_ADMIT_EXACT)
def sig_admit_indexed_exact_q(spark, sf_dir):
    """Hash-checked single-call admission against the persisted MinHash
    store: docs 0-349 signed and stored once; the 350+ batch (plus
    plants: exact copies of stored docs — rejected by the store — and an
    intra-batch twin pair of which only the min id survives) is admitted
    by the one-sided band join + closure, and the admitted set must
    match the exact shingle-Jaccard recursive-CTE oracle."""
    from magiceye_spark.llmops import sigstore

    docs = _docs(spark, sf_dir).select("doc_id", "text")

    def plant(cond, offset):
        return docs.where(cond).select(
            (F.col("doc_id") + offset).alias("doc_id"), "text"
        )

    batch = (
        docs.where(F.col("doc_id") >= 350)
        .unionByName(plant(F.col("doc_id") < 5, 10_000_000))
        .unionByName(plant(F.col("doc_id") == 400, 21_000_000))
        .unionByName(plant(F.col("doc_id") == 400, 22_000_000))
    )
    idx = sigstore.write_minhash_index(
        docs.where(F.col("doc_id") < 350), _ann_index_path(sf_dir) + "_sigadmx"
    )
    return sigstore.delta_dedup_admit_indexed(idx, batch).select(
        F.col("doc_id").cast("bigint").alias("doc_id")
    )


# Hamming-loop oracle: the SAME dHash string the phash twins derive in SQL
# (multimodal._SQL_PHASH_CTES) and hamming <= 3 — the 4×16-bit pigeonhole
# banding is LOSSLESS at that threshold, so unlike the MinHash loop this
# oracle carries no candidate-coverage caveat at any corpus.
_HAM_PRED = "hamming(a.h, b.h) <= 3"
# MATERIALIZED hints on the multiply-referenced CTEs: without them DuckDB
# inlines hs (the whole dHash derivation) into every reference inside the
# recursive query — measured 566 s -> 0.7 s at sf0.01 for a hint-only,
# result-identical change. Same treatment on the sig loop's shingle CTEs.
_SQL_HAM_INGEST_LOOP = multimodal._SQL_PHASH_CTES.replace(  # noqa: SLF001
    "WITH padded", "WITH RECURSIVE padded", 1
).replace(
    "hs AS (", "hs AS MATERIALIZED (", 1
) + f""",
seed AS MATERIALIZED (SELECT media_id AS doc_id, h FROM hs WHERE media_id < 350),
b1 AS MATERIALIZED (
  SELECT media_id AS doc_id, h FROM hs WHERE media_id >= 350 AND media_id < 430
  UNION ALL
  SELECT media_id + 10000000, h FROM hs WHERE media_id < 5
),
b2 AS MATERIALIZED (
  SELECT media_id AS doc_id, h FROM hs WHERE media_id >= 430
  UNION ALL
  SELECT media_id + 20000000, h FROM hs WHERE media_id = 360
  UNION ALL
  SELECT media_id + 21000000, h FROM hs WHERE media_id = 470
  UNION ALL
  SELECT media_id + 22000000, h FROM hs WHERE media_id = 470
),
{_loop_stage("1", "seed", "b1", id_col="doc_id", payload="h", pred=_HAM_PRED)},
s1 AS (SELECT * FROM seed UNION ALL SELECT * FROM a1),
{_loop_stage("2", "s1", "b2", id_col="doc_id", payload="h", pred=_HAM_PRED)}
SELECT CAST(doc_id AS BIGINT) AS doc_id FROM a1
UNION ALL
SELECT CAST(doc_id AS BIGINT) AS doc_id FROM a2
"""


@register("ham_ingest_loop_exact", _SQL_HAM_INGEST_LOOP)
def ham_ingest_loop_exact_q(spark, sf_dir):
    """The continuous Hamming-ingest LOOP hash-checked end-to-end (r11,
    verdict ask #5): two micro-batches of PRE-SIGNED dHash frames drain
    through hamstore.streaming_hamming_ingest (sign_fn=identity — the
    signing pass itself is attested by the phash rows; this row attests
    the admission/append loop carrying state across batches) vs the
    batch-SEQUENTIAL recursive-CTE oracle at the production banding,
    which is lossless for hamming <= 3. Plants mirror the sibling loop
    rows: stored twins in batch 1, a batch-1 twin in batch 2 (the loop
    property), and an intra-batch-2 twin pair."""
    import os
    import shutil

    from magiceye_spark.llmops import hamstore
    from magiceye_spark.streaming import drain

    sig_cols = ["doc_id", "bits", "band0", "band1", "band2", "band3"]
    sigs = multimodal.phash_signatures(
        multimodal.synth_media(spark, sf_dir)
    ).select(*sig_cols)

    def plant(cond, offset):
        return sigs.where(cond).select(
            (F.col("doc_id") + offset).alias("doc_id"), *sig_cols[1:]
        )

    b1 = sigs.where(
        (F.col("doc_id") >= 350) & (F.col("doc_id") < 430)
    ).unionByName(plant(F.col("doc_id") < 5, 10_000_000))
    b2 = (
        sigs.where(F.col("doc_id") >= 430)
        .unionByName(plant(F.col("doc_id") == 360, 20_000_000))
        .unionByName(plant(F.col("doc_id") == 470, 21_000_000))
        .unionByName(plant(F.col("doc_id") == 470, 22_000_000))
    )
    base = _ann_index_path(sf_dir) + "_hamloop"
    shutil.rmtree(base, ignore_errors=True)  # fresh store/checkpoint per run
    store, out = os.path.join(base, "store"), os.path.join(base, "out")
    hamstore.write_hamming_index(
        sigs.where(F.col("doc_id") < 350), store, kind="phash"
    )
    stream = _loop_batches_to_stream(spark, base, (b1, b2))
    q = hamstore.streaming_hamming_ingest(
        spark, store, stream, os.path.join(base, "ckpt"), kind="phash",
        sign_fn=lambda df: df, output_path=out,
    )
    drain(q, 600)
    return spark.read.parquet(out).select(
        F.col("doc_id").cast("bigint").alias("doc_id")
    )


@register("pq_ann_admit_indexed_exact", _SQL_ANN_ADMIT_EXACT)
def pq_ann_admit_indexed_exact_q(spark, sf_dir):
    """The SAME exhaustive-mode admission as `ann_admit_indexed_exact`
    but against a persisted IVF-PQ index (r10): candidates are scoped by
    the compact PQ postings (codes only — ~32× smaller, the artifact a
    100 TB deployment actually keeps hot), and exact cosine is RERANKED
    from the original-vector corpus the index was built from
    (``rerank=``, annindex.delta_ann_pairs_from_index). Exhaustive
    probing makes the candidate set exact, the rerank makes the verified
    cosines exact, so the result must hash-match the identical
    recursive-CTE oracle — proving PQ admission ≡ flat admission ≡ the
    batch-closure ground truth."""
    from magiceye_spark.llmops import annindex

    emb = _embs(spark, sf_dir).select("vec_id", "embedding")

    def plant(cond, offset):
        return emb.where(cond).select(
            (F.col("vec_id") + offset).alias("vec_id"), "embedding"
        )

    batch = (
        emb.where(F.col("vec_id") >= 350)
        .unionByName(plant(F.col("vec_id") < 10, 10_000_000))
        .unionByName(plant(F.col("vec_id") == 400, 20_000_000))
        .unionByName(plant(F.col("vec_id") == 400, 21_000_000))
    )
    stored = emb.where(F.col("vec_id") < 350)
    idx = annindex.write_ivf_index(
        stored, _ann_index_path(sf_dir) + "_pqadmit",
        pq=True, n_centroids=8,
    )
    return annindex.delta_ann_admit_indexed(
        idx, batch, threshold=0.95, n_probe=8, rerank=stored
    ).select("vec_id")


@register("pq_ann_admit_store_exact", _SQL_ANN_ADMIT_EXACT)
def pq_ann_admit_store_exact_q(spark, sf_dir):
    """The PQ-admission production path under the SAME exhaustive
    oracle as `pq_ann_admit_indexed_exact`, with rerank=None: exact
    cosine is verified from the store's OWN cell-partitioned originals
    table, which every PQ store has and whose scan the plan prunes to
    the probed cells exactly like the code postings (the r10 verdict's
    one scale flag, closed). Identical verdicts to the external-rerank
    row prove the pruned table covers every stored candidate."""
    from magiceye_spark.llmops import annindex

    emb = _embs(spark, sf_dir).select("vec_id", "embedding")

    def plant(cond, offset):
        return emb.where(cond).select(
            (F.col("vec_id") + offset).alias("vec_id"), "embedding"
        )

    batch = (
        emb.where(F.col("vec_id") >= 350)
        .unionByName(plant(F.col("vec_id") < 10, 10_000_000))
        .unionByName(plant(F.col("vec_id") == 400, 20_000_000))
        .unionByName(plant(F.col("vec_id") == 400, 21_000_000))
    )
    idx = annindex.write_ivf_index(
        emb.where(F.col("vec_id") < 350),
        _ann_index_path(sf_dir) + "_pqadmit_store",
        pq=True, n_centroids=8,
    )
    return annindex.delta_ann_admit_indexed(
        idx, batch, threshold=0.95, n_probe=8
    ).select("vec_id")


_SQL_ANN_COLD_START_LOOP = f"""
WITH RECURSIVE
seed AS (SELECT vec_id, embedding FROM embeddings WHERE 1 = 0),
b1 AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300
  UNION ALL
  SELECT vec_id + 5000000, embedding FROM embeddings WHERE vec_id = 7
),
b2 AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 300
  UNION ALL
  SELECT vec_id + 10000000, embedding FROM embeddings WHERE vec_id < 5
  UNION ALL
  SELECT vec_id + 21000000, embedding FROM embeddings WHERE vec_id = 400
  UNION ALL
  SELECT vec_id + 22000000, embedding FROM embeddings WHERE vec_id = 400
),
{_loop_stage("1", "seed", "b1")},
s1 AS (SELECT * FROM seed UNION ALL SELECT * FROM a1),
{_loop_stage("2", "s1", "b2")}
SELECT CAST(vec_id AS BIGINT) AS vec_id FROM a1
UNION ALL
SELECT CAST(vec_id AS BIGINT) AS vec_id FROM a2
"""


@register("ann_cold_start_loop_exact", _SQL_ANN_COLD_START_LOOP)
def ann_cold_start_loop_exact_q(spark, sf_dir):
    """The r11 COLD-START semantics hash-checked end-to-end: the loop
    starts with NO store (bootstrap fits the quantizer on batch 0) and
    the oracle's initial store is EMPTY — so batch 0's verdicts are the
    normal admission rule against nothing (intra-batch twin keeps its
    min id; r10's wholesale-admission contract would keep both and
    hash-mismatch here). Batch 1 plants twins of batch-0 rows, rejected
    only because the bootstrap appended batch 0's admissions — the
    cold-start loop property. Exhaustive probing as in the sibling loop
    rows."""
    import os
    import shutil

    from magiceye_spark.llmops import annindex
    from magiceye_spark.streaming import drain

    emb = _embs(spark, sf_dir).select("vec_id", "embedding")

    def plant(cond, offset):
        return emb.where(cond).select(
            (F.col("vec_id") + offset).alias("vec_id"), "embedding"
        )

    b1 = emb.where(F.col("vec_id") < 300).unionByName(
        plant(F.col("vec_id") == 7, 5_000_000)
    )
    b2 = (
        emb.where(F.col("vec_id") >= 300)
        .unionByName(plant(F.col("vec_id") < 5, 10_000_000))
        .unionByName(plant(F.col("vec_id") == 400, 21_000_000))
        .unionByName(plant(F.col("vec_id") == 400, 22_000_000))
    )
    base = _ann_index_path(sf_dir) + "_coldloop"
    shutil.rmtree(base, ignore_errors=True)  # fresh store/checkpoint per run
    store, out = os.path.join(base, "store"), os.path.join(base, "out")
    stream = _loop_batches_to_stream(spark, base, (b1, b2))
    q = annindex.streaming_ann_ingest(
        spark, store, stream, os.path.join(base, "ckpt"),
        threshold=0.95, n_probe=8, output_path=out,
        bootstrap={"n_centroids": 8},
    )
    drain(q, 600)
    return spark.read.parquet(out).select(
        F.col("vec_id").cast("bigint").alias("vec_id")
    )


@register("ann_ingest_loop_compacting_exact", _SQL_ANN_INGEST_LOOP)
def ann_ingest_loop_compacting_exact_q(spark, sf_dir):
    """ann_ingest_loop_exact with compact_every=1 (r12, verdict ask #4):
    ivf_index_compact fires MID-STREAM — after batch 1's append, before
    batch 2 drains — so batch 2's admission probes the REWRITTEN
    (coalesced, rename-aside-swapped) postings. The oracle is the
    identical batch-sequential recursive-CTE text as the non-compacting
    row: store maintenance must be result-invisible, and any verdict it
    changed would hash-mismatch here. Same plants, same exhaustive
    probing; the store path is distinct so the two rows never share
    state."""
    import os
    import shutil

    from magiceye_spark.llmops import annindex
    from magiceye_spark.streaming import drain

    emb = _embs(spark, sf_dir).select("vec_id", "embedding")

    def plant(cond, offset):
        return emb.where(cond).select(
            (F.col("vec_id") + offset).alias("vec_id"), "embedding"
        )

    b1 = emb.where((F.col("vec_id") >= 200) & (F.col("vec_id") < 350)).unionByName(
        plant(F.col("vec_id") < 5, 10_000_000)
    )
    b2 = (
        emb.where(F.col("vec_id") >= 350)
        .unionByName(plant(F.col("vec_id") == 210, 20_000_000))
        .unionByName(plant(F.col("vec_id") == 400, 21_000_000))
        .unionByName(plant(F.col("vec_id") == 400, 22_000_000))
    )
    base = _ann_index_path(sf_dir) + "_compactloop"
    shutil.rmtree(base, ignore_errors=True)  # fresh store/checkpoint per run
    store = os.path.join(base, "store")
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
    annindex.write_ivf_index(emb.where(F.col("vec_id") < 200), store, n_centroids=8)
    stream = _loop_batches_to_stream(spark, base, (b1, b2))
    q = annindex.streaming_ann_ingest(
        spark, store, stream, ckpt, threshold=0.95, n_probe=8,
        output_path=out, compact_every=1,
    )
    drain(q, 600)
    return spark.read.parquet(out).select(
        F.col("vec_id").cast("bigint").alias("vec_id")
    )


@register("chunk_documents", textstats.sql_chunk_documents(chunk_chars=512, overlap=64))
def chunk_q(spark, sf_dir):
    return textstats.chunk_documents(_docs(spark, sf_dir), chunk_chars=512, overlap=64)


@register("vocab_topk", textstats.sql_vocab_topk(k=100))
def vocab_q(spark, sf_dir):
    return textstats.vocab_topk(_docs(spark, sf_dir), k=100)


@register("embedding_normalize", None)
def normalize_q(spark, sf_dir):
    """Rows-only BY STRUCTURE, not by semantics (r12 verdict What's-wrong
    #2): the output is Array-typed, which the driver's canonicalizer
    cannot hash — the row burned its only seat in r10 and can never earn
    a driver row. The full array-vs-oracle value check lives in
    tests/test_r13_ops.py::test_embedding_normalize_matches_oracle (same
    SQL, arrays stringified), and the scalar digest sibling
    `embedding_normalize_digest` carries the driver-attestable oracle."""
    return simsearch.normalize_embeddings(_embs(spark, sf_dir))


@register("embedding_normalize_digest", simsearch.SQL_NORMALIZE_DIGEST)
def normalize_digest_q(spark, sf_dir):
    """Driver-hashable attestation of normalize_embeddings (r11): scalar
    digests (component sum + unit norm) of the round-6 normalized array —
    the seat the r10 verdict asked for after the Array-typed
    `embedding_normalize` output burned its driver row on the harness
    canonicalizer."""
    return simsearch.normalize_digest(_embs(spark, sf_dir))


@register("embedding_norm_stats", simsearch.SQL_NORM_STATS)
def norm_stats_q(spark, sf_dir):
    return simsearch.embedding_norm_stats(_embs(spark, sf_dir))


@register("embedding_near_dups", simsearch.sql_embedding_near_dups(threshold=0.45))
def emb_near_dups_q(spark, sf_dir):
    return simsearch.embedding_near_dup_pairs(_embs(spark, sf_dir), threshold=0.45)


@register("embedding_near_dups_lsh", None)  # banded scale path: recall in tests
def emb_near_dups_lsh_q(spark, sf_dir):
    return simsearch.embedding_near_dup_pairs_lsh(_embs(spark, sf_dir), threshold=0.45)


@register("embedding_dedup_fused", None)  # iterative clustering: rows-only check
def emb_dedup_fused_q(spark, sf_dir):
    """SemDeDup-style semantic dedup: hyperplane-LSH bucket components +
    O(n) representative-cosine verification — no pair materialization."""
    return simsearch.embedding_dedup_fused(_embs(spark, sf_dir), threshold=0.95)


@register("media_catalog", multimodal.SQL_MEDIA_CATALOG)
def media_catalog_q(spark, sf_dir):
    return multimodal.media_catalog(multimodal.synth_media(spark, sf_dir))


@register("phash_near_dups", multimodal.SQL_PHASH_NEAR_DUPS)
def phash_near_dups_q(spark, sf_dir):
    """Perceptual-hash (dHash) image near-dup over the media payload column;
    candidates from the shared SimHash 4×16-bit pigeonhole banding, exact
    Hamming verify ≤3 — banding lossless, so the DuckDB twin is all-pairs
    over the same signatures."""
    return multimodal.phash_near_dups(multimodal.synth_media(spark, sf_dir))


@register("phash_indexed_pairs", multimodal.SQL_PHASH_NEAR_DUPS)
def phash_indexed_pairs_q(spark, sf_dir):
    """Near-dup pairs from a PERSISTED Hamming signature store (the third
    store in the build-once lifecycle triad): dHash signatures are written
    once, pairs are computed from the STORED bits — signatures are pure
    functions of content and int arrays round-trip parquet exactly, so
    this must hash-match the same DuckDB oracle as the fresh-path
    phash_near_dups row. Any slip in the store round-trip breaks it."""
    from magiceye_spark.llmops import hamstore

    sigs = multimodal.phash_signatures(multimodal.synth_media(spark, sf_dir))
    idx = hamstore.write_hamming_index(
        sigs, _ann_index_path(sf_dir) + "_ham", kind="phash"
    )
    return hamstore.hamming_pairs_from_index(idx)


@register("phash_band_stats", multimodal.SQL_PHASH_BAND_STATS)
def phash_band_stats_q(spark, sf_dir):
    """Hamming-store health: per-band bucket occupancy (the number that
    sizes the hot-bucket salt guard — the analogue of the IVF imbalance
    diagnostic). The oracle folds the same 16-bit band integers from the
    signature bit string, so a band-fold drift anywhere breaks the hash."""
    from magiceye_spark.llmops import hamstore

    sigs = multimodal.phash_signatures(multimodal.synth_media(spark, sf_dir))
    idx = hamstore.write_hamming_index(
        sigs, _ann_index_path(sf_dir) + "_ham", kind="phash"
    )
    return hamstore.band_bucket_stats(idx)


@register("phash_admit_indexed_exact", multimodal.SQL_PHASH_ADMIT_EXACT)
def phash_admit_indexed_exact_q(spark, sf_dir):
    """Hash-checked Hamming-store delta admission (r9): the pigeonhole
    banding is LOSSLESS at max_hamming ≤ 3, so — unlike the LSH-banded
    MinHash family — the indexed path's delta-touching pair set is exact
    and the closure verdicts can run against a recursive-CTE oracle with
    no approximation caveat. Second hash-checked admission row next to
    ann_admit_indexed_exact (that one needs exhaustive probing; this one
    is exact at the production banding)."""
    from magiceye_spark.llmops import hamstore

    sigs = multimodal.phash_signatures(multimodal.synth_media(spark, sf_dir))
    idx = hamstore.write_hamming_index(
        sigs.where(F.col("doc_id") < 350),
        _ann_index_path(sf_dir) + "_ham_admitx",
        kind="phash",
    )
    return hamstore.delta_hamming_admit_indexed(
        idx, sigs.where(F.col("doc_id") >= 350)
    ).select("doc_id")


@register("phash_delta_admit_indexed", multimodal.SQL_PHASH_DELTA_ADMIT_EXACT)
def phash_delta_admit_indexed_q(spark, sf_dir):
    """Delta-ingest image admission against a persisted dHash store: items
    0-349 signed and stored once; the 350+ batch is signed (only the batch
    pays the decode) and admitted via the one-sided delta band join +
    closure — the per-batch production shape of phash_dedup_keep.
    Oracle-backed since r12 (was rows-only — verdict ask #2): the ≤3-bit
    pigeonhole banding is lossless, so the verdicts AND the admitted
    docs' four band keys are hash-checkable against the recursive-CTE
    oracle (the banded frame the store actually appends)."""
    from magiceye_spark.llmops import hamstore

    sigs = multimodal.phash_signatures(multimodal.synth_media(spark, sf_dir))
    idx = hamstore.write_hamming_index(
        sigs.where(F.col("doc_id") < 350),
        _ann_index_path(sf_dir) + "_ham_delta",
        kind="phash",
    )
    return hamstore.delta_hamming_admit_indexed(
        idx, sigs.where(F.col("doc_id") >= 350)
    ).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "band0", "band1", "band2", "band3",
    )


@register("phash_dedup_keep", multimodal.SQL_PHASH_DEDUP_KEEP)
def phash_dedup_keep_q(spark, sf_dir):
    """The streaming near-dup admission gate's batch twin applied to the
    media corpus: drop every doc that perceptually collides (any shared
    dHash band, Hamming <= 3) with an earlier (lower-id) doc, return the
    catalog view of the keepers — streaming reject-set equality is pinned
    in tests/test_streaming.py."""
    from magiceye_spark.streaming.stateful import near_dup_rejects_batch

    media = multimodal.synth_media(spark, sf_dir)
    rejects = near_dup_rejects_batch(multimodal.phash_signatures(media), 3)
    return (
        multimodal.media_catalog(media)
        .join(
            rejects.select("doc_id"),
            F.col("media_id") == F.col("doc_id"),
            "left_anti",
        )
        .select(F.col("media_id").alias("doc_id"), "kind", "n_bytes")
        .orderBy("doc_id")
    )


@register("media_features", None)  # mapInPandas payload kernel: rows-only
def media_features_q(spark, sf_dir):
    return multimodal.extract_features(multimodal.synth_media(spark, sf_dir))


@register("media_similarity_topk", None)  # Pandas kernel feeds JVM vector ops
def media_similarity_q(spark, sf_dir):
    """Composition: mapInPandas feature extraction → exact cosine top-5 —
    the 'find similar media' query, proving the Arrow kernel output plugs
    straight into the JVM similarity operators."""
    feats = multimodal.extract_features(multimodal.synth_media(spark, sf_dir)).select(
        F.col("media_id").alias("vec_id"), F.col("features").alias("embedding")
    )
    queries_df = feats.where(F.col("vec_id") < 4)
    return simsearch.cosine_topk(feats, queries_df, k=5)


@register("media_resize_plan", multimodal.SQL_RESIZE_PLAN)
def media_resize_q(spark, sf_dir):
    return multimodal.resize_images(multimodal.synth_media(spark, sf_dir))


@register("media_frame_plan", multimodal.SQL_FRAME_PLAN)
def media_frames_q(spark, sf_dir):
    return multimodal.sample_frames(multimodal.synth_media(spark, sf_dir))


@register("media_audio_windows", multimodal.SQL_AUDIO_PLAN)
def media_audio_q(spark, sf_dir):
    return multimodal.chunk_audio(multimodal.synth_media(spark, sf_dir))


