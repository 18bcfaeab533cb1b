"""Round-9 pins: the Hamming store's continuous ingest loop (the crawl
shape for the image/SimHash modality, mirroring the r8 MinHash loop),
the fs_swap_dirs partial-live refusal, and the delta-barrier parity of
both stores' admission paths after the per-branch re-signing fix."""

import os

import pytest
from pyspark.sql import functions as F

from magiceye_spark.llmops import dedup, hamstore, sigstore
from magiceye_spark.streaming import drain


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# ------------------------------------- Hamming-store continuous ingest

def test_streaming_hamming_ingest_invariants(spark, sf_dir, tmp_path):
    """The foreachBatch Hamming-ingest loop (sign each micro-batch once,
    admit against the store, append admitted signatures) must satisfy the
    same ORDER-INDEPENDENT contract pinned for the MinHash loop:
    - store rows = seed + Σ admitted (adds are id-deduped);
    - the final store's direct near-dup pair set contains NO pair touching
      a post-seed doc (same batch → only the component min admitted;
      later batch → a direct edge to a stored doc means has_existing →
      rejected) — seed-internal pairs may exist, the seed was written
      wholesale;
    - re-admitting every admitted doc's signatures is a fixpoint, and the
      store append of them is a no-op (replay safety beyond the per-batch
      overwrite sink)."""
    docs = _docs(spark, sf_dir)
    seed = docs.where(F.col("doc_id") < 100)
    streamed = docs.where(F.col("doc_id") >= 100)
    store = str(tmp_path / "store")
    src = str(tmp_path / "src")
    out = str(tmp_path / "admitted")
    hamstore.write_hamming_index(
        dedup.simhash_signatures(seed), store, kind="simhash"
    )
    for lo in (100, 200, 300, 400):  # four single-file micro-batches
        docs.where(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 100)
        ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = hamstore.streaming_hamming_ingest(
        spark, store, stream, str(tmp_path / "ckpt"), kind="simhash",
        output_path=out,
    )
    drain(q, 300)

    admitted = spark.read.parquet(out)
    n_seed, n_adm = seed.count(), admitted.count()
    assert 0 < n_adm < streamed.count()
    # sink emits the CALLER's rows (+ the ingest_batch partition column
    # that the per-batch overwrite layout adds at read time)
    assert set(admitted.columns) == {*docs.columns, "ingest_batch"}
    idx = hamstore.read_hamming_index(spark, store, kind="simhash")
    assert idx.signatures.count() == n_seed + n_adm

    post_seed = {r["doc_id"] for r in admitted.select("doc_id").collect()}
    pairs = hamstore.hamming_pairs_from_index(idx).collect()
    touching = [
        (p["doc_a"], p["doc_b"])
        for p in pairs
        if p["doc_a"] in post_seed or p["doc_b"] in post_seed
    ]
    assert touching == []

    adm_sigs = dedup.simhash_signatures(admitted)
    readmit = hamstore.delta_hamming_admit_indexed(idx, adm_sigs)
    assert readmit.count() == n_adm  # fixpoint
    assert hamstore.hamming_index_add(spark, store, adm_sigs, kind="simhash") == 0


def test_streaming_hamming_ingest_order_independent_store_set(
    spark, sf_dir, tmp_path
):
    """Reversed micro-batch arrival must leave a store satisfying the same
    invariants — the admitted SET may legitimately differ (component-min
    is decided per batch), but no post-seed store doc may have a direct
    near-dup edge under either order."""
    docs = _docs(spark, sf_dir)
    seed = docs.where(F.col("doc_id") < 100)
    store = str(tmp_path / "store")
    src = str(tmp_path / "src")
    hamstore.write_hamming_index(
        dedup.simhash_signatures(seed), store, kind="simhash"
    )
    for lo in (400, 300, 200, 100):  # reversed arrival order
        docs.where(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 100)
        ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = hamstore.streaming_hamming_ingest(
        spark, store, stream, str(tmp_path / "ckpt"), kind="simhash"
    )
    drain(q, 300)
    idx = hamstore.read_hamming_index(spark, store, kind="simhash")
    seed_ids = {r["doc_id"] for r in seed.select("doc_id").collect()}
    post = {
        r["doc_id"] for r in idx.signatures.select("doc_id").collect()
    } - seed_ids
    assert post  # something was admitted
    pairs = hamstore.hamming_pairs_from_index(idx).collect()
    assert [
        (p["doc_a"], p["doc_b"])
        for p in pairs
        if p["doc_a"] in post or p["doc_b"] in post
    ] == []


# ----------------------------------- IVF-store continuous ingest (triad)

def test_streaming_ann_ingest_invariants(spark, sf_dir, tmp_path):
    """The embedding ingest loop under EXHAUSTIVE probing (n_probe =
    n_centroids → candidate generation is exact, so the closure admission
    is exact) must satisfy the triad contract: store rows = seed + Σ
    admitted; planted twins of STORED vectors are rejected
    (has-existing), planted same-batch twin pairs keep only the
    minimum-id member; no post-seed pair in the final store reaches the
    threshold under brute-force cosine; re-admission is a fixpoint and
    the re-append a no-op."""
    import math

    from magiceye_spark.llmops import annindex

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    seed = emb.where(F.col("vec_id") < 300)
    store = str(tmp_path / "ivf")
    src = str(tmp_path / "src")
    annindex.write_ivf_index(seed, store, n_centroids=8)

    def twin_of(src_ids, new_base):
        return emb.where(F.col("vec_id").isin(src_ids)).select(
            (F.col("vec_id") + new_base).alias("vec_id"),
            F.transform(
                "embedding", lambda x: (x.cast("double") * 1.0001).cast("float")
            ).alias("embedding"),
        )

    batch1 = emb.where(
        (F.col("vec_id") >= 300) & (F.col("vec_id") < 400)
    ).unionByName(twin_of(list(range(10)), 100000))  # twins of STORED rows
    batch2 = emb.where(F.col("vec_id") >= 400).unionByName(
        twin_of([400], 200000)
    ).unionByName(twin_of([400], 200001))  # same-batch twin pair of 400
    batch1.coalesce(1).write.mode("append").parquet(src)
    batch2.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = str(tmp_path / "admitted")
    q = annindex.streaming_ann_ingest(
        spark, store, stream, str(tmp_path / "ckpt"),
        threshold=0.95, n_probe=8, output_path=out,
    )
    drain(q, 300)

    admitted_ids = {
        r["vec_id"] for r in spark.read.parquet(out).select("vec_id").collect()
    }
    assert all(100000 + i not in admitted_ids for i in range(10))  # dup-of-stored
    assert 200400 not in admitted_ids and 200401 not in admitted_ids
    assert 400 in admitted_ids  # min of the all-incoming twin component

    idx = annindex.read_ivf_index(spark, store)
    assert idx.postings.count() == 300 + len(admitted_ids)

    # brute-force invariant: no stored pair touching a post-seed vector
    # reaches the threshold (seed-internal pairs allowed — written wholesale)
    rows = idx.postings.select("vec_id", "embedding").collect()
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in rows}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(d / (na * nb), 6)

    ids = sorted(vecs)
    post = {i for i in ids if i >= 300}
    hot = [
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if (a in post or b in post) and cos(vecs[a], vecs[b]) >= 0.95
    ]
    assert hot == []

    readmit = annindex.delta_ann_admit_indexed(
        idx, spark.read.parquet(out).select("vec_id", "embedding"),
        threshold=0.95, n_probe=8,
    )
    assert readmit.count() == len(admitted_ids)  # fixpoint
    assert annindex.ivf_index_add(
        spark, store, spark.read.parquet(out).select("vec_id", "embedding")
    ) == 0


def test_delta_ann_admit_pq_store_verifies_exactly(spark, sf_dir, tmp_path):
    """Historically (r9) a PQ store REFUSED rerank-less admission; since
    r11 the store carries its own originals, so the default succeeds —
    but it must still verify EXACT cosine, never ADC estimates: admission
    against the PQ store equals admission against its flat twin. (A PQ
    store without its rerank table is refused —
    test_r10_ops.test_pq_admission_requires_rerank.)"""
    from magiceye_spark.llmops import annindex

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    stored, batch = emb.where(F.col("vec_id") < 100), emb.where(
        F.col("vec_id") >= 100
    )
    pq = annindex.write_ivf_index(
        stored, str(tmp_path / "pq"), pq=True, n_centroids=8
    )
    flat = annindex.write_ivf_index(stored, str(tmp_path / "flat"), n_centroids=8)
    a = sorted(
        r["vec_id"]
        for r in annindex.delta_ann_admit_indexed(pq, batch).collect()
    )
    b = sorted(
        r["vec_id"]
        for r in annindex.delta_ann_admit_indexed(flat, batch).collect()
    )
    assert a == b and a


def test_streaming_ingest_compact_every(spark, sf_dir, tmp_path):
    """compact_every=2 over four micro-batches must leave the signature
    table compacted (≤ parallelism files, vs seed+4 appended) with row
    content untouched — the in-loop lifecycle answer to append-accumulated
    small files."""
    from magiceye_spark.fsops import fs_count_files

    docs = _docs(spark, sf_dir)
    seed = docs.where(F.col("doc_id") < 100)
    store = str(tmp_path / "store")
    src = str(tmp_path / "src")
    hamstore.write_hamming_index(
        dedup.simhash_signatures(seed), store, kind="simhash"
    )
    for lo in (100, 200, 300, 400):
        docs.where(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 100)
        ).coalesce(1).write.mode("append").parquet(src)
    q = hamstore.streaming_hamming_ingest(
        spark,
        store,
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src),
        str(tmp_path / "ckpt"),
        kind="simhash",
        compact_every=2,
    )
    drain(q, 300)
    idx = hamstore.read_hamming_index(spark, store, kind="simhash")
    n = idx.signatures.count()
    assert n > seed.count()
    files = fs_count_files(spark, f"{store}/signatures")
    assert files <= spark.sparkContext.defaultParallelism
    # compaction preserved rows: ids are unique and pairs invariant holds
    assert idx.signatures.select("doc_id").distinct().count() == n


# ------------------------------------- MinHash-store band diagnostics

def test_sigstore_band_stats_accounting_and_template_pin(spark, sf_dir, tmp_path):
    """band_bucket_stats invariants: one row per band; per-band doc
    accounting equals the store size; a planted template farm (30
    identical texts → identical signatures → one bucket per band) must
    surface as max_bucket >= 30 in EVERY band — the exact hot-bucket
    signal the salt guard sizes from."""
    from magiceye_spark.llmops import sigstore

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    template = (
        docs.where(F.col("doc_id") == 0)
        .select(F.explode(F.sequence(F.lit(0), F.lit(29))).alias("i"), "text")
        .select((F.col("i") + 900000).alias("doc_id"), "text")
    )
    idx = sigstore.write_minhash_index(
        docs.unionByName(template), str(tmp_path / "sig")
    )
    n_store = idx.signatures.count()
    rows = sigstore.band_bucket_stats(idx).collect()
    assert [r["band_id"] for r in rows] == list(range(int(idx.params["bands"])))
    for r in rows:
        assert r["n_docs"] == n_store
        assert 1 <= r["n_buckets"] <= n_store
        assert r["max_bucket"] >= 30  # the planted template family + doc 0
        assert r["n_hot_buckets"] == 0  # cap 2000 not reached at this scale


# --------------------------------------- fs swap: partial-live refusal

def test_fs_swap_dirs_refuses_to_clear_old_over_partial_live(spark, tmp_path):
    """S3A crash shape: a leftover *_old plus a live dir WITHOUT a
    _SUCCESS marker (interrupted tmp→live copy). The swap must refuse to
    delete the only complete copy and leave everything in place for
    operator recovery."""
    from magiceye_spark import fsops

    live = str(tmp_path / "t")
    tmp = str(tmp_path / "t_compact")
    old = str(tmp_path / "t_old")
    spark.range(5).write.parquet(live)
    spark.range(7).write.parquet(tmp)
    spark.range(9).write.parquet(old)  # the complete pre-crash table
    os.remove(os.path.join(live, "_SUCCESS"))  # live is a partial copy
    with pytest.raises(IOError, match="_SUCCESS"):
        fsops.fs_swap_dirs(spark, tmp, live)
    # nothing was deleted: all three dirs still present for recovery
    assert spark.read.parquet(old).count() == 9
    assert spark.read.parquet(tmp).count() == 7


# ----------------------- delta-barrier parity (fix must not change output)

def test_hamming_delta_admit_unchanged_by_barrier(spark, sf_dir, tmp_path):
    """The r9 delta-signature barrier is a pure plan change: admission
    verdicts over a lazily-signed batch must equal the python-reference
    semantics pinned in test_r8_ops — here re-pinned cheaply as equality
    with admission over an eagerly materialized copy of the same batch."""
    sigs = dedup.simhash_signatures(_docs(spark, sf_dir))
    store = sigs.where(F.col("doc_id") < 350)
    lazy_batch = sigs.where(F.col("doc_id") >= 350)  # lazily signed
    eager_batch = spark.createDataFrame(
        lazy_batch.collect(), schema=lazy_batch.schema
    )
    idx = hamstore.write_hamming_index(store, str(tmp_path / "s"), kind="simhash")
    got_lazy = _rows(
        hamstore.delta_hamming_admit_indexed(idx, lazy_batch).select("doc_id")
    )
    got_eager = _rows(
        hamstore.delta_hamming_admit_indexed(idx, eager_batch).select("doc_id")
    )
    assert got_lazy == got_eager and got_lazy
