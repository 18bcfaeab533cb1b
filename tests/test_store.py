"""The persistent-store core (magiceye_spark.llmops.store) behind the
MinHash, Hamming and IVF stores: the params version guard on read, and
no persisted frame outliving a failed ingest micro-batch."""

import os

import pytest
from pyspark.sql import functions as F

from magiceye_spark.io import local_frame
from magiceye_spark.llmops import annindex, dedup, hamstore, sigstore, store
from magiceye_spark.streaming import drain


def _persisted(spark):
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")


def _embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def _build_minhash(spark, sf_dir, path):
    sigstore.write_minhash_index(
        _docs(spark, sf_dir).where(F.col("doc_id") < 100), path
    )
    return lambda: sigstore.read_minhash_index(spark, path)


def _build_hamming(spark, sf_dir, path):
    seed = _docs(spark, sf_dir).where(F.col("doc_id") < 100)
    hamstore.write_hamming_index(
        dedup.simhash_signatures(seed), path, kind="simhash"
    )
    return lambda: hamstore.read_hamming_index(spark, path)


def _build_ivf(spark, sf_dir, path):
    annindex.write_ivf_index(
        _embs(spark, sf_dir).where(F.col("vec_id") < 200), path, pq=True,
        n_centroids=4, m_subvectors=4, kmeans_iters=2, fit_sample=128,
        train_sample=128,
    )
    return lambda: annindex.read_ivf_index(spark, path)


_BUILDERS = {
    "minhash": _build_minhash,
    "hamming": _build_hamming,
    "ivf": _build_ivf,
}


@pytest.mark.parametrize("kind", sorted(_BUILDERS))
def test_read_rejects_unsupported_version(spark, sf_dir, tmp_path, kind):
    """Every store's reader checks the params version tag: a store
    written by a different layout version raises instead of being probed
    with the wrong expectations."""
    path = str(tmp_path / kind)
    read = _BUILDERS[kind](spark, sf_dir, path)
    read()  # the store as written reads back
    params = spark.read.parquet(os.path.join(path, "params")).first().asDict()
    params["version"] = "unknown-v0"
    local_frame(spark, [params]).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "params")
    )
    with pytest.raises(ValueError, match="unsupported index version 'unknown-v0'"):
        read()


def _start_loop(spark, kind, path, stream, ckpt, out):
    if kind == "minhash":
        return sigstore.streaming_dedup_ingest(
            spark, path, stream, ckpt, output_path=out
        )
    if kind == "hamming":
        return hamstore.streaming_hamming_ingest(
            spark, path, stream, ckpt, kind="simhash", output_path=out
        )
    return annindex.streaming_ann_ingest(spark, path, stream, ckpt, output_path=out)


@pytest.mark.parametrize("kind", sorted(_BUILDERS))
def test_failed_micro_batch_leaks_no_cache(
    spark, sf_dir, tmp_path, monkeypatch, kind
):
    """A store append that raises after the admitted frame is persisted
    fails the query, and every frame the loop persisted for that batch
    (the signed batch, the admitted rows) is released: a long-running
    ingest query retried after failures must not accumulate caches."""
    path = str(tmp_path / "store")
    _BUILDERS[kind](spark, sf_dir, path)
    if kind == "ivf":
        rows = _embs(spark, sf_dir).where(F.col("vec_id").between(200, 299))
    else:
        rows = _docs(spark, sf_dir).where(F.col("doc_id").between(100, 199))
    src = str(tmp_path / "src")
    rows.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(rows.schema).parquet(src)
    before = _persisted(spark)
    seen = []

    def boom(*args, **kwargs):
        # the sink write has run, so the admitted frame is materialized
        seen.append(_persisted(spark))
        raise RuntimeError("store append failed")

    if kind == "ivf":
        monkeypatch.setattr(annindex, "_append_vectors", boom)
    else:
        monkeypatch.setattr(store, "append_signatures", boom)
    q = _start_loop(
        spark, kind, path, stream, str(tmp_path / "ckpt"), str(tmp_path / "out")
    )
    with pytest.raises(Exception, match="store append failed"):
        drain(q, 300)
    assert seen and seen[0] > before
    assert _persisted(spark) == before


def test_hamming_loop_admits_without_barrier(spark, sf_dir, tmp_path, monkeypatch):
    """The Hamming loop admits over the signed batch the loop persisted:
    no second repartition of the signatures (store.delta_barrier, which
    direct callers with lazily signed frames still get)."""
    path = str(tmp_path / "store")
    read = _build_hamming(spark, sf_dir, path)
    rows = _docs(spark, sf_dir).where(F.col("doc_id").between(100, 199))
    src = str(tmp_path / "src")
    rows.coalesce(1).write.parquet(src)

    def boom(*args, **kwargs):
        raise RuntimeError("delta_barrier called")

    monkeypatch.setattr(store, "delta_barrier", boom)
    out = str(tmp_path / "out")
    drain(_start_loop(
        spark, "hamming", path, spark.readStream.schema(rows.schema).parquet(src),
        str(tmp_path / "ckpt"), out,
    ), 300)
    n_adm = spark.read.parquet(out).count()
    assert 0 < n_adm <= 100
    assert read().signatures.count() == 100 + n_adm


def test_ivf_loop_probes_filesystem_only_until_model_read(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A cold-start IVF loop looks for the store (params, postings, the
    PQ rerank table) only until it has read the model: batch 0
    bootstraps, batch 1 reads the model, and no later batch makes a
    filesystem probe."""
    events = []
    real_exists = annindex.fs_exists
    real_admit = annindex.delta_ann_admit_indexed

    def exists(*a, **k):
        events.append("fs")
        return real_exists(*a, **k)

    def admit(*a, **k):
        events.append("admit")
        return real_admit(*a, **k)

    monkeypatch.setattr(annindex, "fs_exists", exists)
    monkeypatch.setattr(annindex, "delta_ann_admit_indexed", admit)
    emb = _embs(spark, sf_dir)
    src = str(tmp_path / "src")
    for lo in (0, 100, 200, 300):  # four single-file micro-batches
        emb.where(F.col("vec_id").between(lo, lo + 99)).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    drain(annindex.streaming_ann_ingest(
        spark, str(tmp_path / "ivf"),
        spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", "1")
        .parquet(src),
        str(tmp_path / "ckpt"), bootstrap={"pq": True, "n_centroids": 4},
    ), 300)
    # one admission per batch; batch 1 admits after reading the model
    admits = [i for i, e in enumerate(events) if e == "admit"]
    assert len(admits) == 4, events
    assert "fs" in events[:admits[1]]
    assert "fs" not in events[admits[1]:], events
