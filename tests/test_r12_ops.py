"""Round-12 regression tests for the r11 advice findings: the PQ
dedupe_ids lockstep guard, external-rerank cell-column collision safety
(vs the store's own pruned scan) and the _loop_batches_to_stream mtime
re-pinning fix at 3+ batches."""

import os

import pytest

from pyspark.sql import functions as F

from magiceye_spark.llmops import annindex


def _embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def _ids(df, col="vec_id"):
    return sorted(r[col] for r in df.select(col).collect())


def test_ivf_index_add_rejects_dedupe_false_on_pq(spark, sf_dir, tmp_path):
    """dedupe_ids=False would let the postings keep duplicate-id rows
    while the rerank append stays one-row-per-id (its anti-join is on
    id) — silently breaking rerank.count() == postings.count(). The add
    must refuse up front for PQ stores."""
    emb = _embs(spark, sf_dir)
    path = str(tmp_path / "pq")
    annindex.write_ivf_index(
        emb.where(F.col("vec_id") < 100), path, pq=True, n_centroids=4
    )
    with pytest.raises(ValueError, match="dedupe_ids"):
        annindex.ivf_index_add(
            spark, path, emb.where(F.col("vec_id") >= 100), dedupe_ids=False
        )
    # flat stores keep the escape hatch: ids new by construction
    flat = str(tmp_path / "flat")
    annindex.write_ivf_index(
        emb.where(F.col("vec_id") < 100), flat, n_centroids=4
    )
    n = annindex.ivf_index_add(
        spark, flat,
        emb.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 120)),
        dedupe_ids=False,
    )
    assert n == 20


def test_external_rerank_with_unrelated_cell_column_not_pruned(
    spark, sf_dir, tmp_path
):
    """An EXTERNAL rerank corpus that happens to carry a `cell` column
    (unrelated to the index's assignment) must NOT be pruned by the
    probed-cell literals: the r11 advice's over-prune would surface as a
    bogus missing-vec_id raise_error. Poison every external cell value
    (-1 matches no probed cell) — admission must still equal the
    store-table default path bit-for-bit."""
    emb = _embs(spark, sf_dir)
    stored = emb.where(F.col("vec_id") < 300)
    idx = annindex.write_ivf_index(
        stored, str(tmp_path / "pq"), pq=True, n_centroids=8
    )
    batch = emb.where(F.col("vec_id") >= 300)
    poisoned = stored.withColumn("cell", F.lit(-1))
    got = annindex.delta_ann_pairs_from_index(
        idx, batch, threshold=0.95, n_probe=8, rerank=poisoned
    )
    want = annindex.delta_ann_pairs_from_index(
        idx, batch, threshold=0.95, n_probe=8
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_loop_batches_to_stream_keeps_batch_order_at_three_batches(
    spark, sf_dir, tmp_path
):
    """The shared keyed-tempdir helper pins one distinct mtime per batch
    even with 3+ batches — the old `mtime > 1e9` guard re-stamped batch
    1's files to batch 2's timestamp, making file-source arrival order a
    tie under maxFilesPerTrigger=1."""
    from magiceye_spark.registry import _loop_batches_to_stream

    emb = _embs(spark, sf_dir)
    batches = tuple(
        emb.where(
            (F.col("vec_id") >= k * 50) & (F.col("vec_id") < (k + 1) * 50)
        )
        for k in range(3)
    )
    base = str(tmp_path / "loop3")
    _loop_batches_to_stream(spark, base, batches)
    src = os.path.join(base, "src")
    mtimes = sorted(
        os.path.getmtime(os.path.join(src, f))
        for f in os.listdir(src)
        if f.endswith(".parquet")
    )
    # one batch per timestamp, strictly increasing 1e9, 1e9+1, 1e9+2
    assert mtimes == [1_000_000_000 + k for k in range(3)]
