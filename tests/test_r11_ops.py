"""Round-11 operator tests: the PQ store's cell-partitioned rerank table
(store-side originals, pruned scans — closing the r10 verdict's one scale
flag), rerank defaulting (admission and probe read the store's own
originals), cold-start batch-0 admission parity with the sibling stores,
and replay safety of the PQ loop across the add→commit crash window
(the r10 advice's replay-poison finding)."""

import os
import re

from pyspark.sql import functions as F

from magiceye_spark import plans
from magiceye_spark.llmops import annindex, simsearch
from magiceye_spark.streaming import drain


def _embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def _ids(df, col="vec_id"):
    return sorted(r[col] for r in df.select(col).collect())


# ------------------------------------------------ store-side rerank table

def test_pq_store_writes_rerank_table(spark, sf_dir, tmp_path):
    """write_ivf_index(pq=True) persists originals under rerank/cell=*,
    row-for-row with the postings; flat stores write none."""
    emb = _embs(spark, sf_dir)
    stored = emb.where(F.col("vec_id") < 200)
    idx = annindex.write_ivf_index(
        stored, str(tmp_path / "pq"), pq=True, n_centroids=8
    )
    assert idx.rerank is not None
    assert sorted(os.listdir(str(tmp_path / "pq" / "rerank")))  # cell dirs
    assert _ids(idx.rerank) == _ids(stored)
    flat = annindex.write_ivf_index(stored, str(tmp_path / "flat"), n_centroids=8)
    assert flat.rerank is None
    assert not os.path.exists(str(tmp_path / "flat" / "rerank"))


def test_pq_index_add_appends_rerank_in_lockstep(spark, sf_dir, tmp_path):
    """ivf_index_add on a PQ store appends the delta's originals to the
    rerank table under the same anti-join discipline as the codes — a
    re-ingested batch is a no-op for BOTH tables."""
    emb = _embs(spark, sf_dir)
    p = str(tmp_path / "pq")
    annindex.write_ivf_index(
        emb.where(F.col("vec_id") < 200), p, pq=True, n_centroids=8
    )
    delta = emb.where((F.col("vec_id") >= 200) & (F.col("vec_id") < 300))
    n = annindex.ivf_index_add(spark, p, delta)
    assert n == 100
    idx = annindex.read_ivf_index(spark, p)
    assert _ids(idx.rerank) == _ids(emb.where(F.col("vec_id") < 300))
    assert annindex.ivf_index_add(spark, p, delta) == 0  # replay no-op
    idx2 = annindex.read_ivf_index(spark, p)
    assert idx2.rerank.count() == 300 and idx2.postings.count() == 300


def test_pq_admission_defaults_to_store_rerank(spark, sf_dir, tmp_path):
    """rerank=None now means "the store's own originals" — identical
    verdicts to the explicit external-corpus contract."""
    emb = _embs(spark, sf_dir)
    stored = emb.where(F.col("vec_id") < 300)
    batch = emb.where(F.col("vec_id") >= 300).unionByName(
        emb.where(F.col("vec_id") < 5).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
        )
    )
    idx = annindex.write_ivf_index(
        stored, str(tmp_path / "pq"), pq=True, n_centroids=8
    )
    for n_probe in (8, 2):
        a = _ids(annindex.delta_ann_admit_indexed(
            idx, batch, threshold=0.95, n_probe=n_probe
        ))
        b = _ids(annindex.delta_ann_admit_indexed(
            idx, batch, threshold=0.95, n_probe=n_probe, rerank=stored
        ))
        assert a == b and a


def test_admission_rerank_scan_prunes_to_probed_cells(spark, sf_dir, tmp_path):
    """The r10 scale flag, closed: the rerank scan in the admission plan
    must carry the same literal cell PartitionFilters as the postings
    scan — per-batch rerank work is the probed slice, not the corpus.
    Probing n_probe=2 of 16 cells, BOTH partitioned scans prune."""
    emb = _embs(spark, sf_dir)
    idx = annindex.write_ivf_index(
        emb.where(F.col("vec_id") < 400), str(tmp_path / "pq"),
        pq=True, n_centroids=16,
    )
    batch = emb.where(F.col("vec_id") == 400)  # one vector → 2 probed cells
    cells = simsearch._cell_sides(
        batch, idx.centroids, 2, "vec_id", "embedding"
    ).cells
    assert len(cells) == 2
    pairs = annindex.delta_ann_pairs_from_index(
        idx, batch, threshold=0.95, n_probe=2
    )
    plan = plans.formatted_plan(pairs)
    filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    # short lists render as `cell IN (a,b)`, long ones as `cell INSET a, b`
    pruned = [
        re.search(r"cell#\d+ IN(?:SET)? \(?([\d, ]+)", f)
        for f in filters
        if "cell" in f
    ]
    # postings scan + rerank scan: both cell-pruned with the literal list
    assert len([m for m in pruned if m]) >= 2, plan
    for m in pruned:
        assert m and len(m.group(1).split(",")) == len(cells), plan


def test_probe_defaults_to_store_rerank_and_prunes(spark, sf_dir, tmp_path):
    """ivf_pq_index_topk(corpus=None) reranks from the store's originals,
    pruned to the probed cells — same results as the external corpus."""
    emb = _embs(spark, sf_dir)
    stored = emb.where(F.col("vec_id") < 400)
    idx = annindex.write_ivf_index(
        stored, str(tmp_path / "pq"), pq=True, n_centroids=16
    )
    q = emb.where(F.col("vec_id").isin([0, 7]))
    a = annindex.ivf_pq_index_topk(idx, q, k=5, n_probe=4)
    b = annindex.ivf_pq_index_topk(idx, q, stored, k=5, n_probe=4)
    rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert rows(a) == rows(b) and rows(a)
    plan = plans.formatted_plan(a)
    filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert len([f for f in filters if "cell" in f]) >= 2, plan


def test_pq_compaction_includes_rerank_table(spark, sf_dir, tmp_path):
    """Compaction rewrites BOTH append-accumulating tables of a PQ store
    to one file per cell; rows bit-identical."""
    emb = _embs(spark, sf_dir)
    p = str(tmp_path / "pq")
    annindex.write_ivf_index(
        emb.where(F.col("vec_id") < 200), p, pq=True, n_centroids=8
    )
    for lo in (200, 300):
        annindex.ivf_index_add(
            spark, p,
            emb.where((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 100)),
        )
    before = annindex.read_ivf_index(spark, p)
    rr_before = _ids(before.rerank)
    post_before = before.postings.count()  # materialized pre-swap
    nb, na = annindex.ivf_index_compact(spark, p)
    assert na < nb
    after = annindex.read_ivf_index(spark, p)
    assert _ids(after.rerank) == rr_before
    assert after.postings.count() == post_before


# ------------------------------------------- cold-start admission parity

def test_cold_start_batch0_pq_twin_dedup(spark, sf_dir, tmp_path):
    """PQ cold start runs batch 0 through normal admission too: the
    intra-batch twin's non-min id reaches neither the postings nor the
    rerank table nor the sink."""
    emb = _embs(spark, sf_dir)
    src = str(tmp_path / "src")
    b0 = emb.where(F.col("vec_id") < 200).unionByName(
        emb.where(F.col("vec_id") == 3).select(
            (F.col("vec_id") + 9_000_000).alias("vec_id"), "embedding"
        )
    )
    b0.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(emb.schema).parquet(src)
    store, out = str(tmp_path / "pq"), str(tmp_path / "out")
    q = annindex.streaming_ann_ingest(
        spark, store, stream, str(tmp_path / "ckpt"),
        threshold=0.95, n_probe=8, output_path=out,
        bootstrap={"pq": True, "n_centroids": 8},
    )
    drain(q, 300)
    idx = annindex.read_ivf_index(spark, store)
    post_ids = set(_ids(idx.postings))
    assert 9_000_003 not in post_ids and 3 in post_ids
    assert set(_ids(idx.rerank)) == post_ids
    assert {r["vec_id"] for r in spark.read.parquet(out).collect()} == post_ids


# ------------------------------------------------- replay safety (crash)

def test_pq_loop_replay_after_add_before_commit(spark, sf_dir, tmp_path):
    """The r10 advice's replay-poison shape: crash AFTER the batch's rows
    are stored but BEFORE the streaming checkpoint commits (simulated by
    deleting the commit marker and re-draining). The replayed batch's
    ids are already stored candidates; the store's rerank table holds
    their originals, because every append writes it before the postings,
    so the replay verifies them instead of raise_error-ing on every
    restart. End state identical to one clean run."""
    emb = _embs(spark, sf_dir)
    src = str(tmp_path / "src")
    b0 = emb.where(F.col("vec_id") < 200)
    b1 = emb.where((F.col("vec_id") >= 200) & (F.col("vec_id") < 300))
    for b in (b0, b1):
        b.coalesce(1).write.mode("append").parquet(src)
    store, out, ckpt = (
        str(tmp_path / d) for d in ("pq", "out", "ckpt")
    )

    def _drain():
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = annindex.streaming_ann_ingest(
            spark, store, stream, ckpt,
            threshold=0.95, n_probe=8, output_path=out,
            bootstrap={"pq": True, "n_centroids": 8},
        )
        drain(q, 600)

    _drain()
    clean_post = _ids(annindex.read_ivf_index(spark, store).postings)
    # simulate the crash window: batch 1 fully applied, commit lost
    # (the checksum sidecar must go too or the restart sees a live query)
    os.remove(os.path.join(ckpt, "commits", "1"))
    crc = os.path.join(ckpt, "commits", ".1.crc")
    if os.path.exists(crc):
        os.remove(crc)
    _drain()  # must replay batch 1 cleanly, not crash-loop
    idx = annindex.read_ivf_index(spark, store)
    assert _ids(idx.postings) == clean_post
    assert _ids(idx.rerank) == clean_post
    sink_ids = sorted(
        r["vec_id"] for r in spark.read.parquet(out).select("vec_id").collect()
    )
    assert sink_ids == clean_post


def test_sig_loop_banding_covers_true_pairs(spark, sf_dir):
    """The precondition that makes sig_ingest_loop_exact's hash check
    meaningful on this corpus: the production LSH banding (32 hashes, 8
    bands) finds EVERY true >=0.7 shingle-Jaccard pair among the
    documents — so the loop row's banded candidate generation is exact
    HERE (the oracle's all-pairs closure sees nothing the loop misses).
    The caveat stays real for arbitrary corpora; this pins it checked,
    not assumed, for the corpus the driver hashes."""
    from magiceye_spark.llmops import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    sigs = dedup.minhash_signatures(docs, 32, 3).persist()
    try:
        banded = dedup._lsh_pairs_from_sigs(sigs, 32, 8, 0.7).select(
            "doc_a", "doc_b"
        )
        a = sigs.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
        b = sigs.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
        raw = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
            F.array_union("sh_a", "sh_b")
        )
        truth = (
            a.join(b, F.col("doc_a") < F.col("doc_b"))
            .where(raw >= 0.7)
            .select("doc_a", "doc_b")
        )
        missing = truth.join(banded, ["doc_a", "doc_b"], "left_anti")
        assert missing.count() == 0
        assert truth.count() > 0  # non-vacuous: the corpus has true pairs
    finally:
        sigs.unpersist()
