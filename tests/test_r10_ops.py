"""Round-10 operator tests: the fs_swap_dirs _MANIFEST completeness proof
(upgrade over the _SUCCESS heuristic), the drain() loud-timeout helper,
the cmd_ingest scheme-aware store-existence check, the driver-side
union-find fast path, PQ-store admission via external-corpus rerank
(parity with the flat path, the missing-rerank-row in-plan raise), and
the IVF ingest cold-start (flat + PQ loops bootstrapping from the first
micro-batch)."""

import os

import pytest

from magiceye_spark import fsops


def _strip_success(d):
    p = os.path.join(d, "_SUCCESS")
    if os.path.exists(p):
        os.remove(p)


def test_swap_writes_manifest_and_next_swap_trusts_it(spark, tmp_path):
    """A directory promoted by fs_swap_dirs carries a _MANIFEST; a later
    swap that finds a crash-leftover *_old clears it on the strength of
    the manifest alone — even on a cluster with success markers disabled
    (no _SUCCESS under live)."""
    live = str(tmp_path / "t")
    spark.range(5).write.parquet(live)
    tmp1 = str(tmp_path / "t_c1")
    spark.range(7).write.parquet(tmp1)
    fsops.fs_swap_dirs(spark, tmp1, live)
    assert os.path.exists(os.path.join(live, "_MANIFEST"))
    assert fsops._manifest_proves_complete(spark, live) is True

    # markers-disabled shape: live has a valid manifest but no _SUCCESS
    _strip_success(live)
    os.makedirs(str(tmp_path / "t_old"))  # crash leftover
    tmp2 = str(tmp_path / "t_c2")
    spark.range(9).write.parquet(tmp2)
    fsops.fs_swap_dirs(spark, tmp2, live)
    assert spark.read.parquet(live).count() == 9
    assert not os.path.exists(str(tmp_path / "t_old"))


def test_failing_manifest_is_authoritative_over_success_marker(spark, tmp_path):
    """The S3A false-positive shape the _SUCCESS heuristic cannot catch:
    an interrupted tmp→live rename copies objects in listing order, so a
    PARTIAL live already holds _MANIFEST and _SUCCESS but not all part
    files. The manifest check must fail, must NOT fall back to the
    marker, and the swap must refuse to delete *_old."""
    live = str(tmp_path / "t")
    spark.range(5).repartition(4).write.parquet(live)
    tmp1 = str(tmp_path / "t_c1")
    spark.range(7).write.parquet(tmp1)
    fsops.fs_swap_dirs(spark, tmp1, live)  # live now has a manifest

    # simulate the partial copy: drop one manifested part file, keep _SUCCESS
    parts = [f for f in os.listdir(live) if f.endswith(".parquet")]
    os.remove(os.path.join(live, parts[0]))
    assert os.path.exists(os.path.join(live, "_SUCCESS"))
    assert fsops._manifest_proves_complete(spark, live) is False

    old = str(tmp_path / "t_old")
    spark.range(9).write.parquet(old)  # the only complete copy
    tmp2 = str(tmp_path / "t_c2")
    spark.range(3).write.parquet(tmp2)
    with pytest.raises(IOError, match="_MANIFEST"):
        fsops.fs_swap_dirs(spark, tmp2, live)
    assert spark.read.parquet(old).count() == 9  # untouched for recovery


def test_manifest_absent_falls_back_to_success(spark, tmp_path):
    """Pre-manifest stores (written directly, never swapped) keep the old
    best-effort behavior: _SUCCESS present → old cleared, swap proceeds."""
    live = str(tmp_path / "t")
    tmp = str(tmp_path / "t_compact")
    old = str(tmp_path / "t_old")
    spark.range(5).write.parquet(live)
    spark.range(7).write.parquet(tmp)
    spark.range(1).write.parquet(old)
    assert fsops._manifest_proves_complete(spark, live) is None
    fsops.fs_swap_dirs(spark, tmp, live)
    assert spark.read.parquet(live).count() == 7
    assert not os.path.exists(old)


def test_drain_raises_on_timeout(spark, tmp_path):
    """drain() must convert awaitTermination's silent False into a loud
    TimeoutError and stop the query so it cannot pollute later seats."""
    from magiceye_spark.streaming import drain

    src = str(tmp_path / "src")
    spark.range(10).write.parquet(src)
    q = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .parquet(src)
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()  # continuous trigger: never terminates on its own
    )
    with pytest.raises(TimeoutError, match="did not terminate"):
        drain(q, 0.1)
    assert not q.isActive


# ------------------- small-graph union-find fast path: label parity

def test_unionfind_fast_path_label_parity(spark, monkeypatch):
    """The r10 driver-side union-find fast path must produce labels
    BYTE-IDENTICAL to the distributed fixpoint (min node id per
    component) on a randomized graph mixing chains, cliques, islands and
    hubs — the admission-graph shapes it exists for."""
    import random

    from magiceye_spark.llmops import graph
    from magiceye_spark.llmops.graph import connected_components

    rng = random.Random(20260815)
    edges = []
    base = 0
    for _ in range(40):  # chains
        n = rng.randint(2, 30)
        edges += [(base + i, base + i + 1) for i in range(n - 1)]
        base += n + rng.randint(0, 3)  # gaps → singleton-free id space
    for _ in range(10):  # cliques
        ids = [base + i for i in range(rng.randint(3, 8))]
        edges += [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]]
        base += len(ids)
    for _ in range(5):  # hubs
        hub = base
        edges += [(hub, base + 1 + i) for i in range(rng.randint(5, 40))]
        base += 50
    rng.shuffle(edges)
    df = spark.createDataFrame(edges, "src long, dst long")
    fast = {
        r.node: r.comp_id for r in connected_components(df).collect()
    }
    monkeypatch.setattr(graph, "SMALL_GRAPH_EDGE_CAP", 0)
    dist = {r.node: r.comp_id for r in connected_components(df).collect()}
    assert fast == dist
    assert len(fast) == len({n for e in edges for n in e})


def test_unionfind_fast_path_used_and_capped(spark):
    """Below the cap the result is a local relation (no shuffle in the
    plan); forcing cap 0 on the same graph runs the distributed loop."""
    from magiceye_spark.llmops.graph import (
        SMALL_GRAPH_EDGE_CAP,
        connected_components,
    )

    # the documented bound (r13: re-capped from 200k after measuring the
    # union-find/distributed crossover at 545k directed edges — see
    # graph.py; the collect stays bounded at ≤1M rows ≈ 16 MB)
    assert SMALL_GRAPH_EDGE_CAP == 2_000_000
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "src long, dst long"
    )
    out = connected_components(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # The result is a driver-local relation (LocalTableScan or a
    # parallelized ExistingRDD depending on createDataFrame's path) —
    # what matters is there is NO shuffle and NO join in the plan.
    assert "Exchange" not in plan and "Join" not in plan
    assert "LocalTableScan" in plan or "ExistingRDD" in plan


# --------------------------- PQ-store admission via external-corpus rerank

def _embs(spark, sf_dir):
    from pyspark.sql import functions as F  # noqa: F401

    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def test_pq_admission_requires_rerank(spark, sf_dir, tmp_path):
    """A PQ store without its rerank table (the original vectors that
    admission and probe rerank verify against) is refused at every
    entry point — verifying against ADC distances instead would admit
    duplicates: read_ivf_index raises, the ingest loop fails its first
    batch, and the CLI ingest exits 2 before starting the stream."""
    import shutil

    from pyspark.sql import functions as F

    from magiceye_spark import cli
    from magiceye_spark.llmops import annindex
    from magiceye_spark.streaming import drain

    emb = _embs(spark, sf_dir)
    store = str(tmp_path / "pq")
    annindex.write_ivf_index(
        emb.where(F.col("vec_id") < 200), store, pq=True, n_centroids=8
    )
    shutil.rmtree(os.path.join(store, "rerank"))
    with pytest.raises(ValueError, match="rerank"):
        annindex.read_ivf_index(spark, store)
    src = str(tmp_path / "src")
    emb.where(F.col("vec_id") >= 200).coalesce(1).write.parquet(src)
    q = annindex.streaming_ann_ingest(
        spark, store, spark.readStream.schema(emb.schema).parquet(src),
        str(tmp_path / "ckpt"), bootstrap={"pq": True},
    )
    with pytest.raises(Exception, match="rerank"):
        drain(q, 300)
    cli_args = [
        "ingest", src, store, "--store", "ivf", "--pq",
        "--checkpoint", str(tmp_path / "cli-ckpt"),
    ]
    assert cli.main(cli_args) == 2
    assert not os.path.exists(os.path.join(store, "rerank"))
    # without postings too, it is a build cut before its postings: the
    # CLI cold-starts it again instead of refusing
    shutil.rmtree(os.path.join(store, "postings"))
    assert cli.main(cli_args) == 0
    assert annindex.read_ivf_index(spark, store).rerank.count() > 0


def test_pq_admission_equals_flat_path(spark, sf_dir, tmp_path):
    """PQ-with-rerank admission == flat admission bit-for-bit, at BOTH
    exhaustive (n_probe = n_centroids) and banded (n_probe = 2) probing:
    _pq_fit derives its coarse quantizer from the same _ivf_centroids
    fit, so both indexes probe the same cells, and the rerank join
    recovers the exact vectors the flat postings hold — candidate sets
    and verified cosines are identical by construction."""
    from pyspark.sql import functions as F

    from magiceye_spark.llmops import annindex

    emb = _embs(spark, sf_dir)
    stored = emb.where(F.col("vec_id") < 300)
    batch = emb.where(F.col("vec_id") >= 300).unionByName(
        emb.where(F.col("vec_id") < 5).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
        )
    )
    flat = annindex.write_ivf_index(stored, str(tmp_path / "flat"), n_centroids=8)
    pq = annindex.write_ivf_index(
        stored, str(tmp_path / "pq"), pq=True, n_centroids=8
    )
    for n_probe in (8, 2):
        a = sorted(
            r["vec_id"]
            for r in annindex.delta_ann_admit_indexed(
                flat, batch, threshold=0.95, n_probe=n_probe
            ).collect()
        )
        b = sorted(
            r["vec_id"]
            for r in annindex.delta_ann_admit_indexed(
                pq, batch, threshold=0.95, n_probe=n_probe, rerank=stored
            ).collect()
        )
        assert a == b and a  # identical and non-trivial


def test_pq_admission_missing_rerank_row_raises(spark, sf_dir, tmp_path):
    """A stored candidate absent from the rerank corpus must FAIL the job
    (raise_error inside the plan), not silently drop the edge — a
    dropped edge admits a duplicate. The error surfaces as
    SparkRuntimeException (USER_RAISED_EXCEPTION) or a raw Py4JJavaError
    depending on the capture path, so match on the message only."""
    from pyspark.sql import functions as F

    from magiceye_spark.llmops import annindex

    emb = _embs(spark, sf_dir)
    stored = emb.where(F.col("vec_id") < 300)
    idx = annindex.write_ivf_index(
        stored, str(tmp_path / "pq"), pq=True, n_centroids=8
    )
    holey = stored.where(F.col("vec_id") != 0)  # stored id 0 unrerankable
    batch = emb.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    with pytest.raises(Exception, match="rerank corpus missing"):
        annindex.delta_ann_admit_indexed(
            idx, batch, threshold=0.95, n_probe=8, rerank=holey
        ).collect()


# ------------------------------------ IVF ingest cold-start (bootstrap)

def test_streaming_ann_ingest_cold_start_flat(spark, sf_dir, tmp_path):
    """No index at path + bootstrap= → batch 0 fits the quantizer on the
    WHOLE batch and is admitted through the NORMAL rule against the empty
    store (r11 triad parity: an intra-batch twin pair keeps only its
    min-id member — r10 admitted batch 0 wholesale); batches 1+ admit
    normally (twins of batch-0 rows rejected). Store rows = Σ admitted."""
    from pyspark.sql import functions as F

    from magiceye_spark.llmops import annindex
    from magiceye_spark.streaming import drain

    emb = _embs(spark, sf_dir)
    src = str(tmp_path / "src")
    b0 = emb.where(F.col("vec_id") < 300).unionByName(
        # intra-batch twin INSIDE the first drop: only vec_id 7 survives
        emb.where(F.col("vec_id") == 7).select(
            (F.col("vec_id") + 5_000_000).alias("vec_id"), "embedding"
        )
    )
    b1 = emb.where(F.col("vec_id") >= 300).unionByName(
        emb.where(F.col("vec_id") < 10).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
        )
    )
    b0.coalesce(1).write.mode("append").parquet(src)
    b1.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    store, out = str(tmp_path / "ivf"), str(tmp_path / "admitted")
    q = annindex.streaming_ann_ingest(
        spark, store, stream, str(tmp_path / "ckpt"),
        threshold=0.95, n_probe=8, output_path=out,
        bootstrap={"n_centroids": 8},
    )
    drain(q, 300)
    idx = annindex.read_ivf_index(spark, store)
    assert not idx.pq and int(idx.params["n_centroids"]) == 8
    sink_ids = {
        r["vec_id"] for r in spark.read.parquet(out).select("vec_id").collect()
    }
    assert set(range(300)) <= sink_ids   # batch-0 originals all admitted
    assert 5_000_007 not in sink_ids     # intra-batch-0 twin: min id kept
    assert all(1_000_000 + i not in sink_ids for i in range(10))  # dups rejected
    assert idx.postings.count() == len(sink_ids)


def test_streaming_ann_ingest_cold_start_requires_bootstrap(spark, sf_dir, tmp_path):
    from magiceye_spark.llmops import annindex
    from magiceye_spark.streaming import drain

    emb = _embs(spark, sf_dir)
    src = str(tmp_path / "src")
    emb.limit(50).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(emb.schema).parquet(src)
    q = annindex.streaming_ann_ingest(
        spark, str(tmp_path / "ivf"), stream, str(tmp_path / "ckpt")
    )
    with pytest.raises(Exception, match="no IVF index|bootstrap"):
        drain(q, 120)


def test_streaming_ann_ingest_pq_loop(spark, sf_dir, tmp_path):
    """The CONTINUOUS loop over a PQ store: cold-start fits IVF-PQ on
    batch 0, later batches rerank exact cosine from the store's own
    cell-partitioned originals table (r11; the probed artifact stays the
    codes-only postings). Twins of batch-0 AND batch-1 rows must be
    rejected in batch 2, proving the rerank source grows with the
    admitted set."""
    from pyspark.sql import functions as F

    from magiceye_spark.llmops import annindex
    from magiceye_spark.streaming import drain

    emb = _embs(spark, sf_dir)
    src = str(tmp_path / "src")
    b0 = emb.where(F.col("vec_id") < 200)
    b1 = emb.where((F.col("vec_id") >= 200) & (F.col("vec_id") < 400))
    b2 = (
        emb.where(F.col("vec_id") >= 400)
        .unionByName(
            emb.where(F.col("vec_id") < 5).select(     # twins of batch 0
                (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
            )
        )
        .unionByName(
            emb.where(F.col("vec_id") == 250).select(  # twin of batch 1
                (F.col("vec_id") + 2_000_000).alias("vec_id"), "embedding"
            )
        )
    )
    for b in (b0, b1, b2):
        b.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    store, out = str(tmp_path / "pq"), str(tmp_path / "admitted")
    q = annindex.streaming_ann_ingest(
        spark, store, stream, str(tmp_path / "ckpt"),
        threshold=0.95, n_probe=8, output_path=out,
        bootstrap={"pq": True, "n_centroids": 8},
    )
    drain(q, 600)
    idx = annindex.read_ivf_index(spark, store)
    assert idx.pq
    assert "embedding" not in idx.postings.columns  # codes only — no originals
    sink_ids = {
        r["vec_id"] for r in spark.read.parquet(out).select("vec_id").collect()
    }
    assert all(1_000_000 + i not in sink_ids for i in range(5))
    assert 2_000_250 not in sink_ids
    assert {250, 400} <= sink_ids
    assert idx.postings.count() == len(sink_ids)


def test_streaming_ann_ingest_pq_self_contained_without_output_path(
    spark, sf_dir, tmp_path
):
    """r11: a PQ store keeps its own cell-partitioned originals (rerank
    table), so the loop no longer requires output_path — admission of
    batch 1 verifies exact cosine from the store itself. A twin of a
    batch-0 row must still be rejected with no sink configured at all."""
    from pyspark.sql import functions as F

    from magiceye_spark.llmops import annindex
    from magiceye_spark.streaming import drain

    emb = _embs(spark, sf_dir)
    src = str(tmp_path / "src")
    b0 = emb.where(F.col("vec_id") < 200)
    b1 = emb.where((F.col("vec_id") >= 200) & (F.col("vec_id") < 300)).unionByName(
        emb.where(F.col("vec_id") == 20).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
        )
    )
    for b in (b0, b1):
        b.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    store = str(tmp_path / "pq")
    q = annindex.streaming_ann_ingest(
        spark, store, stream, str(tmp_path / "ckpt"),
        threshold=0.95, n_probe=8,
        bootstrap={"pq": True, "n_centroids": 8},
    )
    drain(q, 600)
    idx = annindex.read_ivf_index(spark, store)
    assert idx.pq and idx.rerank is not None
    ids = {r["vec_id"] for r in idx.postings.select("vec_id").collect()}
    assert 1_000_020 not in ids and {20, 250} <= ids
    # originals table tracks the postings row-for-row
    assert idx.rerank.count() == idx.postings.count()


def test_recommend_ivf_params_and_autosized_cold_start(spark, sf_dir, tmp_path):
    """n_centroids ∝ √n (nearest power of two, clamped), m_subvectors
    divides dim; a cold-start bootstrap without n_centroids sizes the
    quantizer to the first batch instead of the fixed default."""
    from pyspark.sql import functions as F

    from magiceye_spark.llmops import annindex
    from magiceye_spark.streaming import drain

    r = annindex.recommend_ivf_params
    assert r(10) == {"n_centroids": 4}           # clamp floor
    assert r(2_000)["n_centroids"] in (32, 64)   # the repo default's regime
    assert r(200_000_000)["n_centroids"] == 16384
    assert r(10**12)["n_centroids"] == 65536     # clamp ceiling
    p = r(1_000_000, dim=96)
    assert p["n_centroids"] == 1024
    assert p["m_subvectors"] == 16 and 96 % p["m_subvectors"] == 0
    assert r(100, dim=20)["m_subvectors"] == 4   # dim/4=5 → 4 divides 20

    emb = _embs(spark, sf_dir)
    src = str(tmp_path / "src")
    emb.where(F.col("vec_id") < 300).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(emb.schema).parquet(src)
    store = str(tmp_path / "ivf")
    q = annindex.streaming_ann_ingest(
        spark, store, stream, str(tmp_path / "ckpt"), bootstrap={}
    )
    drain(q, 300)
    idx = annindex.read_ivf_index(spark, store)
    assert int(idx.params["n_centroids"]) == 16  # √300 ≈ 17.3 → 2^4
    assert idx.postings.count() == 300


def test_cold_start_replay_overwrites_stale_sink(spark, sf_dir, tmp_path):
    """Crash-window replay of the bootstrap branch: a partial sink dir
    left by an interrupted first attempt (sink is written BEFORE the
    index, so the store is still absent) must be overwritten wholesale —
    afterwards the sink holds exactly batch 0 and the store matches it."""
    import os as _os

    from pyspark.sql import functions as F

    from magiceye_spark.llmops import annindex
    from magiceye_spark.streaming import drain

    emb = _embs(spark, sf_dir)
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    b0 = emb.where(F.col("vec_id") < 100)
    b0.coalesce(1).write.parquet(src)
    # the stale partial sink: wrong rows under the batch-0 dir
    emb.where(F.col("vec_id") >= 490).select(
        (F.col("vec_id") + 777_000).alias("vec_id"), "embedding"
    ).write.parquet(_os.path.join(out, "ingest_batch=0"))
    stream = spark.readStream.schema(emb.schema).parquet(src)
    store = str(tmp_path / "ivf")
    q = annindex.streaming_ann_ingest(
        spark, store, stream, str(tmp_path / "ckpt"),
        output_path=out, bootstrap={"n_centroids": 4},
    )
    drain(q, 300)
    sink_ids = {
        r["vec_id"] for r in spark.read.parquet(out).select("vec_id").collect()
    }
    assert sink_ids == set(range(100))  # stale rows gone, batch 0 exact
    assert annindex.read_ivf_index(spark, store).postings.count() == 100
