"""IVF(-PQ) sides and store writes: the driver-side sides of bounded
batches and queries (simsearch._cell_sides, simsearch._pq_query_side)
against their in-plan twins, the in-plan side forced at every caller,
and the one-file-per-touched-cell layout of every write of the growing
tables."""

import os
import random
import shutil

import pytest
from pyspark.sql import functions as F

from magiceye_spark.io import local_frame
from magiceye_spark.llmops import annindex, simsearch


def _embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _files_per_cell(table_dir):
    return {
        int(d.split("=", 1)[1]): sum(
            f.endswith(".parquet") for f in os.listdir(os.path.join(table_dir, d))
        )
        for d in os.listdir(table_dir)
        if d.startswith("cell=")
    }


# ------------------------------------- driver-side assignment ≡ in-plan

def _parity_batch(spark, vec_type):
    """Centroids and a batch built to stress the argmax: exact score ties
    between cells (cells 0 and 1 are permutations of each other, so an
    all-equal vector scores them bit-identically), near-zero norms (down
    to float32 subnormals) and random directions. Exact 0.0 scores are
    covered by :func:`_axis_batch`."""
    dim = 8
    rng = random.Random(11)
    cents = {
        0: [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0],
        1: [8.0, 7.0, 6.0, 5.0, 4.0, 3.0, 2.0, 1.0],
        2: [1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 8.0],
        3: [-1.0, 2.0, -3.0, 4.0, -5.0, 6.0, -7.0, 8.0],
        4: [rng.gauss(0.0, 1.0) for _ in range(dim)],
        5: [rng.gauss(0.0, 1.0) for _ in range(dim)],
    }
    ones = [1.0] * dim
    vecs = [
        ones,  # ties cells 0 and 1 at the top
        [3.0 * v for v in ones],
        [1e-30 * v for v in ones],
        [1e-42 * v for v in ones],  # float32 subnormals
        [1e-20 * rng.gauss(0.0, 1.0) for _ in range(dim)],
    ]
    vecs += [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(60)]
    batch = local_frame(
        spark,
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    ).withColumn("embedding", F.col("embedding").cast(vec_type))
    return batch, cents


def _axis_batch(spark, vec_type):
    """Axis-aligned centroids and vectors: most scores are exactly 0.0,
    and the zeros tie across cells (a vector along axis 0 scores 0.0
    against every other axis centroid)."""
    dim = 4
    axes = [[1.0 if j == i else 0.0 for j in range(dim)] for i in range(dim)]
    cents = dict(enumerate(axes + [[0.0, 0.0, 1.0, 1.0]]))
    vecs = axes + [[-v for v in a] for a in axes]
    vecs += [[2.0, 0.0, 0.0, 0.0], [0.0, 3.0, 0.0, -3.0], [0.0, 0.0, 0.5, 0.5]]
    batch = local_frame(
        spark,
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    ).withColumn("embedding", F.col("embedding").cast(vec_type))
    return batch, cents


def _in_plan_probes(batch, cents, n_probe):
    return batch.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.explode(
            F.transform(
                simsearch._best_cells(F.col("embedding"), cents, n_probe),
                lambda s: s["cell"],
            )
        ).alias("cell"),
    )


def _driver_sides(batch, cents, n_probe):
    """simsearch._cell_sides on its driver-side path (asserted taken)."""
    assert simsearch._local_ranked_cells(batch, cents, "vec_id", "embedding")
    return simsearch._cell_sides(batch, cents, n_probe, "vec_id", "embedding")


def test_cell_sides_match_in_plan(spark):
    """The driver-side batch sides of simsearch._cell_sides are an exact
    replica of the in-plan assignment (annindex._postings_flat) and probe
    expressions: same ids, vectors and cells, for float and double
    batches."""
    for vec_type in ("array<float>", "array<double>"):
        batch, cents = _parity_batch(spark, vec_type)
        sides = _driver_sides(batch, cents, 2)
        want = _rows(annindex._postings_flat(batch, cents, "vec_id", "embedding"))
        assert _rows(sides.assigned) == want, vec_type
        # the tie resolves to the highest tied cell on both sides
        assert [r[2] for r in want if r[0] < 4] == [1, 1, 1, 1]
        want_p = _rows(_in_plan_probes(batch, cents, 2))
        assert _rows(sides.probes) == want_p, vec_type
        assert sides.cells == sorted({r[2] for r in want_p})
        # exact 0.0 scores and 0.0 ties keep the driver side, and rank
        # like the in-plan sort
        batch, cents = _axis_batch(spark, vec_type)
        sides = _driver_sides(batch, cents, 2)
        want = _rows(annindex._postings_flat(batch, cents, "vec_id", "embedding"))
        assert _rows(sides.assigned) == want, vec_type
        want_p = _rows(_in_plan_probes(batch, cents, 2))
        assert _rows(sides.probes) == want_p, vec_type
        assert sides.cells == sorted({r[2] for r in want_p})


def test_local_query_sides_keep_exact_zero_scores(spark):
    """The flat-probe and PQ query sides share the batch side's ranking:
    on axis-aligned input (exact 0.0 scores that tie) they keep the
    driver-side path and probe the in-plan cells."""
    batch, cents = _axis_batch(spark, "array<double>")
    want = _rows(_in_plan_probes(batch, cents, 3))
    sides = _driver_sides(batch, cents, 3)
    assert _rows(sides.probes) == want
    books = [[[1.0, 0.0], [0.0, 1.0]], [[1.0, 1.0], [0.0, -1.0]]]
    pq = simsearch._pq_query_side(
        batch, cents, books, 2, 3, "vec_id", "embedding"
    )
    assert pq.cells == sides.cells == sorted({r[2] for r in want})
    assert _rows(pq.probes.select("query_id", "cell")) == [
        (r[0], r[2]) for r in want
    ]


def test_cell_sides_decline_zero_vector(spark):
    """A zero vector has no cosine: the driver-side ranking declines
    (None) and the builder's in-plan sides equal the in-plan reference.
    Its cosine divides by zero, which raises under ANSI mode on both
    sides alike, so the sides are built and compared with ANSI off."""
    batch, cents = _parity_batch(spark, "array<double>")
    zero = local_frame(
        spark, [(999, [0.0] * 8)], "vec_id long, embedding array<double>"
    )
    batch = batch.unionByName(zero)
    assert (
        simsearch._local_ranked_cells(batch, cents, "vec_id", "embedding")
        is None
    )
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        sides = simsearch._cell_sides(batch, cents, 2, "vec_id", "embedding")
        assert _rows(sides.assigned) == _rows(
            annindex._postings_flat(batch, cents, "vec_id", "embedding")
        )
        want_p = _rows(_in_plan_probes(batch, cents, 2))
        assert _rows(sides.probes) == want_p
        assert sides.cells == sorted({r[2] for r in want_p})
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_pq_local_query_side_matches_in_plan(spark, tmp_path):
    """r13 optimization: bounded query batches get their probe cells and
    ADC LUTs computed driver-side (LocalRelation) instead of via the
    in-plan centroid/codebook literal expressions. The two paths must be
    BIT-identical — the driver replica runs the same IEEE fold orders —
    including the probed-cell set that prunes the postings scan."""
    from magiceye_spark.llmops import annindex, simsearch

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    idx = annindex.write_ivf_index(
        emb, str(tmp_path / "pqidx"), pq=True, n_centroids=8
    )
    q = emb.where(F.col("vec_id") < 6)
    fast = sorted(
        tuple(r)
        for r in annindex.ivf_pq_index_topk(idx, q, None, k=5, n_probe=3).collect()
    )
    cap = simsearch._LOCAL_QUERY_CAP
    simsearch._LOCAL_QUERY_CAP = 0  # force the in-plan query side
    try:
        slow = sorted(
            tuple(r)
            for r in annindex.ivf_pq_index_topk(
                idx, q, None, k=5, n_probe=3
            ).collect()
        )
    finally:
        simsearch._LOCAL_QUERY_CAP = cap
    assert fast == slow and len(fast) > 0


def test_flat_index_probe_matches_in_plan(spark, tmp_path):
    """Flat-probe sibling of the PQ local-query-side parity pin."""
    from magiceye_spark.llmops import annindex, simsearch

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    idx = annindex.write_ivf_index(emb, str(tmp_path / "flatidx"), n_centroids=8)
    q = emb.where(F.col("vec_id") < 6)
    fast = sorted(
        tuple(r)
        for r in annindex.ivf_index_topk(idx, q, k=5, n_probe=3).collect()
    )
    cap = simsearch._LOCAL_QUERY_CAP
    simsearch._LOCAL_QUERY_CAP = 0
    try:
        slow = sorted(
            tuple(r)
            for r in annindex.ivf_index_topk(idx, q, k=5, n_probe=3).collect()
        )
    finally:
        simsearch._LOCAL_QUERY_CAP = cap
    assert fast == slow and len(fast) > 0


def _build(spark, corpus, path, pq):
    annindex.write_ivf_index(
        corpus.where(F.col("vec_id") < 250), path, pq=pq, n_centroids=8,
        kmeans_iters=2, fit_sample=128, train_sample=128,
    )


def _spy_ranking(monkeypatch):
    """Record, per call of the driver-side ranking, whether it ranked."""
    seen = []
    real = simsearch._local_ranked_cells

    def spy(*a, **k):
        out = real(*a, **k)
        seen.append(out is not None)
        return out

    monkeypatch.setattr(simsearch, "_local_ranked_cells", spy)
    return seen


def test_index_add_local_path_equals_in_plan(spark, sf_dir, tmp_path, monkeypatch):
    """ivf_index_add stores the same postings and rerank rows whether the
    delta is assigned driver-side or in-plan, and keeps the embedding
    type of the source (array<float> stays array<float>)."""
    seen = _spy_ranking(monkeypatch)
    cap = simsearch._LOCAL_QUERY_CAP
    for pq, vec_type in ((True, "array<float>"), (False, "array<double>")):
        corpus = _embs(spark, sf_dir).withColumn(
            "embedding", F.col("embedding").cast(vec_type)
        )
        tail = corpus.where(F.col("vec_id") >= 250)
        built = str(tmp_path / f"{pq}-built")
        _build(spark, corpus, built, pq)
        stores = {}
        for how in ("local", "in_plan"):
            monkeypatch.setattr(
                simsearch, "_LOCAL_QUERY_CAP", cap if how == "local" else 0
            )
            p = str(tmp_path / f"{pq}-{how}")
            shutil.copytree(built, p)
            seen.clear()
            assert annindex.ivf_index_add(spark, p, tail) == tail.count()
            assert seen == [how == "local"], (how, seen)
            stores[how] = annindex.read_ivf_index(spark, p)
        local, in_plan = stores["local"], stores["in_plan"]
        assert _rows(local.postings) == _rows(in_plan.postings)
        assert local.postings.count() == corpus.count()
        if pq:
            assert _rows(local.rerank) == _rows(in_plan.rerank)
            typed = local.rerank.schema["embedding"].dataType
        else:
            typed = local.postings.schema["embedding"].dataType
        assert typed.simpleString() == vec_type


# ------------------------------------------- forced in-plan at every caller

def test_delta_pairs_in_plan_equal_local(spark, sf_dir, tmp_path, monkeypatch):
    """delta_ann_pairs_from_index returns the same pairs on its in-plan
    path (cap 0) as on the driver-side path, for flat and PQ indexes and
    for float and double batches."""
    seen = _spy_ranking(monkeypatch)
    cap = simsearch._LOCAL_QUERY_CAP
    for pq in (False, True):
        for vec_type in ("array<float>", "array<double>"):
            corpus = _embs(spark, sf_dir).withColumn(
                "embedding", F.col("embedding").cast(vec_type)
            )
            p = str(tmp_path / f"{pq}-{vec_type[6:11]}")
            _build(spark, corpus, p, pq)
            idx = annindex.read_ivf_index(spark, p)
            # near-copies of stored rows plus fresh rows: batch×stored
            # and batch×batch edges
            batch = corpus.where(F.col("vec_id") >= 250).unionByName(
                corpus.where(F.col("vec_id") < 20).select(
                    (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
                )
            )
            got = {}
            for how in ("local", "in_plan"):
                monkeypatch.setattr(
                    simsearch, "_LOCAL_QUERY_CAP", cap if how == "local" else 0
                )
                seen.clear()
                got[how] = _rows(annindex.delta_ann_pairs_from_index(
                    idx, batch, threshold=0.9, n_probe=3
                ))
                assert seen == [how == "local"], (pq, vec_type, how, seen)
            assert got["local"] == got["in_plan"], (pq, vec_type)
            assert len(got["local"]) >= 20, (pq, vec_type)


def test_pq_ingest_batch_in_plan_equal_local(spark, sf_dir, tmp_path, monkeypatch):
    """One streaming_ann_ingest PQ micro-batch admits the same ids and
    stores the same postings and rerank rows with every side in-plan
    (cap 0: the delta pairs and the append) as on the driver-side
    path."""
    from magiceye_spark.streaming import drain

    seen = _spy_ranking(monkeypatch)
    cap = simsearch._LOCAL_QUERY_CAP
    corpus = _embs(spark, sf_dir)
    built = str(tmp_path / "built")
    _build(spark, corpus, built, pq=True)
    src = str(tmp_path / "src")
    corpus.where(F.col("vec_id") >= 250).unionByName(
        corpus.where(F.col("vec_id") < 20).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
        )
    ).coalesce(1).write.parquet(src)
    runs = {}
    for how in ("local", "in_plan"):
        monkeypatch.setattr(
            simsearch, "_LOCAL_QUERY_CAP", cap if how == "local" else 0
        )
        p, out = str(tmp_path / how), str(tmp_path / f"{how}-out")
        shutil.copytree(built, p)
        seen.clear()
        drain(annindex.streaming_ann_ingest(
            spark, p, spark.readStream.schema(corpus.schema).parquet(src),
            str(tmp_path / f"{how}-ckpt"), threshold=0.95, n_probe=3,
            output_path=out,
        ), 300)
        assert seen and set(seen) == {how == "local"}, (how, seen)
        idx = annindex.read_ivf_index(spark, p)
        runs[how] = [
            _rows(spark.read.parquet(out).select("vec_id")),
            _rows(idx.postings),
            _rows(idx.rerank),
        ]
    assert runs["local"] == runs["in_plan"]
    admitted = runs["local"][0]
    assert 0 < len(admitted) < corpus.count() - 250 + 20
    assert all(r[0] < 1_000_000 for r in admitted)  # the copies are rejected


def test_bounded_add_builds_only_the_assigned_side(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The driver-side sides are built when read: a bounded
    ivf_index_add reads only the assigned side, so it converts one
    LocalRelation, not the probe side too."""
    corpus = _embs(spark, sf_dir)
    p = str(tmp_path / "pq")
    _build(spark, corpus, p, pq=True)
    schemas = []
    real = simsearch.local_frame

    def spy(spark_, rows, schema=None):
        schemas.append(schema)
        return real(spark_, rows, schema)

    monkeypatch.setattr(simsearch, "local_frame", spy)
    delta = corpus.where((F.col("vec_id") >= 250) & (F.col("vec_id") < 300))
    assert annindex.ivf_index_add(spark, p, delta) == 50
    assert len(schemas) == 1 and schemas[0].startswith("vec_id"), schemas


# ------------------------------------------------------- build-order crash

def test_pq_cold_start_crash_between_table_writes(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A PQ cold start cut between its two table writes leaves the
    rerank table but no postings (rerank is written first, and the
    postings mark a complete store), so the restarted stream, with no
    output_path, cold-starts again and ends where a clean run ends: same
    postings, rerank ids and admitted ids."""
    from magiceye_spark.streaming import drain

    corpus = _embs(spark, sf_dir)
    src = str(tmp_path / "src")
    corpus.where(F.col("vec_id") < 200).coalesce(1).write.parquet(src)
    corpus.where((F.col("vec_id") >= 200) & (F.col("vec_id") < 300)).unionByName(
        corpus.where(F.col("vec_id") < 5).select(  # twins of batch 0
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
        )
    ).coalesce(1).write.mode("append").parquet(src)

    def run(name):
        store = str(tmp_path / name)
        stream = (
            spark.readStream.schema(corpus.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        drain(annindex.streaming_ann_ingest(
            spark, store, stream, str(tmp_path / f"{name}-ckpt"),
            threshold=0.95, n_probe=8,
            bootstrap={"pq": True, "n_centroids": 8},
        ), 600)
        idx = annindex.read_ivf_index(spark, store)
        return (
            _rows(idx.postings),
            _rows(idx.rerank.select("vec_id")),
            _rows(idx.postings.select("vec_id")),
        )

    clean = run("clean")
    admitted = {r[0] for r in clean[2]}
    assert set(range(300)) <= admitted
    assert admitted.isdisjoint(1_000_000 + i for i in range(5))

    real = annindex._write_cells
    writes = []

    def crash_on_second(df, path, mode, obs=None):
        writes.append(os.path.basename(path))
        if len(writes) == 2:
            raise RuntimeError("crash between the cold start's table writes")
        return real(df, path, mode, obs)

    monkeypatch.setattr(annindex, "_write_cells", crash_on_second)
    with pytest.raises(Exception, match="crash between"):
        run("crashed")
    monkeypatch.setattr(annindex, "_write_cells", real)
    assert run("crashed") == clean
    assert writes == ["rerank", "postings"]


# ------------------------------------------------------------ file layout

def test_build_and_add_write_one_file_per_touched_cell(spark, sf_dir, tmp_path):
    """A build leaves exactly one file in every cell directory of the
    postings and the rerank table; a bounded add then adds exactly one
    file to each cell its rows land in, and none elsewhere."""
    corpus = _embs(spark, sf_dir)
    p = str(tmp_path / "pq")
    _build(spark, corpus, p, pq=True)
    tables = [os.path.join(p, t) for t in ("postings", "rerank")]
    built = [_files_per_cell(t) for t in tables]
    cells = {
        r[0] for r in annindex.read_ivf_index(spark, p).postings
        .select("cell").distinct().collect()
    }
    for layout in built:
        assert set(layout) == cells
        assert set(layout.values()) == {1}, layout

    delta = corpus.where((F.col("vec_id") >= 250) & (F.col("vec_id") < 300))
    annindex.ivf_index_add(spark, p, delta)
    touched = {
        r[0]
        for r in annindex.read_ivf_index(spark, p).postings
        .where(F.col("vec_id").between(250, 299))
        .select("cell").distinct().collect()
    }
    assert touched
    for t, before in zip(tables, built):
        after = _files_per_cell(t)
        assert set(after) == set(before) | touched
        for c, n in after.items():
            assert n == before.get(c, 0) + (c in touched), (t, c, n)
