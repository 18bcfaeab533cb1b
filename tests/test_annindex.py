"""IVF(-PQ) store writes: the driver-side cell assignment of bounded
batches against its in-plan twin, and the one-file-per-touched-cell
layout of every write of the growing tables."""

import os
import random
import shutil

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


def test_local_batch_sides_match_in_plan(spark):
    """simsearch._local_batch_sides is an exact replica of the in-plan
    assignment (annindex._postings_flat) and probe expressions: same
    ids, vectors and cells, for float and double batches."""
    for vec_type in ("array<float>", "array<double>"):
        batch, cents = _parity_batch(spark, vec_type)
        local = simsearch._local_batch_sides(
            batch, cents, 2, "vec_id", "embedding"
        )
        assert local is not None, vec_type
        assigned, probes, cells = local
        want = _rows(annindex._postings_flat(batch, cents, "vec_id", "embedding"))
        assert _rows(assigned) == want, vec_type
        # the tie resolves to the highest tied cell on both sides
        assert [r[2] for r in want if r[0] < 4] == [1, 1, 1, 1]
        want_p = _rows(_in_plan_probes(batch, cents, 2))
        assert _rows(probes) == want_p, vec_type
        assert cells == sorted({r[2] for r in want_p})
        # exact 0.0 scores and 0.0 ties keep the driver side, and rank
        # like the in-plan sort
        batch, cents = _axis_batch(spark, vec_type)
        local = simsearch._local_batch_sides(
            batch, cents, 2, "vec_id", "embedding"
        )
        assert local is not None, vec_type
        assigned, probes, cells = local
        want = _rows(annindex._postings_flat(batch, cents, "vec_id", "embedding"))
        assert _rows(assigned) == want, vec_type
        want_p = _rows(_in_plan_probes(batch, cents, 2))
        assert _rows(probes) == want_p, vec_type
        assert cells == sorted({r[2] for r in want_p})


def test_local_query_sides_keep_exact_zero_scores(spark):
    """The flat-probe and PQ query sides share the batch side's ranking:
    on axis-aligned input (exact 0.0 scores that tie) they keep the
    driver-side path and probe the in-plan cells."""
    batch, cents = _axis_batch(spark, "array<double>")
    want = _rows(_in_plan_probes(batch, cents, 3))
    frame, cells = simsearch._local_probe_rows(
        batch, cents, 3, "vec_id", "embedding"
    )
    assert _rows(frame) == want
    books = [[[1.0, 0.0], [0.0, 1.0]], [[1.0, 1.0], [0.0, -1.0]]]
    pq_frame, pq_cells = simsearch._local_pq_query_side(
        batch, cents, books, 2, 3, "vec_id", "embedding"
    )
    assert pq_cells == cells == sorted({r[2] for r in want})
    assert _rows(pq_frame.select("query_id", "cell")) == [
        (r[0], r[2]) for r in want
    ]


def test_local_batch_sides_decline_zero_vector(spark):
    """A zero vector has no cosine: the driver side declines (None) and
    callers keep the in-plan path."""
    batch, cents = _parity_batch(spark, "array<double>")
    zero = local_frame(
        spark, [(999, [0.0] * 8)], "vec_id long, embedding array<double>"
    )
    assert (
        simsearch._local_batch_sides(
            batch.unionByName(zero), cents, 2, "vec_id", "embedding"
        )
        is None
    )


def _build(spark, corpus, path, pq):
    annindex.write_ivf_index(
        corpus.where(F.col("vec_id") < 250), path, pq=pq, n_centroids=8,
        kmeans_iters=2, fit_sample=128, train_sample=128,
    )


def test_index_add_local_path_equals_in_plan(spark, sf_dir, tmp_path, monkeypatch):
    """ivf_index_add stores the same postings and rerank rows whether the
    delta is assigned driver-side or in-plan, and keeps the embedding
    type of the source (array<float> stays array<float>)."""
    seen = []
    real = annindex._local_batch_sides

    def spy(*a, **k):
        out = real(*a, **k)
        seen.append(out is not None)
        return out

    monkeypatch.setattr(annindex, "_local_batch_sides", spy)
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
