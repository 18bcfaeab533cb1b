"""Similarity search over embedding columns (``array<float>``).

Two tiers, mirroring how a 100 TB vector corpus is actually served on Spark:

- :func:`cosine_topk` — brute-force exact top-k: broadcast the (small) query
  set, one map-side pass over the corpus computing dot products with
  ``zip_with``/``aggregate`` (JVM codegen, no Python), per-query top-k via
  window. Cost O(|corpus|·|queries|) but shuffle-free except the final
  window on the (tiny) per-query candidate sets. The exactness oracle.
- :func:`lsh_topk` — random-hyperplane (sign) LSH: 16-bit signatures from a
  fixed seeded hyperplane matrix (embedded as literals → deterministic
  everywhere), multi-band bucket join for candidates, exact cosine rerank.
  Cost O(candidates) — the scale path; recall measured against
  :func:`cosine_topk` in tests.

Also :func:`embedding_near_dup_pairs` — corpus self-pairs with cosine ≥
threshold (near-duplicate detection by embedding), blocked via the same LSH
signatures at scale.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from magiceye_spark.io import local_frame


def _emb(
    spark: SparkSession, sf_dir: str, parallelize: bool = False
) -> DataFrame:
    """parallelize=True inserts the under-split-scan repartition for
    queries whose d-explode / moment work runs before the first shuffle
    (covariance, outlier scores, PCA) - a single-file local scan
    serializes that fan-out (stage audit: 5.1 s in one task at sf0.1).
    No-op on a real lake."""
    from magiceye_spark.io import read_table

    return read_table(spark, sf_dir, "embeddings", parallelize=parallelize)


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision, strictly left-to-right (same order both
    engines → bit-identical results)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def normalize_embeddings(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """L2-normalize the embedding column (unit vectors → cosine becomes a
    plain dot product downstream). Zero vectors pass through unchanged.
    Pure ``transform`` expression; rounded to 6 so both engines agree."""
    v = F.col(vec_col)
    n = norm(v)
    unit = F.when(
        n > 0, F.transform(v, lambda x: F.round(x.cast("double") / n, 6))
    ).otherwise(F.transform(v, lambda x: x.cast("double")))
    return corpus.select(id_col, unit.alias(vec_col))


SQL_NORMALIZE = """
SELECT vec_id,
       CASE WHEN SQRT(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) > 0
            THEN list_transform(CAST(embedding AS DOUBLE[]),
                                x -> ROUND(x / SQRT(list_dot_product(CAST(embedding AS DOUBLE[]),
                                                                     CAST(embedding AS DOUBLE[]))), 6))
            ELSE CAST(embedding AS DOUBLE[]) END AS embedding
FROM embeddings
"""


def normalize_digest(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector SCALAR digest of the normalized embedding — the
    driver-hashable face of :func:`normalize_embeddings`. The driver's
    correctness gate canonicalizes results with pandas, which cannot hash
    Array cells (r10's `embedding_normalize` seat erred on exactly that),
    so the normalization op is attested through two scalars per vector
    computed FROM the rounded normalized array: the component sum and the
    post-normalization L2 norm (≈1 for non-zero vectors — the property
    normalization exists to establish). Both engines sum the SAME
    round-6 components, so agreement is decided by the normalize step
    itself, not by summation-order noise at machine epsilon."""
    unit = normalize_embeddings(corpus, id_col, vec_col)
    v = F.col(vec_col)
    return unit.select(
        id_col,
        F.round(
            F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x), 6
        ).alias("unit_sum"),
        F.round(F.sqrt(dot(v, v)), 6).alias("unit_norm"),
    )


SQL_NORMALIZE_DIGEST = f"""
SELECT vec_id,
       ROUND(list_sum(embedding), 6) AS unit_sum,
       ROUND(SQRT(list_dot_product(embedding, embedding)), 6) AS unit_norm
FROM ({SQL_NORMALIZE})
"""


def embedding_norm_stats(
    corpus: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Distribution of L2 norms and dimensionality sanity: (dim, n_vectors,
    min_norm, max_norm, avg_norm) — the first health check on an embedding
    drop (collapsed or exploded norms signal a broken encoder)."""
    n = F.round(norm(F.col(vec_col)), 6)
    return corpus.select(F.size(F.col(vec_col)).alias("dim"), n.alias("n2")).groupBy(
        "dim"
    ).agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.min("n2"), 6).alias("min_norm"),
        F.round(F.max("n2"), 6).alias("max_norm"),
        F.round(
            F.sum(F.col("n2").cast("decimal(18,6)")).cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_norm"),
    ).orderBy("dim")


SQL_NORM_STATS = """
SELECT dim, COUNT(*) AS n_vectors,
       ROUND(MIN(n2), 6) AS min_norm,
       ROUND(MAX(n2), 6) AS max_norm,
       ROUND(CAST(SUM(CAST(n2 AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_norm
FROM (
  SELECT LENGTH(embedding) AS dim,
         ROUND(SQRT(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))), 6) AS n2
  FROM embeddings
)
GROUP BY dim
ORDER BY dim
"""


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query: (query_id, neighbor_id, cosine_sim,
    rank). Self-matches excluded. Queries are broadcast — the corpus is
    scanned once, map-side."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def sql_cosine_topk(query_ids: list[int], k: int = 10) -> str:
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id IN ({ids})),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         ROUND(list_dot_product(CAST(q.q_vec AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
               / (SQRT(list_dot_product(CAST(q.q_vec AS DOUBLE[]), CAST(q.q_vec AS DOUBLE[])))
                  * SQRT(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 6) AS cosine_sim
  FROM embeddings c CROSS JOIN q
  WHERE q.query_id <> c.vec_id
)
SELECT query_id, neighbor_id, cosine_sim, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {k}
ORDER BY query_id, rank
"""


# ------------------------------------------------------------------- LSH

def _hyperplanes(dim: int = 64, n_planes: int = 16, seed: int = 7) -> list[list[float]]:
    """Fixed pseudorandom hyperplanes via a seeded LCG → embedded as plan
    literals, so signatures are identical on any cluster, any run."""
    state = seed
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            row.append(((state >> 20) % 2001 - 1000) / 1000.0)  # uniform-ish [-1, 1]
        planes.append(row)
    return planes


def signature_bits(vec: Column, planes: list[list[float]]) -> Column:
    """Sign bits of the projections onto each hyperplane, as array<int>.
    One rendered plane-matrix literal + transform, not per-element
    ``F.lit`` trees (see :func:`_vector_lit` — py4j construction cost)."""
    return F.transform(
        _matrix_lit(planes),
        lambda p: (dot(vec, p) > 0).cast("int"),
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 24,
    bands: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: candidates share at least one LSH band with the
    query (multi-probe by band), exact cosine rerank on candidates only.

    Same output shape as :func:`cosine_topk`; rank may hold fewer than k
    rows per query when buckets are sparse (that's the recall trade)."""
    planes = _hyperplanes(dim, n_planes)
    rows_per_band = n_planes // bands

    def banded(df: DataFrame, id_alias: str, vec_alias: str) -> DataFrame:
        bits = signature_bits(F.col(vec_col), planes)
        return df.select(
            F.col(id_col).alias(id_alias),
            F.col(vec_col).alias(vec_alias),
            bits.alias("bits"),
        ).select(
            id_alias,
            vec_alias,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band_id"),
                            F.aggregate(
                                F.slice(F.col("bits"), i * rows_per_band + 1, rows_per_band),
                                F.lit(0),
                                lambda acc, bit: acc * 2 + bit,
                            ).alias("bucket"),
                        )
                        for i in range(bands)
                    ]
                )
            ).alias("band"),
        ).select(id_alias, vec_alias, "band.band_id", "band.bucket")
    c = banded(corpus, "neighbor_id", "c_vec")
    q = banded(queries, "query_id", "q_vec")
    cands = (
        c.join(F.broadcast(q), ["band_id", "bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cands.select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def _ivf_centroids(
    corpus: DataFrame,
    n_centroids: int,
    kmeans_iters: int,
    id_col: str,
    vec_col: str,
    fit_sample: int = 4096,
) -> dict[int, list[float]]:
    """Coarse quantizer shared by :func:`ivf_topk` and :func:`ivf_pq_topk`:
    spherical k-means fitted on a bounded deterministic sample.

    The sample is the ``fit_sample`` lowest-id vectors — orderBy+limit
    compiles to TakeOrdered (per-partition top-n merged on the driver), so
    fitting touches one scan and collects a bounded payload NO MATTER the
    corpus size. Lloyd then runs driver-side in numpy — at 100 TB you train
    the quantizer on a sample and assign the full corpus map-side (the
    assign scan is the one unavoidable full pass, and it happens inside the
    search plan anyway); iterating Lloyd distributed over the whole corpus
    would cost 2 full scans per iteration for <0.02 recall (measured: the
    sweep in BASELINE.md — cell count, not fit quality, is the knob).

    Assignment is max-cosine (scale-invariant), update is the plain member
    mean, empty cells keep their previous centroid — deterministic for a
    fixed corpus on any cluster layout."""
    import numpy as np

    rows = corpus.select(id_col, vec_col).orderBy(id_col).limit(fit_sample).collect()
    x = np.asarray([list(r[1]) for r in rows], dtype=np.float64)
    cents = x[:: max(1, len(x) // n_centroids)][:n_centroids].copy()
    xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    for _ in range(kmeans_iters):
        cn = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
        assign = (xn @ cn.T).argmax(axis=1)
        for i in range(len(cents)):
            members = x[assign == i]
            if len(members):
                cents[i] = members.mean(axis=0)
    return {i: [float(v) for v in c] for i, c in enumerate(cents)}


def _vector_lit(row) -> Column:
    """A double-array literal rendered as ONE SQL string and parsed JVM-side.

    Building literals element-wise (``F.array(*[F.lit(v) ...])``) or even
    as one nested ``F.lit(list)`` costs py4j per ELEMENT — ~1 s of pure
    driver time per 2k-element matrix, on EVERY operator call (measured
    r7; PLANS.md "Literal Columns are py4j round-trips"). Rendering
    ``array(1.0d, ...)`` text and handing it to ``F.expr`` is one py4j
    call and one JVM parse: ~250× faster to construct, and ``repr(float)``
    round-trips IEEE doubles exactly (bit-equality pinned in tests)."""
    return F.expr("array(" + ",".join(repr(float(v)) + "d" for v in row) + ")")


def _matrix_lit(mat) -> Column:
    """array<array<double>> literal via one JVM parse — see :func:`_vector_lit`."""
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(repr(float(v)) + "d" for v in row) + ")"
            for row in mat
        )
        + ")"
    )


def _best_cells(vec: Column, cents: dict[int, list[float]], n: int) -> Column:
    """Top-n (score, cell) structs by cosine to each centroid — argmax/top-n
    via sort of structs, pure JVM expressions, zero shuffle. The centroid
    matrix is ONE rendered literal (:func:`_matrix_lit`) walked with an
    indexed ``transform`` — identical row-level math to per-element
    literal trees, ~250× cheaper to construct."""
    cmat = [cents[i] for i in sorted(cents)]  # cell ids are 0..n_cent-1
    pairs = F.transform(
        _matrix_lit(cmat),
        lambda c, i: F.struct(
            cosine(vec, c).alias("score"), i.cast("int").alias("cell")
        ),
    )
    return F.slice(F.reverse(F.array_sort(pairs)), 1, n)


def _ivf_probe(assigned: DataFrame, probes: DataFrame, k: int) -> DataFrame:
    """Probe phase shared by the fit-per-call path (:func:`ivf_topk`) and
    the stored-index path (:func:`magiceye_spark.llmops.annindex.ivf_index_topk`):
    ``assigned`` is the cell-assigned corpus (neighbor_id, c_vec, cell),
    whether just computed or read back from parquet, and ``probes`` the
    query batch's probe side from :func:`_cell_sides`. One code path means
    probe-from-stored is structurally identical to probe-from-fit — the
    equivalence the index tests pin."""
    q = probes.withColumnRenamed("q_id", "query_id")
    scored = (
        assigned.join(F.broadcast(q), "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 32,
    n_probe: int = 8,
    kmeans_iters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index=None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: partition the corpus into
    Voronoi cells around centroids, search only the ``n_probe`` cells
    nearest each query.

    Pass ``index`` (an :class:`~magiceye_spark.llmops.annindex.IvfIndex`
    from ``write_ivf_index``/``read_ivf_index``) to skip the fit+assign
    entirely and probe the stored, cell-partitioned postings instead —
    the build-once/probe-many path; ``corpus``/fit parameters are ignored.

    Centroids come from :func:`_ivf_centroids` — spherical k-means fitted
    driver-side on a bounded TakeOrdered sample (one scan, bounded collect
    at any corpus size). Cell assignment is an argmax over centroid
    literals — map-side JVM expressions, zero shuffle; the probe join hits
    only ~n_probe/n_centroids of the corpus. Same output shape as
    :func:`cosine_topk`; recall measured in tests.

    Sizing: at a fixed scan fraction n_probe/n_centroids, FINER cells win —
    measured on the sf0.01 corpus (32 queries, k=10): 16/4 → 0.54 recall,
    32/8 → 0.66, 64/16 → 0.76 (distributed-Lloyd fit; the sample-fit
    quantizer measures 0.67 at 32/8 with 8 iterations). Seeding strategy
    moved recall < 0.02 after refinement — Lloyd washes the seeds out, so
    cell count is the knob to turn. Cost per corpus row is
    n_centroids · dim multiply-adds (whole-stage codegen, no shuffle);
    defaults balance that against the recall curve.
    """
    if index is not None:
        from magiceye_spark.llmops.annindex import ivf_index_topk

        return ivf_index_topk(index, queries, k=k, n_probe=n_probe)
    cents = _ivf_centroids(corpus, n_centroids, kmeans_iters, id_col, vec_col)

    # explicit spread: cell assignment + the probe-join cosine scan are
    # CPU-bound (n_centroids·dim multiply-adds per row) on byte-light
    # rows, so AQE/scan sizing would otherwise run them in one task
    corpus = corpus.repartition(
        corpus.sparkSession.sparkContext.defaultParallelism, id_col
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        _best_cells(F.col(vec_col), cents, 1)[0]["cell"].alias("cell"),
    )
    return _ivf_probe(
        c, _cell_sides(queries, cents, n_probe, id_col, vec_col).probes, k
    )


def _train_pq_codebooks(
    residuals: list[list[float]], m: int, n_codes: int, iters: int = 8
) -> list[list[list[float]]]:
    """Per-subspace k-means codebooks trained driver-side on a sample of
    residual vectors (numpy, deterministic strided init, fixed iteration
    count — identical on any cluster). Returns ``m`` codebooks of
    ``n_codes`` × (dim/m) floats — the tiny model that gets embedded as
    plan literals, exactly like the IVF centroids."""
    import numpy as np

    r = np.asarray(residuals, dtype=np.float64)
    sub_d = r.shape[1] // m
    books = []
    for mi in range(m):
        x = r[:, mi * sub_d:(mi + 1) * sub_d]
        cb = x[:: max(1, len(x) // n_codes)][:n_codes].copy()
        if len(cb) < n_codes:  # degenerate sample: pad by repetition
            cb = np.resize(cb, (n_codes, sub_d))
        for _ in range(iters):
            d = ((x[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for j in range(n_codes):
                members = x[assign == j]
                if len(members):
                    cb[j] = members.mean(axis=0)
        books.append([[float(v) for v in row] for row in cb])
    return books


def _pq_fit(
    corpus: DataFrame,
    n_centroids: int,
    kmeans_iters: int,
    m_subvectors: int,
    n_codes: int,
    train_sample: int,
    id_col: str,
    vec_col: str,
    fit_sample: int = 4096,
) -> tuple[dict[int, list[float]], list[list[list[float]]]]:
    """Fit the full IVF-PQ model (coarse centroids + per-subspace residual
    codebooks) on bounded deterministic samples. Shared by the fit-per-call
    path (:func:`ivf_pq_topk`) and the stored-index builder
    (:func:`magiceye_spark.llmops.annindex.write_ivf_index`) so both train
    the byte-identical model from the same corpus."""
    import numpy as np

    cents = _ivf_centroids(
        corpus, n_centroids, kmeans_iters, id_col, vec_col, fit_sample=fit_sample
    )
    cent_mat = np.asarray([cents[i] for i in sorted(cents)], dtype=np.float64)
    cent_norm = cent_mat / np.linalg.norm(cent_mat, axis=1, keepdims=True)
    dim = cent_mat.shape[1]
    if dim % m_subvectors:
        raise ValueError(f"dim {dim} not divisible by m_subvectors {m_subvectors}")
    sample = [
        list(r[1])
        for r in corpus.select(id_col, vec_col).orderBy(id_col).limit(train_sample).collect()
    ]
    s = np.asarray(sample, dtype=np.float64)
    s_norm = s / np.linalg.norm(s, axis=1, keepdims=True)
    s_cells = (s_norm @ cent_norm.T).argmax(axis=1)
    books = _train_pq_codebooks(
        (s_norm - cent_norm[s_cells]).tolist(), m_subvectors, n_codes
    )
    return cents, books


def _pq_model_literals(
    cents: dict[int, list[float]], books: list[list[list[float]]]
) -> tuple[Column, Column]:
    """The fitted model as TWO literal arrays (normalized centroids,
    m×n_codes×sub_d codebooks) walked with higher-order functions — keeps
    the expression tree small (plan optimize/codegen cost is per-node; an
    unrolled per-code tree compiles 10× slower for identical row work).
    Each is ONE rendered-and-parsed literal — see :func:`_vector_lit` on
    why per-element literal Columns are a driver-time trap."""
    import numpy as np

    cent_mat = np.asarray([cents[i] for i in sorted(cents)], dtype=np.float64)
    cent_norm = cent_mat / np.linalg.norm(cent_mat, axis=1, keepdims=True)
    cent_lit = _matrix_lit(cent_norm)
    books_lit = F.expr(
        "array("
        + ",".join(
            "array("
            + ",".join(
                "array(" + ",".join(repr(float(v)) + "d" for v in row) + ")"
                for row in book
            )
            + ")"
            for book in books
        )
        + ")"
    )
    return cent_lit, books_lit


def _pq_normalized(vec: Column) -> Column:
    n = norm(vec)
    return F.transform(vec, lambda x: x.cast("double") / n)


def _pq_sq_dist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pq_argmin_idx(dists: Column) -> Column:
    # first index of the min — doubles compare bit-exact against
    # themselves, so array_position is safe and ties break low/deterministic
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def _pq_encode(
    df: DataFrame,
    cents: dict[int, list[float]],
    books: list[list[list[float]]],
    m_subvectors: int,
    id_col: str,
    vec_col: str,
    id_alias: str = "neighbor_id",
    cell_col: str | None = None,
) -> DataFrame:
    """Encode vectors against a fitted model: (id, cell, codes[m]) — the
    compact index table. Pure JVM expressions (argmin over codebook
    literals); shared by the fit-per-call search, the index writer, and
    the incremental index-add path so all three produce identical codes
    for identical vectors.

    ``cell_col``: name of an EXISTING column already holding this model's
    coarse-cell assignment (i.e. the :func:`_postings_flat` output over
    the same centroids) — reusing it removes a second full
    n_centroids·dim argmax pass over the input, which the PQ store paths
    otherwise pay twice per row (once for the codes, once for the
    cell-partitioned rerank originals). Values are identical by
    construction: same deterministic argmax over the same literals."""
    dim = len(next(iter(cents.values())))
    sub_d = dim // m_subvectors
    cent_lit, books_lit = _pq_model_literals(cents, books)
    nv = _pq_normalized(F.col(vec_col))
    cell = (
        F.col(cell_col).cast("int")
        if cell_col is not None
        else _best_cells(F.col(vec_col), cents, 1)[0]["cell"]
    )
    enc = df.select(
        F.col(id_col).alias(id_alias),
        cell.alias("cell"),
        nv.alias("_nv"),
    ).withColumn(
        "_res", F.zip_with("_nv", F.get(cent_lit, F.col("cell")), lambda a, b: a - b)
    )
    codes = F.transform(
        F.sequence(F.lit(0), F.lit(m_subvectors - 1)),
        lambda mi: _pq_argmin_idx(
            F.transform(
                F.get(books_lit, mi),
                lambda row: _pq_sq_dist(
                    F.slice(F.col("_res"), mi * sub_d + 1, sub_d), row
                ),
            )
        ),
    )
    return enc.select(id_alias, "cell", codes.alias("codes"))


#: query and batch frames at or below this size are ranked against the
#: centroids DRIVER-side (the FAISS shape: probe cells and ADC lookup
#: tables are per-query model math, not data-parallel work) and shipped as
#: a LocalRelation — removing the centroid/codebook literal trees, their
#: per-plan analysis and codegen, and the interpreted per-row LUT folds
#: entirely. Strictly bounded: bigger frames keep the in-plan path.
_LOCAL_QUERY_CAP = 1024


def _local_ranked_cells(
    frame: DataFrame, cents: dict[int, list[float]], id_col: str, vec_col: str
):
    """Driver-side replica of :func:`_best_cells`' ranking, the one kernel
    behind the two side builders, :func:`_cell_sides` and
    :func:`_pq_query_side`: per row of ``frame``, (id, vec, norm,
    [(score, cell), ...]) with every centroid ranked by descending
    (score, cell). Plain Python floats in EXACTLY the fold order of the
    in-plan expressions (0.0-seeded left-to-right sums, dot/(norm·norm)
    cosine) — Python floats ARE IEEE doubles, so scores are bit-identical
    (pinned in tests/test_annindex.py). Exact 0.0 scores rank the same on
    both sides: a 0.0-seeded fold never yields -0.0 (+0.0 + -0.0 = +0.0),
    and equal scores tie-break on ``cell`` in both Spark's struct
    ordering and Python's tuple sort.

    None — the builders take the in-plan path — when the vectors are not
    ``array<float>`` or ``array<double>`` (checked before any job), the
    frame exceeds :data:`_LOCAL_QUERY_CAP` rows, a vector's dimension
    differs from the centroids', a norm is zero (Python float division
    raises where Spark's yields NaN/Inf) or a score is non-finite (NaN
    ordering differs between the engines)."""
    import math

    if frame.schema[vec_col].dataType.simpleString() not in (
        "array<float>", "array<double>"
    ):
        return None
    rows = frame.select(id_col, vec_col).limit(_LOCAL_QUERY_CAP + 1).collect()
    if len(rows) > _LOCAL_QUERY_CAP:
        return None
    cmat = [[float(v) for v in cents[i]] for i in sorted(cents)]
    dim = len(cmat[0])
    cnorms = []
    for c in cmat:
        s = 0.0
        for v in c:
            s += v * v
        cnorms.append(math.sqrt(s))
    out = []
    for r in rows:
        vec = [float(v) for v in r[1]]
        if len(vec) != dim:
            return None
        s = 0.0
        for v in vec:
            s += v * v
        nrm = math.sqrt(s)
        pairs = []
        for ci, c in enumerate(cmat):
            d = 0.0
            for j in range(dim):
                d += vec[j] * c[j]
            den = nrm * cnorms[ci]
            if den == 0.0:
                return None
            score = d / den
            if not math.isfinite(score):
                return None
            pairs.append((score, ci))
        pairs.sort(reverse=True)
        out.append((r[0], vec, nrm, pairs))
    return out


@dataclass
class _Sides:
    """A side builder's output: ``probes``, one row per (row, probed
    cell); ``assigned``, each row in its nearest cell (:func:`_cell_sides`
    only); and :attr:`cells`. Each side is built on its first read, so a
    caller that reads one side pays no Arrow conversion for the other."""

    make_probes: Callable[[], DataFrame]
    make_assigned: Callable[[], DataFrame] | None = None
    _cells: list[int] | None = None

    @functools.cached_property
    def probes(self) -> DataFrame:
        return self.make_probes()

    @functools.cached_property
    def assigned(self) -> DataFrame:
        return self.make_assigned()

    @property
    def cells(self) -> list[int]:
        """The distinct probed cells, sorted: a literal list, so a stored
        index's ``cell IN (...)`` filter prunes partitions at planning
        time. The driver-side path has it already; the in-plan path
        collects it on first read (one bounded job), so a caller that
        never reads it pays no job."""
        if self._cells is None:
            self._cells = sorted(
                int(r["cell"])
                for r in self.probes.select("cell").distinct().collect()
            )
        return self._cells


def _barrier(frame: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """The in-plan sides' input, repartitioned once on id: the sides and
    the probed-cells collect all read it, and behind the exchange the
    source is scanned once and the work spreads over every core."""
    return frame.select(id_col, vec_col).repartition(
        frame.sparkSession.sparkContext.defaultParallelism, id_col
    )


def _cell_sides(
    frame: DataFrame,
    cents: dict[int, list[float]],
    n_probe: int,
    id_col: str,
    vec_col: str,
) -> _Sides:
    """The IVF sides of a batch or query frame: ``assigned`` (vec_id,
    embedding, cell) — the :func:`annindex._postings_flat` rows — and
    ``probes`` (q_id, q_vec, cell) — one row per each of a row's
    ``n_probe`` nearest cells. The ONE place the index probe, the delta
    admission and the append choose between the two paths:

    - bounded frames are ranked by :func:`_local_ranked_cells` and each
      side read ships as an Arrow LocalRelation (no centroid-literal argmax,
      ~0.5 s of plan analysis per action at 32×64, and no probed-cells
      job). ``q_vec`` is double; the assigned embedding is cast back to
      the source type, which is exact (float32 widens to double
      losslessly), so an append never changes a stored table's type;
    - otherwise both sides are the in-plan expressions over
      :func:`_barrier`."""
    ranked = _local_ranked_cells(frame, cents, id_col, vec_col)
    if ranked is None:
        kv = _barrier(frame, id_col, vec_col)
        vec = F.col(vec_col)
        return _Sides(
            make_assigned=lambda: kv.select(
                F.col(id_col).alias("vec_id"),
                vec.alias("embedding"),
                _best_cells(vec, cents, 1)[0]["cell"].alias("cell"),
            ),
            make_probes=lambda: kv.select(
                F.col(id_col).alias("q_id"),
                vec.alias("q_vec"),
                F.explode(
                    F.transform(_best_cells(vec, cents, n_probe), lambda s: s["cell"])
                ).alias("cell"),
            ),
        )
    spark = frame.sparkSession
    id_type = frame.schema[id_col].dataType.simpleString()
    probes = [
        (rid, vec, cell) for rid, vec, _, pairs in ranked for _, cell in pairs[:n_probe]
    ]
    return _Sides(
        make_probes=lambda: local_frame(
            spark, probes, f"q_id {id_type}, q_vec array<double>, cell int"
        ),
        make_assigned=lambda: local_frame(
            spark,
            [(rid, vec, pairs[0][1]) for rid, vec, _, pairs in ranked],
            f"vec_id {id_type}, embedding array<double>, cell int",
        ).withColumn(
            "embedding", F.col("embedding").cast(frame.schema[vec_col].dataType)
        ),
        _cells=sorted({c for _, _, c in probes}),
    )


def _pq_query_side(
    queries: DataFrame,
    cents: dict[int, list[float]],
    books: list[list[list[float]]],
    m_subvectors: int,
    n_probe: int,
    id_col: str,
    vec_col: str,
) -> _Sides:
    """The ADC query side of a PQ search as ``probes`` (query_id, _lut,
    cell, _cell_dot): per query and each of its ``n_probe`` nearest cells,
    the m×n_codes lookup table of the normalized query's subvector dot
    products with the codebooks, and its cosine to the cell. Bounded
    batches are computed driver-side from :func:`_local_ranked_cells`,
    the LUT in the in-plan fold order (0.0-seeded left-to-right sums, so
    bit-identical — pinned in tests), and ship as a LocalRelation;
    otherwise the in-plan expressions over :func:`_barrier`."""
    sub_d = len(cents[min(cents)]) // m_subvectors
    ranked = _local_ranked_cells(queries, cents, id_col, vec_col)
    if ranked is None:
        _, books_lit = _pq_model_literals(cents, books)
        nq = _pq_normalized(F.col(vec_col))
        lut = F.transform(
            F.sequence(F.lit(0), F.lit(m_subvectors - 1)),
            lambda mi: F.transform(
                F.get(books_lit, mi),
                lambda row: F.aggregate(
                    F.zip_with(
                        F.slice(nq, mi * sub_d + 1, sub_d), row, lambda a, b: a * b
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
            ),
        )
        return _Sides(
            make_probes=lambda: _barrier(queries, id_col, vec_col).select(
                F.col(id_col).alias("query_id"),
                lut.alias("_lut"),
                F.explode(_best_cells(F.col(vec_col), cents, n_probe)).alias("_p"),
            ).select(
                "query_id",
                "_lut",
                F.col("_p")["cell"].alias("cell"),
                F.col("_p")["score"].alias("_cell_dot"),
            )
        )
    out = []
    for qid, vec, nrm, pairs in ranked:
        nq = [v / nrm for v in vec]
        lut = []
        for mi in range(m_subvectors):
            row_l = []
            for code_row in books[mi]:
                s = 0.0
                for j in range(sub_d):
                    s += nq[mi * sub_d + j] * float(code_row[j])
                row_l.append(s)
            lut.append(row_l)
        for score, cell in pairs[:n_probe]:
            out.append((qid, lut, int(cell), float(score)))
    id_type = queries.schema[id_col].dataType.simpleString()
    return _Sides(
        make_probes=lambda: local_frame(
            queries.sparkSession,
            out,
            f"query_id {id_type}, _lut array<array<double>>, "
            "cell int, _cell_dot double",
        ),
        _cells=sorted({c for _, _, c, _ in out}),
    )


def _pq_search(
    enc: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    q: DataFrame,
    m_subvectors: int,
    k: int,
    rerank: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """ADC candidate scan over a code table + exact rerank — shared by
    :func:`ivf_pq_topk` (codes just encoded) and the stored-index path
    (codes read back from parquet). ``q`` is the ADC query side built by
    :func:`_pq_query_side`; ``corpus`` supplies full vectors for the
    rerank join only; the candidate scan touches codes alone."""
    # ---- ADC scan over codes only; keep `rerank` finalists per query
    adc = F.col("_cell_dot") + sum(
        F.get(F.get("_lut", mi), F.get("codes", mi)) for mi in range(m_subvectors)
    )
    cand = (
        enc.join(F.broadcast(q), "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", adc.alias("_adc"))
    )
    w_adc = Window.partitionBy("query_id").orderBy(F.desc("_adc"), F.asc("neighbor_id"))
    finalists = cand.withColumn("_r", F.row_number().over(w_adc)).where(
        F.col("_r") <= rerank
    ).select("query_id", "neighbor_id")

    # ---- exact rerank: tiny finalist list × vector table, broadcast join
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    scored = (
        cv.join(F.broadcast(finalists.join(qv, "query_id")), "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 32,
    n_probe: int = 8,
    m_subvectors: int = 8,
    n_codes: int = 16,
    kmeans_iters: int = 8,
    rerank: int | None = None,
    train_sample: int = 512,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index=None,
) -> DataFrame:
    """IVF-PQ approximate top-k: IVF coarse cells + product-quantized
    residuals scored by asymmetric distance computation (ADC), then an
    exact rerank of the survivors.

    Pass ``index`` (a PQ :class:`~magiceye_spark.llmops.annindex.IvfIndex`)
    to skip fit+encode and ADC-scan the stored code table instead;
    ``corpus`` is still used for the exact rerank of the finalists (PQ
    indexes store codes, not vectors — see annindex module docs).

    The memory story at 100 TB: after encoding, the searchable index is
    (id, cell, m_subvectors × log2(n_codes)-bit codes) — 8 bytes of code
    per vector at the defaults vs 256 bytes of float32, a 32× compression.
    The ADC candidate scan touches ONLY that compact table; full vectors
    are read again just for the ``rerank`` finalists per query, via a
    broadcast join of the (tiny) candidate list against the vector table.

    All per-row math is JVM expressions (no UDF): cell assignment is the
    shared :func:`_best_cells` argmax; encoding picks each subvector's
    nearest codebook entry by argmin-over-literals; query-side lookup
    tables are dot products against codebook literals, and the ADC score is
    ``dot(q̂, centroid) + Σ_m LUT[m][code_m]`` — an O(m) sum per candidate
    regardless of dimension. Codebooks are trained on a deterministic
    ``train_sample``-vector strided sample (driver-side numpy k-means on
    residuals — the one non-Spark step, sized like the model it produces).

    Same output shape as :func:`cosine_topk` (exact cosine on reranked
    rows); recall vs brute force is measured in tests.
    """
    rerank = rerank if rerank is not None else 10 * k
    if index is not None:
        from magiceye_spark.llmops.annindex import ivf_pq_index_topk

        return ivf_pq_index_topk(
            index, queries, corpus, k=k, n_probe=n_probe, rerank=rerank
        )
    cents, books = _pq_fit(
        corpus, n_centroids, kmeans_iters, m_subvectors, n_codes, train_sample,
        id_col, vec_col,
    )

    # ---- encode: (neighbor_id, cell, codes[m]) — the compact index table
    # explicit spread: encoding is m·n_codes·dim flops per row on
    # byte-light rows — AQE/scan sizing would single-task it (measured
    # 7.4 s of 1-task stages at sf0.1); the ADC scan that follows
    # inherits this partitioning
    corpus = corpus.repartition(
        corpus.sparkSession.sparkContext.defaultParallelism, id_col
    )
    enc = _pq_encode(corpus, cents, books, m_subvectors, id_col, vec_col)
    q = _pq_query_side(
        queries, cents, books, m_subvectors, n_probe, id_col, vec_col
    ).probes
    return _pq_search(
        enc, corpus, queries, q, m_subvectors, k, rerank, id_col, vec_col
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Self-pairs with cosine ≥ threshold: (id_a, id_b, cosine_sim), a < b.
    Exact all-pairs — the oracle twin; block via LSH bands for corpus scale
    (compose signature_bits + a band self-join exactly like minhash_lsh).

    The inequality join is a broadcast-nested-loop; the STREAM side is
    explicitly spread so the O(n²) cosine work runs on every core instead
    of in the single scan task (measured 81 s single-threaded at sf0.1),
    and the build side is explicitly broadcast so the planner can't flip
    the roles."""
    a = corpus.repartition(
        corpus.sparkSession.sparkContext.defaultParallelism, id_col
    ).select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    sim = F.round(cosine(F.col("va"), F.col("vb")), 6)
    return pairs.select("id_a", "id_b", sim.alias("cosine_sim")).where(
        F.col("cosine_sim") >= threshold
    )


def embedding_near_dup_pairs_lsh(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 24,
    bands: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """The scale path for :func:`embedding_near_dup_pairs`: block candidate
    pairs by shared hyperplane-sign LSH bands (same signatures as
    :func:`lsh_topk`), then exact-cosine rerank only candidates.

    Two vectors at cosine ≥ 0.95 disagree on a random hyperplane with
    probability arccos(0.95)/π ≈ 0.10, so a 3-bit band matches with p≈0.72
    and 8 bands miss with probability (1-0.72)^8 ≈ 3·10⁻⁵ — near-exhaustive
    recall without the O(n²) cross join. Recall vs the exact twin is pinned
    in tests.
    """
    planes = _hyperplanes(dim, n_planes)
    rows_per_band = n_planes // bands
    bits = signature_bits(F.col(vec_col), planes)
    # explicit spread: n_planes·dim multiply-adds per row for the
    # signatures, evaluated once per join subtree without it
    corpus = corpus.repartition(
        corpus.sparkSession.sparkContext.defaultParallelism, id_col
    )
    banded = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), bits.alias("bits")
    ).select(
        "id",
        "v",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_id"),
                        F.aggregate(
                            F.slice(F.col("bits"), i * rows_per_band + 1, rows_per_band),
                            F.lit(0),
                            lambda acc, bit: acc * 2 + bit,
                        ).alias("bucket"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("band"),
    ).select("id", "v", "band.band_id", "band.bucket")
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.v").alias("va"),
            F.col("b.v").alias("vb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sim = F.round(cosine(F.col("va"), F.col("vb")), 6)
    return cands.select("id_a", "id_b", sim.alias("cosine_sim")).where(
        F.col("cosine_sim") >= threshold
    )


def sql_embedding_near_dups(threshold: float = 0.95) -> str:
    return f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
             / (SQRT(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                * SQRT(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6) AS cosine_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
            / (SQRT(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
               * SQRT(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6) >= {threshold}
"""


def embedding_dedup_fused(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 64,
    bands: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Semantic (embedding-cosine) dedup without the pair join — the
    SemDeDup shape: cluster via hyperplane-LSH bucket components
    (:func:`dedup.bucket_components`), then verify each member against its
    cluster REPRESENTATIVE's exact cosine — O(n) verifications instead of
    O(pairs). Members below ``threshold`` vs their representative are KEPT
    (false bucket merges cannot cause false drops). Returns the
    deduplicated corpus.

    Sizing: this is a HIGH-threshold (≥~0.9) dedup. Per band of
    b = n_planes/bands sign bits, a true pair at cosine θ matches with
    p = (1 − arccos(θ)/π)^b (0.95 → 0.43 at b=8; miss-all-8-bands ≈ 1.2%),
    while unrelated vectors collide with ~2^−b per band — so b must carry
    at least ~log₂(corpus) bits or random collisions chain every document
    into one giant component and the rep-verify (correctly) keeps
    everything, silently doing no dedup. At 10⁹ vectors use
    n_planes ≈ 8 bands × 32+ bits. Rep-based verification differs from
    transitive-closure pair dedup on CHAIN-shaped clusters (a~b~c where
    cos(a,c) < threshold keeps c) — for clique-like semantic duplicates the
    two coincide.
    """
    from magiceye_spark.llmops.dedup import bucket_components

    planes = _hyperplanes(dim, n_planes)
    rows_per_band = n_planes // bands
    bits = signature_bits(F.col(vec_col), planes)
    # explicit spread (same rationale as embedding_near_dup_pairs_lsh)
    corpus = corpus.repartition(
        corpus.sparkSession.sparkContext.defaultParallelism, id_col
    )
    banded = corpus.select(
        F.col(id_col).alias("_id"), bits.alias("bits")
    ).select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(i),
                        F.aggregate(
                            F.slice(F.col("bits"), i * rows_per_band + 1, rows_per_band),
                            F.lit(0),
                            lambda acc, bit: acc * 2 + bit,
                        ),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bkey"),
    )
    reps = bucket_components(banded, "_id", "bkey")
    vecs = corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    member = (
        reps.where(F.col("_id") != F.col("cluster"))
        .join(vecs, "_id")
        .join(
            vecs.select(F.col("_id").alias("cluster"), F.col("_v").alias("_v_rep")),
            "cluster",
        )
    )
    losers = member.where(
        cosine(F.col("_v"), F.col("_v_rep")) >= threshold
    ).select(F.col("_id").alias(id_col))
    return corpus.join(losers, id_col, "left_anti")


def semdedup_prune(
    corpus: DataFrame,
    k: int = 8,
    threshold: float = 0.95,
    kmeans_iters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv 2303.09540), the paper-faithful
    k-means-scoped variant: assign every vector to a spherical-k-means
    cluster, compute exact cosine pairs WITHIN each cluster only, take
    the transitive closure, keep the minimum-id member per component.
    Returns the pruned corpus (original columns).

    Relationship to the existing semantic-dedup ops: the exact global
    twin is closure over :func:`embedding_near_dup_pairs` (this function
    with k=1 equals it EXACTLY — pinned in tests);
    :func:`embedding_dedup_fused` is the no-pair-join LSH rendering. The
    k-means scoping is the paper's cost model: within-cluster pairwise is
    O(Σ|c|²) instead of O(n²) — at 100 TB you size k so clusters fit the
    pair join (the paper uses k ≈ n/10⁴), accepting that cross-cluster
    near-dups (rare at high thresholds: near-identical embeddings land in
    the same Voronoi cell unless they straddle a boundary) are missed —
    measured, not hidden: the k>1 recall vs the k=1 twin is asserted in
    tests.

    Plan shape: one map-side assignment pass (centroid literals), one
    within-cluster self-join shuffled on cluster id, the shared
    pointer-jump closure, one left-anti join."""
    from magiceye_spark.llmops.dedup import cluster_pairs

    assign = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("_v"),
        _best_cells(F.col(vec_col), _ivf_centroids(
            corpus, k, kmeans_iters, id_col, vec_col
        ), 1)[0]["cell"].alias("_cluster"),
    )
    # localCheckpoint: the assignment frame feeds BOTH self-join sides —
    # without the barrier Spark's self-join attribute dedup can lose a
    # side's projection (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND on k>1 plans),
    # and the centroid-literal assignment would recompute per side anyway
    assign = assign.localCheckpoint(eager=False)
    a = assign.select(
        F.col("_cluster"),
        F.col(id_col).alias("_ida"),
        F.col("_v").alias("_va"),
    )
    b = assign.select(
        F.col("_cluster"),
        F.col(id_col).alias("_idb"),
        F.col("_v").alias("_vb"),
    )
    pairs = (
        a.join(b, "_cluster")
        .where(F.col("_ida") < F.col("_idb"))
        .where(cosine(F.col("_va"), F.col("_vb")) >= threshold)
        .select(F.col("_ida").alias("doc_a"), F.col("_idb").alias("doc_b"))
    )
    clusters = cluster_pairs(pairs)
    losers = clusters.where(F.col("id") != F.col("cluster")).select(
        F.col("id").alias(id_col)
    )
    return corpus.join(losers, id_col, "left_anti")


# ------------------------------------------------------------ clustering

def embedding_kmeans(
    corpus: DataFrame,
    k: int = 8,
    kmeans_iters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster assignment (id, cluster, score) for every vector: spherical
    k-means centroids fitted driver-side on the bounded deterministic sample
    (:func:`_ivf_centroids` — same fit the IVF index uses), then a map-only
    argmax-cosine assignment pass over the full corpus.

    The corpus-side plan is one scan with zero shuffles: centroids compile
    into the expression as literals, so at 100 TB this is exactly as
    parallel as the input layout. The semantic clustering primitive under
    SemDeDup-style pruning and topical mixing audits.
    """
    cents = _ivf_centroids(corpus, k, kmeans_iters, id_col, vec_col)
    best = _best_cells(F.col(vec_col), cents, 1)[0]
    return corpus.select(
        F.col(id_col),
        best["cell"].alias("cluster"),
        F.round(best["score"], 4).alias("score"),
    )


def embedding_cluster_sizes(
    corpus: DataFrame,
    k: int = 8,
    kmeans_iters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster cardinality + mean assignment cosine — the balance/coherence
    summary read before trusting a clustering. One small groupBy over the
    map-only assignment."""
    return (
        embedding_kmeans(corpus, k, kmeans_iters, id_col, vec_col)
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("score"), 4).alias("mean_cosine"),
        )
        .orderBy("cluster")
    )


def hard_negatives(
    corpus: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the k
    most-similar vectors with a DIFFERENT label — the pairs that teach a
    metric model the most (easy random negatives via
    ``pipeline.negative_samples`` are the complement). Output:
    (anchor_id, negative_id, cosine_sim, rank).

    This is the exact all-pairs twin (corpus broadcast against itself with
    a label-inequality filter, the `cosine_topk` shape) — oracle-checkable
    and right at catalog/eval scale. At corpus scale mine through the ANN
    index instead: probe the anchor's IVF cells (`ivf_topk`) with the
    label filter applied at rerank, which prunes the candidate set to
    probed cells exactly as for retrieval.
    """
    a = corpus.select(
        F.col(id_col).alias("anchor_id"),
        F.col(vec_col).alias("a_vec"),
        F.col(label_col).alias("a_label"),
    )
    # stream side explicitly spread: the label-inequality join is a
    # broadcast-nested-loop whose per-row work is O(n·dim) — in the
    # single scan task that was 74 s at sf0.1
    c = corpus.repartition(
        corpus.sparkSession.sparkContext.defaultParallelism, id_col
    ).select(
        F.col(id_col).alias("negative_id"),
        F.col(vec_col).alias("c_vec"),
        F.col(label_col).alias("c_label"),
    )
    scored = c.join(
        F.broadcast(a), F.col("a_label") != F.col("c_label")
    ).select(
        "anchor_id",
        "negative_id",
        F.round(cosine(F.col("a_vec"), F.col("c_vec")), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cosine_sim"), F.asc("negative_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("anchor_id", "rank")
    )


def hard_negatives_indexed(
    corpus: DataFrame,
    k: int = 4,
    n_centroids: int | None = None,
    n_probe: int | None = None,
    kmeans_iters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """IVF-probed hard-negative mining — the SCALE path the all-pairs
    twin (:func:`hard_negatives`) documents: per anchor, score only the
    candidates in the anchor's ``n_probe`` nearest Voronoi cells (label
    filter applied at rerank), instead of the whole corpus.

    Shape, and why it is NOT :func:`_ivf_probe`: there the query batch is
    small and broadcast; here every corpus vector is an anchor, so
    broadcasting the probe side would ship the corpus to every task. Both
    sides are instead shuffled on ``cell`` (the anchor side carries
    n_probe exploded probe rows per vector), so each cell's members meet
    exactly the anchors probing that cell — candidate volume per anchor
    is ~n·n_probe/n_centroids. Same quantizer as :func:`ivf_topk`
    (deterministic bounded-sample spherical k-means), so the mined set is
    a pure function of the corpus. Output shape matches the twin
    (anchor_id, negative_id, cosine_sim, rank); rank is within the MINED
    candidate set. Recall vs the exact twin is pinned in pytest (rows-only
    for the driver: the k-means assignment is not SQL-expressible).

    Default sizing: n_centroids from ``recommend_ivf_params`` (∝ √n) with
    a FIXED n_probe=8 — per-anchor candidate volume is then ~8·√n and
    total mining cost ~8·n^1.5 versus the twin's n². (The retrieval
    seats' probe-FRACTION convention, n_probe = n_centroids/4, would keep
    the fraction constant and cost n²/4 — a constant-factor win only;
    for all-anchors mining the fixed-probe regime is the one that scales,
    at the standard IVF recall-vs-wall trade as cells refine. At the
    2k-vector testdata both sizings coincide: 32 cells / 8 probes, the
    measured 0.67-recall regime.)"""
    if n_centroids is None:
        from magiceye_spark.llmops.annindex import recommend_ivf_params

        n_centroids = recommend_ivf_params(corpus.count())["n_centroids"]
    if n_probe is None:
        n_probe = min(8, n_centroids)
    cents = _ivf_centroids(corpus, n_centroids, kmeans_iters, id_col, vec_col)
    par = corpus.sparkSession.sparkContext.defaultParallelism
    # candidate side: one row per vector, keyed by its own cell
    c = corpus.repartition(par, id_col).select(
        F.col(id_col).alias("negative_id"),
        F.col(vec_col).alias("c_vec"),
        F.col(label_col).alias("c_label"),
        _best_cells(F.col(vec_col), cents, 1)[0]["cell"].alias("cell"),
    )
    # anchor side: n_probe rows per vector, keyed by each probed cell
    a = corpus.repartition(par, id_col).select(
        F.col(id_col).alias("anchor_id"),
        F.col(vec_col).alias("a_vec"),
        F.col(label_col).alias("a_label"),
        F.explode(
            F.transform(
                _best_cells(F.col(vec_col), cents, n_probe),
                lambda s: s["cell"],
            )
        ).alias("cell"),
    )
    scored = (
        c.join(a, "cell")
        .where(
            (F.col("a_label") != F.col("c_label"))
            & (F.col("anchor_id") != F.col("negative_id"))
        )
        .select(
            "anchor_id",
            "negative_id",
            F.round(cosine(F.col("a_vec"), F.col("c_vec")), 6).alias(
                "cosine_sim"
            ),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cosine_sim"), F.asc("negative_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("anchor_id", "rank")
    )


def sql_hard_negatives(k: int = 4) -> str:
    dot = "list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))"
    na = "SQRT(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))"
    nc = "SQRT(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))"
    return f"""
WITH scored AS (
  SELECT a.vec_id AS anchor_id, c.vec_id AS negative_id,
         ROUND({dot} / ({na} * {nc}), 6) AS cosine_sim
  FROM embeddings a JOIN embeddings c ON a.label <> c.label)
SELECT anchor_id, negative_id, cosine_sim, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                               ORDER BY cosine_sim DESC, negative_id ASC) AS rank
  FROM scored
) WHERE rank <= {k}
ORDER BY anchor_id, rank
"""


def _label_centroids(emb: DataFrame) -> DataFrame:
    """(label, dim, c): per-label mean embedding by DIMENSION on the
    (row, dim) relational grain, each coordinate ROUNDED to 6 — the
    rounding makes every downstream dot product bit-identical across
    engines (per-dim averages are the only float sums whose association
    order differs)."""
    return (
        emb.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.round(F.avg("v"), 6).alias("c"))
    )


def label_compactness(emb: DataFrame) -> DataFrame:
    """Embedding-quality audit, intra-class view: per label, the mean
    cosine of members to their OWN label centroid — low compactness means
    the label is incoherent (mislabeled data, or an encoder that can't
    separate it). All relational: centroids on the (label, dim) grain,
    member·centroid dots via one (label, dim) join + per-member rollup."""
    cent = _label_centroids(emb)
    dims = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "v")
    )
    per_member = (
        dims.join(cent, ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("v") * F.col("c")).alias("dot"),
            F.sum(F.col("v") * F.col("v")).alias("nv"),
            F.sum(F.col("c") * F.col("c")).alias("nc"),
        )
        .select(
            "label",
            (F.col("dot") / (F.sqrt("nv") * F.sqrt("nc"))).alias("cos"),
        )
    )
    return (
        per_member.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("cos"), 4).alias("avg_cos_to_centroid"),
        )
        .orderBy("label")
    )


def sql_label_compactness() -> str:
    dims = (
        "SELECT vec_id, label, UNNEST(range(1, LENGTH(embedding) + 1)) - 1 AS dim, "
        "UNNEST(CAST(embedding AS DOUBLE[])) AS v FROM embeddings"
    )
    return f"""
WITH dims AS ({dims}),
cent AS (
  SELECT label, dim, ROUND(AVG(v), 6) AS c FROM dims GROUP BY label, dim),
per_member AS (
  SELECT d.vec_id, d.label,
         SUM(d.v * c.c) / (SQRT(SUM(d.v * d.v)) * SQRT(SUM(c.c * c.c))) AS cos
  FROM dims d JOIN cent c ON c.label = d.label AND c.dim = d.dim
  GROUP BY d.vec_id, d.label)
SELECT label, COUNT(*) AS n, ROUND(AVG(cos), 4) AS avg_cos_to_centroid
FROM per_member
GROUP BY label
ORDER BY label
"""


def label_centroid_similarity(emb: DataFrame) -> DataFrame:
    """Embedding-quality audit, inter-class view: cosine similarity
    between label centroids for every unordered pair — near-1.0 pairs are
    the labels an ANN index (or a classifier) will confuse. The pairwise
    stage runs on the k×d centroid table only."""
    cent = _label_centroids(emb)
    a = cent.select(
        F.col("label").alias("label_a"), "dim", F.col("c").alias("ca")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "dim", F.col("c").alias("cb")
    )
    return (
        a.join(b, "dim")
        .where(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.round(
                F.sum(F.col("ca") * F.col("cb"))
                / (
                    F.sqrt(F.sum(F.col("ca") * F.col("ca")))
                    * F.sqrt(F.sum(F.col("cb") * F.col("cb")))
                ),
                4,
            ).alias("centroid_cos")
        )
        .orderBy("label_a", "label_b")
    )


def sql_label_centroid_similarity() -> str:
    dims = (
        "SELECT label, UNNEST(range(1, LENGTH(embedding) + 1)) - 1 AS dim, "
        "UNNEST(CAST(embedding AS DOUBLE[])) AS v FROM embeddings"
    )
    return f"""
WITH dims AS ({dims}),
cent AS (
  SELECT label, dim, ROUND(AVG(v), 6) AS c FROM dims GROUP BY label, dim)
SELECT a.label AS label_a, b.label AS label_b,
       ROUND(SUM(a.c * b.c) / (SQRT(SUM(a.c * a.c)) * SQRT(SUM(b.c * b.c))), 4) AS centroid_cos
FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
GROUP BY 1, 2
ORDER BY 1, 2
"""


# ------------------------------------------------- bitext / parallel-pair mining

def bitext_margin_pairs(
    docs: DataFrame,
    emb: DataFrame,
    src_lang: str = "en",
    k: int = 4,
    margin_threshold: float = 1.15,
) -> DataFrame:
    """Margin-based parallel-pair mining (Artetxe & Schwenk 2018,
    arXiv:1811.01136 ratio margin): for every ``src_lang`` document, the
    best cross-lingual match whose cosine stands out against BOTH sides'
    local neighborhood densities —
    ``margin = cos(x, y) / ((mean_k cos(x, ·) + mean_k cos(·, y)) / 2)``.
    Plain nearest-neighbor mining over-fires in dense regions (hub
    vectors are everyone's neighbor); the margin normalizes by how close
    each side's k-NN field is, which is what makes mined bitext usable
    as translation training pairs.

    Output: (src_id, tgt_id, tgt_lang, cosine_sim, margin) — the single
    best target per source, kept only above ``margin_threshold``.

    This is the exact all-pairs twin (the oracle-checkable form, like
    jaccard_near_dups): O(|A|·|B|) scores with the small side broadcast.
    At corpus scale, generate candidates with the banded LSH / IVF
    machinery in this module first and compute the same margin over
    candidates only — the margin expression is identical.

    Engine-parity notes: cosines are rounded to 6 before the k-NN means;
    the means sum DECIMAL(18,6) (exact, order-independent) and divide as
    doubles, so margin is a chain of single deterministic float ops in
    both engines.
    """
    e = docs.join(emb, docs["doc_id"] == emb["vec_id"]).select(
        "doc_id", "lang", "embedding"
    )
    # norms precomputed per SIDE (|A| + |B| sqrt-dots), not per pair
    # (2·|A|·|B| if left inline in the cosine) — same expression, same
    # value, so rounding parity with the oracle is unchanged
    a = e.where(F.col("lang") == src_lang).select(
        F.col("doc_id").alias("src_id"),
        F.col("embedding").alias("a_vec"),
        norm(F.col("embedding")).alias("a_norm"),
    )
    b = e.where(F.col("lang") != src_lang).select(
        F.col("doc_id").alias("tgt_id"),
        F.col("lang").alias("tgt_lang"),
        F.col("embedding").alias("b_vec"),
        norm(F.col("embedding")).alias("b_norm"),
    )
    # exchange barrier: without it projection collapse re-inlines b_norm
    # (and the doc⋈emb projection) into the per-pair loop — measured 7.6×
    # on the scored stage at sf0.1. A linear shuffle of the corpus side is
    # cheap next to the O(|A|·|B|) scoring it feeds.
    b = b.repartition(b.sparkSession.sparkContext.defaultParallelism, "tgt_id")
    scored = (
        b.crossJoin(F.broadcast(a))
        .select(
            "src_id",
            "tgt_id",
            "tgt_lang",
            F.round(
                dot(F.col("a_vec"), F.col("b_vec"))
                / (F.col("a_norm") * F.col("b_norm")),
                6,
            ).alias("cosine_sim"),
        )
        .persist()  # three consumers: two k-NN mean passes + the final join
    )

    def knn_mean(part_col: str, tie_col: str, out: str) -> DataFrame:
        w = Window.partitionBy(part_col).orderBy(
            F.desc("cosine_sim"), F.asc(tie_col)
        )
        return (
            scored.withColumn("r", F.row_number().over(w))
            .where(F.col("r") <= k)
            .groupBy(part_col)
            .agg(
                (
                    F.sum(F.col("cosine_sim").cast("decimal(18,6)")).cast("double")
                    / F.count(F.lit(1))
                ).alias(out)
            )
        )

    m_src = knn_mean("src_id", "tgt_id", "m_src")
    m_tgt = knn_mean("tgt_id", "src_id", "m_tgt")
    marg = (
        scored.join(m_src, "src_id")
        .join(m_tgt, "tgt_id")
        .withColumn(
            "margin",
            F.round(
                F.col("cosine_sim") / (F.lit(0.5) * (F.col("m_src") + F.col("m_tgt"))),
                6,
            ),
        )
    )
    wb = Window.partitionBy("src_id").orderBy(
        F.desc("margin"), F.desc("cosine_sim"), F.asc("tgt_id")
    )
    return (
        marg.withColumn("rb", F.row_number().over(wb))
        .where((F.col("rb") == 1) & (F.col("margin") >= margin_threshold))
        .select("src_id", "tgt_id", "tgt_lang", "cosine_sim", "margin")
        .orderBy("src_id")
    )


def sql_bitext_margin_pairs(
    src_lang: str = "en", k: int = 4, margin_threshold: float = 1.15
) -> str:
    return f"""
WITH e AS (
  SELECT d.doc_id, d.lang, CAST(em.embedding AS DOUBLE[]) AS v
  FROM documents d JOIN embeddings em ON d.doc_id = em.vec_id
),
a AS (SELECT doc_id AS src_id, v AS av FROM e WHERE lang = '{src_lang}'),
b AS (SELECT doc_id AS tgt_id, lang AS tgt_lang, v AS bv FROM e WHERE lang <> '{src_lang}'),
scored AS (
  SELECT src_id, tgt_id, tgt_lang,
         ROUND(list_dot_product(av, bv)
               / (SQRT(list_dot_product(av, av)) * SQRT(list_dot_product(bv, bv))), 6) AS cosine_sim
  FROM a CROSS JOIN b
),
ms AS (
  SELECT src_id, CAST(SUM(CAST(cosine_sim AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS m_src
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id ORDER BY cosine_sim DESC, tgt_id) AS r
        FROM scored)
  WHERE r <= {k} GROUP BY src_id
),
mt AS (
  SELECT tgt_id, CAST(SUM(CAST(cosine_sim AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS m_tgt
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY tgt_id ORDER BY cosine_sim DESC, src_id) AS r
        FROM scored)
  WHERE r <= {k} GROUP BY tgt_id
),
marg AS (
  SELECT s.src_id, s.tgt_id, s.tgt_lang, s.cosine_sim,
         ROUND(s.cosine_sim / (0.5 * (ms.m_src + mt.m_tgt)), 6) AS margin
  FROM scored s JOIN ms USING (src_id) JOIN mt USING (tgt_id)
)
SELECT src_id, tgt_id, tgt_lang, cosine_sim, margin FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
            ORDER BY margin DESC, cosine_sim DESC, tgt_id) AS rb
  FROM marg
) WHERE rb = 1 AND margin >= {margin_threshold}
ORDER BY src_id
"""


def bitext_margin_pairs_indexed(
    docs: DataFrame,
    emb: DataFrame,
    src_lang: str = "en",
    k: int = 4,
    margin_threshold: float = 1.15,
    n_centroids: int = 16,
    n_probe: int = 4,
    kmeans_iters: int = 8,
    salts: int = 4,
) -> DataFrame:
    """Candidate-based margin mining — the PRODUCTION path whose exact
    all-pairs twin is :func:`bitext_margin_pairs` (same margin expression,
    same output schema, same tie-breaks; recall vs the twin pinned in
    tests). Until r8 the twin was the only implementation — the one
    operator whose sole path was quadratic.

    Candidates come from ONE shared coarse quantizer (spherical k-means
    on a bounded sample of the target side, :func:`_ivf_centroids`):

    - forward IVF k-NN (each source probes its ``n_probe`` nearest cells
      of the cell-assigned target side) supplies cos(x, ·) top-k — the
      source-side neighborhood mean m_src;
    - backward IVF k-NN (targets probe the cell-assigned source side,
      SAME centroids) supplies cos(·, y) top-k — m_tgt;
    - the margin is computed over the fwd ∪ bwd candidate edges with the
      twin's expression verbatim (round-6 cosines, DECIMAL(18,6) ordered
      k-NN sums, margin = cos / (0.5·(m_src+m_tgt))), and the best target
      per source is chosen among candidates with the twin's tie-breaks.

    Neither side is broadcast (both are corpus-scale in bitext mining,
    unlike ANN's small query batches): each direction is a shuffle
    equi-join on (cell, salt) where the corpus side picks ONE salt per
    row (pmod of xxhash64) and the probe side explodes all ``salts`` —
    every (query, corpus) pair in a probed cell meets exactly once, and
    a hot Voronoi cell's work spreads over ``salts`` tasks instead of
    one. Per-query cost is ~n_probe/n_centroids of the other side —
    linear in the corpus at fixed probe fraction, vs the twin's
    O(|A|·|B|).

    Approximation surface (why this has no SQL oracle): a pair is scored
    only if one endpoint ranks in the other's probed top-k, so both the
    means and the final argmax see IVF-approximate neighborhoods (the
    means are taken over the union candidate edges, so candidate edges
    are never dropped for lacking a reverse-direction mean). Recall vs
    the exact twin is pinned in tests/test_r8_ops.py; sizing follows
    the ivf_topk sweep (finer cells at fixed probe fraction).
    """
    e = docs.join(emb, docs["doc_id"] == emb["vec_id"]).select(
        "doc_id", "lang", "embedding"
    )
    par = docs.sparkSession.sparkContext.defaultParallelism
    a = e.where(F.col("lang") == src_lang).select(
        F.col("doc_id").alias("src_id"), F.col("embedding").alias("vec")
    ).repartition(par, "src_id")
    b_full = e.where(F.col("lang") != src_lang).select(
        F.col("doc_id").alias("tgt_id"),
        F.col("lang").alias("tgt_lang"),
        F.col("embedding").alias("vec"),
    ).repartition(par, "tgt_id")
    b = b_full.select("tgt_id", "vec")
    cents = _ivf_centroids(b, n_centroids, kmeans_iters, "tgt_id", "vec")

    def knn(qside: DataFrame, q_id: str, cside: DataFrame, c_id: str) -> DataFrame:
        q = qside.select(
            q_id,
            F.col("vec").alias("q_vec"),
            F.explode(
                F.transform(
                    _best_cells(F.col("vec"), cents, n_probe), lambda s: s["cell"]
                )
            ).alias("cell"),
        ).withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(salts - 1))))
        c = cside.select(
            c_id,
            F.col("vec").alias("c_vec"),
            _best_cells(F.col("vec"), cents, 1)[0]["cell"].alias("cell"),
            F.pmod(F.xxhash64(F.col(c_id)), F.lit(salts)).cast("int").alias("salt"),
        )
        w = Window.partitionBy(q_id).orderBy(F.desc("cosine_sim"), F.asc(c_id))
        return (
            q.join(c, ["cell", "salt"])
            .select(
                q_id,
                c_id,
                F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias(
                    "cosine_sim"
                ),
            )
            .withColumn("r", F.row_number().over(w))
            .where(F.col("r") <= k)
            .drop("r")
        )

    fwd = knn(a, "src_id", b, "tgt_id")
    bwd = knn(b, "tgt_id", a, "src_id").select("src_id", "tgt_id", "cosine_sim")
    # BOTH k-NN means are computed over the UNION candidate edge set (top-k
    # by cosine per endpoint among fwd ∪ bwd edges), so every candidate
    # edge has an m_src AND an m_tgt row by construction — a fwd-only/
    # bwd-only mean table would silently drop any edge whose other
    # endpoint produced no reverse-direction candidates (a third recall
    # sink beyond the neighborhood approximation). In exhaustive mode the
    # union top-k per src equals the exact top-k (fwd already holds it),
    # so the twin equality is unchanged.
    # Three consumers (two k-NN mean passes + the margin join) share the
    # candidate edges WITHOUT a persist: dropDuplicates ends in an
    # exchange on (src_id, tgt_id), and the three identical subtrees
    # collapse to one ReusedExchange in the final plan — the IVF joins run
    # once per action (verified in-plan; within ~measurement noise of the
    # old persist). A persist here would outlive the returned lazy frame
    # (nothing can unpersist after the caller's action), leaking
    # CacheManager entries across a long-lived session.
    cands = (
        fwd.select("src_id", "tgt_id", "cosine_sim")
        .unionByName(bwd)
        .dropDuplicates(["src_id", "tgt_id"])  # same expression → same cosine
    )

    def knn_mean(key: str, tie: str, out: str) -> DataFrame:
        w = Window.partitionBy(key).orderBy(F.desc("cosine_sim"), F.asc(tie))
        return (
            cands.withColumn("r", F.row_number().over(w))
            .where(F.col("r") <= k)
            .groupBy(key)
            .agg(
                (
                    F.sum(F.col("cosine_sim").cast("decimal(18,6)")).cast("double")
                    / F.count(F.lit(1))
                ).alias(out)
            )
        )

    m_src = knn_mean("src_id", "tgt_id", "m_src")
    m_tgt = knn_mean("tgt_id", "src_id", "m_tgt")
    marg = (
        cands.join(m_src, "src_id")
        .join(m_tgt, "tgt_id")
        .withColumn(
            "margin",
            F.round(
                F.col("cosine_sim") / (F.lit(0.5) * (F.col("m_src") + F.col("m_tgt"))),
                6,
            ),
        )
    )
    wb = Window.partitionBy("src_id").orderBy(
        F.desc("margin"), F.desc("cosine_sim"), F.asc("tgt_id")
    )
    return (
        marg.withColumn("rb", F.row_number().over(wb))
        .where((F.col("rb") == 1) & (F.col("margin") >= margin_threshold))
        .join(b_full.select("tgt_id", "tgt_lang"), "tgt_id")
        .select("src_id", "tgt_id", "tgt_lang", "cosine_sim", "margin")
        .orderBy("src_id")
    )


# ------------------------------------------ Johnson-Lindenstrauss projection

def random_projection(
    emb: DataFrame,
    out_dim: int = 8,
    seed: str = "jl-v1",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Johnson-Lindenstrauss sketch: project each embedding
    onto ``out_dim`` ±1 random hyperplanes derived from
    ``md5(seed ':' k ':' j)`` — the dimensionality-reduction front-end for
    ANN at scale (Achlioptas 2001: ±1 entries preserve pairwise distances
    in expectation like Gaussian projections, with integer-cheap math).

    Engine-portable by construction: the sign matrix comes from md5 (same
    string -> same sign in DuckDB), and each output coordinate folds the
    input STRICTLY left-to-right in index order so both engines sum in
    the same IEEE order (the repo's dot-product discipline). Projection
    is map-only — no shuffle, no fit, no state; at 100 TB it composes
    with any downstream LSH/IVF build as a width reduction of the
    shuffled vectors. p_k = Σ_j sign(k,j)·x_j / sqrt(out_dim) — the
    1/sqrt(r) scaling makes E[||p||^2] = ||x||^2 (each coordinate's
    expected square is the full input norm), so distances carry over
    without a correction factor.

    Output: (vec_id, p0..p{out_dim-1}) rounded at 6.
    """
    d_col = F.size(F.col(vec_col))

    def sign(k: int):
        # +1 when the first hex nibble of md5('seed:k:j') is even
        def inner(j):
            h = F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{seed}:{k}:"), j.cast("string"))), 1, 1
                ),
                16,
                10,
            ).cast("int")
            return F.when(h % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0))

        return inner

    def proj(k: int):
        s = sign(k)
        return F.round(
            F.aggregate(
                F.sequence(F.lit(1), d_col),
                F.lit(0.0),
                lambda acc, j: acc
                + F.element_at(F.col(vec_col), j).cast("double") * s(j),
            )
            / F.sqrt(F.lit(float(out_dim))),
            6,
        ).alias(f"p{k}")

    # spread before projecting: the sign matrix costs out_dim × dim md5
    # evaluations per row (512 at 8×64) and a single-file scan would run
    # the whole sketch in one task (r10 stage audit: 100% single-task,
    # 2.2 s serialized at sf0.1) — the r6 explicit-spread discipline for
    # CPU-dense projections over byte-light scans. Map-only above the
    # exchange; at lake scale the scan is many-splits anyway and the
    # repartition keys the output for downstream joins on vec_id.
    spread = emb.repartition(
        emb.sparkSession.sparkContext.defaultParallelism, "vec_id"
    )
    return spread.select(
        "vec_id", *[proj(k) for k in range(out_dim)]
    ).orderBy("vec_id")


def sql_random_projection(out_dim: int = 8, seed: str = "jl-v1") -> str:
    cols = []
    for k in range(out_dim):
        sgn = (
            f"CASE WHEN CAST(CONCAT('0x', substr(md5('{seed}:{k}:' || CAST(j AS VARCHAR)), 1, 1)) AS INTEGER) % 2 = 0 "
            f"THEN 1.0 ELSE -1.0 END"
        )
        cols.append(
            f"ROUND(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            f"list_transform(range(1, len(embedding) + 1), "
            f"j -> CAST(embedding[j] AS DOUBLE) * ({sgn}))), (acc, x) -> acc + x) "
            f"/ SQRT({out_dim}), 6) AS p{k}"
        )
    sel = ",\n       ".join(cols)
    return f"""
SELECT vec_id,
       {sel}
FROM embeddings
ORDER BY vec_id
"""


# ------------------------------------------------- covariance / PCA

def embedding_covariance(
    emb: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Exact upper-triangle covariance matrix of the embedding columns:
    (i, j, n, cov) for 1 ≤ i ≤ j ≤ d — the input to PCA whitening,
    redundancy audits ("are dims 17 and 23 the same signal?"), and
    Mahalanobis-style outlier screens.

    Components are rounded to 6 dp and accumulated as DECIMAL, so all
    three moments are exact and order-free under any partitioning; the
    covariance is one fixed double expression over them. Shape: the
    d-explode self-join produces n·d²/2 rows, but map-side partial
    aggregation reduces the shuffle to d²/2 keys per partition — the
    standard moment-matrix pattern (d is a constant; n is the corpus).
    """
    # spread before the d-explode: 64x fan-out per row is CPU-dense, and
    # the byte-gated scan sizing leaves sub-4MB files in one split (stage
    # audit: 5.1 s serialized at sf0.1)
    emb = emb.repartition(
        emb.sparkSession.sparkContext.defaultParallelism, "vec_id"
    )
    e = emb.select(
        "vec_id", F.posexplode(vec_col).alias("i0", "xf")
    ).select(
        "vec_id",
        (F.col("i0") + 1).alias("i"),
        F.round(F.col("xf").cast("double"), 6).cast("decimal(9,6)").alias("xv"),
    )
    a = e.select("vec_id", F.col("i").alias("i"), F.col("xv").alias("xa"))
    b = e.select("vec_id", F.col("i").alias("j"), F.col("xv").alias("xb"))
    pairs = a.join(b, "vec_id").where(F.col("i") <= F.col("j"))
    m = pairs.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xa").alias("sx"),
        F.sum("xb").alias("sy"),
        F.sum((F.col("xa") * F.col("xb")).cast("decimal(28,12)")).alias("sxy"),
    )
    cov = (
        F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double") / F.col("n").cast("double")
    ) / (F.col("n") - 1).cast("double")
    return m.select("i", "j", "n", cov.alias("cov")).orderBy("i", "j")


SQL_EMBEDDING_COVARIANCE = """
WITH e AS (
  SELECT vec_id, i,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE), 6) AS DECIMAL(9,6)) AS xv
  FROM embeddings CROSS JOIN (SELECT UNNEST(generate_series(1, 64)) AS i)),
m AS (
  SELECT a.i, b.i AS j, COUNT(*) AS n,
         SUM(a.xv) AS sx, SUM(b.xv) AS sy,
         SUM(CAST(a.xv * b.xv AS DECIMAL(28,12))) AS sxy
  FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY 1, 2)
SELECT i, j, n,
       (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
         / CAST(n - 1 AS DOUBLE) AS cov
FROM m
ORDER BY i, j
"""


def embedding_pca_project(
    emb: DataFrame,
    n_components: int = 8,
    vec_col: str = "embedding",
) -> DataFrame:
    """Project embeddings onto their top principal components: exact
    distributed covariance (:func:`embedding_covariance`) → driver-side
    eigendecomposition of the bounded d×d matrix (same precedent as the
    IVF driver-side k-means fit: d² scalars, never corpus-sized) →
    map-side projection via JVM array expressions. Output
    (vec_id, label, pc) with pc = array of the first ``n_components``
    scores; components are sign-normalized (largest-|loading| entry
    positive) so the result is deterministic. Eigendecomposition is not
    SQL-expressible — driver-checked rows-only; the numpy parity pin
    lives in tests."""
    import numpy as np

    cov_rows = embedding_covariance(emb, vec_col).collect()
    d = max(r.j for r in cov_rows)
    C = np.zeros((d, d))
    for r in cov_rows:
        C[r.i - 1, r.j - 1] = r.cov
        C[r.j - 1, r.i - 1] = r.cov
    vals, vecs = np.linalg.eigh(C)
    order = np.argsort(vals)[::-1][:n_components]
    comps = []
    for idx in order:
        v = vecs[:, idx]
        if v[int(np.argmax(np.abs(v)))] < 0:
            v = -v
        comps.append([float(x) for x in v])
    # centering uses the exact decimal means computed distributed-side
    e = emb.select("vec_id", F.posexplode(vec_col).alias("i0", "xf")).select(
        (F.col("i0") + 1).alias("i"),
        F.round(F.col("xf").cast("double"), 6).cast("decimal(9,6)").alias("xv"),
    )
    mrows = e.groupBy("i").agg(
        (F.sum("xv").cast("double") / F.count(F.lit(1)).cast("double")).alias("mu")
    ).collect()
    mu = [0.0] * d
    for r in mrows:
        mu[r.i - 1] = r.mu
    mu_lit = _vector_lit(mu)
    proj_cols = []
    for ci, comp in enumerate(comps):
        comp_lit = _vector_lit(comp)
        score = F.aggregate(
            F.zip_with(
                F.zip_with(
                    F.transform(F.col(vec_col), lambda x: F.round(x.cast("double"), 6)),
                    mu_lit,
                    lambda x, m: x - m,
                ),
                comp_lit,
                lambda cvx, w: cvx * w,
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        proj_cols.append(F.round(score, 6).alias(f"pc{ci + 1}"))
    return emb.select("vec_id", "label", *proj_cols).orderBy("vec_id")


def embedding_outlier_scores(
    emb: DataFrame, k: int = 20, vec_col: str = "embedding"
) -> DataFrame:
    """Top-k embedding outliers by diagonal Mahalanobis distance:
    z² = Σ_i (x_i − μ_i)² / σ²_i over per-dimension exact moments — the
    cheap "is this vector from another distribution" screen run before
    indexing (corrupt encodes, wrong-model vectors, zero rows).

    Per-dim μ/σ² come from the same rounded-decimal moments as
    :func:`embedding_covariance` (exact, order-free); each vector's z²
    folds its 64 terms in index order (fixed IEEE order on both
    engines); zero-variance dims are excluded identically. Top-k is
    orderBy+limit — TakeOrdered, never a global sort. Scale: one d-row
    broadcast join + a map-side fold."""
    emb = emb.repartition(
        emb.sparkSession.sparkContext.defaultParallelism, "vec_id"
    )
    e = emb.select(
        "vec_id", F.posexplode(vec_col).alias("i0", "xf")
    ).select(
        "vec_id",
        (F.col("i0") + 1).alias("i"),
        F.round(F.col("xf").cast("double"), 6).cast("decimal(9,6)").alias("xv"),
    )
    dims = e.groupBy("i").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xv").alias("sx"),
        F.sum((F.col("xv") * F.col("xv")).cast("decimal(28,12)")).alias("sxx"),
    )
    mu = F.col("sx").cast("double") / F.col("n").cast("double")
    var = (
        F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double") / F.col("n").cast("double")
    ) / (F.col("n") - 1).cast("double")
    dims = dims.select("i", mu.alias("mu"), var.alias("var")).where(F.col("var") > 0)
    terms = (
        e.join(F.broadcast(dims), "i")
        .select(
            "vec_id",
            "i",
            (
                (F.col("xv").cast("double") - F.col("mu"))
                * (F.col("xv").cast("double") - F.col("mu"))
                / F.col("var")
            ).alias("term"),
        )
    )
    z2 = terms.groupBy("vec_id").agg(
        F.aggregate(
            F.sort_array(
                F.collect_list(F.struct(F.col("i").alias("i"), F.col("term").alias("t")))
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["t"],
        ).alias("z2")
    )
    return (
        z2.join(emb.select("vec_id", "label"), "vec_id")
        .select("vec_id", "label", "z2")
        .orderBy(F.desc("z2"), F.asc("vec_id"))
        .limit(k)
    )


def sql_embedding_outlier_scores(k: int = 20) -> str:
    return f"""
WITH e AS (
  SELECT vec_id, i,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE), 6) AS DECIMAL(9,6)) AS xv
  FROM embeddings CROSS JOIN (SELECT UNNEST(generate_series(1, 64)) AS i)),
dims AS (
  SELECT i, COUNT(*) AS n, SUM(xv) AS sx,
         SUM(CAST(xv * xv AS DECIMAL(28,12))) AS sxx
  FROM e GROUP BY 1),
dv AS (
  SELECT i, CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
         (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
           / CAST(n - 1 AS DOUBLE) AS var
  FROM dims),
dvp AS (SELECT * FROM dv WHERE var > 0),
terms AS (
  SELECT e.vec_id, e.i,
         (CAST(e.xv AS DOUBLE) - dvp.mu) * (CAST(e.xv AS DOUBLE) - dvp.mu) / dvp.var AS term
  FROM e JOIN dvp USING (i)),
z2 AS (
  SELECT vec_id,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(list_sort(list({{'i': i, 't': term}})), x -> x.t)),
           (acc, v) -> acc + v) AS z2
  FROM terms GROUP BY 1)
SELECT z2.vec_id, emb.label, z2.z2
FROM z2 JOIN embeddings emb ON emb.vec_id = z2.vec_id
ORDER BY z2.z2 DESC, z2.vec_id ASC
LIMIT {k}
"""
