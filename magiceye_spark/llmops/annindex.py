"""Persistent ANN index: build-once / probe-many IVF(-PQ) over parquet.

The reference has no vector surface (its scope is schema diff —
`/root/reference/src/action/check.rs`); this module completes the mandated
similarity-search lifecycle that :mod:`magiceye_spark.llmops.simsearch`'s
fit-per-call operators leave open. At 100 TB the index is a stored artifact:
the quantizer is trained once, the corpus is encoded once, and every probe
afterwards touches only the compact stored tables. Re-fitting per query —
what `ivf_topk`/`ivf_pq_topk` do — is correct for one-shot jobs but wrong
for a serving or repeated-batch workload. The storage lifecycle (params,
compaction, admission, ingest loop) is :mod:`magiceye_spark.llmops.store`;
this module supplies the cell assignment, PQ encoding, the cell-partitioned
append and the probe.

Storage layout under ``path`` (all parquet, all Spark-native):

- ``params``     one row: version, pq flag, n_centroids, dim, m_subvectors,
                 n_codes, id/vec column names.
- ``centroids``  (cell, centroid array<double>) — the coarse quantizer,
                 n_centroids × dim doubles: KB-sized, collected to the
                 driver on read and re-embedded as plan literals.
- ``codebooks``  (m, code, vec array<double>) — PQ only; m × n_codes ×
                 (dim/m) doubles, same KB-sized model treatment.
- ``postings``   the searchable table, PARTITIONED BY cell:
                 flat  → (vec_id, embedding, cell)
                 pq    → (vec_id, codes array<int>, cell)
                 Partitioning by cell is the scale story: a probe of
                 n_probe cells reads n_probe/n_centroids of the files —
                 directory-level partition pruning, no scan of the rest.
- ``rerank``     every PQ store: (vec_id, embedding) PARTITIONED BY cell
                 — the original vectors, kept ONLY for exact-cosine
                 verification (admission, probe rerank). Admission reads
                 just the probed cells' directories, pruned exactly like
                 the postings, so no per-batch corpus-wide rerank shuffle
                 runs; the codes table stays the only artifact a probe
                 scans, so the ~32× hot-set compression is intact. Every
                 build and append writes ``rerank`` BEFORE ``postings``,
                 so at every crash point the rerank ids cover the
                 postings ids. A PQ store without the table cannot be
                 read (:func:`_read_model` raises): rebuild it with
                 :func:`write_ivf_index` from the original vectors.

Determinism: the model is fitted by :func:`simsearch._ivf_centroids` /
:func:`simsearch._pq_fit` (bounded TakeOrdered samples, fixed-iteration
numpy Lloyd), encoding is argmin over model literals, and centroids/
codebooks round-trip parquet as exact IEEE-754 doubles — so a probe from
the stored index is bit-identical to a probe from a fresh fit on the same
corpus (pinned in tests/test_r7_ops.py and the `ivf_indexed_exact` driver
row).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from magiceye_spark.fsops import fs_exists
from magiceye_spark.llmops import store
from magiceye_spark.llmops.simsearch import (
    _best_cells,
    _cell_sides,
    _ivf_centroids,
    _ivf_probe,
    _pq_encode,
    _pq_fit,
    _pq_query_side,
    _pq_search,
)

_VERSION = "ivf-v1"


@dataclass
class IvfIndex:
    """A readable IVF(-PQ) index: tiny driver-side model (centroids,
    optional codebooks) + the postings DataFrame (lazy parquet scan when
    read from disk). ``rerank`` is the PQ store's cell-partitioned
    originals table, which every PQ store has (None for flat indexes)."""

    params: dict
    centroids: dict[int, list[float]]
    codebooks: list[list[list[float]]] | None
    postings: DataFrame
    rerank: DataFrame | None = None

    @property
    def pq(self) -> bool:
        return bool(self.params["pq"])


def _postings_flat(
    corpus: DataFrame, cents: dict[int, list[float]], id_col: str, vec_col: str
) -> DataFrame:
    """Cell-assigned corpus for a flat IVF index: (vec_id, embedding, cell).
    Same assignment expression as :func:`simsearch.ivf_topk` — map-side
    argmax over centroid literals, zero shuffle."""
    return corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        _best_cells(F.col(vec_col), cents, 1)[0]["cell"].alias("cell"),
    )


def _write_cells(df: DataFrame, path: str, mode: str, obs=None) -> None:
    """Write a growing table (postings, rerank) partitioned by cell with
    ONE file per touched cell: the hash repartition on ``cell`` puts each
    cell's rows in a single task, and sorting by (cell, vec_id) within
    partitions satisfies the partitioned writer's ordering, so it adds no
    sort of its own and each file is vec_id-ordered. Build, append and
    compaction all write through here, so a cell directory holds one file
    per write that touched it — never one per write task.

    ``obs``: an ``Observation`` that receives the written row count as
    ``n``. It is attached above the shuffle: attached below it, an append
    whose delta is empty (a replayed batch) left the observation unset,
    and reading it raised."""
    out = df.repartition("cell").sortWithinPartitions("cell", "vec_id")
    if obs is not None:
        out = out.observe(obs, F.count(F.lit(1)).alias("n"))
    out.write.mode(mode).partitionBy("cell").parquet(path)


def recommend_ivf_params(n_vectors: int, dim: int | None = None) -> dict:
    """The deployment knob the r10 store sweep measured: admission and
    probe cost are linear in the probed slice (n_probe/n_centroids of the
    store), so a FIXED cell count means per-cell occupancy — and with it
    every probe — grows linearly with the corpus. Sizing
    ``n_centroids ∝ √n`` keeps per-cell occupancy at ~√n, the standard
    IVF regime (FAISS: between √n and 16·√n; we take the nearest power of
    two to √n, clamped to [4, 65536]) — 32-64 cells at 2k vectors, ~16k
    at 200M.

    Probe-time sizing stays the caller's: the repo's measured default
    scan fraction is 1/4 — ``n_probe = n_centroids // 4`` (BASELINE.md
    cell-count sweep: recall 0.66 at 8/32); trade recall for wall by
    moving it. With ``dim``, also picks ``m_subvectors`` for PQ: the
    largest power of two ≤ dim/4 that divides dim (≥4-wide subvectors
    keep per-subspace codebooks meaningful), capped at 16.

    Returns kwargs accepted verbatim by :func:`write_ivf_index` /
    ``streaming_ann_ingest(bootstrap=...)`` (which is why ``n_probe`` is
    NOT in the dict — it is not a build parameter)."""
    import math

    root = max(2.0, math.sqrt(max(1, n_vectors)))
    n_centroids = min(65536, max(4, 2 ** round(math.log2(root))))
    out = {"n_centroids": n_centroids}
    if dim is not None:
        m = 1
        while m * 2 <= min(16, dim // 4) and dim % (m * 2) == 0:
            m *= 2
        out["m_subvectors"] = m
    return out


def _fit_model(
    corpus: DataFrame,
    *,
    pq: bool = False,
    n_centroids: int = 32,
    kmeans_iters: int = 8,
    m_subvectors: int = 8,
    n_codes: int = 16,
    train_sample: int = 512,
    fit_sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[int, dict[int, list[float]], list[list[list[float]]] | None]:
    """Fit the coarse quantizer (+ PQ codebooks) on bounded deterministic
    samples of ``corpus`` — shared by :func:`write_ivf_index` and the
    streaming cold-start (which must ADMIT the first batch against the
    freshly fitted model before any postings exist). Returns
    (dim, centroids, codebooks|None); deterministic for a given corpus,
    so fit-then-write equals write's own fit."""
    dim = len(corpus.select(vec_col).first()[0])
    if pq:
        cents, books = _pq_fit(
            corpus, n_centroids, kmeans_iters, m_subvectors, n_codes,
            train_sample, id_col, vec_col, fit_sample=fit_sample,
        )
    else:
        cents = _ivf_centroids(
            corpus, n_centroids, kmeans_iters, id_col, vec_col,
            fit_sample=fit_sample,
        )
        books = None
    return dim, cents, books


def _params_dict(
    dim: int, *, pq: bool = False, n_centroids: int = 32, m_subvectors: int = 8,
    n_codes: int = 16, id_col: str = "vec_id", vec_col: str = "embedding", **_,
) -> dict:
    """The params row; defaults and extra kwargs as :func:`write_ivf_index`."""
    return {
        "version": _VERSION,
        "pq": pq,
        "n_centroids": n_centroids,
        "dim": dim,
        "m_subvectors": m_subvectors if pq else 0,
        "n_codes": n_codes if pq else 0,
        "id_col": id_col,
        "vec_col": vec_col,
    }


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    *,
    pq: bool = False,
    n_centroids: int = 32,
    kmeans_iters: int = 8,
    m_subvectors: int = 8,
    n_codes: int = 16,
    train_sample: int = 512,
    fit_sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    postings_from: DataFrame | None = None,
    _fitted: tuple | None = None,
) -> IvfIndex:
    """Fit the quantizer (+ PQ codebooks), encode the corpus, and persist
    the index at ``path``. One full corpus scan for the encode+write; the
    fits collect bounded samples only. Returns the index re-read from
    disk, so searches on the returned object exercise the stored tables
    (partition-pruned scans), not the in-memory lineage.

    ``postings_from`` (r11): encode + store THESE rows instead of
    ``corpus`` while still fitting the model on ``corpus`` — the
    streaming cold-start's shape (the whole first batch trains the
    quantizer; only its ADMITTED survivors become postings).
    ``_fitted``: a (dim, centroids, codebooks) triple from
    :func:`_fit_model` to skip the (deterministic) refit.

    PQ stores also persist ``rerank`` — the original vectors partitioned
    by cell — so admission's exact-cosine verification scans only the
    probed cells (see the module docstring's storage layout). It is
    written before ``postings``, the table whose presence marks a
    complete store, so a crash between the two writes leaves a store
    that the ingest loop's cold start rebuilds."""
    spark = corpus.sparkSession
    dim, cents, books = _fitted if _fitted is not None else _fit_model(
        corpus, pq=pq, n_centroids=n_centroids, kmeans_iters=kmeans_iters,
        m_subvectors=m_subvectors, n_codes=n_codes, train_sample=train_sample,
        fit_sample=fit_sample, id_col=id_col, vec_col=vec_col,
    )

    params = _params_dict(
        dim, pq=pq, n_centroids=n_centroids, m_subvectors=m_subvectors,
        n_codes=n_codes, id_col=id_col, vec_col=vec_col,
    )
    store.write_table(spark, path, "params", [params])
    store.write_table(
        spark, path, "centroids", [(c, v) for c, v in sorted(cents.items())],
        "cell int, centroid array<double>",
    )
    if pq:
        rows = [
            (mi, ci, vec)
            for mi, book in enumerate(books)
            for ci, vec in enumerate(book)
        ]
        store.write_table(
            spark, path, "codebooks", rows, "m int, code int, vec array<double>"
        )

    # encode + write postings, one file per cell for probe-time pruning.
    # explicit spread first: assignment/encoding is CPU-dense on byte-light
    # rows (see the ivf_pq_topk stage-audit note) — a single-file scan
    # would otherwise serialize the whole encode; it runs map-side of the
    # cell shuffle in _write_cells
    src = postings_from if postings_from is not None else corpus
    spread = src.repartition(
        spark.sparkContext.defaultParallelism, id_col
    )
    if pq:
        # two consumers (rerank write, codes write): persist the
        # CELL-ASSIGNED frame so the source is scanned and the CPU-dense
        # n_centroids·dim argmax runs ONCE per row
        flat = _postings_flat(spread, cents, id_col, vec_col).persist()
        try:
            _write_cells(flat, os.path.join(path, "rerank"), "overwrite")
            _write_cells(
                _pq_encode(
                    flat, cents, books, m_subvectors, "vec_id", "embedding",
                    id_alias="vec_id", cell_col="cell",
                ),
                os.path.join(path, "postings"), "overwrite",
            )
        finally:
            flat.unpersist()
    else:
        _write_cells(
            _postings_flat(spread, cents, id_col, vec_col),
            os.path.join(path, "postings"), "overwrite",
        )
    return read_ivf_index(spark, path)


def _read_model(spark: SparkSession, path: str) -> dict:
    """The frozen model tables (params, centroids, codebooks), collected
    to the driver: the part of :func:`read_ivf_index` an ingest loop reads
    once. The one check that a PQ store has its ``rerank`` table: without
    it admission and probe rerank have no original vectors, so the store
    is refused (ValueError) rather than half-read."""
    params = store.read_params(spark, path, _VERSION)
    if params["pq"] and not fs_exists(spark, os.path.join(path, "rerank")):
        raise ValueError(
            f"PQ store at {path} has no rerank table (the original vectors "
            "its admission and probe rerank verify against); rebuild it "
            "with write_ivf_index from the original vectors"
        )
    cents = {
        int(r["cell"]): [float(v) for v in r["centroid"]]
        for r in spark.read.parquet(os.path.join(path, "centroids")).collect()
    }
    books = None
    if params["pq"]:
        brows = spark.read.parquet(os.path.join(path, "codebooks")).collect()
        m = int(params["m_subvectors"])
        n_codes = int(params["n_codes"])
        books = [[None] * n_codes for _ in range(m)]
        for r in brows:
            books[int(r["m"])][int(r["code"])] = [float(v) for v in r["vec"]]
    return {"params": params, "centroids": cents, "codebooks": books}


def _open_index(spark: SparkSession, path: str, model: dict) -> IvfIndex:
    """The frozen ``model`` over fresh lazy scans of the GROWING tables
    (postings + PQ rerank) — the part of :func:`read_ivf_index` an ingest
    loop re-runs per batch, so appends and compactions are visible."""
    params = model["params"]
    postings = spark.read.parquet(os.path.join(path, "postings")).withColumn(
        "cell", F.col("cell").cast("int")
    )
    rerank = None
    if params["pq"]:
        # presented under the caller's column names (id_col, vec_col)
        # + cell, so it plugs into every rerank= consumer unchanged
        rerank = spark.read.parquet(os.path.join(path, "rerank")).select(
            F.col("vec_id").alias(params["id_col"]),
            F.col("embedding").alias(params["vec_col"]),
            F.col("cell").cast("int").alias("cell"),
        )
    return IvfIndex(
        params, model["centroids"], model["codebooks"], postings, rerank
    )


def read_ivf_index(spark: SparkSession, path: str) -> IvfIndex:
    """Load an index written by :func:`write_ivf_index`: the model tables
    (KB-sized) are collected to the driver; postings stay a lazy
    cell-partitioned parquet scan."""
    return _open_index(spark, path, _read_model(spark, path))


def ivf_index_add(
    spark: SparkSession,
    path: str,
    new_vectors: DataFrame,
    dedupe_ids: bool = True,
) -> int:
    """Incremental add: assign + encode ONLY the delta against the stored
    model and append to the postings table — the quantizer and codebooks
    are immutable (the FAISS `add` contract: codebook drift would silently
    invalidate every previously stored code). ``dedupe_ids`` and the
    returned count follow the idempotent-append contract of
    :mod:`magiceye_spark.llmops.store`. PQ stores REJECT
    ``dedupe_ids=False`` (ValueError): the rerank-originals append is
    anti-joined on id (one original per vec_id by definition), so
    un-deduped postings would break the lockstep invariant
    rerank.count() == postings.count().

    Because encoding is a pure function of the stored model, add-then-probe
    equals rebuild-then-probe whenever the rebuild would fit the same model
    — e.g. when the original corpus already contained the fit sample
    (pinned in tests/test_r7_ops.py)."""
    idx = read_ivf_index(spark, path)
    return _append_vectors(idx, path, new_vectors, dedupe_ids=dedupe_ids)


def _append_vectors(
    idx: IvfIndex, path: str, new_vectors: DataFrame, dedupe_ids: bool = True
) -> int:
    """Encode + append a delta against an ALREADY-READ index — the
    mutation core of :func:`ivf_index_add`, which the streaming loop
    calls with the index it admitted against."""
    from pyspark.sql import Observation

    if idx.pq and not dedupe_ids:
        raise ValueError(
            "dedupe_ids=False is not supported for PQ stores: the "
            "in-store rerank table is one-row-per-id and must stay "
            "row-for-row with the postings"
        )
    # bounded deltas (every ingest micro-batch) are assigned driver-side
    flat = _cell_sides(
        new_vectors, idx.centroids, 1, idx.params["id_col"], idx.params["vec_col"]
    ).assigned
    # dedupe BEFORE encoding: rejected re-ingests shouldn't pay the PQ
    # argmin, and the same survivor frame feeds both PQ writes below
    if dedupe_ids:
        flat = flat.join(idx.postings.select("vec_id"), "vec_id", "left_anti")
    if idx.pq:
        # two consumers (codes append + rerank-originals append): barrier
        # the delta so the cell assignment/anti-join runs once
        flat = flat.persist()
        delta = _pq_encode(
            flat, idx.centroids, idx.codebooks, int(idx.params["m_subvectors"]),
            "vec_id", "embedding", id_alias="vec_id", cell_col="cell",
        )
    else:
        delta = flat
    try:
        if idx.pq:
            # keep the store's cell-partitioned originals in lockstep with
            # the codes — admission's rerank scan prunes to probed cells
            # only because every stored id's original lives under its cell.
            # This append runs BEFORE the postings append, so the rerank
            # ids cover the postings ids at every crash point (admission
            # needs an original for every stored candidate); and appending
            # to the postings refreshes that path's file-listing cache, so
            # a later re-evaluation of `flat` (anti-joined against the
            # postings) would see its own batch as already stored and
            # append nothing.
            # The anti-join here is against the RERANK ids, making a
            # crash-replay of the window between the two appends a no-op
            # for this table too.
            _write_cells(
                flat.join(
                    idx.rerank.select(
                        F.col(idx.params["id_col"]).alias("vec_id")
                    ),
                    "vec_id",
                    "left_anti",
                ),
                os.path.join(path, "rerank"), "append",
            )
        obs = Observation()
        _write_cells(delta, os.path.join(path, "postings"), "append", obs)
        return int(obs.get["n"])
    finally:
        if idx.pq:
            flat.unpersist()


def ivf_index_compact(spark: SparkSession, path: str) -> tuple[int, int]:
    """Rewrite the postings table in place, coalescing the small files
    that :func:`ivf_index_add` appends accumulate: every add writes one
    file per touched cell directory, so after k adds a probe of one cell
    opens up to k files. The rewrite (:func:`store.compact_table`) leaves
    one file per cell; the PQ ``rerank`` table, appended in lockstep with
    the codes, is compacted the same way. Returns (files_before,
    files_after); row content is untouched (pinned in tests)."""
    tables = ["postings"] + (
        ["rerank"] if fs_exists(spark, os.path.join(path, "rerank")) else []
    )
    counts = [
        store.compact_table(
            spark, path, t, lambda rows, tmp, _: _write_cells(rows, tmp, "overwrite")
        )
        for t in tables
    ]
    return sum(b for b, _ in counts), sum(a for _, a in counts)


def ivf_index_stats(index: IvfIndex) -> DataFrame:
    """Index-health summary — the number an operator checks before
    trusting probe latency: one row with (n_cells_used, n_cells_total,
    n_vectors, min/max/avg posting count, imbalance = max/avg). A high
    imbalance means some Voronoi cell ate the corpus (degenerate
    centroids, embedding collapse): probes hitting that cell scan far
    more than n_probe/n_centroids of the data, and the fix is refitting
    with more centroids or inspecting the embedding space — exactly the
    FAISS `imbalance_factor` diagnostic. One groupBy over the postings
    scan, output is a single row."""
    n_total = int(index.params["n_centroids"])
    per_cell = index.postings.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
    return per_cell.agg(
        F.count(F.lit(1)).cast("int").alias("n_cells_used"),
        F.lit(n_total).alias("n_cells_total"),
        F.sum("n").cast("bigint").alias("n_vectors"),
        F.min("n").cast("bigint").alias("min_postings"),
        F.max("n").cast("bigint").alias("max_postings"),
        F.round(F.avg("n"), 2).alias("avg_postings"),
        F.round(F.max("n") / F.avg("n"), 4).alias("imbalance"),
    )


def ivf_index_topk(
    index: IvfIndex, queries: DataFrame, k: int = 10, n_probe: int = 8
) -> DataFrame:
    """Top-k probe of a stored FLAT index: partition-pruned postings scan
    (only the probed cells' directories are read) + the same probe join /
    windowed rerank as :func:`simsearch.ivf_topk` — literally the same
    code (`_ivf_probe`), so stored-vs-fit equivalence is structural."""
    if index.pq:
        raise ValueError("PQ index: use ivf_pq_index_topk (rerank needs vectors)")
    sides = _cell_sides(
        queries, index.centroids, n_probe,
        index.params["id_col"], index.params["vec_col"],
    )
    assigned = index.postings.where(F.col("cell").isin(sides.cells)).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        "cell",
    )
    return _ivf_probe(assigned, sides.probes, k)


def ivf_pq_index_topk(
    index: IvfIndex,
    queries: DataFrame,
    corpus: DataFrame | None = None,
    k: int = 10,
    n_probe: int = 8,
    rerank: int | None = None,
) -> DataFrame:
    """Top-k probe of a stored PQ index: partition-pruned scan of the
    8-bytes-per-vector code table for the ADC stage, then exact rerank of
    the finalists from original vectors. ``corpus`` may be any
    full-vector source covering the stored ids (the lake table the index
    was built from); ``None`` uses the store's own cell-partitioned
    ``rerank`` table, pruned to the probed cells — the finalists all come
    from probed cells, so the rerank scan reads n_probe/n_centroids of
    the originals instead of the whole corpus."""
    if not index.pq:
        raise ValueError("flat index: use ivf_index_topk")
    rerank = rerank if rerank is not None else 10 * k
    id_col, vec_col = index.params["id_col"], index.params["vec_col"]
    m = int(index.params["m_subvectors"])
    q = _pq_query_side(
        queries, index.centroids, index.codebooks, m, n_probe, id_col, vec_col
    )
    cells = q.cells
    if corpus is None:
        corpus = index.rerank.where(F.col("cell").isin(cells)).select(
            id_col, vec_col
        )
    enc = index.postings.where(F.col("cell").isin(cells)).select(
        F.col("vec_id").alias("neighbor_id"), "cell", "codes"
    )
    return _pq_search(
        enc, corpus, queries, q.probes, m, k, rerank, id_col, vec_col
    )


# ---------------------------------------------- delta admission + ingest


def delta_ann_pairs_from_index(
    index: IvfIndex,
    new_vectors: DataFrame,
    threshold: float,
    n_probe: int = 8,
    salts: int = 4,
    rerank: DataFrame | None = None,
) -> DataFrame:
    """Cosine near-dup pairs TOUCHING the batch (batch×stored and
    batch×batch) against a stored index — the one-sided
    delta-vs-union candidate shape of the sibling stores, in the
    embedding modality: the batch probes its ``n_probe`` nearest cells of
    the union (partition-pruned stored postings ∪ the cell-assigned
    batch), every candidate edge has a batch endpoint by construction,
    and no stored×stored pair is ever generated. ALL edges at
    ``cosine >= threshold`` are kept — no top-k truncation, because
    admission needs the component's full delta-touching edge set, not
    each vector's best neighbors.

    Candidate approximation (why this family has no SQL oracle): a pair
    is seen iff one endpoint's assigned cell is among the other's probed
    cells — exact when ``n_probe = n_centroids`` (the exhaustive mode the
    invariants tests pin against brute-force cosine), SemDeDup-style
    cell-scoped otherwise. Hot Voronoi cells spread over ``salts`` join
    groups (the bitext salting shape: the union side picks ONE salt per
    row, probes explode all of them — each pair meets exactly once per
    probed cell).

    ``rerank`` — exact-cosine verification source for PQ indexes. PQ
    postings hold codes, not vectors, so admission (which must verify
    EXACT cosine — ADC distances drift with quantization error) reranks
    candidates against the ORIGINAL vectors. ``None`` uses the store's
    own cell-partitioned ``rerank`` table, statically pruned to the
    probed cells with the same literal ``isin(cells)`` the postings get,
    so per-batch rerank work is proportional to the probed slice. A
    frame of (id_col, vec_col) covering every stored vec_id (e.g. the
    lake corpus the index was built from) is also accepted; a ``cell``
    column it carries is dropped, not used to prune (unrelated values
    would silently over-prune stored ids). Either way the pruned
    postings contribute only (vec_id, cell), and the rerank join
    recovers embeddings for just the probed cells' ids. A stored
    candidate missing from ``rerank`` raises inside the plan (a silently
    dropped edge would admit a duplicate).
    Because :func:`simsearch._pq_fit` derives its coarse quantizer from
    the same :func:`simsearch._ivf_centroids` fit, a PQ index probes the
    SAME cells as its flat twin — so PQ-with-rerank admission equals the
    flat path bit-for-bit at any n_probe (pinned in tests/test_r10_ops.py).
    Flat indexes ignore ``rerank``: their postings already hold exact
    vectors.

    Output (doc_a, doc_b, cosine_sim) with doc_a < doc_b, cosine rounded
    at 6 (the repo's dot-product discipline)."""
    from magiceye_spark.llmops.simsearch import cosine

    id_col, vec_col = index.params["id_col"], index.params["vec_col"]
    # the batch's assigned (union) side, probe side and probed-cells
    # literal, driver-side when the batch is bounded
    sides = _cell_sides(new_vectors, index.centroids, n_probe, id_col, vec_col)
    cells = sides.cells
    if index.pq:
        # cell scoping from the compact PQ postings; vectors from rerank.
        # The when/otherwise keeps the raise_error expression REFERENCED
        # (a bare assert_true column would be pruned away by Catalyst).
        if rerank is None:
            rr = index.rerank.where(F.col("cell").isin(cells))
        else:
            rr = rerank.drop("cell")  # an unrelated `cell` must not prune
        stored = (
            index.postings.where(F.col("cell").isin(cells))
            .select("vec_id", "cell")
            .join(
                rr.select(
                    F.col(id_col).alias("vec_id"),
                    F.col(vec_col).alias("_rr_vec"),
                ),
                "vec_id",
                "left",
            )
            .select(
                "vec_id",
                F.when(
                    F.col("_rr_vec").isNull(),
                    F.raise_error(
                        F.concat(
                            F.lit("rerank corpus missing stored vec_id "),
                            F.col("vec_id").cast("string"),
                        )
                    ),
                )
                .otherwise(F.col("_rr_vec"))
                .alias("embedding"),
                "cell",
            )
        )
    else:
        stored = index.postings.where(F.col("cell").isin(cells)).select(
            "vec_id", "embedding", "cell"
        )
    probes = sides.probes.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(salts - 1)))
    )

    # The stored and batch union sides are joined SEPARATELY and unioned at
    # the EDGE level, not unioned as relations first: a relation-level
    # union makes Catalyst push the stored scan's Dynamic-Partition-Pruning
    # predicate into the batch branch too, where the DPP subquery (built
    # from the probes' cell-assignment expression) fails to materialize
    # under AQE on Spark 4.1 ("dynamicpruning#N has not finished" —
    # reproduced r9). Joining the partitioned scan directly is DPP's
    # supported shape (and the scan is already statically pruned by the
    # literal isin(cells) above); the batch side has no partitioned scan,
    # so no subquery is ever attached to it.
    def side(df: DataFrame) -> DataFrame:
        return df.select(
            F.col("vec_id").alias("u_id"),
            F.col("embedding").alias("u_vec"),
            "cell",
            F.pmod(F.xxhash64("vec_id"), F.lit(salts)).cast("int").alias("salt"),
        )

    cos = F.round(cosine(F.col("q_vec"), F.col("u_vec")), 6)

    def edges(u_side: DataFrame) -> DataFrame:
        return (
            probes.join(u_side, ["cell", "salt"])
            .where(F.col("q_id") != F.col("u_id"))
            .select(
                F.least("q_id", "u_id").alias("doc_a"),
                F.greatest("q_id", "u_id").alias("doc_b"),
                cos.alias("cosine_sim"),
            )
            .where(F.col("cosine_sim") >= threshold)
        )

    return (
        edges(side(stored))
        .unionByName(edges(side(sides.assigned)))
        .dropDuplicates(["doc_a", "doc_b"])
    )


def delta_ann_admit_indexed(
    index: IvfIndex,
    new_vectors: DataFrame,
    threshold: float = 0.95,
    n_probe: int = 8,
    salts: int = 4,
    rerank: DataFrame | None = None,
) -> DataFrame:
    """Delta-ingest admission against the stored index, closure
    semantics identical to the MinHash and Hamming stores: an incoming
    vector is admitted iff its cosine-near-dup component over the union
    graph contains no stored vector AND it is the minimum-id incoming
    member — the verdict rule is applied in ONE place
    (:func:`store.admit`), shared across the triad, so the three
    modalities' admission semantics cannot drift. PQ
    indexes verify exact cosine from original vectors — ``rerank``
    defaults to the store's own cell-partitioned table (see
    :func:`delta_ann_pairs_from_index`); flat indexes ignore it. Returns
    the admitted rows of ``new_vectors`` with the caller's columns."""
    pairs = delta_ann_pairs_from_index(
        index, new_vectors, threshold, n_probe, salts, rerank=rerank
    )
    return store.admit(
        new_vectors,
        pairs.select("doc_a", "doc_b"),
        index.postings.select(F.col("vec_id").alias("doc_id")),
        index.params["id_col"],
    )


def streaming_ann_ingest(
    spark: SparkSession,
    path: str,
    stream: DataFrame,
    checkpoint: str,
    *,
    threshold: float = 0.95,
    n_probe: int = 8,
    output_path: str | None = None,
    compact_every: int | None = None,
    trigger: dict | None = None,
    bootstrap: dict | None = None,
):
    """The CONTINUOUS embedding-ingest loop over a stored IVF(-PQ) index —
    completing the store triad's streaming surface (text:
    :func:`sigstore.streaming_dedup_ingest`; image bits:
    :func:`hamstore.streaming_hamming_ingest`): every micro-batch is
    admitted against the index (:func:`delta_ann_admit_indexed` — one
    probe-shaped candidate join, no stream-stream join, no operator
    state) and the admitted vectors are encoded against the FROZEN stored
    model and appended, so batch N+1 deduplicates against everything
    batch N admitted. The store is the state.

    **Cold start** (``bootstrap``): when no index exists at ``path``
    (params or postings missing — the params-only state a crash
    mid-write leaves behind re-enters here and is idempotent, every
    bootstrap write is mode=overwrite), the FIRST micro-batch is its own
    quantizer sample — :func:`_fit_model` fits on the WHOLE batch — and
    the batch is then admitted through the NORMAL rule against the
    still-empty store (batch×batch edges only → one min-id survivor per
    intra-batch near-dup component), matching the sigstore/hamstore
    bootstrap-from-empty semantics; only the ADMITTED survivors become
    postings. ``bootstrap`` carries the :func:`write_ivf_index` kwargs
    (``pq``, ``n_centroids``, ...); ``None`` makes a missing store
    raise, for callers who want a deliberate build step. The model is
    whatever the first batch taught it — the quantizer is NEVER re-fit
    (the FAISS add contract: codebook drift invalidates stored codes),
    so if the stream's distribution drifts the cells skew (watch
    :func:`ivf_index_stats`'s imbalance) and the remedy is an offline
    rebuild.

    **PQ stores**: admission reranks candidates' exact cosine from the
    store's cell-partitioned ``rerank`` originals, pruned to the probed
    cells like the postings. Every build and append writes ``rerank``
    before ``postings``, so every stored candidate — a replayed batch's
    own rows included — has its original in the table at any crash
    point, and a crash between the cold start's two writes leaves no
    ``postings``, so the next run cold-starts again. A PQ store without
    a ``rerank`` table fails the first batch (:func:`_read_model`).

    The model tables (params, centroids, codebooks) are the frozen
    model, read once per query; the postings and rerank scans are
    re-opened per batch. The store is looked for only until the model is
    read, so a store removed under a running query fails the next batch.
    Replay safety, ``compact_every`` (:func:`ivf_index_compact`) and
    ``trigger`` follow :mod:`.store`.
    Returns the started StreamingQuery."""

    def _bootstrap(batch_df: DataFrame, batch_id: int) -> bool:
        if fs_exists(spark, os.path.join(path, "params")) and fs_exists(
            spark, os.path.join(path, "postings")
        ):
            return False
        if bootstrap is None:
            raise FileNotFoundError(
                f"no IVF index at {path}; pass bootstrap= to let the "
                "first micro-batch fit the quantizer"
            )
        bs = dict(bootstrap)
        if "n_centroids" not in bs:
            # size the quantizer to the batch that trains it (n_centroids ∝ √n)
            bs.update(recommend_ivf_params(batch_df.count()))
        # fit on the WHOLE batch, then admit it against the empty store
        fitted = _fit_model(batch_df, **bs)
        dim, cents, books = fitted
        params = _params_dict(dim, **bs)
        kv = batch_df.select(params["id_col"], params["vec_col"])
        # the empty store: no postings (the pair generator reads only
        # vec_id, cell and, for flat stores, the embedding)
        idx0 = IvfIndex(
            params=params, centroids=cents, codebooks=books,
            postings=_postings_flat(
                kv.limit(0), cents, params["id_col"], params["vec_col"]
            ),
        )
        # a crash after the index write replays into the normal path,
        # where the batch's stored ids label as existing nodes
        store.admit_sink_append(
            delta_ann_admit_indexed(
                idx0, batch_df, threshold, n_probe,
                rerank=kv if params["pq"] else None,
            ),
            batch_id,
            output_path,
            lambda admitted: write_ivf_index(
                batch_df, path, postings_from=admitted, _fitted=fitted, **bs
            ),
        )
        return True

    return store.ingest_loop(
        stream, checkpoint,
        read_model=lambda: _read_model(spark, path),
        open_index=lambda model: _open_index(spark, path, model),
        admit_batch=lambda idx, batch_df, *_: delta_ann_admit_indexed(
            idx, batch_df, threshold, n_probe
        ),
        append=lambda idx, _, admitted: _append_vectors(idx, path, admitted),
        compact=lambda: ivf_index_compact(spark, path),
        bootstrap=_bootstrap,
        output_path=output_path, compact_every=compact_every, trigger=trigger,
    )
