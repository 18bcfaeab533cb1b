"""Persistent 64-bit Hamming signature store: build-once / admit-many
near-dup for the SimHash (text) and perceptual-dHash (image) families —
the third store in the lifecycle triad (MinHash text sets:
:mod:`~magiceye_spark.llmops.sigstore`; embeddings:
:mod:`~magiceye_spark.llmops.annindex`). The reference has no dedup
surface (schema-diff CLI — `/root/reference/src/action/check.rs`); this
is the §2.4 LLM-pipeline mandate's delta-ingest lifecycle for the
Hamming modality: at 100 TB the catalog's signatures (8 bytes of bits +
4 band shorts per item) are computed ONCE at ingest — only each new
batch ever pays the text pass / image decode — and every later batch is
deduplicated against the store with the one-sided salted band join
(candidate cost linear in the batch at fixed store bucket occupancy,
the same cost model measured flat at 100× store growth for the MinHash
store in BASELINE.md).

Storage layout under ``path`` (parquet):
- ``params``      one row: version, kind ('simhash' | 'phash' | ...),
                  max_hamming. ``kind`` guards against probing a text
                  store with image signatures — the frames are
                  shape-identical, so only the tag can catch the mixup.
- ``signatures``  (doc_id, bits array<int>[64], band0..band3) — exactly
                  the frame :func:`dedup.hamming_band_near_dups`
                  consumes, so stored == fresh is structural.

Determinism: SimHash bits are xxhash64 votes and dHash bits are exact
integer-rational comparisons (both seed-free pure functions of content),
and int arrays round-trip parquet exactly — so pairs computed from
stored signatures are BIT-identical to pairs computed fresh (pinned in
tests; the ``phash_indexed_pairs`` registry row runs the store against
the fresh path's DuckDB oracle).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from magiceye_spark.fsops import fs_count_files, fs_swap_dirs
from magiceye_spark.llmops.dedup import (
    _banded_from_bits,
    _salted_band_cands_one_sided,
    _verify_hamming,
    hamming_band_near_dups,
)

_VERSION = "hamming-v1"


def _check_max_hamming(mh: int) -> int:
    """The 4×16-bit banding is COMPLETE only for Hamming distance ≤ 3
    (pigeonhole: ≤3 differing bits leave at least one of 4 bands
    identical). A larger threshold would silently drop true pairs — the
    recall-destroying misconfiguration this guard exists to catch at
    write/probe time rather than in production recall numbers."""
    mh = int(mh)
    if not 0 <= mh <= 3:
        raise ValueError(
            f"max_hamming={mh} out of range: the 4-band/16-bit pigeonhole "
            "join is only lossless for 0 <= max_hamming <= 3 (a pair "
            "differing in 4+ bits can miss every band bucket)"
        )
    return mh


@dataclass
class HammingIndex:
    params: dict
    signatures: DataFrame  # lazy parquet scan when read from disk


def write_hamming_index(
    sigs: DataFrame, path: str, *, kind: str, max_hamming: int = 3
) -> HammingIndex:
    """Persist a signature frame ``(doc_id, bits, band0..band3)`` — the
    output of :func:`dedup.simhash_signatures` or
    :func:`multimodal.phash_signatures`. The store takes SIGNATURES, not
    raw content: the caller signs each batch, so the expensive pass
    (tokenization / image decode) happens exactly once per item ever."""
    spark = sigs.sparkSession
    params = {
        "version": _VERSION,
        "kind": kind,
        "max_hamming": _check_max_hamming(max_hamming),
    }
    from magiceye_spark.io import local_frame

    # Arrow LocalRelation, not plain createDataFrame (a ~6 s Python-worker
    # launch per tiny write otherwise — io.local_frame docstring)
    local_frame(spark, [params]).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "params")
    )
    sigs.select(
        "doc_id", "bits", "band0", "band1", "band2", "band3"
    ).write.mode("overwrite").parquet(os.path.join(path, "signatures"))
    return read_hamming_index(spark, path, kind=kind)


def read_hamming_index(
    spark: SparkSession, path: str, kind: str | None = None
) -> HammingIndex:
    params = spark.read.parquet(os.path.join(path, "params")).first().asDict()
    if params["version"] != _VERSION:
        raise ValueError(f"unsupported index version {params['version']!r}")
    if kind is not None and params["kind"] != kind:
        raise ValueError(
            f"signature kind mismatch: store holds {params['kind']!r}, "
            f"caller expects {kind!r} — Hamming frames are shape-identical "
            "across modalities, so only this tag catches a text-store/"
            "image-batch mixup"
        )
    return HammingIndex(
        params=params,
        signatures=spark.read.parquet(os.path.join(path, "signatures")),
    )


def hamming_index_add(
    spark: SparkSession,
    path: str,
    new_sigs: DataFrame,
    *,
    kind: str,
    dedupe_ids: bool = True,
) -> int:
    """Append a signed batch. Same contract as the sibling stores'
    ``*_index_add``: ``dedupe_ids`` anti-joins the batch against stored
    doc_ids (re-ingest is a no-op; pruned id-column store scan, skippable
    when ids are new by construction), and the returned count rides the
    write job via ``Observation`` — one pass over the batch.

    ``kind`` is keyword-REQUIRED on this MUTATION path (unlike read-side
    probing, where it is the caller's optional assertion): appending
    image signatures into a text store is shape-silent — frames are
    identical — and would corrupt every later pair/admission result, so
    the tag check must not be skippable by omission."""
    idx = read_hamming_index(spark, path, kind=kind)
    return _append_signatures(idx, path, new_sigs, dedupe_ids=dedupe_ids)


def _append_signatures(
    idx: HammingIndex, path: str, new_sigs: DataFrame, dedupe_ids: bool = True
) -> int:
    """Append a signed frame to an ALREADY-READ index — the mutation core
    of :func:`hamming_index_add`, split out so the streaming loop (which
    reads the index once per batch for admission) does not re-read the
    params table per append. The kind check happened at the caller's
    ``read_hamming_index``; semantics otherwise identical to the public
    add (same idempotence anti-join, same Observation-riding count)."""
    from pyspark.sql import Observation

    delta = new_sigs.select(
        "doc_id", "bits", "band0", "band1", "band2", "band3"
    )
    if dedupe_ids:
        delta = delta.join(idx.signatures.select("doc_id"), "doc_id", "left_anti")
    obs = Observation()
    delta.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("append").parquet(
        os.path.join(path, "signatures")
    )
    return int(obs.get["n"])


def hamming_index_compact(spark: SparkSession, path: str) -> tuple[int, int]:
    """Coalesce append-accumulated small files; rename-aside swap through
    the Hadoop FileSystem API (guarantees in :mod:`magiceye_spark.fsops`).
    Returns (files_before, files_after); rows untouched."""
    sig_dir = os.path.join(path, "signatures")
    tmp_dir = os.path.join(path, "signatures_compact")
    before = fs_count_files(spark, sig_dir)
    sigs = spark.read.parquet(sig_dir)
    n_out = max(1, min(spark.sparkContext.defaultParallelism, before))
    sigs.repartition(n_out, "doc_id").write.mode("overwrite").parquet(tmp_dir)
    fs_swap_dirs(spark, tmp_dir, sig_dir)
    return before, fs_count_files(spark, sig_dir)


def hamming_pairs_from_index(
    index: HammingIndex, max_hamming: int | None = None
) -> DataFrame:
    """Near-dup pairs over the WHOLE store — identical output to
    :func:`dedup.hamming_band_near_dups` on fresh signatures (same bits,
    same banding, same verify) without re-signing anything."""
    mh = _check_max_hamming(
        max_hamming if max_hamming is not None else index.params["max_hamming"]
    )
    return hamming_band_near_dups(index.signatures, mh)


def band_bucket_stats(
    index: HammingIndex, bucket_cap: int = 2000
) -> DataFrame:
    """Store-health diagnostic, the Hamming analogue of
    :func:`annindex.ivf_index_stats`: per band, the bucket-occupancy
    distribution that sizes the hot-bucket salt guard — an operator
    checks ``max_bucket``/``n_hot_buckets`` before trusting per-batch
    admission latency, because one near-constant corpus region (template
    farm, solid-color images) can drop thousands of items into a single
    (band, bucket) and every batch then pays ceil(b/cap) salted tasks on
    it. Output: (band_id, n_items, n_buckets, max_bucket, n_hot_buckets)
    — one groupBy over the banded store, four rows."""
    per = (
        _banded_from_bits(index.signatures)
        .groupBy("band_id", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        per.groupBy("band_id")
        .agg(
            F.sum("n").cast("bigint").alias("n_items"),
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.max("n").cast("bigint").alias("max_bucket"),
            F.sum(F.when(F.col("n") > bucket_cap, 1).otherwise(0))
            .cast("bigint")
            .alias("n_hot_buckets"),
        )
        .orderBy("band_id")
    )


def delta_pairs_from_hamming_index(
    index: HammingIndex, new_sigs: DataFrame, max_hamming: int | None = None
) -> DataFrame:
    """Near-dup pairs TOUCHING the delta (delta×stored and delta×delta) —
    the one-sided salted band join of
    :func:`dedup._salted_band_cands_one_sided`: candidates are generated
    delta-vs-union, never stored×stored, so per-batch cost is linear in
    the batch at fixed store bucket occupancy (the sigstore cost model;
    store-growth sweep in BASELINE.md). Output (doc_a, doc_b, hamming)
    with doc_a < doc_b."""
    mh = _check_max_hamming(
        max_hamming if max_hamming is not None else index.params["max_hamming"]
    )
    # Barrier the delta signatures before fanning them into the three plan
    # branches (union bucket-size agg, union join side, delta join side):
    # callers commonly pass a LAZILY-signed frame (SimHash over text /
    # dHash over image bytes), and without the exchange each branch pays
    # the signing again — the 16 s/batch fixed cost the r8 store sweep
    # measured. Behind it the branches share one ReusedExchange, so the
    # batch is signed once per admission (sigstore.delta_pairs_from_index
    # has the same barrier; the stored side stays barrier-free — its
    # banding is a map-side expression over stored bits).
    delta = new_sigs.select(
        "doc_id", "bits", "band0", "band1", "band2", "band3"
    ).repartition(new_sigs.sparkSession.sparkContext.defaultParallelism, "doc_id")
    union_banded = _banded_from_bits(index.signatures.unionByName(delta))
    delta_banded = _banded_from_bits(delta)
    cands = _salted_band_cands_one_sided(
        delta_banded, union_banded, 2000, "hb", "hb_a", "hb_b"
    )
    return _verify_hamming(cands, mh)


def streaming_hamming_ingest(
    spark: SparkSession,
    path: str,
    stream: DataFrame,
    checkpoint: str,
    *,
    kind: str,
    sign_fn=None,
    output_path: str | None = None,
    max_hamming: int | None = None,
    compact_every: int | None = None,
    trigger: dict | None = None,
):
    """The CONTINUOUS ingest loop over the persistent Hamming store — the
    image/crawl-modality twin of :func:`sigstore.streaming_dedup_ingest`,
    same store-is-the-state shape: every micro-batch is signed once
    (``sign_fn``; the only pass that ever touches content), admitted
    against the store (:func:`delta_hamming_admit_indexed`, one-sided
    salted band join), and the admitted signatures are APPENDED — so batch
    N+1 deduplicates against everything batch N admitted, with no
    stream-stream join, no watermark, and no unbounded operator state.

    ``sign_fn`` maps a batch DataFrame to the signature frame
    ``(doc_id, bits, band0..band3)``; defaults to
    :func:`dedup.simhash_signatures` (text). An image pipeline passes
    :func:`multimodal.phash_signatures` (with its media frame aliased to
    ``doc_id``). ``kind`` is keyword-required exactly as on
    :func:`hamming_index_add` — the loop mutates the store every batch,
    and a text-loop-over-image-store mixup is shape-silent.

    Replay safety mirrors the sigstore loop (foreachBatch reruns a batch
    after a crash before the checkpoint commits): signing is a seed-free
    pure function of content, :func:`hamming_index_add` anti-joins stored
    doc_ids (re-append is a no-op), and the admitted-docs sink writes
    ``output_path/ingest_batch=<id>`` with mode=overwrite — a replayed
    batch overwrites its own directory with the same verdicts (its own
    stored signatures can only anti-join its docs away in the add, and
    re-admission is a fixpoint — pinned in tests alongside batch-order
    independence).

    ``compact_every``: run :func:`hamming_index_compact` after every Nth
    batch — appends accumulate one file per batch and scan/listing cost
    grows with ingest history (the small-files lifecycle the r9 store
    sweep measured on the IVF probe); safe between batches because the
    growing signature scan is re-opened per batch and the swap is
    rename-aside. The params table is read once and frozen for the life
    of the query, so an offline rebuild of the store needs a stream
    restart. None leaves cadence to an external maintenance job.

    ``trigger`` defaults to ``{"availableNow": True}`` (drain-what-exists);
    pass ``{"processingTime": "1 minute"}`` for the live loop. Returns the
    started StreamingQuery."""
    from magiceye_spark.llmops.dedup import simhash_signatures

    sign = sign_fn if sign_fn is not None else simhash_signatures
    _params: dict = {}  # immutable params row, collected once per loop

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        # params (version/kind/max_hamming) are immutable for the life of
        # the store — collect + kind-check once per loop; only the growing
        # signatures scan re-opens per batch (appends/compaction visible)
        if not _params:
            _params.update(read_hamming_index(spark, path, kind=kind).params)
        idx = HammingIndex(
            params=_params,
            signatures=spark.read.parquet(os.path.join(path, "signatures")),
        )
        # persist the SIGNED batch, not the raw one: every downstream
        # consumer (admission plan, sink semi-join, store append) reads
        # signatures, and the signing is the expensive per-batch pass
        sigs = sign(batch_df).persist()
        try:
            admitted = delta_hamming_admit_indexed(
                idx, sigs, max_hamming
            ).persist()  # two consumers: the sink semi-join + the append
            try:
                if output_path is not None:
                    batch_df.join(
                        admitted.select("doc_id"), "doc_id", "left_semi"
                    ).write.mode("overwrite").parquet(
                        os.path.join(output_path, f"ingest_batch={batch_id}")
                    )
                # idx was read (and kind-checked) at the top of this batch;
                # append through the mutation core instead of re-reading
                # the params table per micro-batch
                _append_signatures(idx, path, admitted)
            finally:
                admitted.unpersist()
        finally:
            sigs.unpersist()
        if compact_every and (batch_id + 1) % compact_every == 0:
            hamming_index_compact(spark, path)

    return (
        stream.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def delta_hamming_admit_indexed(
    index: HammingIndex, new_sigs: DataFrame, max_hamming: int | None = None
) -> DataFrame:
    """Delta-ingest admission against the store, closure semantics
    identical to :func:`sigstore.delta_dedup_admit_indexed`: an incoming
    item is admitted iff its near-dup component over the union graph
    contains no stored item AND it is the minimum-id incoming member —
    decided entirely by delta-touching edges (stored×stored edges cannot
    change a delta verdict). Returns the admitted rows of ``new_sigs``
    with the caller's columns. The verdict rule lives in ONE place —
    :func:`graph.indexed_admission_rejects` — shared with the MinHash
    store, so the two stores' admission semantics cannot drift."""
    from magiceye_spark.llmops.graph import indexed_admission_rejects

    pairs = delta_pairs_from_hamming_index(index, new_sigs, max_hamming)
    rejected = indexed_admission_rejects(
        pairs, index.signatures.select("doc_id")
    )
    return new_sigs.join(rejected, "doc_id", "left_anti")
