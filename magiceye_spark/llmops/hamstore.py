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
store in BASELINE.md). It is the second banded-signature store of
:mod:`magiceye_spark.llmops.store`, which holds the storage lifecycle;
this module supplies the Hamming banding, verify and ``kind`` tag.

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

from pyspark.sql import DataFrame, SparkSession

from magiceye_spark.llmops import store
from magiceye_spark.llmops.dedup import (
    _banded_from_bits,
    _verify_hamming,
    hamming_band_near_dups,
)


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


_KIND = store.SignatureKind(
    version="hamming-v1",
    columns=("bits", "band0", "band1", "band2", "band3"),
    banded=lambda sigs, _: _banded_from_bits(sigs),
    payload=("hb", "hb_a", "hb_b"),
    bound=lambda p, mh: _check_max_hamming(mh if mh is not None else p["max_hamming"]),
    verify=_verify_hamming,
    count_col="n_items",
)

HammingIndex = store.SignatureIndex


def write_hamming_index(
    sigs: DataFrame, path: str, *, kind: str, max_hamming: int = 3
) -> HammingIndex:
    """Persist a signature frame ``(doc_id, bits, band0..band3)`` — the
    output of :func:`dedup.simhash_signatures` or
    :func:`multimodal.phash_signatures`. The store takes SIGNATURES, not
    raw content: the caller signs each batch, so the expensive pass
    (tokenization / image decode) happens exactly once per item ever."""
    params = {
        "version": _KIND.version,
        "kind": kind,
        "max_hamming": _check_max_hamming(max_hamming),
    }
    store.write_signatures(sigs, path, _KIND, params)
    return read_hamming_index(sigs.sparkSession, path, kind=kind)


def read_hamming_index(
    spark: SparkSession, path: str, kind: str | None = None
) -> HammingIndex:
    params = store.read_params(spark, path, _KIND.version)
    if kind is not None and params["kind"] != kind:
        raise ValueError(
            f"signature kind mismatch: store holds {params['kind']!r}, "
            f"caller expects {kind!r} — Hamming frames are shape-identical "
            "across modalities, so only this tag catches a text-store/"
            "image-batch mixup"
        )
    return store.open_signatures(spark, path, params)


def hamming_index_add(
    spark: SparkSession,
    path: str,
    new_sigs: DataFrame,
    *,
    kind: str,
    dedupe_ids: bool = True,
) -> int:
    """Append a signed batch, under the idempotent-append contract of
    :mod:`magiceye_spark.llmops.store` (``dedupe_ids`` anti-joins stored
    doc_ids; the count rides the write job).

    ``kind`` is keyword-REQUIRED on this MUTATION path (unlike read-side
    probing, where it is the caller's optional assertion): appending
    image signatures into a text store is shape-silent — frames are
    identical — and would corrupt every later pair/admission result, so
    the tag check must not be skippable by omission."""
    idx = read_hamming_index(spark, path, kind=kind)
    return store.append_signatures(idx, path, new_sigs, _KIND, dedupe_ids)


def hamming_index_compact(spark: SparkSession, path: str) -> tuple[int, int]:
    """Coalesce append-accumulated small files; rename-aside swap
    (:func:`store.compact_table`). Returns (files_before, files_after);
    rows untouched."""
    return store.compact_signatures(spark, path)


def hamming_pairs_from_index(
    index: HammingIndex, max_hamming: int | None = None
) -> DataFrame:
    """Near-dup pairs over the WHOLE store — identical output to
    :func:`dedup.hamming_band_near_dups` on fresh signatures (same bits,
    same banding, same verify) without re-signing anything."""
    return hamming_band_near_dups(
        index.signatures, _KIND.bound(index.params, max_hamming)
    )


def band_bucket_stats(
    index: HammingIndex, bucket_cap: int = 2000
) -> DataFrame:
    """Store-health diagnostic (:func:`store.band_bucket_stats`), the
    Hamming analogue of :func:`annindex.ivf_index_stats`. Output:
    (band_id, n_items, n_buckets, max_bucket, n_hot_buckets) — one
    groupBy over the banded store, four rows."""
    return store.band_bucket_stats(index, _KIND, bucket_cap)


def delta_pairs_from_hamming_index(
    index: HammingIndex, new_sigs: DataFrame, max_hamming: int | None = None
) -> DataFrame:
    """Near-dup pairs TOUCHING the delta (delta×stored and delta×delta) —
    the one-sided salted band join of :func:`store.delta_pairs`. Callers
    commonly pass a LAZILY-signed frame (SimHash over text / dHash over
    image bytes), so the batch is barriered first
    (:func:`store.delta_barrier`) and signed once per admission. Output
    (doc_a, doc_b, hamming) with doc_a < doc_b."""
    _KIND.bound(index.params, max_hamming)  # range-check before planning
    delta = store.delta_barrier(new_sigs, _KIND)
    return store.delta_pairs(index, delta, _KIND, max_hamming)


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
    image/crawl-modality twin of :func:`sigstore.streaming_dedup_ingest`
    (the store is the state): every micro-batch is signed once
    (``sign_fn``; the only pass that ever touches content), admitted
    against the store (:func:`delta_hamming_admit_indexed`), and the
    admitted signatures are APPENDED.

    ``sign_fn`` maps a batch DataFrame to the signature frame
    ``(doc_id, bits, band0..band3)``; defaults to
    :func:`dedup.simhash_signatures` (text). An image pipeline passes
    :func:`multimodal.phash_signatures` (with its media frame aliased to
    ``doc_id``). ``kind`` is keyword-required exactly as on
    :func:`hamming_index_add` — the loop mutates the store every batch,
    and a text-loop-over-image-store mixup is shape-silent; it is checked
    once, when the params are read.

    The sink receives the batch's own rows for the admitted ids. Each
    batch is admitted by :func:`delta_hamming_admit_indexed`'s rule over
    the persisted signatures, without its repartition barrier.
    Replay safety, ``compact_every`` (:func:`hamming_index_compact`) and
    ``trigger`` follow :mod:`.store`. Returns the started
    StreamingQuery."""
    from magiceye_spark.llmops.dedup import simhash_signatures

    sign = sign_fn if sign_fn is not None else simhash_signatures

    def read_model() -> dict:
        params = read_hamming_index(spark, path, kind=kind).params
        _KIND.bound(params, max_hamming)  # range-check once per query
        return params

    return store.ingest_loop(
        stream, checkpoint,
        read_model=read_model,
        open_index=lambda params: store.open_signatures(spark, path, params),
        sign=lambda _, batch: sign(batch),
        # the loop persists the signed batch, so no delta_barrier here
        admit_batch=lambda idx, _, sigs, __: store.admit(
            sigs,
            store.delta_pairs(idx, sigs, _KIND, max_hamming),
            idx.signatures.select("doc_id"),
        ),
        append=lambda idx, _, admitted: store.append_signatures(
            idx, path, admitted, _KIND
        ),
        sink_rows=lambda batch, admitted: batch.join(
            admitted.select("doc_id"), "doc_id", "left_semi"
        ),
        compact=lambda: hamming_index_compact(spark, path),
        output_path=output_path, compact_every=compact_every, trigger=trigger,
    )


def delta_hamming_admit_indexed(
    index: HammingIndex, new_sigs: DataFrame, max_hamming: int | None = None
) -> DataFrame:
    """Delta-ingest admission against the store, closure semantics
    identical to :func:`sigstore.delta_dedup_admit_indexed` (the verdict
    rule is applied once, by :func:`store.admit`): an incoming item is
    admitted iff its near-dup component over the union graph contains no
    stored item AND it is the minimum-id incoming member — decided
    entirely by delta-touching edges (stored×stored edges cannot change a
    delta verdict). Returns the admitted rows of ``new_sigs`` with the
    caller's columns."""
    pairs = delta_pairs_from_hamming_index(index, new_sigs, max_hamming)
    return store.admit(new_sigs, pairs, index.signatures.select("doc_id"))
