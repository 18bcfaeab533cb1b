"""Persistent MinHash signature store: build-once / admit-many dedup.

The dedup twin of :mod:`magiceye_spark.llmops.annindex`: at 100 TB the
corpus's shingle sets and MinHash signatures are computed ONCE at ingest
and stored; every later batch is deduplicated against the store by
re-deriving band buckets from the STORED signatures (a map-side
expression over longs) instead of re-shingling petabytes of text. The
reference has no dedup surface (schema-diff CLI); this is part of the
§2.4 LLM-pipeline mandate's delta-ingest lifecycle —
``delta_dedup_admit`` covers the one-shot batch shape, this module the
repeated-ingest shape. It is one of the two banded-signature stores of
:mod:`magiceye_spark.llmops.store`, which holds the storage lifecycle
(params, idempotent append, compaction, admission, ingest loop); this
module supplies the MinHash signing, banding and Jaccard verify.

Storage layout under ``path`` (parquet):
- ``params``      one row: version, num_hashes, bands, shingle_n, threshold.
- ``signatures``  (doc_id, shingles array<long>, sig array<long>
                  [num_hashes]) — the only table; band buckets are
                  re-derived from ``sig`` on read (cheap map-side
                  xxhash64 over slices), so no banding layout decision
                  is baked into the store.

Store sizing (the honest 100 TB arithmetic): the ``sig`` column is
``num_hashes`` longs per doc (256 B at the default 32); ``shingles``
is one long per distinct shingle — ~8 bytes/token, roughly 1-2% of the
text bytes it replaces, and it is what lets candidate verification run
EXACT Jaccard without ever re-reading text (verifying from signatures
alone would change semantics to a collision-probability estimate).

Determinism: shingle hashes and the affine MinHash family are seed-fixed
xxhash64 expressions (:func:`dedup.minhash_signatures`), so pairs
computed from stored signatures are BIT-IDENTICAL to pairs computed
fresh from text — pinned in tests/test_r7_ops.py, alongside the
admission-parity pin (indexed delta admission ≡ from-scratch admission
over the union with the same LSH pair generator).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from magiceye_spark.llmops import store
from magiceye_spark.llmops.dedup import (
    _banded_from_sigs,
    _lsh_pairs_from_sigs,
    _verify_candidates,
    minhash_signatures,
)

_KIND = store.SignatureKind(
    version="minhash-v1",
    columns=("shingles", "sig"),
    banded=lambda sigs, p: _banded_from_sigs(
        sigs, int(p["num_hashes"]), int(p["bands"])
    ),
    payload=("shingles", "sh_a", "sh_b"),
    bound=lambda p, t: float(t if t is not None else p["threshold"]),
    verify=_verify_candidates,
    count_col="n_docs",
)

MinhashIndex = store.SignatureIndex


def _sign(docs: DataFrame, params: dict, text_col: str) -> DataFrame:
    return minhash_signatures(
        docs, int(params["num_hashes"]), int(params["shingle_n"]), text_col
    )


def write_minhash_index(
    docs: DataFrame,
    path: str,
    *,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.7,
    text_col: str = "text",
) -> MinhashIndex:
    """Shingle + sign the corpus once and persist. One corpus pass."""
    params = {
        "version": _KIND.version, "num_hashes": num_hashes, "bands": bands,
        "shingle_n": shingle_n, "threshold": float(threshold),
    }
    store.write_signatures(_sign(docs, params, text_col), path, _KIND, params)
    return read_minhash_index(docs.sparkSession, path)


def read_minhash_index(spark: SparkSession, path: str) -> MinhashIndex:
    return store.open_signatures(
        spark, path, store.read_params(spark, path, _KIND.version)
    )


def minhash_index_add(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    text_col: str = "text",
    dedupe_ids: bool = True,
) -> int:
    """Sign ONLY the delta with the stored parameters and append. The
    hash family is seed-fixed, so appended signatures are exactly what a
    full rebuild would produce for those docs (pinned in tests).

    ``dedupe_ids`` and the returned count follow the idempotent-append
    contract of :mod:`magiceye_spark.llmops.store`: the anti-join scans
    one pruned column of the store per ingest, and the count rides the
    write job."""
    idx = read_minhash_index(spark, path)
    return store.append_signatures(
        idx, path, _sign(new_docs, idx.params, text_col), _KIND, dedupe_ids
    )


def minhash_index_compact(spark: SparkSession, path: str) -> tuple[int, int]:
    """Coalesce the signature files that repeated :func:`minhash_index_add`
    appends accumulate: one staged rewrite hashed on doc_id, swapped in
    rename-aside (:func:`store.compact_table`). Returns
    (files_before, files_after); rows untouched (pinned in tests)."""
    return store.compact_signatures(spark, path)


def lsh_pairs_from_index(
    index: MinhashIndex, threshold: float | None = None
) -> DataFrame:
    """Near-dup pairs over the WHOLE store — identical output to
    :func:`dedup.minhash_lsh_pairs` on the original corpus (same
    signatures, same banding, same verify), without touching any text."""
    p = index.params
    return _lsh_pairs_from_sigs(
        index.signatures,
        int(p["num_hashes"]),
        int(p["bands"]),
        _KIND.bound(p, threshold),
    )


def band_bucket_stats(index: MinhashIndex, bucket_cap: int = 2000) -> DataFrame:
    """Store-health diagnostic (:func:`store.band_bucket_stats`; the
    siblings are :func:`hamstore.band_bucket_stats` and
    :func:`annindex.ivf_index_stats`). Buckets are the SAME
    xxhash64-over-signature-slices the candidate join uses; xxhash64 has
    no DuckDB twin, so this row is pytest-pinned rather than SQL-oracled
    (the Hamming sibling's band fold is SQL-expressible and hash-checked).
    Output: (band_id, n_docs, n_buckets, max_bucket, n_hot_buckets) —
    one groupBy over a column-pruned store scan, ``bands`` rows."""
    return store.band_bucket_stats(index, _KIND, bucket_cap)


def delta_pairs_from_index(
    index: MinhashIndex,
    new_docs: DataFrame,
    threshold: float | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs TOUCHING the delta: delta×stored and delta×delta —
    the edges admission needs (stored×stored edges cannot change a delta
    verdict: any path from an incoming doc into the existing corpus
    enters through an edge incident to an incoming doc, so
    has-existing-contact and min-incoming are decided by delta-touching
    edges alone — the reduction the parity test validates). Only the
    delta is shingled, once (:func:`store.delta_barrier`); the stored
    side contributes band buckets derived from its signatures
    (:func:`store.delta_pairs`).

    Output (doc_a, doc_b, jaccard) with doc_a < doc_b, like every pair
    generator."""
    delta = store.delta_barrier(_sign(new_docs, index.params, text_col), _KIND)
    return store.delta_pairs(index, delta, _KIND, threshold)


def delta_dedup_admit_indexed(
    index: MinhashIndex,
    new_docs: DataFrame,
    threshold: float | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Delta-ingest admission against the STORE: an incoming doc is
    admitted iff its near-dup component over the union graph contains no
    stored doc AND it is the minimum-id incoming member (singletons
    trivially qualify) — the closure semantics of
    :func:`graph.delta_dedup_admit`, fed by :func:`delta_pairs_from_index`
    edges. Returns the admitted rows of ``new_docs`` with the CALLER's
    columns — the module only requires (doc_id, <text_col>), so the
    projection must not assume any corpus schema beyond that. Only the
    batch is shingled; the closure runs over delta-touching edges only."""
    pairs = delta_pairs_from_index(index, new_docs, threshold, text_col)
    return store.admit(new_docs, pairs, index.signatures.select("doc_id"))


def streaming_dedup_ingest(
    spark: SparkSession,
    path: str,
    docs_stream: DataFrame,
    checkpoint: str,
    output_path: str | None = None,
    threshold: float | None = None,
    text_col: str = "text",
    compact_every: int | None = None,
    trigger: dict | None = None,
):
    """The CONTINUOUS ingest loop over the persistent store — the shape a
    100 TB crawl pipeline actually runs: every micro-batch is signed once,
    admitted against the store (:func:`delta_dedup_admit_indexed`'s
    one-sided band join, over the persisted signatures) and the admitted
    docs' signatures are APPENDED, so batch N+1 deduplicates against
    everything batch N admitted — cross-batch duplicates are rejected
    without any stream-stream join or unbounded operator state. The store
    IS the state, living in parquet rather than the state store: no
    watermark bounds it, restarts re-read it for free, and the same store
    serves batch jobs between streaming runs.

    The sink receives the admitted rows of the batch. Replay safety,
    ``compact_every`` (:func:`minhash_index_compact`) and ``trigger``
    follow :mod:`.store`. Returns the started
    StreamingQuery."""
    return store.ingest_loop(
        docs_stream, checkpoint,
        read_model=lambda: read_minhash_index(spark, path).params,
        open_index=lambda params: store.open_signatures(spark, path, params),
        sign=lambda params, batch: _sign(batch, params, text_col),
        admit_batch=lambda idx, batch, sigs, _: store.admit(
            batch,
            store.delta_pairs(idx, sigs, _KIND, threshold),
            idx.signatures.select("doc_id"),
        ),
        append=lambda idx, sigs, admitted: store.append_signatures(
            idx, path, sigs.join(admitted.select("doc_id"), "doc_id", "left_semi"),
            _KIND,
        ),
        compact=lambda: minhash_index_compact(spark, path),
        output_path=output_path, compact_every=compact_every, trigger=trigger,
    )
