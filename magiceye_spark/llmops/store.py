"""Persistent-store core: the storage lifecycle shared by the three
near-duplicate stores — MinHash text sets (:mod:`.sigstore`), 64-bit
Hamming signatures (:mod:`.hamstore`) and IVF(-PQ) embeddings
(:mod:`.annindex`). Each store module supplies what is specific to its
modality (signing, banding or cell assignment, verification); every
lifecycle decision below is made here, once.

The lifecycle contract:

- **Frozen model and params tables.** ``params`` is one row written at
  build time; its ``version`` tag is checked on every read. It and the
  IVF model tables (centroids, codebooks) never change: appended items
  are signed or encoded with the stored model, so appends equal a
  rebuild. An ingest loop collects them once per query (an offline
  rebuild needs a stream restart) and re-opens only the growing tables
  per micro-batch, so appends and mid-stream compaction stay visible.
- **Idempotent append.** A delta is anti-joined against the stored ids
  before it is appended, so re-ingesting a batch is a no-op, not
  duplicated rows that multiply every later join on stored ids. Callers
  whose ids are new by construction may pass ``dedupe_ids=False`` and
  own that uniqueness. The count rides the write job (``Observation``).
- **Rename-aside compaction.** Appends accumulate small files, so scan
  task count (and listing pressure on a lake) grows with ingest history
  rather than data volume. Compaction rewrites a growing table into
  ``<table>_compact`` and promotes it with
  :func:`magiceye_spark.fsops.fs_swap_dirs` (every crash window leaves a
  complete copy at a known path). Rows are untouched.
- **Admission.** An incoming item is admitted iff its near-duplicate
  component over the delta-touching pair graph holds no stored item and
  it is the minimum-id incoming member. The rule is
  :func:`graph.indexed_admission_rejects`, applied once here for all
  three stores, followed by the anti-join of the batch. It is written
  once, in-plan, over labels from :func:`graph.connected_components`
  (driver-side union-find for per-batch graphs within its edge cap).
- **Overwrite sink on replay.** foreachBatch re-runs a batch after a
  crash before its checkpoint commits. Signing or encoding is a pure
  function of content and the frozen model, admission is deterministic
  given the store, and the append anti-joins stored ids, so a replayed
  batch (which may find its own rows already stored) appends nothing and
  keeps its verdicts. The admitted sink is written to
  ``output_path/ingest_batch=<id>`` with mode=overwrite, so the replay
  overwrites its own directory instead of duplicating it.

:func:`ingest_loop` is the foreachBatch skeleton of every store's
streaming ingest. ``compact_every`` compacts the store after every Nth
batch (None leaves cadence to an external maintenance job); it is safe
between batches because the growing scans are re-opened per batch.
``trigger`` holds the ``DataStreamWriter.trigger`` kwargs and defaults to
``{"availableNow": True}`` (drain what exists); pass
``{"processingTime": "1 minute"}`` for a live loop over a growing source.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from magiceye_spark.fsops import fs_count_files, fs_swap_dirs
from magiceye_spark.io import local_frame
from magiceye_spark.llmops.dedup import _salted_band_cands_one_sided
from magiceye_spark.llmops.graph import indexed_admission_rejects


# ------------------------------------------------------- params and tables

def write_table(
    spark: SparkSession, path: str, name: str, rows: list, schema=None
) -> None:
    """Write a KB-sized model table (the params row, IVF centroids and
    codebooks) as one file. Arrow LocalRelation, not plain
    createDataFrame: that path pays a ~6 s Python-worker launch per tiny
    write (io.local_frame docstring)."""
    local_frame(spark, rows, schema).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, name)
    )


def read_params(spark: SparkSession, path: str, version: str) -> dict:
    """The store's params row, after checking its version tag."""
    params = spark.read.parquet(os.path.join(path, "params")).first().asDict()
    if params["version"] != version:
        raise ValueError(f"unsupported index version {params['version']!r}")
    return params


def compact_table(
    spark: SparkSession, path: str, table: str, rewrite: Callable
) -> tuple[int, int]:
    """Stage ``rewrite(rows, staging_dir, files_before)`` beside the table,
    then swap it in rename-aside. Returns (files_before, files_after)."""
    live_dir = os.path.join(path, table)
    tmp_dir = os.path.join(path, f"{table}_compact")
    before = fs_count_files(spark, live_dir)
    rewrite(spark.read.parquet(live_dir), tmp_dir, before)
    fs_swap_dirs(spark, tmp_dir, live_dir)
    return before, fs_count_files(spark, live_dir)


def admit(
    new_rows: DataFrame, pairs: DataFrame, stored_ids: DataFrame, id_col="doc_id"
) -> DataFrame:
    """The rows of ``new_rows`` that survive admission: the shared verdict
    over delta-touching ``pairs`` (doc_a, doc_b) against ``stored_ids``
    (doc_id), then an anti-join on ``id_col``. Keeps the caller's
    columns."""
    rejected = indexed_admission_rejects(pairs, stored_ids)
    if id_col != "doc_id":
        rejected = rejected.select(F.col("doc_id").alias(id_col))
    return new_rows.join(rejected, id_col, "left_anti")


def admit_sink_append(
    admitted: DataFrame, batch_id: int, output_path: str | None, append: Callable,
    sink_rows: Callable = lambda admitted: admitted,
) -> None:
    """Persist the admitted frame for its two consumers, write the
    replay-safe sink (first: a crash between the two writes replays the
    batch and overwrites the sink), then append. The ``finally``
    releases the cache on every exit."""
    admitted = admitted.persist()
    try:
        if output_path is not None:
            sink_rows(admitted).write.mode("overwrite").parquet(
                os.path.join(output_path, f"ingest_batch={batch_id}")
            )
        append(admitted)
    finally:
        admitted.unpersist()


def ingest_loop(
    stream: DataFrame,
    checkpoint: str,
    *,
    read_model,
    open_index,
    admit_batch,
    append,
    compact,
    sign=None,
    sink_rows=lambda batch, admitted: admitted,
    bootstrap=None,
    output_path: str | None = None,
    compact_every: int | None = None,
    trigger: dict | None = None,
):
    """Start the foreachBatch ingest query of a store (contract in the
    module docstring). Per micro-batch:

    - ``read_model()`` → the frozen params/model dict, collected once per
      query; ``open_index(model)`` re-opens the growing tables over it.
    - ``sign(model, batch)``, when given, signs the batch once; the
      signed frame is persisted for every consumer.
    - ``admit_batch(index, batch, signed, batch_id)`` → the admitted
      rows, which go to the sink as ``sink_rows(batch, admitted)`` and
      to ``append(index, signed, admitted)``.
    - ``compact()`` runs after every ``compact_every``-th batch.

    ``bootstrap(batch, batch_id)``, tried first on each batch until the
    model is read, returns True when it consumed the batch (the store did
    not exist yet). After that no batch checks for the store again: a
    store removed under a running query fails the next batch.
    Returns the started StreamingQuery."""
    model: dict = {}

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        if not model:
            if bootstrap is not None and bootstrap(batch_df, batch_id):
                return
            model.update(read_model())
        idx = open_index(model)
        signed = sign(model, batch_df).persist() if sign is not None else None
        try:
            admit_sink_append(
                admit_batch(idx, batch_df, signed, batch_id),
                batch_id,
                output_path,
                lambda admitted: append(idx, signed, admitted),
                lambda admitted: sink_rows(batch_df, admitted),
            )
        finally:
            if signed is not None:
                signed.unpersist()
        if compact_every and (batch_id + 1) % compact_every == 0:
            compact()

    return (
        stream.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


# ------------------------------------------------ banded-signature stores

@dataclass(frozen=True)
class SignatureKind:
    """What one banded-signature store keeps and how it verifies: the
    stored ``columns`` beside doc_id, the map-side band explode
    ``banded(sigs, params)`` → (doc_id, payload, band_id, bucket), the
    verify ``payload`` column and its pair aliases, ``bound(params,
    override)`` (the verify threshold) and ``verify(cands, bound)``."""

    version: str
    columns: tuple[str, ...]
    banded: Callable
    payload: tuple[str, str, str]
    bound: Callable
    verify: Callable
    count_col: str  # the band_bucket_stats item-count column


@dataclass
class SignatureIndex:
    """A readable signature store: its params row and the signatures
    table (a lazy parquet scan when read from disk)."""

    params: dict
    signatures: DataFrame


def open_signatures(spark: SparkSession, path: str, params: dict) -> SignatureIndex:
    return SignatureIndex(
        params=params,
        signatures=spark.read.parquet(os.path.join(path, "signatures")),
    )


def write_signatures(sigs: DataFrame, path: str, kind: SignatureKind, params: dict):
    write_table(sigs.sparkSession, path, "params", [params])
    sigs.select("doc_id", *kind.columns).write.mode("overwrite").parquet(
        os.path.join(path, "signatures")
    )


def append_signatures(
    idx: SignatureIndex, path: str, sigs: DataFrame, kind: SignatureKind,
    dedupe_ids: bool = True,
) -> int:
    """Append a signed frame to an already-read store: the idempotence
    anti-join, then one Observation-counted append write."""
    delta = sigs.select("doc_id", *kind.columns)
    if dedupe_ids:
        delta = delta.join(idx.signatures.select("doc_id"), "doc_id", "left_anti")
    obs = Observation()
    delta.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("append").parquet(
        os.path.join(path, "signatures")
    )
    return int(obs.get["n"])


def compact_signatures(spark: SparkSession, path: str) -> tuple[int, int]:
    """Compact the signatures table: one staged rewrite hashed on doc_id
    into at most ``defaultParallelism`` files."""

    def rewrite(sigs: DataFrame, tmp_dir: str, before: int) -> None:
        n_out = max(1, min(spark.sparkContext.defaultParallelism, before))
        sigs.repartition(n_out, "doc_id").write.mode("overwrite").parquet(tmp_dir)

    return compact_table(spark, path, "signatures", rewrite)


def delta_barrier(sigs: DataFrame, kind: SignatureKind) -> DataFrame:
    """Repartition barrier on a lazily signed batch: the frame fans into
    three plan branches of :func:`delta_pairs`, and without the exchange
    each re-runs the signing (shingling + MinHash, SimHash, dHash) — the
    per-batch fixed cost the r8 store sweep measured. Behind it the
    branches share one ReusedExchange."""
    return sigs.select("doc_id", *kind.columns).repartition(
        sigs.sparkSession.sparkContext.defaultParallelism, "doc_id"
    )


def delta_pairs(
    index: SignatureIndex, delta: DataFrame, kind: SignatureKind, override=None
) -> DataFrame:
    """Near-dup pairs touching the signed ``delta`` (delta×stored and
    delta×delta): a one-sided salted band join of the delta against the
    union of the store and the delta
    (:func:`dedup._salted_band_cands_one_sided`). Every candidate has a
    delta member by construction and no stored×stored pair is generated,
    so per-batch candidate cost is linear in the delta at fixed store
    bucket occupancy. The stored side stays barrier-free: its banding is
    a map-side expression over stored columns, where two column-pruned
    scans beat shuffling bands×|store| rows per batch. Output is
    (doc_a, doc_b, <verify column>) with doc_a < doc_b."""
    bound = kind.bound(index.params, override)
    delta = delta.select("doc_id", *kind.columns)
    union_banded = kind.banded(index.signatures.unionByName(delta), index.params)
    delta_banded = kind.banded(delta, index.params)
    cands = _salted_band_cands_one_sided(delta_banded, union_banded, 2000, *kind.payload)
    return kind.verify(cands, bound)


def band_bucket_stats(
    index: SignatureIndex, kind: SignatureKind, bucket_cap: int = 2000
) -> DataFrame:
    """Per band, the bucket-occupancy distribution that sizes the
    hot-bucket salt guard: (band_id, <count_col>, n_buckets, max_bucket,
    n_hot_buckets), one row per band, over the candidate join's buckets.
    One near-constant corpus region (template farm, solid-color images)
    drops thousands of items into a single (band, bucket), and every
    batch then pays ceil(b/cap) salted tasks on it."""
    per = (
        kind.banded(index.signatures, index.params)
        .groupBy("band_id", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        per.groupBy("band_id")
        .agg(
            F.sum("n").cast("bigint").alias(kind.count_col),
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.max("n").cast("bigint").alias("max_bucket"),
            F.sum(F.when(F.col("n") > bucket_cap, 1).otherwise(0))
            .cast("bigint")
            .alias("n_hot_buckets"),
        )
        .orderBy("band_id")
    )

