"""The benchmark's workloads, built from parts. Each part drives the
program only through the public functions of its modules, makes its
inputs with :mod:`gen`, and checks every op's output with :mod:`check`.

- ``db_diff``: one op compares a base and a target database. It runs the
  ``schema_report`` part (read both catalog snapshots, diff, write the
  grouped JSON report) and then the ``table_datadiff`` part (row-level
  diff of a lineitem table, written to parquet).
- ``dedup_ingest``: one op is one micro-batch of the streaming text
  dedup loop (``doc_dedup_ingest`` part, MinHash store) plus one
  micro-batch of the streaming embedding dedup loop
  (``vector_dedup_ingest`` part, IVF-PQ store), each timed by its
  ``StreamingQueryProgress``.

A part's ``run`` runs its next untraced op (an ingest part: one
micro-batch); ``traced`` replays one op through the same public calls
with a span around each call into a layer. ``warm_ops`` is how many ops
the part runs on its own before the timed phase.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import check
import gen
from spans import Tracer, plan_rows


@dataclass
class Op:
    latency_s: float
    items: int
    problems: list = field(default_factory=list)
    #: latency of each part, for workloads made of several
    parts_s: list = field(default_factory=list)


def _parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)


# ------------------------------------------------------------ schema report


class SchemaReport:
    name = "schema_report"
    warm_ops = 3

    def __init__(self, spark, root: str, seed: int):
        self.spark, self.root, self.seed = spark, root, seed
        os.makedirs(root)

    def setup(self) -> dict:
        from magiceye_spark.snapshot import SchemaSnapshot
        from magiceye_spark.schema import (
            COLUMNS_SCHEMA, FKS_SCHEMA, INDEXES_SCHEMA, TABLES_SCHEMA,
        )

        pair = gen.catalog_pair(self.seed)
        self.expected = check.expected_report(pair.findings)
        self.paths = {}
        for side, cat in (("base", pair.base), ("target", pair.target)):
            dfs = [
                self.spark.createDataFrame(_pandas(rows, schema), schema)
                for rows, schema in (
                    (cat.tables, TABLES_SCHEMA), (cat.columns, COLUMNS_SCHEMA),
                    (cat.indexes, INDEXES_SCHEMA), (cat.fks, FKS_SCHEMA),
                )
            ]
            path = os.path.join(self.root, f"snapshot_{side}")
            SchemaSnapshot.from_dataframes(*dfs).write_parquet(path)
            self.paths[side] = path
        b = pair.base
        self.items = len(b.tables) + len(b.columns) + len(b.indexes) + len(b.fks)
        self.report_path = os.path.join(self.root, "report.json")
        return {"tables": len(b.tables), "columns": len(b.columns),
                "indexes": len(b.indexes), "fks": len(b.fks),
                "planted": pair.planted, "findings": len(pair.findings)}

    def run(self) -> Op:
        from magiceye_spark import diff_schemas, write_report
        from magiceye_spark.snapshot import SchemaSnapshot

        t = time.perf_counter()
        base = SchemaSnapshot.read_parquet(self.spark, self.paths["base"])
        target = SchemaSnapshot.read_parquet(self.spark, self.paths["target"])
        write_report(diff_schemas(base, target), self.report_path, "english")
        lat = time.perf_counter() - t
        return Op(lat, self.items, self._check())

    def _check(self) -> list:
        with open(self.report_path, encoding="utf-8") as fh:
            return check.check_report(json.load(fh), self.expected)

    def traced(self, tr: Tracer, i: int) -> Op:
        from magiceye_spark import diff_schemas, write_report
        from magiceye_spark.snapshot import SchemaSnapshot

        t = time.perf_counter()
        with tr.span("snapshot.read", i):
            base = SchemaSnapshot.read_parquet(self.spark, self.paths["base"])
            target = SchemaSnapshot.read_parquet(self.spark, self.paths["target"])
        with tr.span("diff.core", i) as c:
            findings = diff_schemas(base, target).persist()
            c["findings"] = findings.count()
        try:
            with tr.span("report.write", i) as c:
                doc = write_report(findings, self.report_path, "english")
                c["collect_rows"] = len(doc["report_table_list"])
            c["json_bytes"] = os.path.getsize(self.report_path)
        finally:
            findings.unpersist()
        return Op(time.perf_counter() - t, self.items, self._check())

    def layer_metrics(self, tr: Tracer) -> dict:
        reads, diffs, reps = tr.of("snapshot.read"), tr.of("diff.core"), tr.of("report.write")
        n = len(diffs)
        return {
            "snapshot.read_s": _med([tr.dur(s) for s in reads]),
            # the snapshot scans run inside the diff's jobs
            "snapshot.rows": sum(s["spark"]["input_records"] for s in diffs) / n,
            "diff.core.s": _med([tr.dur(s) for s in diffs]),
            "diff.core.findings": sum(s["counts"]["findings"] for s in diffs) / n,
            "diff.core.jobs": sum(s["spark"]["jobs"] for s in diffs) / n,
            "diff.core.tasks": sum(s["spark"]["tasks"] for s in diffs) / n,
            "diff.core.shuffle_bytes": sum(s["spark"]["shuffle_write_bytes"] for s in diffs) / n,
            "report.group_s": _med([s["spark"]["job_wall_s"] for s in reps]),
            "report.write_s": _med([tr.dur(s) for s in reps]),
            "report.collect_rows": sum(s["counts"]["collect_rows"] for s in reps) / n,
            "report.json_bytes": sum(s["counts"]["json_bytes"] for s in reps) / n,
        }


def _pandas(rows, schema):
    import pandas as pd

    return pd.DataFrame(list(rows), columns=[f.name for f in schema.fields])


# ----------------------------------------------------------- table datadiff


class TableDatadiff:
    name = "table_datadiff"
    warm_ops = 3

    def __init__(self, spark, root: str, seed: int):
        self.spark, self.root, self.seed = spark, root, seed
        os.makedirs(root)

    def setup(self) -> dict:
        pair = gen.lineitem_pair(self.seed)
        self.truth = pair.truth
        self.paths = {}
        for side, tab in (("base", pair.base), ("target", pair.target)):
            d = os.path.join(self.root, f"lineitem_{side}")
            os.makedirs(d)
            # four files a side, like a small partitioned table
            step = -(-tab.num_rows // 4)
            for k in range(4):
                pq.write_table(tab.slice(k * step, step), os.path.join(d, f"part-{k}.parquet"))
            self.paths[side] = d
        self.items = pair.base.num_rows + pair.target.num_rows
        self.out = os.path.join(self.root, "datadiff_out")
        return {"base_rows": pair.base.num_rows, "target_rows": pair.target.num_rows,
                "planted": pair.planted}

    def _diff(self):
        from magiceye_spark import datadiff

        base = self.spark.read.parquet(self.paths["base"])
        target = self.spark.read.parquet(self.paths["target"])
        # written the way `cli datadiff --out` writes it; never collected
        d = datadiff.diff_data(base, target, gen.LINEITEM_KEYS)
        d.write.mode("overwrite").parquet(self.out)

    def run(self) -> Op:
        t = time.perf_counter()
        self._diff()
        lat = time.perf_counter() - t
        return Op(lat, self.items, self._check())

    def _check(self) -> list:
        rows = pq.read_table(self.out).to_pylist()
        return check.check_datadiff(
            [(r["l_orderkey"], r["l_linenumber"], r["diff_status"], r["changed_columns"])
             for r in rows],
            self.truth,
        )

    def traced(self, tr: Tracer, i: int) -> Op:
        t = time.perf_counter()
        with tr.span("datadiff", i):
            self._diff()
        return Op(time.perf_counter() - t, self.items, self._check())

    def layer_metrics(self, tr: Tracer) -> dict:
        dd = tr.of("datadiff")
        n = len(dd)
        return {
            "datadiff.s": _med([tr.dur(s) for s in dd]),
            "datadiff.rows_out": sum(s["spark"]["output_records"] for s in dd) / n,
            "datadiff.shuffle_bytes": sum(s["spark"]["shuffle_write_bytes"] for s in dd) / n,
            "datadiff.tasks": sum(s["spark"]["tasks"] for s in dd) / n,
            "io.input_bytes": sum(s["spark"]["scan_bytes"] for s in dd) / n,
            "io.output_bytes": sum(s["spark"]["output_bytes"] for s in dd) / n,
        }


# ------------------------------------------------------------------ ingest


class _Ingest:
    """Shared ingest part. Batch files are staged during set-up; the
    store's streaming loop is started once, on an empty source directory,
    with a short processing-time trigger and one file per trigger. An op
    releases the next staged file into the source directory and waits
    until the loop has committed that micro-batch, so the client is a
    closed loop and batch ``k`` of the stream is staged batch ``k``."""

    TRIGGER = {"processingTime": "100 milliseconds"}
    warm_ops = 2
    POLL_S = 0.02
    id_col = ""

    def __init__(self, spark, root: str, seed: int):
        self.spark, self.root, self.seed = spark, root, seed
        os.makedirs(root)
        self.next_batch = 0
        self.query = None
        self.progress: list[dict] = []
        self.admitted_stream: dict[int, list] = {}

    def _stage(self, inp: gen.IngestInputs) -> None:
        self.inp = inp
        self.stage_dir = os.path.join(self.root, "staged")
        self.src = os.path.join(self.root, "src")
        self.sink = os.path.join(self.root, "admitted")
        self.ckpt = os.path.join(self.root, "ckpt")
        self.store = os.path.join(self.root, "store")
        os.makedirs(self.stage_dir)
        os.makedirs(self.src)
        for k, b in enumerate(inp.batches):
            pq.write_table(b, self._staged(k))
        self.schema = self.spark.read.parquet(self._staged(0)).schema

    def _staged(self, k: int) -> str:
        return os.path.join(self.stage_dir, f"batch-{k:04d}.parquet")

    def _stream(self):
        return (self.spark.readStream.schema(self.schema)
                .option("maxFilesPerTrigger", "1").parquet(self.src))

    def run(self) -> Op:
        """Release the next staged batch into the source directory, wait
        for its micro-batch to commit and check what it admitted."""
        k = self.next_batch
        if k >= len(self.inp.batches):
            raise RuntimeError("staged batches exhausted; stage more for this run length")
        if self.query is None:
            self.query = self._start(self._stream())
        os.rename(self._staged(k), os.path.join(self.src, f"batch-{k:04d}.parquet"))
        self.next_batch = k + 1
        p = self._wait(k)
        d = dict(p["durationMs"])
        self.progress.append(d)
        got = [r[self.id_col] for r in pq.read_table(
            os.path.join(self.sink, f"ingest_batch={k}"), columns=[self.id_col]
        ).to_pylist()]
        self.admitted_stream[k] = sorted(got)
        return Op(d["triggerExecution"] / 1000.0, p["numInputRows"], self._check(k, got))

    def _wait(self, k: int, timeout_s: float = 170.0) -> dict:
        """The progress report of micro-batch ``k``, once it is committed."""
        q = self.query
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            last = q.lastProgress
            if last is not None and last["batchId"] >= k:
                for p in reversed(q.recentProgress):
                    if p["batchId"] == k and p["numInputRows"] > 0:
                        return p
            if not q.isActive:
                raise RuntimeError(f"ingest stream stopped: {q.exception()}")
            time.sleep(self.POLL_S)
        raise TimeoutError(f"micro-batch {k} not committed within {timeout_s}s")

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None

    def _check(self, k: int, admitted: list) -> list:
        staged = self.inp.batches[k].column(self.id_col).to_pylist()
        return check.check_admission(admitted, staged, self.inp.admitted[k], self.inp.clones[k])

    def snapshot_store(self) -> None:
        """Copy the store as it stands now, for the traced replay."""
        self.replay_store = os.path.join(self.root, "store_replay")
        shutil.copytree(self.store, self.replay_store)
        self.replay_from = self.next_batch
        self.progress_from = len(self.progress)

    def traced(self, tr: Tracer, i: int) -> Op:
        k = self.replay_from + i
        batch = self.spark.read.parquet(os.path.join(self.src, f"batch-{k:04d}.parquet"))
        t = time.perf_counter()
        admitted = self._replay(tr, i, batch)
        lat = time.perf_counter() - t
        self.store_files = _parquet_files(self.replay_store)
        problems = self._check(k, admitted)
        if k in self.admitted_stream and sorted(admitted) != self.admitted_stream[k]:
            problems.append(f"batch {k}: replay admitted ids differ from the stream's")
        return Op(lat, self.inp.batches[k].num_rows, problems)

    def _rejects(self, tr: Tracer, i: int, pairs_rows: list, stored_ids) -> list:
        from magiceye_spark.llmops.graph import indexed_admission_rejects

        with tr.span("graph.rejects", i) as c:
            pairs = self.spark.createDataFrame(
                _pandas_pairs(pairs_rows), "doc_a long, doc_b long")
            rejected = [r[0] for r in indexed_admission_rejects(pairs, stored_ids).collect()]
            c["rejected"] = len(rejected)
        return rejected


#: the pruned scan of PQ postings: (vec_id, cell) only; the rerank scan
#: also reads the embedding
_POSTINGS_SCAN = re.compile(r"FileScan parquet \[vec_id#\d+L?,cell#\d+\]")


def _pandas_pairs(rows):
    import pandas as pd

    return pd.DataFrame([(int(a), int(b)) for a, b in rows], columns=["doc_a", "doc_b"],
                        dtype="int64")


class DocDedupIngest(_Ingest):
    name = "doc_dedup_ingest"
    id_col = "doc_id"

    def setup(self) -> dict:
        from magiceye_spark.llmops import sigstore

        inp = gen.documents(self.seed)
        self._stage(inp)
        seed_path = os.path.join(self.root, "seed_docs.parquet")
        pq.write_table(inp.seed_rows, seed_path)
        sigstore.write_minhash_index(self.spark.read.parquet(seed_path), self.store)
        return dict(inp.planted)

    def _start(self, stream):
        from magiceye_spark.llmops import sigstore

        return sigstore.streaming_dedup_ingest(
            self.spark, self.store, stream, self.ckpt, output_path=self.sink,
            trigger=self.TRIGGER)

    def _replay(self, tr: Tracer, i: int, batch) -> list:
        from pyspark.sql import functions as F

        from magiceye_spark.llmops import sigstore

        # the public calls each sign what they get: delta_pairs_from_index
        # the batch, minhash_index_add the admitted docs (after re-reading
        # the params); the streaming loop signs the batch once
        with tr.span("sigstore.read", i):
            idx = sigstore.read_minhash_index(self.spark, self.replay_store)
        with tr.span("sigstore.pairs", i) as c:
            pairs = [(r["doc_a"], r["doc_b"])
                     for r in sigstore.delta_pairs_from_index(idx, batch).collect()]
            c["pairs"] = len(pairs)
        rejected = self._rejects(tr, i, pairs, idx.signatures.select("doc_id"))
        admitted = batch.where(~F.col("doc_id").isin(rejected))
        with tr.span("sigstore.append", i):
            sigstore.minhash_index_add(self.spark, self.replay_store, admitted)
        return sorted(r["doc_id"] for r in admitted.select("doc_id").collect())

    def layer_metrics(self, tr: Tracer) -> dict:
        pairs, app = tr.of("sigstore.pairs"), tr.of("sigstore.append")
        n = len(pairs)
        return {
            "sigstore.pairs_s": _med([tr.dur(s) for s in pairs]),
            "sigstore.pairs": sum(s["counts"]["pairs"] for s in pairs) / n,
            "sigstore.append_s": _med([tr.dur(s) for s in app]),
            "sigstore.store_files": self.store_files,
        }


class VectorDedupIngest(_Ingest):
    name = "vector_dedup_ingest"
    id_col = "vec_id"

    def setup(self) -> dict:
        from magiceye_spark.llmops import annindex

        inp = gen.vectors(self.seed)
        self._stage(inp)
        seed_path = os.path.join(self.root, "seed_vectors.parquet")
        pq.write_table(inp.seed_rows, seed_path)
        annindex.write_ivf_index(self.spark.read.parquet(seed_path), self.store, pq=True)
        return dict(inp.planted)

    def _start(self, stream):
        from magiceye_spark.llmops import annindex

        return annindex.streaming_ann_ingest(
            self.spark, self.store, stream, self.ckpt, output_path=self.sink,
            trigger=self.TRIGGER)

    def _replay(self, tr: Tracer, i: int, batch) -> list:
        from pyspark.sql import functions as F

        from magiceye_spark.llmops import annindex

        with tr.span("annindex.read", i):
            idx = annindex.read_ivf_index(self.spark, self.replay_store)
        with tr.span("annindex.pairs", i) as c:
            # the loop's defaults: threshold 0.95, n_probe 8
            pdf = annindex.delta_ann_pairs_from_index(idx, batch, 0.95, 8)
            pairs = [(r["doc_a"], r["doc_b"]) for r in pdf.collect()]
            c["pairs"] = len(pairs)
            # candidates = stored rows the probe read from the probed
            # cells' postings (the verification joins run inside one
            # join node, so its output rows are already verified pairs)
            c["candidate_rows"] = plan_rows(pdf, _POSTINGS_SCAN.match)
        rejected = self._rejects(
            tr, i, pairs, idx.postings.select(F.col("vec_id").alias("doc_id")))
        admitted = batch.where(~F.col("vec_id").isin(rejected))
        with tr.span("annindex.append", i):
            annindex.ivf_index_add(self.spark, self.replay_store, admitted)
        return sorted(r["vec_id"] for r in admitted.select("vec_id").collect())

    def layer_metrics(self, tr: Tracer) -> dict:
        pairs, app = tr.of("annindex.pairs"), tr.of("annindex.append")
        n = len(pairs)
        cand = sum(s["counts"]["candidate_rows"] for s in pairs)
        return {
            "annindex.pairs_s": _med([tr.dur(s) for s in pairs]),
            "annindex.candidate_rows": cand / n,
            "annindex.verify_yield": sum(s["counts"]["pairs"] for s in pairs) / max(cand, 1),
            "annindex.append_s": _med([tr.dur(s) for s in app]),
            "annindex.store_files": self.store_files,
        }


class Workload:
    """A named sequence of parts: one op runs each part's next op in turn;
    its latency and items are the sums of theirs."""

    def __init__(self, name: str, parts: list):
        self.name, self.parts = name, parts
        self.replay = all(isinstance(p, _Ingest) for p in parts)

    def setup(self) -> dict:
        return {p.name: p.setup() for p in self.parts}

    def snapshot_store(self) -> None:
        for p in self.parts:
            p.snapshot_store()

    def stop(self) -> None:
        for p in self.parts:
            if isinstance(p, _Ingest):
                p.stop()

    def run_op(self) -> Op:
        return _combine([p.run() for p in self.parts])

    def traced_op(self, tr: Tracer, i: int) -> Op:
        with tr.span("op", i):
            return _combine([p.traced(tr, i) for p in self.parts])

    def layer_metrics(self, tr: Tracer) -> dict:
        out = {}
        for p in self.parts:
            out.update(p.layer_metrics(tr))
        if self.replay:
            out.update(self._streaming())
            # both stores admit through graph.indexed_admission_rejects:
            # its time and count per op are summed over the two parts
            per_op: dict = {}
            for sp in tr.of("graph.rejects"):
                t, n = per_op.get(sp["op"], (0.0, 0))
                per_op[sp["op"]] = (t + tr.dur(sp), n + sp["counts"]["rejected"])
            out["graph.rejects_s"] = _med([t for t, _ in per_op.values()])
            out["graph.rejected"] = sum(n for _, n in per_op.values()) / len(per_op)
        return out

    def _streaming(self) -> dict:
        """Stream durations per timed op: each part's batch, summed."""
        per_op = [
            {k: sum(d.get(k, 0) for d in ds) / 1e3
             for k in ("triggerExecution", "addBatch", "queryPlanning", "walCommit")}
            for ds in zip(*(p.progress[p.progress_from:] for p in self.parts))
        ]
        return {
            "streaming.trigger_s": _med([d["triggerExecution"] for d in per_op]),
            "streaming.add_batch_s": _med([d["addBatch"] for d in per_op]),
            "streaming.planning_s": _med([d["queryPlanning"] for d in per_op]),
            "streaming.wal_s": _med([d["walCommit"] for d in per_op]),
            "streaming.overhead_s": _med(
                [d["triggerExecution"] - d["addBatch"] for d in per_op]),
        }


def _combine(ops: list) -> Op:
    return Op(sum(o.latency_s for o in ops), sum(o.items for o in ops),
              [p for o in ops for p in o.problems], [o.latency_s for o in ops])


def make(name: str, spark, root: str, seed: int) -> Workload:
    parts = {
        "db_diff": (SchemaReport, TableDatadiff),
        "dedup_ingest": (DocDedupIngest, VectorDedupIngest),
    }[name]
    return Workload(name, [P(spark, os.path.join(root, P.name), seed) for P in parts])


def _med(xs: list) -> float:
    import statistics

    return float(statistics.median(xs)) if xs else 0.0
