"""Post-r3 additions registered past the pinned driver window: privacy audits, corpus curation, calibration, sketch-bound twins, planted-fixture dedup rows.

Split from the single-file registry in r13; each @register call populates the shared _REGISTRY in magiceye_spark.queries (same driver contract, same keys).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from magiceye_spark import analytics, events_ops, io, synthcat
from magiceye_spark.llmops import dedup, pipeline, simsearch, textstats
from magiceye_spark.queries import register
from magiceye_spark.queries.datadiff_rows import (
    SQL_DATADIFF,
    SQL_PERTURBED_LINEITEM,
)
from magiceye_spark.queries.events_rows import (
    _FP_EXPR,
    _LINEITEM_COLS_SORTED,
)
from magiceye_spark.queries.llmops_rows import (
    _docs,
    _embs,
)


# ------------------------------------------------- round-3 additions
# (register past the pinned _DRIVER_WINDOW: driver evidence comes from the
# window's family representatives; these get pytest oracle parity.)


@register("gopher_quality_flags", textstats.SQL_GOPHER_FLAGS)
def gopher_flags_q(spark, sf_dir):
    """Gopher/MassiveText hard REJECT rules as per-document boolean flags
    (word count, mean word length, symbol ratio, stopword presence)."""
    return textstats.gopher_quality_flags(_docs(spark, sf_dir))


@register("corpus_length_buckets", textstats.sql_length_buckets(budget=512))
def length_buckets_q(spark, sf_dir):
    """Token-length histogram by power-of-two bucket with per-bucket packing
    efficiency at a 512-token budget — the sequence-packing pre-flight."""
    return textstats.length_buckets(_docs(spark, sf_dir), budget=512)


@register("cross_source_overlap", dedup.SQL_CROSS_SOURCE_OVERLAP)
def cross_source_q(spark, sf_dir):
    """Inter-source contamination matrix: canonical texts shared by each
    source pair."""
    return dedup.cross_source_overlap(_docs(spark, sf_dir))


@register("boilerplate_ngrams", dedup.sql_boilerplate_ngrams(n=2, min_doc_frac=0.02))
def boilerplate_q(spark, sf_dir):
    """Corpus-wide boilerplate 2-grams: document frequency >= 2% of docs."""
    return dedup.boilerplate_ngrams(_docs(spark, sf_dir), n=2, min_doc_frac=0.02)


@register("embedding_kmeans", None)  # float argmax ties are engine-specific: rows-only
def embedding_kmeans_q(spark, sf_dir):
    """Spherical k-means assignment for every vector (driver-side fit on the
    bounded IVF sample, map-only assignment). Balance/coherence pinned in
    tests."""
    return simsearch.embedding_kmeans(_embs(spark, sf_dir), k=8)


@register("embedding_cluster_sizes", None)  # derived from the same assignment
def embedding_cluster_sizes_q(spark, sf_dir):
    """Cluster cardinality + mean assignment cosine for the k-means above."""
    return simsearch.embedding_cluster_sizes(_embs(spark, sf_dir), k=8)


SQL_FK_AUDIT = """
SELECT 'customer.c_nationkey->nation' AS relation,
       COUNT(*) AS n_child_rows,
       COUNT(CASE WHEN NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey) THEN 1 END) AS n_orphans,
       COUNT(CASE WHEN NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey) THEN 1 END) = 0 AS pass
FROM customer c
UNION ALL
SELECT 'lineitem.l_orderkey->orders', COUNT(*),
       COUNT(CASE WHEN NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey) THEN 1 END),
       COUNT(CASE WHEN NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey) THEN 1 END) = 0
FROM lineitem l
UNION ALL
SELECT 'lineitem.l_partkey->part', COUNT(*),
       COUNT(CASE WHEN NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey) THEN 1 END),
       COUNT(CASE WHEN NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey) THEN 1 END) = 0
FROM lineitem l
UNION ALL
SELECT 'lineitem.l_suppkey->supplier', COUNT(*),
       COUNT(CASE WHEN NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey) THEN 1 END),
       COUNT(CASE WHEN NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey) THEN 1 END) = 0
FROM lineitem l
UNION ALL
SELECT 'nation.n_regionkey->region', COUNT(*),
       COUNT(CASE WHEN NOT EXISTS (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey) THEN 1 END),
       COUNT(CASE WHEN NOT EXISTS (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey) THEN 1 END) = 0
FROM nation n
UNION ALL
SELECT 'orders.o_custkey->customer', COUNT(*),
       COUNT(CASE WHEN NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey) THEN 1 END),
       COUNT(CASE WHEN NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey) THEN 1 END) = 0
FROM orders o
UNION ALL
SELECT 'supplier.s_nationkey->nation', COUNT(*),
       COUNT(CASE WHEN NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey) THEN 1 END),
       COUNT(CASE WHEN NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey) THEN 1 END) = 0
FROM supplier s
ORDER BY relation
"""


@register("fk_integrity_audit", SQL_FK_AUDIT)
def fk_audit_q(spark, sf_dir):
    """Whole-star-schema FK conformance: relations grouped by child, so each
    child table is scanned once feeding its broadcast existence checks, all
    orphan counts from one aggregate per child (the cross-table complement
    to dq_lineitem's single-table rules). Parents are the declared PKs —
    unique, so the dedup shuffle per parent is skipped."""
    from magiceye_spark.dq import referential_audit

    t = lambda n: io.read_table(spark, sf_dir, n)
    return referential_audit(
        assume_unique_parents=True,
        relations=[
            ("customer.c_nationkey->nation", t("customer"), "c_nationkey", t("nation"), "n_nationkey"),
            ("lineitem.l_orderkey->orders", t("lineitem"), "l_orderkey", t("orders"), "o_orderkey"),
            ("lineitem.l_partkey->part", t("lineitem"), "l_partkey", t("part"), "p_partkey"),
            ("lineitem.l_suppkey->supplier", t("lineitem"), "l_suppkey", t("supplier"), "s_suppkey"),
            ("nation.n_regionkey->region", t("nation"), "n_regionkey", t("region"), "r_regionkey"),
            ("orders.o_custkey->customer", t("orders"), "o_custkey", t("customer"), "c_custkey"),
            ("supplier.s_nationkey->nation", t("supplier"), "s_nationkey", t("nation"), "n_nationkey"),
        ],
    )


_PART_MONTH_SQL = "CAST(date_trunc('month', l_shipdate) AS TIMESTAMP)"

# The testdata's (l_orderkey, l_linenumber) is NOT unique; a full-outer join
# on duplicate keys emits per-key cross-product artifacts whose membership
# depends on which copies survive a filter — ill-defined for an incremental
# diff. The incremental queries therefore diff a DEDUPLICATED snapshot (one
# deterministic row per key), same rule on both engines.
# Order by ALL nine non-key columns so the surviving row is a total order on
# both engines — 5 columns left duplicate-key rows that tie on those but
# differ in l_discount/l_tax/l_returnflag/l_linestatus engine-nondeterministic.
_UNIQ_ORDER = (
    "l_partkey, l_suppkey, l_extendedprice, l_quantity, l_shipdate, "
    "l_discount, l_tax, l_returnflag, l_linestatus"
)
SQL_UNIQUE_LINEITEM = f"""
WITH lineitem_u AS (
  SELECT * EXCLUDE (rn) FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY l_orderkey, l_linenumber ORDER BY {_UNIQ_ORDER}) AS rn
    FROM lineitem)
  WHERE rn = 1),
"""
SQL_PERTURBED_UNIQUE = SQL_UNIQUE_LINEITEM + SQL_PERTURBED_LINEITEM.replace(
    "WITH target AS (", "target AS ("
).replace("FROM lineitem ", "FROM lineitem_u ").replace(
    "FROM lineitem\n", "FROM lineitem_u\n"
)

SQL_CHANGED_PARTITIONS = SQL_PERTURBED_UNIQUE + f"""
, bf AS (
  SELECT {_PART_MONTH_SQL} AS "partition", {_FP_EXPR} AS fp, COUNT(*) AS n
  FROM lineitem_u GROUP BY 1),
tf AS (
  SELECT {_PART_MONTH_SQL} AS "partition", {_FP_EXPR} AS fp, COUNT(*) AS n
  FROM target GROUP BY 1)
SELECT COALESCE(bf."partition", tf."partition") AS "partition",
       CASE WHEN tf."partition" IS NULL THEN 'base_only'
            WHEN bf."partition" IS NULL THEN 'target_only'
            WHEN bf.fp IS DISTINCT FROM tf.fp OR bf.n IS DISTINCT FROM tf.n
            THEN 'changed' END AS status
FROM bf FULL OUTER JOIN tf ON bf."partition" = tf."partition"
WHERE (CASE WHEN tf."partition" IS NULL THEN 'base_only'
            WHEN bf."partition" IS NULL THEN 'target_only'
            WHEN bf.fp IS DISTINCT FROM tf.fp OR bf.n IS DISTINCT FROM tf.n
            THEN 'changed' END) IS NOT NULL
ORDER BY "partition"
"""

_DATADIFF_KEYS = ["l_orderkey", "l_linenumber"]
_DATADIFF_COLS = [
    "l_discount", "l_extendedprice", "l_linestatus", "l_partkey",
    "l_quantity", "l_returnflag", "l_shipdate", "l_suppkey", "l_tax",
]


def _perturbed_with_month(spark, sf_dir):
    """Deduplicated (one deterministic row per PK) perturbed pair with the
    ingest-month partition column added to both sides."""
    from pyspark.sql.window import Window

    l = io.read_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey", "l_linenumber").orderBy(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity",
        "l_shipdate", "l_discount", "l_tax", "l_returnflag", "l_linestatus"
    )
    lu = l.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).drop("rn")
    k = F.col("l_orderkey") * 10 + F.col("l_linenumber")
    mutated = lu.where(k % 89 != 0).withColumns(
        {
            "l_quantity": F.when(k % 83 == 0, F.col("l_quantity") + 5).otherwise(
                F.col("l_quantity")
            ),
            "l_returnflag": F.when(k % 79 == 0, F.lit("X")).otherwise(
                F.col("l_returnflag")
            ),
        }
    )
    added = lu.where(k % 101 == 0).withColumn(
        "l_linenumber", F.col("l_linenumber") + F.lit(1000)
    )
    month = F.date_trunc("month", F.col("l_shipdate"))
    return (
        lu.withColumn("part_month", month),
        mutated.unionByName(added).withColumn("part_month", month),
    )


@register("datadiff_changed_partitions", SQL_CHANGED_PARTITIONS)
def changed_partitions_q(spark, sf_dir):
    """Partition-level fingerprint compare: which ingest months differ
    between the snapshots. KB-sized output regardless of table size — the
    incremental-diff planner (compare fingerprints, row-diff only what
    moved)."""
    from magiceye_spark.datadiff import changed_partitions

    base, target = _perturbed_with_month(spark, sf_dir)
    return changed_partitions(
        base, target, "part_month", cols=_LINEITEM_COLS_SORTED
    )


# full-diff SQL over the deduplicated pair (same SELECT as SQL_DATADIFF,
# base side reads lineitem_u)
_SQL_DATADIFF_BODY = SQL_DATADIFF[len(SQL_PERTURBED_LINEITEM):]
SQL_DATADIFF_ON_UNIQUE = SQL_PERTURBED_UNIQUE + _SQL_DATADIFF_BODY.replace(
    "FROM lineitem b", "FROM lineitem_u b"
)


@register("datadiff_incremental", SQL_DATADIFF_ON_UNIQUE)
def datadiff_incremental_q(spark, sf_dir):
    """Row diff restricted to changed partitions. The oracle is the FULL
    diff's SQL on purpose: an unchanged partition contributes no diff rows,
    so the incremental result must be bit-identical to the full diff —
    partition pruning is a pure optimization, and this query proves it."""
    from magiceye_spark.datadiff import diff_data_incremental

    base, target = _perturbed_with_month(spark, sf_dir)
    return diff_data_incremental(
        base, target, _DATADIFF_KEYS, "part_month", compare_cols=_DATADIFF_COLS
    )


_TARGET_MIX_R3 = {"src0": 0.2, "src1": 0.2, "src2": 0.1, "src3": 0.1}


@register("corpus_resampled_mix", pipeline.sql_resample_to_mix(_TARGET_MIX_R3))
def resample_mix_q(spark, sf_dir):
    """Deterministic hash-thresholded subsample reshaping the corpus toward
    a target source mixture (sources not in the target are dropped;
    up-weighted sources kept whole)."""
    return pipeline.resample_to_mix(_docs(spark, sf_dir), _TARGET_MIX_R3)


@register(
    "edit_distance_near_dups",
    dedup.sql_edit_distance_near_dups(max_dist=30, prefix_len=80),
)
def edit_distance_q(spark, sf_dir):
    """Character-level near-dup pairs: same first-word block, split into
    prefix-length buckets with adjacent-bucket probing (lossless) and salted
    above a size cap (skew guard), 80-char prefix Levenshtein <= 30 — the
    edit-noise complement to the token-set Jaccard/MinHash family."""
    return dedup.edit_distance_near_dups(
        _docs(spark, sf_dir), max_dist=30, prefix_len=80
    )


@register("bpe_vocab_merges", None)  # iterative driver fit: rows-only check
def bpe_vocab_merges_q(spark, sf_dir):
    """BPE vocabulary induction (Sennrich): one corpus pass to the
    distinct word-frequency table, incremental inverted-index merge loop
    driver-side (bounded by word TYPES — the IVF k-means fit precedent);
    pinned merge-for-merge against a quadratic textbook reference in
    tests/test_r6_ops.py."""
    return textstats.bpe_train(_docs(spark, sf_dir), num_merges=64)


@register("bpe_compression_by_source", None)  # depends on the learned merges
def bpe_compression_q(spark, sf_dir):
    """Chars-per-symbol compression of the learned BPE table per source —
    the objective tokenizer training optimizes; merge application is a
    JVM regexp chain over the distinct-word table, occurrence-weighted."""
    docs = _docs(spark, sf_dir)
    return textstats.bpe_segment_stats(docs, textstats.bpe_train(docs, num_merges=64))


@register("events_ohlc_daily", events_ops.SQL_OHLC_DAILY)
def ohlc_q(spark, sf_dir):
    """OHLC bars per (day, event_type) in one aggregation shuffle (min_by/
    max_by over the composite event order — no window pass)."""
    return events_ops.ohlc_daily(events_ops._events(spark, sf_dir))


@register("events_latest_per_user_day", events_ops.SQL_LATEST_PER_USER_DAY)
def latest_q(spark, sf_dir):
    """CDC-style 'last record wins' compaction to a (user, day) snapshot."""
    return events_ops.latest_per_user_day(events_ops._events(spark, sf_dir))


@register("events_anomalous_days", analytics.sql_events_anomalous_days(z_cut=1.5))
def anomalous_days_q(spark, sf_dir):
    """Volume-anomaly screen: days beyond 1.5 sample-stddevs of their
    event_type's daily mean, z computed from exact integer moments."""
    return analytics.events_anomalous_days(spark, sf_dir, z_cut=1.5)


@register("purchase_latency_stats", events_ops.SQL_PURCHASE_LATENCY)
def purchase_latency_q(spark, sf_dir):
    """Click->purchase latency distribution per day, built on the as-of
    join's purchase-count-sized output."""
    return events_ops.purchase_latency_stats(events_ops._events(spark, sf_dir))


@register("datadiff_incremental_pruned", SQL_DATADIFF_ON_UNIQUE)
def datadiff_incremental_pruned_q(spark, sf_dir):
    """TRULY incremental diff: both snapshots live as month-partitioned
    parquet with per-partition fingerprint tables persisted at publish time
    (datadiff.write_fingerprints). The diff compares the two KB-sized stored
    fingerprint tables — neither snapshot is scanned to decide what changed —
    then reads ONLY changed partitions via a literal partition filter
    (PartitionFilters in the scan, pinned in tests/test_r4_ops.py). The
    oracle is the FULL diff's SQL on purpose: pruning must be invisible in
    the result."""
    import hashlib
    import os
    import tempfile

    from magiceye_spark.datadiff import (
        diff_data_incremental,
        read_fingerprints,
        write_fingerprints,
    )

    base, target = _perturbed_with_month(spark, sf_dir)
    # DATE partition values round-trip hive directory names unambiguously
    base = base.withColumn("part_month", F.to_date("part_month"))
    target = target.withColumn("part_month", F.to_date("part_month"))
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), f"magiceye_incr_{tag}")
    fp_cols = sorted(set(_DATADIFF_KEYS) | set(_DATADIFF_COLS))
    io.write_partitioned(base, f"{root}/base", ["part_month"])
    write_fingerprints(base, "part_month", f"{root}/base_fp", cols=fp_cols)
    io.write_partitioned(target, f"{root}/target", ["part_month"])
    write_fingerprints(target, "part_month", f"{root}/target_fp", cols=fp_cols)
    b = spark.read.parquet(f"{root}/base")
    t = spark.read.parquet(f"{root}/target")
    return diff_data_incremental(
        b, t, _DATADIFF_KEYS, "part_month", compare_cols=_DATADIFF_COLS,
        base_fingerprints=read_fingerprints(spark, f"{root}/base_fp"),
        target_fingerprints=read_fingerprints(spark, f"{root}/target_fp"),
    )


@register("schema_drift_timeline", synthcat.oracle_sql_timeline())
def schema_drift_timeline_q(spark, sf_dir):
    """Catalog drift across a 3-version snapshot history (base -> perturbed
    -> reverted): diff_timeline tags each adjacent pair's findings with
    (from_version, to_version). The revert leg runs the diff in the reverse
    direction, pinning the matcher's directional asymmetry
    (background.rs:51) under the timeline wrapper."""
    from magiceye_spark.diff.core import diff_timeline

    b = synthcat.base_snapshot(spark, sf_dir)
    t = synthcat.target_snapshot(spark, sf_dir)
    b2 = synthcat.base_snapshot(spark, sf_dir)
    return diff_timeline([("v1", b), ("v2", t), ("v3", b2)])


# driver testdata has 25 docs per source at sf0.01 — quotas below that
# exercise the actual rank cutoff, src2's sits above it (cap path)
_QUOTAS_R4 = {"src0": 15, "src1": 10, "src2": 40}


@register(
    "corpus_stratified_quota",
    pipeline.sql_stratified_quota_sample(_QUOTAS_R4),
)
def stratified_quota_q(spark, sf_dir):
    """EXACT per-source sample counts via salted-md5 rank within each
    stratum — the exact-count complement to the probabilistic
    corpus_resampled_mix (same winners on any engine/layout; growing a
    stratum only displaces rows at the rank boundary)."""
    return pipeline.stratified_quota_sample(_docs(spark, sf_dir), _QUOTAS_R4)


@register("parts_pareto_frontier", analytics.sql_parts_pareto_frontier())
def parts_pareto_frontier_q(spark, sf_dir):
    """Pareto frontier / skyline over (minimize p_retailprice, maximize
    p_size): sort-based — per-price group max + exclusive two-phase
    running max over price order — O(n log n) shuffle-bounded where the
    oracle's NOT EXISTS is O(n²); equal (price, size) points co-survive."""
    return analytics.parts_pareto_frontier(spark, sf_dir)


@register("corpus_pps_sample", pipeline.sql_pps_weighted_sample(k=50))
def corpus_pps_sample_q(spark, sf_dir):
    """Probability-proportional-to-size sample of 50 docs (sequential
    Poisson: rank by md5-coin / n_chars, keep the k smallest) — review
    sampling biased toward the token mass. Division-only key math so both
    engines agree bit-for-bit at the k-boundary (no ln/exp/pow);
    selection is a TakeOrdered top-k, never a global sort."""
    return pipeline.pps_weighted_sample(_docs(spark, sf_dir), k=50)


@register("events_robust_outliers", analytics.sql_events_robust_outliers(k=3.5))
def robust_outliers_q(spark, sf_dir):
    """Median/MAD outlier fence per event_type — the heavy-tail-safe
    complement to the mean/stddev z-screen; exact order-statistic medians
    keep both engines bit-identical (no float summation anywhere)."""
    return analytics.events_robust_outliers(spark, sf_dir, k=3.5)


