"""Plan-quality gates: these tests pin the physical plans we want at scale —
filter pushdown into parquet scans, column pruning, broadcast joins for
dimension sides, no Python eval in JVM-path operators. A refactor that
regresses any of these fails here before it ever hits a cluster."""

from magiceye_spark import analytics, plans, registry
from magiceye_spark.datadiff import diff_data
from magiceye_spark.fixtures import mysql_base, mysql_target
from magiceye_spark.diff.core import diff_schemas


def test_q6_filters_reach_parquet_scan(spark, sf_dir):
    df = analytics.q6_forecast_revenue(spark, sf_dir)
    pushed = " ".join(plans.pushed_filters(df))
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed


def test_q6_column_pruning(spark, sf_dir):
    df = analytics.q6_forecast_revenue(spark, sf_dir)
    (schema,) = plans.read_schemas(df)
    # only the 4 needed columns are read, not all 11
    assert "l_extendedprice" in schema and "l_returnflag" not in schema


def test_q3_broadcasts_customer_dim(spark, sf_dir):
    df = analytics.q3_shipping_priority(spark, sf_dir)
    assert plans.broadcast_join_count(df) >= 1


def test_q5_all_dims_broadcast_no_sortmerge(spark, sf_dir):
    df = analytics.q5_local_supplier_volume(spark, sf_dir)
    assert plans.broadcast_join_count(df) >= 4
    assert plans.sortmerge_join_count(df) <= 1  # only the two fact tables may SMJ


def test_datadiff_single_join_no_python(spark, sf_dir):
    base = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    target = base.limit(100)
    df = diff_data(base, target, keys=["l_orderkey", "l_linenumber"])
    assert plans.python_eval_count(df) == 0
    # one join → at most one shuffle per side (+1 AQE read); never more
    assert plans.count_shuffles(df) <= 3


def test_schema_diff_broadcasts_and_stays_jvm(spark):
    df = diff_schemas(mysql_base(spark), mysql_target(spark))
    assert plans.python_eval_count(df) == 0
    assert plans.broadcast_join_count(df) >= 4


def test_sessionize_shares_user_partitioning(spark, sf_dir):
    """Window and session aggregation must reuse the user_id exchange:
    2 shuffles total (one data shuffle + the deterministic output sort)."""
    df = registry.queries()["events_sessionize"](spark, sf_dir)
    assert plans.count_shuffles(df) <= 2
    assert plans.python_eval_count(df) == 0


def test_asof_join_single_data_shuffle(spark, sf_dir):
    """The as-of union+window formulation must not degenerate into a
    theta-join: no SortMergeJoin/NestedLoop at all, bounded exchanges."""
    df = registry.queries()["purchase_last_click_asof"](spark, sf_dir)
    assert plans.sortmerge_join_count(df) == 0
    assert plans.count_shuffles(df) <= 3


def test_q18_single_shuffle_then_broadcasts(spark, sf_dir):
    df = analytics.q18_large_volume_customers(spark, sf_dir)
    assert plans.count_shuffles(df) <= 2
    assert plans.broadcast_join_count(df) >= 2
    assert plans.sortmerge_join_count(df) == 0


def test_ivf_probe_join_broadcasts_queries(spark, sf_dir):
    df = registry.queries()["ivf_ann_topk"](spark, sf_dir)
    assert plans.broadcast_join_count(df) >= 1
    assert plans.python_eval_count(df) == 0


def test_ivf_pq_all_joins_broadcast_no_python(spark, sf_dir):
    """The ADC scan and both rerank joins must broadcast the small side
    (probe set / finalist list) — a sort-merge join anywhere here would
    shuffle the full corpus; all math stays in JVM expressions."""
    df = registry.queries()["ivf_pq_ann_topk"](spark, sf_dir)
    assert plans.broadcast_join_count(df) >= 3
    assert plans.sortmerge_join_count(df) == 0
    assert plans.python_eval_count(df) == 0


def test_profile_single_pass_no_join(spark, sf_dir):
    """The per-column profile is ONE wide aggregation pivoted by explode —
    no join, no Python, bounded exchanges regardless of column count."""
    df = registry.queries()["profile_lineitem"](spark, sf_dir)
    assert plans.sortmerge_join_count(df) == 0
    assert plans.python_eval_count(df) == 0
    assert plans.count_shuffles(df) <= 3  # distinct-expand agg + final sort


def test_bucketed_snapshot_diff_is_shuffle_free(spark):
    """The million-object-catalog path: both snapshot sides persisted
    bucketed by table_name must diff without ANY hash-partitioning
    exchange — matcher joins read co-located buckets (write once, diff
    every later snapshot shuffle-free)."""
    from magiceye_spark.snapshot import SchemaSnapshot

    mysql_base(spark).write_bucketed("bkt_base", n_buckets=4)
    mysql_target(spark).write_bucketed("bkt_target", n_buckets=4)
    b = SchemaSnapshot.read_bucketed(spark, "bkt_base")
    t = SchemaSnapshot.read_bucketed(spark, "bkt_target")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    try:
        df = diff_schemas(b, t, hint_broadcast=False)
        plan = plans.executed_plan(df)
        assert "Exchange hashpartitioning" not in plan, plan
        # results identical to the broadcast path
        assert sorted(map(tuple, df.collect())) == sorted(
            map(tuple, diff_schemas(mysql_base(spark), mysql_target(spark)).collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_no_python_eval_in_any_oracle_query(registry_sweep):
    """Every oracle-checked operator must run fully JVM-side (the Pandas
    kernels are exactly the rows-only media queries)."""
    _, facts = registry_sweep
    oracles = registry.oracles()
    assert set(oracles) <= set(facts), sorted(set(oracles) - set(facts))
    offenders = [n for n in oracles if facts[n]["python_evals"] > 0]
    assert offenders == []


def test_gopher_and_kmeans_are_map_only(spark, sf_dir):
    """Row-local operators must stay shuffle-free and JVM-side: the Gopher
    flags over documents, and the k-means assignment pass (centroids are
    literals in the expression — the corpus side never exchanges)."""
    from magiceye_spark.llmops.simsearch import embedding_kmeans
    from magiceye_spark.llmops.textstats import gopher_quality_flags

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    flags = gopher_quality_flags(docs)
    assert plans.count_shuffles(flags) == 0
    assert plans.python_eval_count(flags) == 0

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assign = embedding_kmeans(embs, k=8)
    assert plans.count_shuffles(assign) == 0
    assert plans.python_eval_count(assign) == 0


def test_cross_source_overlap_single_corpus_shuffle(spark, sf_dir):
    """The pair matrix must not self-join the corpus: one hash shuffle for
    the collect_set groupBy + one for the catalog-sized pair count (and the
    final orderBy's range exchange) — nothing else."""
    from magiceye_spark.llmops.dedup import cross_source_overlap

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = cross_source_overlap(docs)
    plan = plans.formatted_plan(df)
    assert plan.count("Arguments: hashpartitioning") <= 2, plan
    assert plans.sortmerge_join_count(df) == 0
    assert plans.broadcast_join_count(df) == 0
    assert plans.python_eval_count(df) == 0


def test_bucketed_datadiff_is_shuffle_free(spark):
    """Two snapshots written bucketed+sorted on the PK must row-diff with
    ZERO hash-partitioning exchanges — write once, diff every later
    snapshot shuffle-free (the daily-diff layout at 100 TB)."""
    from pyspark.sql import functions as F

    from magiceye_spark.io import write_bucketed

    base = spark.range(500).select(
        F.col("id"), (F.col("id") * 3).alias("v"), (F.col("id") % 7).alias("w")
    )
    target = base.withColumn(
        "v", F.when(F.col("id") % 50 == 0, F.col("v") + 1).otherwise(F.col("v"))
    )
    write_bucketed(base, "dd_bkt_base", ["id"], n_buckets=4)
    write_bucketed(target, "dd_bkt_target", ["id"], n_buckets=4)
    b = spark.table("dd_bkt_base")
    t = spark.table("dd_bkt_target")
    out = diff_data(b, t, ["id"])
    plan = plans.executed_plan(out)
    assert "hashpartitioning" not in plan.lower(), plan
    got = {(r["id"], r["diff_status"]) for r in out.collect()}
    assert got == {(i, "changed") for i in range(0, 500, 50)}


def test_duplicate_spans_bounded_shuffles_no_python(spark, sf_dir):
    """Substring dedup: gram-count agg + hit join + ONE doc window + output
    sort — nothing O(n^2), nothing Python. The gram shuffle keys are
    fixed-width md5, not raw gram strings."""
    from magiceye_spark.llmops.retrieval import duplicate_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = duplicate_spans(docs)
    assert plans.python_eval_count(df) == 0
    assert plans.count_shuffles(df) <= 5
    assert "md5" in plans.formatted_plan(df)


def test_bm25_broadcasts_stats_and_df_no_token_explode(spark, sf_dir):
    """BM25: the only explode is the |terms|-wide tf-pair array (map-side);
    df table and corpus stats join broadcast; no sort-merge join anywhere."""
    from magiceye_spark.llmops.retrieval import bm25_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = bm25_topk(docs)
    assert plans.python_eval_count(df) == 0
    assert plans.broadcast_join_count(df) >= 2
    assert plans.sortmerge_join_count(df) == 0


def test_span_cleaned_corpus_no_range_join(spark, sf_dir):
    """The remove step must not expand tokens: no Python, no sort-merge or
    nested-loop range join — spans ride along as one struct-array per doc."""
    from magiceye_spark.llmops.retrieval import span_cleaned_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = span_cleaned_corpus(docs)
    assert plans.python_eval_count(df) == 0
    assert "BroadcastNestedLoopJoin" not in plans.formatted_plan(df)


def test_approx_source_overlap_single_corpus_shuffle(spark, sf_dir):
    """Sketch path: ONE corpus-sized shuffle (the per-source hll partials);
    the pairwise stage runs on the k-row sketch table via broadcast."""
    from magiceye_spark.llmops.dedup import approx_source_overlap

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = approx_source_overlap(docs)
    assert plans.python_eval_count(df) == 0
    assert plans.broadcast_join_count(df) >= 1
    assert plans.sortmerge_join_count(df) == 0


# Single-partition windows over provably BOUNDED inputs — inputs that grow
# with elapsed calendar time or a fixed constant, never with data volume.
# Everything else must use magiceye_spark.io.two_phase_window (or a scalar
# aggregate crossJoined back broadcast) — see VERDICT r4 "What's wrong #1".
BOUNDED_WINDOW_ALLOWLIST = {
    # lag(4) over a (year, quarter) revenue series: quarter-grain input,
    # bounded by the calendar — tens of rows at any data scale
    "quarterly_revenue_yoy",
}


# The ONLY queries allowed to evaluate Python in their plan: the declared
# Arrow multimodal kernels (the real-decode plug points) and their direct
# composition. Everything else must stay JVM-side end-to-end.
PYTHON_EVAL_ALLOWLIST = {"media_features", "media_similarity_topk"}


def test_no_unpartitioned_window_in_any_registered_query(registry_sweep):
    """Repo-wide scale gates, one plan sweep over every registered query:
    (1) no single-partition window (the one plan shape that serializes at
    100 TB) outside the calendar-bounded allowlist — the two-phase offsets
    window (one row per shuffle partition, Sort on _pid) is recognized and
    permitted by the detector itself; (2) no true CartesianProduct
    anywhere (broadcast nested-loop scalar crossJoins are fine and not
    counted); (3) no Python eval outside the declared Arrow kernels."""
    _, facts = registry_sweep
    names = list(registry.queries())
    assert set(names) <= set(facts), sorted(set(names) - set(facts))
    flagged = {n: facts[n]["windows"][0] for n in names if facts[n]["windows"]}
    cartesian = [n for n in names if facts[n]["cartesian"]]
    python_evals = [
        n for n in names
        if n not in PYTHON_EVAL_ALLOWLIST and facts[n]["python_evals"]
    ]
    unexpected = set(flagged) - BOUNDED_WINDOW_ALLOWLIST
    stale = BOUNDED_WINDOW_ALLOWLIST - set(flagged)
    assert not unexpected, f"single-task windows in: {sorted(unexpected)}\n" + "\n\n".join(
        flagged[n] for n in sorted(unexpected)
    )
    assert not stale, f"allowlist entries no longer needed: {sorted(stale)}"
    assert cartesian == [], f"CartesianProduct in: {cartesian}"
    assert python_evals == [], f"undeclared Python eval in: {python_evals}"


def test_phash_pipeline_is_jvm_side(spark, sf_dir):
    """The perceptual-hash dedup path (grid fold, dHash bits, banding,
    Hamming verify, keep-set anti-join) must run entirely JVM-side — zero
    Python evals despite being the multimodal family (the Arrow kernel is
    the real-decode plug point, not the default path) — with bounded
    shuffle counts."""
    near = registry.queries()["phash_near_dups"](spark, sf_dir)
    assert plans.python_eval_count(near) == 0
    # the hot-bucket salt guard adds the bucket-size agg (appearing in
    # both join sides' lineage; AQE reuses the exchange at runtime)
    assert plans.count_shuffles(near) <= 12
    keep = registry.queries()["phash_dedup_keep"](spark, sf_dir)
    assert plans.python_eval_count(keep) == 0
    assert plans.count_shuffles(keep) <= 14
