"""Event-pipeline rows: sessionization, as-of joins, rollups, JSON property extraction, trends and anomaly statistics over the events stream.

Split from the single-file registry in r13; each @register call populates the shared _REGISTRY in magiceye_spark.queries (same driver contract, same keys).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from magiceye_spark import analytics, events_ops, profile, sketches
from magiceye_spark.llmops import retrieval, simsearch, textstats
from magiceye_spark.datadiff import (
    diff_data,
)
from magiceye_spark.queries import register
from magiceye_spark.queries.datadiff_rows import (
    SQL_PERTURBED_LINEITEM,
    _CHANGED_LIST,
    _perturbed_lineitem,
)
from magiceye_spark.queries.llmops_rows import (
    _docs,
)


# ----------------------------------------------------------- event pipeline

@register("events_sessionize", events_ops.sql_sessionize(gap_minutes=30))
def sessionize_q(spark, sf_dir):
    return events_ops.sessionize_events(spark, sf_dir, gap_minutes=30)


@register("purchase_last_click_asof", events_ops.SQL_PURCHASE_LAST_CLICK)
def asof_q(spark, sf_dir):
    return events_ops.purchase_attribution(spark, sf_dir)


@register("events_props_key_stats", events_ops.SQL_PROPS_KEY_STATS)
def props_key_stats_q(spark, sf_dir):
    """Semi-structured profiler: JSON keys in props, row fraction, and
    distinct-value counts — the report run before promoting a blob column
    to typed columns. JVM from_json map explode, one aggregation."""
    return events_ops.props_key_stats(events_ops._events(spark, sf_dir))


@register("purchase_next_error_asof", events_ops.sql_purchase_next_error(tolerance_hours=1))
def asof_forward_q(spark, sf_dir):
    """Forward as-of with tolerance (pandas merge_asof parity at Spark
    scale): first error at-or-after each purchase, nulled past 1 h. Same
    union + last(ignorenulls) single-shuffle formulation as the backward
    as-of — forward only flips the window sort; DuckDB native forward
    ASOF JOIN is the oracle."""
    return events_ops.purchases_with_next_error(events_ops._events(spark, sf_dir))


@register(
    "events_value_psi_drift",
    profile.sql_psi_histogram_drift(
        "ts < TIMESTAMP '2024-01-16'", "ts >= TIMESTAMP '2024-01-16'", "value"
    ),
)
def psi_drift_q(spark, sf_dir):
    """Population Stability Index of the events.value distribution,
    first half of the month vs the rest — the distribution-level drift
    monitor summary stats can't see. Two histogram scans, KB result."""
    ev = events_ops._events(spark, sf_dir)
    cut = F.lit("2024-01-16").cast("timestamp")
    return profile.psi_histogram_drift(
        ev.where(F.col("ts") < cut), ev.where(F.col("ts") >= cut), "value"
    )


@register("events_props_rollup", events_ops.SQL_PROPS_ROLLUP)
def props_q(spark, sf_dir):
    return events_ops.props_rollup_events(spark, sf_dir)


@register("clicks_before_purchase", events_ops.SQL_CLICKS_BEFORE_PURCHASE)
def range_join_q(spark, sf_dir):
    return events_ops.clicks_before_purchase_events(spark, sf_dir)


@register("user_running_stats", events_ops.SQL_RUNNING_STATS)
def running_stats_q(spark, sf_dir):
    return events_ops.user_running_stats(events_ops._events(spark, sf_dir))


@register("conversion_funnel", events_ops.sql_conversion_funnel())
def funnel_q(spark, sf_dir):
    return events_ops.conversion_funnel(events_ops._events(spark, sf_dir))


@register("cohort_retention", events_ops.sql_cohort_retention(max_days=7))
def retention_q(spark, sf_dir):
    return events_ops.cohort_retention(events_ops._events(spark, sf_dir), max_days=7)


@register("embedding_random_projection", simsearch.sql_random_projection())
def embedding_random_projection_q(spark, sf_dir):
    """Deterministic JL +/-1 sketch of the embedding table — map-only
    width reduction for downstream LSH/IVF; md5 sign matrix and strict
    left-to-right folds make both engines bit-identical."""
    return simsearch.random_projection(simsearch._emb(spark, sf_dir))


@register("cross_source_perplexity", textstats.sql_cross_source_perplexity())
def cross_source_perplexity_q(spark, sf_dir):
    """Domain-mismatch matrix: every source's docs scored under every
    source's add-alpha bigram LM; diagonal-dominance is the pinned
    invariant."""
    return textstats.cross_source_perplexity(_docs(spark, sf_dir))


_SQL_BLOOM_SEMI = """
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size = 1)
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("lineitem_bloom_semi", _SQL_BLOOM_SEMI)
def lineitem_bloom_semi_q(spark, sf_dir):
    """Runtime-filter pattern: lineitem pre-filtered by a deterministic
    8 KB broadcast Bloom bit-array over the selective part subset, exact
    semi-join over the survivors — identical rows to the plain semi-join
    (false positives verified away, false negatives impossible)."""
    from magiceye_spark.skew import bloom_prefilter_semi_join

    l = analytics._t(spark, sf_dir, "lineitem")
    p = analytics._t(spark, sf_dir, "part").where(F.col("p_size") == 1).select("p_partkey")
    kept = bloom_prefilter_semi_join(l, p, "l_partkey", "p_partkey")
    return (
        kept.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )


@register("events_debounce", events_ops.sql_debounce_events())
def events_debounce_q(spark, sf_dir):
    """Burst collapse: first event of every same-(user,type) run with
    gaps <= 60 s — duplicate clicks / retry storms to one row, with the
    absorbed count."""
    return events_ops.debounce_events(events_ops._events(spark, sf_dir))


@register("session_concurrency", events_ops.sql_session_concurrency())
def session_concurrency_q(spark, sf_dir):
    """Binned interval-overlap self-join: per session, how many other
    users' sessions overlap it — exact, dedup-free (pair kept only in the
    first shared bucket), vs the oracle's naive theta join."""
    return events_ops.session_concurrency(events_ops._events(spark, sf_dir))


@register("phrase_search", retrieval.sql_phrase_search())
def phrase_search_q(spark, sf_dir):
    """Exact phrase query over a positional inverted index (postings
    pruned to the query terms before any shuffle) vs the oracle's
    walk-every-position scan."""
    return retrieval.phrase_search(_docs(spark, sf_dir))


@register("heavy_hitters_cms", sketches.sql_cms_heavy_hitters())
def heavy_hitters_cms_q(spark, sf_dir):
    """Explicit count-min sketch heavy hitters — md5-derived row hashes so
    the DuckDB oracle reproduces every estimate (and its collision
    overcount) exactly."""
    return sketches.cms_heavy_hitters(events_ops._events(spark, sf_dir))


@register("events_hll_users", sketches.sql_hll_distinct_users())
def hll_users_q(spark, sf_dir):
    """Explicit HyperLogLog distinct-users per event type — md5 buckets +
    integer-exact register sums, so DuckDB reproduces every register and
    estimate bit-for-bit (the oracle-backed twin of the opaque
    approx_count_distinct path)."""
    return sketches.hll_distinct_users(events_ops._events(spark, sf_dir))


@register("events_value_distribution", sketches.SQL_VALUE_DISTRIBUTION)
def value_dist_q(spark, sf_dir):
    return sketches.value_distribution_events(spark, sf_dir)


@register("events_value_histogram", sketches.sql_value_histogram(bin_width=25.0))
def histogram_q(spark, sf_dir):
    return sketches.value_histogram_events(spark, sf_dir)


@register("events_daily_trend_ols", sketches.SQL_DAILY_TREND_OLS)
def daily_trend_ols_q(spark, sf_dir):
    """Per event type: OLS slope/intercept/r2 of daily total value over
    the day index — exact decimal moments so the closed-form fit is
    bit-identical on any engine or partitioning."""
    return sketches.daily_trend_ols_events(spark, sf_dir)


@register("events_value_k_corr", sketches.SQL_VALUE_K_CORR)
def corr_q(spark, sf_dir):
    return sketches.value_k_correlation_events(spark, sf_dir)


@register("events_approx_users", None)  # HLL sketch: rows-only, tolerance in tests
def approx_users_q(spark, sf_dir):
    return sketches.approx_user_counts_events(spark, sf_dir)


@register("events_approx_percentiles", None)  # GK sketch: rows-only, tolerance in tests
def approx_pct_q(spark, sf_dir):
    return sketches.approx_value_distribution_events(spark, sf_dir)


# hash-checked bound twins of the two sketch rows above (r12, verdict ask
# #2 pattern: the estimate stays rows-only by contract, the BOUND is a
# deterministic fact both engines can verify — oracle asserts TRUE per
# group, so a drifted sketch flips row hashes).
_SQL_APPROX_USERS_BOUNDED = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_bound
FROM events GROUP BY 1 ORDER BY 1
"""


@register("events_approx_users_bounded", _SQL_APPROX_USERS_BOUNDED)
def approx_users_bounded_q(spark, sf_dir):
    """HLL++ distinct-user estimate pinned within 3·rsd (15% at the
    rsd=0.05 default) of the exact distinct per event type."""
    approx = sketches.approx_user_counts_events(spark, sf_dir)
    exact = (
        analytics._events(spark, sf_dir)  # noqa: SLF001
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").cast("bigint").alias("exact_users"))
    )
    return (
        exact.join(approx, "event_type")
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= 0.15 * F.col("exact_users")
            ).alias("within_bound"),
        )
        .orderBy("event_type")
    )


_SQL_APPROX_PCT_BOUNDED = """
SELECT event_type,
       ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY value), 4) AS exact_p50,
       ROUND(percentile_cont(0.95) WITHIN GROUP (ORDER BY value), 4) AS exact_p95,
       TRUE AS within_bound
FROM events GROUP BY 1 ORDER BY 1
"""


@register("events_approx_percentiles_bounded", _SQL_APPROX_PCT_BOUNDED)
def approx_pct_bounded_q(spark, sf_dir):
    """GK percentile_approx pinned inside the exact-value band at rank
    ±0.01 per event type (10× headroom over the sketch's 1/accuracy =
    0.001 rank guarantee: the approx value is a real data element whose
    rank error is bounded, so it must lie between the exact interpolated
    percentiles at 0.49/0.51 resp. 0.94/0.96). Exact percentiles are
    bit-identical to DuckDB percentile_cont (the repo's interpolated-
    percentile discipline)."""
    # parallelize=True: the per-group exact-percentile + GK sketch aggs
    # run BEFORE the first shuffle, so an under-split scan would
    # serialize them once events is multi-MB (engages above
    # io._MIN_BYTES; no-op on a real multi-file lake). At bench scale
    # the one-file scan stays single-task by design — the audit's ~1.5 s
    # here is the documented tiny-table/JIT class.
    ev = analytics._events(spark, sf_dir, parallelize=True)  # noqa: SLF001
    approx = sketches.approx_value_distribution(ev)
    exact = (
        ev
        .groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("exact_p50"),
            F.round(F.expr("percentile(value, 0.95)"), 4).alias("exact_p95"),
            F.expr("percentile(value, 0.49)").alias("_lo50"),
            F.expr("percentile(value, 0.51)").alias("_hi50"),
            F.expr("percentile(value, 0.94)").alias("_lo95"),
            F.expr("percentile(value, 0.96)").alias("_hi95"),
        )
    )
    return (
        exact.join(approx, "event_type")
        .select(
            "event_type",
            "exact_p50",
            "exact_p95",
            # the approx columns are pre-rounded at 4 decimals, so widen
            # the band edges by the half-ulp of that rounding (5e-5) —
            # otherwise an in-band raw estimate within 5e-5 of an edge
            # could round OUTSIDE it and flip the row
            (
                F.col("p50_approx").between(
                    F.col("_lo50") - 0.00005, F.col("_hi50") + 0.00005
                )
                & F.col("p95_approx").between(
                    F.col("_lo95") - 0.00005, F.col("_hi95") + 0.00005
                )
            ).alias("within_bound"),
        )
        .orderBy("event_type")
    )


# directional data diff: reference semantics — target-only rows ignored
# (src/action/run/background.rs:48-51)
SQL_DATADIFF_DIRECTIONAL = SQL_PERTURBED_LINEITEM + f"""
SELECT l_orderkey, l_linenumber, diff_status,
       CASE WHEN diff_status = 'changed' THEN changed_columns ELSE '' END AS changed_columns
FROM (
  SELECT b.l_orderkey, b.l_linenumber,
         CASE WHEN t.l_linenumber IS NULL THEN 'removed'
              WHEN CONCAT_WS(',', {{changed}}) <> '' THEN 'changed'
         END AS diff_status,
         CONCAT_WS(',', {{changed}}) AS changed_columns
  FROM lineitem b
  LEFT JOIN target t
    ON b.l_orderkey = t.l_orderkey AND b.l_linenumber = t.l_linenumber
)
WHERE diff_status IS NOT NULL
""".replace("{changed}", _CHANGED_LIST)


@register("datadiff_lineitem_directional", SQL_DATADIFF_DIRECTIONAL)
def datadiff_directional(spark, sf_dir):
    base, target = _perturbed_lineitem(spark, sf_dir)
    return diff_data(base, target, keys=["l_orderkey", "l_linenumber"], how="left")


_LINEITEM_COLS_SORTED = [
    "l_discount", "l_extendedprice", "l_linenumber", "l_linestatus",
    "l_orderkey", "l_partkey", "l_quantity", "l_returnflag", "l_shipdate",
    "l_suppkey", "l_tax",
]

_FP_EXPR = (
    "CAST(SUM(CAST(CAST(CONCAT('0x', SUBSTR(md5(CONCAT_WS(CHR(31), "
    + ", ".join(f"COALESCE(CAST({c} AS VARCHAR), '<NULL>')" for c in _LINEITEM_COLS_SORTED)
    + ")), 1, 8)) AS BIGINT) AS DECIMAL(38,0))) AS VARCHAR)"
)

SQL_FINGERPRINT = SQL_PERTURBED_LINEITEM + f"""
SELECT side, fingerprint, n_rows FROM (
  SELECT 'base' AS side, {_FP_EXPR} AS fingerprint, COUNT(*) AS n_rows FROM lineitem
  UNION ALL
  SELECT 'target', {_FP_EXPR}, COUNT(*) FROM target
)
ORDER BY side
"""


@register("datadiff_fingerprint", SQL_FINGERPRINT)
def datadiff_fingerprint(spark, sf_dir):
    """Order-insensitive table checksums for both diff sides — the O(scan)
    'did anything change?' pre-check that short-circuits a full 100 TB diff
    when fingerprints and row counts agree."""
    from magiceye_spark.datadiff import fingerprint_compare

    base, target = _perturbed_lineitem(spark, sf_dir)
    return fingerprint_compare(base, target)


