"""Row-level data-diff rows (SURVEY §2.4): keyed/keyless/hash/summary/fingerprint diffs plus profile/DQ over a deterministically perturbed lineitem pair.

Split from the single-file registry in r13; each @register call populates the shared _REGISTRY in magiceye_spark.queries (same driver contract, same keys).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from magiceye_spark import io, profile
from magiceye_spark.datadiff import (
    diff_data,
    diff_data_hash,
    diff_data_summary,
    diff_rows_set,
)
from magiceye_spark.queries import register


# ------------------------------------------------------------- data diff M4

_K = "(l_orderkey * 10 + l_linenumber)"

SQL_PERTURBED_LINEITEM = f"""
WITH target AS (
  SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
         CASE WHEN {_K} % 83 = 0 THEN l_quantity + 5 ELSE l_quantity END AS l_quantity,
         l_extendedprice, l_discount, l_tax,
         CASE WHEN {_K} % 79 = 0 THEN 'X' ELSE l_returnflag END AS l_returnflag,
         l_linestatus, l_shipdate
  FROM lineitem WHERE {_K} % 89 <> 0
  UNION ALL
  SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber + 1000,
         l_quantity, l_extendedprice, l_discount, l_tax,
         l_returnflag, l_linestatus, l_shipdate
  FROM lineitem WHERE {_K} % 101 = 0
)
"""

_CHANGED_LIST = ", ".join(
    f"CASE WHEN b.{c} IS DISTINCT FROM t.{c} THEN '{c}' END"
    for c in [
        "l_discount", "l_extendedprice", "l_linestatus", "l_partkey",
        "l_quantity", "l_returnflag", "l_shipdate", "l_suppkey", "l_tax",
    ]
)

SQL_DATADIFF = SQL_PERTURBED_LINEITEM + f"""
SELECT l_orderkey, l_linenumber, diff_status,
       CASE WHEN diff_status = 'changed' THEN changed_columns ELSE '' END AS changed_columns
FROM (
  SELECT COALESCE(b.l_orderkey, t.l_orderkey) AS l_orderkey,
         COALESCE(b.l_linenumber, t.l_linenumber) AS l_linenumber,
         CASE WHEN t.l_linenumber IS NULL THEN 'removed'
              WHEN b.l_linenumber IS NULL THEN 'added'
              WHEN CONCAT_WS(',', {_CHANGED_LIST}) <> '' THEN 'changed'
         END AS diff_status,
         CONCAT_WS(',', {_CHANGED_LIST}) AS changed_columns
  FROM lineitem b
  FULL OUTER JOIN target t
    ON b.l_orderkey = t.l_orderkey AND b.l_linenumber = t.l_linenumber
)
WHERE diff_status IS NOT NULL
"""

SQL_DATADIFF_SUMMARY = (
    "SELECT diff_status, COUNT(*) AS n FROM (" + SQL_DATADIFF + ") GROUP BY 1 ORDER BY 1"
)


def _perturbed_lineitem(spark, sf_dir) -> tuple[DataFrame, DataFrame]:
    l = io.read_table(spark, sf_dir, "lineitem")
    k = F.col("l_orderkey") * 10 + F.col("l_linenumber")
    mutated = l.where(k % 89 != 0).withColumns(
        {
            "l_quantity": F.when(k % 83 == 0, F.col("l_quantity") + 5).otherwise(
                F.col("l_quantity")
            ),
            "l_returnflag": F.when(k % 79 == 0, F.lit("X")).otherwise(
                F.col("l_returnflag")
            ),
        }
    )
    added = l.where(k % 101 == 0).withColumn(
        "l_linenumber", F.col("l_linenumber") + F.lit(1000)
    )
    return l, mutated.unionByName(added)


@register("datadiff_lineitem", SQL_DATADIFF)
def datadiff_lineitem(spark, sf_dir):
    base, target = _perturbed_lineitem(spark, sf_dir)
    return diff_data(base, target, keys=["l_orderkey", "l_linenumber"])


@register("datadiff_lineitem_summary", SQL_DATADIFF_SUMMARY)
def datadiff_lineitem_summary(spark, sf_dir):
    base, target = _perturbed_lineitem(spark, sf_dir)
    return diff_data_summary(base, target, keys=["l_orderkey", "l_linenumber"])


# hash fast-path emits the same (keys, status) rows with no column
# attribution — oracle is the full diff with changed_columns blanked.
SQL_DATADIFF_HASHMODE = SQL_PERTURBED_LINEITEM + f"""
SELECT l_orderkey, l_linenumber, diff_status, '' AS changed_columns
FROM (
  SELECT COALESCE(b.l_orderkey, t.l_orderkey) AS l_orderkey,
         COALESCE(b.l_linenumber, t.l_linenumber) AS l_linenumber,
         CASE WHEN t.l_linenumber IS NULL THEN 'removed'
              WHEN b.l_linenumber IS NULL THEN 'added'
              WHEN CONCAT_WS(',', {_CHANGED_LIST}) <> '' THEN 'changed'
         END AS diff_status
  FROM lineitem b
  FULL OUTER JOIN target t
    ON b.l_orderkey = t.l_orderkey AND b.l_linenumber = t.l_linenumber
)
WHERE diff_status IS NOT NULL
"""


@register("datadiff_lineitem_hashmode", SQL_DATADIFF_HASHMODE)
def datadiff_lineitem_hashmode(spark, sf_dir):
    base, target = _perturbed_lineitem(spark, sf_dir)
    return diff_data_hash(base, target, keys=["l_orderkey", "l_linenumber"])


SQL_DATASET_DIFF = SQL_PERTURBED_LINEITEM + f"""
SELECT 'lineitem' AS table_name, diff_status, COUNT(*) AS n FROM (
  SELECT CASE WHEN t.l_linenumber IS NULL THEN 'removed'
              WHEN b.l_linenumber IS NULL THEN 'added'
              WHEN CONCAT_WS(',', {_CHANGED_LIST}) <> '' THEN 'changed'
         END AS diff_status
  FROM lineitem b
  FULL OUTER JOIN target t
    ON b.l_orderkey = t.l_orderkey AND b.l_linenumber = t.l_linenumber
)
WHERE diff_status IS NOT NULL
GROUP BY diff_status
ORDER BY table_name, diff_status
"""


@register("datadiff_dataset_summary", SQL_DATASET_DIFF)
def dataset_diff_q(spark, sf_dir):
    """Two-table dataset diff: orders vs itself (clean → no rows) plus the
    perturbed lineitem pair — the whole-database row-diff entry point."""
    from magiceye_spark.datadiff import diff_dataset

    base, target = _perturbed_lineitem(spark, sf_dir)
    orders = io.read_table(spark, sf_dir, "orders")
    return diff_dataset(
        {"lineitem": (base, target), "orders": (orders, orders)},
        keys={"lineitem": ["l_orderkey", "l_linenumber"], "orders": ["o_orderkey"]},
    )


SQL_ROWSET_DIFF = SQL_PERTURBED_LINEITEM + """
SELECT *, 'removed' AS diff_status FROM (SELECT * FROM lineitem EXCEPT ALL SELECT * FROM target)
UNION ALL
SELECT *, 'added' AS diff_status FROM (SELECT * FROM target EXCEPT ALL SELECT * FROM lineitem)
"""


@register("datadiff_lineitem_rowset", SQL_ROWSET_DIFF)
def datadiff_lineitem_rowset(spark, sf_dir):
    base, target = _perturbed_lineitem(spark, sf_dir)
    return diff_rows_set(base, target)


SQL_DQ_LINEITEM = """
SELECT * FROM (
  SELECT 'not_null' AS "check", 'l_quantity' AS "column",
         COUNT(CASE WHEN l_quantity IS NULL THEN 1 END) AS violations,
         COUNT(*) AS total,
         COUNT(CASE WHEN l_quantity IS NULL THEN 1 END) = 0 AS pass
  FROM lineitem
  UNION ALL
  SELECT 'range', 'l_discount',
         COUNT(CASE WHEN l_discount NOT BETWEEN 0 AND 0.1 THEN 1 END),
         COUNT(*),
         COUNT(CASE WHEN l_discount NOT BETWEEN 0 AND 0.1 THEN 1 END) = 0
  FROM lineitem
  UNION ALL
  SELECT 'accepted_values', 'l_linestatus',
         COUNT(CASE WHEN l_linestatus NOT IN ('O', 'F') THEN 1 END),
         COUNT(*),
         COUNT(CASE WHEN l_linestatus NOT IN ('O', 'F') THEN 1 END) = 0
  FROM lineitem
  UNION ALL
  SELECT 'unique', 'l_orderkey,l_linenumber',
         CAST(COALESCE(SUM(CASE WHEN n > 1 THEN n END), 0) AS BIGINT),
         CAST(SUM(n) AS BIGINT),
         COALESCE(SUM(CASE WHEN n > 1 THEN n END), 0) = 0
  FROM (SELECT COUNT(*) AS n FROM lineitem GROUP BY l_orderkey, l_linenumber)
  UNION ALL
  SELECT 'referential', 'l_orderkey',
         (SELECT COUNT(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
         COUNT(*),
         (SELECT COUNT(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) = 0
  FROM lineitem
)
ORDER BY "check", "column"
"""


_PROFILE_COLS = ["l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"]
_PROFILE_NUMERIC = {"l_orderkey", "l_quantity"}


@register(
    "profile_lineitem",
    profile.sql_profile_table("lineitem", _PROFILE_COLS, _PROFILE_NUMERIC),
)
def profile_lineitem_q(spark, sf_dir):
    """Per-column profile of lineitem (null rate, distinct, min/max, avg)
    — one aggregation pass, pivoted to a row per column."""
    return profile.profile_table(
        io.read_table(spark, sf_dir, "lineitem"), _PROFILE_COLS
    )


SQL_PROFILE_DRIFT = SQL_PERTURBED_LINEITEM + ", " + profile.sql_profile_drift(
    "lineitem", "target", _PROFILE_COLS, _PROFILE_NUMERIC
)


@register("profile_drift_lineitem", SQL_PROFILE_DRIFT)
def profile_drift_q(spark, sf_dir):
    """Columns whose profile moved between lineitem and its perturbed twin
    — the catalog-sized pre-check that tells you WHICH columns to row-diff
    (two aggregation passes + a per-column-row join, no row-level work)."""
    base, target = _perturbed_lineitem(spark, sf_dir)
    bp = profile.profile_table(base, _PROFILE_COLS)
    tp = profile.profile_table(target, _PROFILE_COLS)
    return profile.profile_drift(bp, tp)


@register("dq_lineitem", SQL_DQ_LINEITEM)
def dq_q(spark, sf_dir):
    """Data-quality audit of lineitem: nullability, value range, accepted
    values, PK uniqueness, FK integrity — one declarative rule set."""
    from magiceye_spark.dq import Rules, check_quality

    l = io.read_table(spark, sf_dir, "lineitem")
    o = io.read_table(spark, sf_dir, "orders")
    rules = Rules(
        not_null=["l_quantity"],
        unique=[["l_orderkey", "l_linenumber"]],
        ranges={"l_discount": (0.0, 0.1)},
        accepted={"l_linestatus": ["O", "F"]},
        references={"l_orderkey": (o, "o_orderkey")},
    )
    return check_quality(l, rules)


