"""Schema-diff rows (reference D1-D17 surface): full diff, per-facet diffs, and the localized report over synthetic catalog snapshots.

Split from the single-file registry in r13; each @register call populates the shared _REGISTRY in magiceye_spark.queries (same driver contract, same keys).
"""

from __future__ import annotations


from magiceye_spark import synthcat
from magiceye_spark.diff.core import (
    diff_columns,
    diff_foreign_keys,
    diff_indexes,
    diff_schemas,
    diff_tables,
)
from magiceye_spark.report import render_findings
from magiceye_spark.queries import register


def _snapshots(spark, sf_dir):
    return synthcat.base_snapshot(spark, sf_dir), synthcat.target_snapshot(spark, sf_dir)


# ---------------------------------------------------------- schema diff D1-D17

@register("schema_missing_tables", synthcat.with_ctes(synthcat.SQL_MISSING_TABLES))
def schema_missing_tables(spark, sf_dir):
    return diff_tables(*_snapshots(spark, sf_dir))


@register("schema_column_diffs", synthcat.with_ctes(synthcat.SQL_COLUMN_DIFFS))
def schema_column_diffs(spark, sf_dir):
    return diff_columns(*_snapshots(spark, sf_dir))


@register("schema_index_diffs", synthcat.with_ctes(synthcat.SQL_INDEX_DIFFS))
def schema_index_diffs(spark, sf_dir):
    return diff_indexes(*_snapshots(spark, sf_dir))


@register("schema_fk_diffs", synthcat.with_ctes(synthcat.SQL_FK_DIFFS))
def schema_fk_diffs(spark, sf_dir):
    return diff_foreign_keys(*_snapshots(spark, sf_dir))


@register("schema_diff_full", synthcat.oracle_sql_full())
def schema_diff_full(spark, sf_dir):
    return diff_schemas(*_snapshots(spark, sf_dir))


def _report_oracle() -> str:
    """English rendering of every finding as SQL CASE over the full diff."""
    from magiceye_spark.report import _KIND_LABEL, _PHRASES  # noqa: SLF001

    label = "CASE object_kind " + " ".join(
        f"WHEN '{k}' THEN '{v}'" for k, v in _KIND_LABEL.items()
    ) + " END"
    phrase = "CASE \"check\" " + " ".join(
        f"WHEN '{k}' THEN '{v[0]}'" for k, v in _PHRASES.items()
    ) + " END"
    qual = "CASE WHEN object_kind = 'table' THEN object_name ELSE table_name || '.' || object_name END"
    msg = (
        f"CASE WHEN \"check\" = 'missing' THEN {label} || ': ' || {qual} || {phrase} "
        f"ELSE {label} || ': ' || {qual} || {phrase} || ' => ' || base_value || ' != ' || target_value END"
    )
    return f"SELECT table_name, {msg} AS report FROM ({synthcat.oracle_sql_full()})"


@register("schema_diff_report", _report_oracle())
def schema_diff_report(spark, sf_dir):
    findings = diff_schemas(*_snapshots(spark, sf_dir))
    return render_findings(findings, "english").select("table_name", "report")


