"""R1-R3: findings → localized message strings → grouped JSON report.

Message templates reproduce the reference byte-for-byte (English and Korean;
``/root/reference/src/action/run/steps/check.rs`` — table :96-101, column
:141-147/:158-164/:180-186/:197-203/:222-228/:236-242, index
:271-277/:288-294/:313-319/:327-333, fk :369-375/:383-389). The reference
renders strings inline inside every predicate arm; we render at the edge from
the structured findings DF so the operator layer stays language-neutral.

Two sinks group the rendered findings per table: :func:`write_report`
collects them once and groups and orders them on the driver (a catalog
diff is metadata-sized), and :func:`grouped_report` does the same in Spark
for lake-scale reports written with ``write.json``. Both order by one key
(:func:`_ranked`), so they produce the same document.

Report envelope matches ``ReportSchema { report_table_list: [ { table_name,
report_list } ] }`` (check.rs:6-15) with one deliberate improvement: output
is sorted by table_name and by (object kind, object name, check) within a
table — the reference's HashMap iteration order is nondeterministic
(check.rs:33), which makes golden testing impossible; ours is stable.
"""

from __future__ import annotations

import json
from itertools import groupby
from operator import itemgetter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from magiceye_spark.schema import CHECK_RANK, OBJECT_KIND_RANK
from magiceye_spark.sqltext import lit

_KIND_LABEL = {
    "table": "Table",
    "column": "Column",
    "index": "Index",
    "fk": "Foreign Key",
}

# check -> (english phrase, korean phrase); property phrases are followed by
# " => {base} != {target}" appended uniformly (the reference's format! strings
# all end with "=> {b} != {t}").
_PHRASES = {
    "missing": (
        " exists in the base database, but not in the target database.",
        "가 base 데이터베이스에는 있지만, target 데이터베이스에는 없습니다.",
    ),
    "data_type": (" has different data type.", "의 데이터 타입이 다릅니다."),
    "comment": (" has different comment.", "의 코멘트가 다릅니다."),
    "nullable": (" has different nullable.", "의 NULLABLE이 다릅니다."),
    "default": (" has different default value.", "의 DEFAULT 값이 다릅니다."),
    "auto_increment": (
        " has different AUTO_INCREMENT.",
        "의 AUTO_INCREMENT 여부가 다릅니다.",
    ),
    "index_columns": (
        " has different columns. Please check the order.",
        "의 컬럼이 다릅니다. 순서까지 확인해주세요.",
    ),
    "index_predicate": (" has different predicate.", "의 조건이 다릅니다."),
    "index_unique": (" has different uniqueness.", "의 UNIQUE 여부가 다릅니다."),
    "fk_ref": (" references different column.", "의 참조 컬럼이 다릅니다."),
}


def _case(col: str, mapping: dict) -> str:
    """SQL ``CASE col WHEN k THEN v … END`` (NULL for an unknown key)."""
    arms = " ".join(f"WHEN {lit(k)} THEN {lit(str(v))}" for k, v in mapping.items())
    return f"CASE {col} {arms} END"


def render_findings(findings: DataFrame, language: str = "english") -> DataFrame:
    """Add a localized ``report`` string column to a findings DataFrame.

    One SQL expression (CASE lookups + concat) — whole-stage codegen, no
    UDF, one py4j call to build.
    """
    lang_idx = {"english": 0, "korean": 1}[language.lower()]
    label = _case("object_kind", _KIND_LABEL)
    phrase = _case("`check`", {k: v[lang_idx] for k, v in _PHRASES.items()})
    qualname = "IF(object_kind = 'table', object_name, concat_ws('.', table_name, object_name))"
    head = f"{label}, ': ', {qualname}, {phrase}"
    message = (
        f"IF(`check` = 'missing', concat({head}), "
        f"concat({head}, ' => ', base_value, ' != ', target_value))"
    )
    return findings.withColumn("report", F.expr(message))


def _ranked(findings: DataFrame, language: str) -> DataFrame:
    """Rendered findings as (table_name, k, o, c, report): the report's
    order key is (table_name, kind rank, object name, check rank, message),
    compared field by field. Spark compares strings by UTF-8 bytes and
    Python by code points; the two orders agree."""
    return render_findings(findings, language).selectExpr(
        "table_name",
        f"coalesce({_case('object_kind', OBJECT_KIND_RANK)}, '9') AS k",
        "object_name AS o",
        f"coalesce({_case('`check`', CHECK_RANK)}, '9') AS c",
        "report",
    )


def grouped_report(findings: DataFrame, language: str = "english") -> DataFrame:
    """R2: group rendered findings per table → (table_name, report_list), in
    Spark — the lake-scale path (``grouped_report(f).write.json(path)``).

    Ordering inside the list is made deterministic by sorting an array of
    (rank…, message) structs AFTER the aggregation — ``sort_array`` over
    structs compares field-by-field, so collect_list's arbitrary
    shuffle-order never leaks into output. Tables with zero findings vanish
    naturally (no group), matching the reference's has_report flag
    (check.rs:41-46,109-111).
    """
    return (
        _ranked(findings, language)
        .groupBy("table_name")
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(k, o, c, report))), x -> x.report)"
            ).alias("report_list")
        )
        .orderBy("table_name")
    )


def write_report(findings: DataFrame, path: str, language: str = "english") -> dict:
    """R3: serialize the grouped report as one pretty JSON document shaped
    exactly like the reference's ReportSchema (check.rs:6-15;
    background.rs:58-66 writes pretty JSON to a timestamped file — the path
    is the caller's choice here).

    The findings of a catalog diff are metadata-sized, so they are collected
    once, rendered and with their order key, and grouped and ordered on the
    driver: one job, no groupBy shuffle, no range sort. The document equals
    ``grouped_report(findings).collect()``; for lake-scale reports use
    ``grouped_report(f).write.json(path)`` instead.
    """
    # NULL sorts first, as in Spark's ascending sorts
    rows = sorted(
        _ranked(findings, language).collect(),
        key=lambda r: tuple((v is not None, v or "") for v in r),
    )
    doc = {
        "report_table_list": [
            {"table_name": table, "report_list": [r[-1] for r in group]}
            for table, group in groupby(rows, key=itemgetter(0))
        ]
    }
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(doc, fh, ensure_ascii=False, indent=2)
    return doc
