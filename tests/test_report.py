"""Report rendering goldens: the exact strings from the reference's README
report example (/root/reference/README.md:55-86) must come out of our
renderer, in both languages, grouped per table."""

import json

from magiceye_spark import diff_schemas, grouped_report, render_findings, write_report
from magiceye_spark.fixtures import mysql_base, mysql_target


def _report_map(df):
    return {r["table_name"]: list(r["report_list"]) for r in df.collect()}


def test_readme_golden_strings_english(spark):
    findings = diff_schemas(mysql_base(spark), mysql_target(spark))
    rep = _report_map(grouped_report(findings, "english"))
    assert rep["followers"] == [
        "Index: followers.idx_follower_follower_id exists in the base database, but not in the target database."
    ]
    assert rep["reports_fk_test"] == [
        "Index: reports_fk_test.post_id exists in the base database, but not in the target database.",
        "Foreign Key: reports_fk_test.reports_fk_test_ibfk_2 exists in the base database, but not in the target database.",
    ]
    assert "Column: posts.id has different AUTO_INCREMENT. => AUTO_INCREMENT != NOT AUTO_INCREMENT" in rep["posts"]
    assert "Column: posts.title has different default value. => asdf != " in rep["posts"]
    assert rep["tags"] == [
        "Column: tags.name has different data type. => varchar(255) != varchar(155)"
    ]
    assert rep["blocks"] == [
        "Table: blocks exists in the base database, but not in the target database."
    ]


def test_korean_rendering(spark):
    findings = diff_schemas(mysql_base(spark), mysql_target(spark))
    rep = _report_map(grouped_report(findings, "korean"))
    assert rep["blocks"] == [
        "Table: blocks가 base 데이터베이스에는 있지만, target 데이터베이스에는 없습니다."
    ]
    assert "Column: tags.name의 데이터 타입이 다릅니다. => varchar(255) != varchar(155)" in rep["tags"]


def test_write_report_envelope(spark, tmp_path):
    findings = diff_schemas(mysql_base(spark), mysql_target(spark))
    path = str(tmp_path / "report.json")
    doc = write_report(findings, path)
    on_disk = json.loads(open(path, encoding="utf-8").read())
    assert on_disk == doc
    assert set(doc) == {"report_table_list"}
    names = [t["table_name"] for t in doc["report_table_list"]]
    assert names == sorted(names)
    assert all(set(t) == {"table_name", "report_list"} for t in doc["report_table_list"])


def test_render_findings_is_pure_column_expr(spark):
    findings = diff_schemas(mysql_base(spark), mysql_target(spark))
    plan = render_findings(findings)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_write_report_equals_grouped_report_with_nulls(spark, tmp_path):
    """A findings frame from outside ``diff_schemas`` may hold NULLs (here a
    NULL table and an unknown check, whose message is NULL): the driver-side
    grouping orders them first, as ``grouped_report`` does in Spark."""
    from magiceye_spark.schema import FINDINGS_SCHEMA

    findings = spark.createDataFrame(
        [
            ("b", "column", "x", "data_type", "int", "text"),
            ("b", "column", "x", "renamed", "", ""),
            ("b", "column", "x", "comment", "", "c"),
            (None, "table", "t", "missing", "", ""),
            ("a", "fk", "f", "fk_ref", "r.id", "s.id"),
        ],
        FINDINGS_SCHEMA,
    )
    doc = write_report(findings, str(tmp_path / "report.json"))
    grouped = [
        {"table_name": r["table_name"], "report_list": list(r["report_list"])}
        for r in grouped_report(findings).collect()
    ]
    assert doc == {"report_table_list": grouped}
    assert [t["table_name"] for t in doc["report_table_list"]] == [None, "a", "b"]
