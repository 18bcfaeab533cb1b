"""Planted-truth checkers: each compares one op's output with the truth
the generator planted and returns a list of problems (empty = correct).

The expected schema report is rendered here from the reference's message
format (PAPER.md; English templates of the reference's check.rs), not by
calling the program's renderer, so a wrong message, a wrong value or a
wrong order inside a table all count as a failed op.
"""

from __future__ import annotations

_LABEL = {"table": "Table", "column": "Column", "index": "Index", "fk": "Foreign Key"}
_PHRASE = {
    "missing": " exists in the base database, but not in the target database.",
    "data_type": " has different data type.",
    "comment": " has different comment.",
    "nullable": " has different nullable.",
    "default": " has different default value.",
    "auto_increment": " has different AUTO_INCREMENT.",
    "index_columns": " has different columns. Please check the order.",
    "index_predicate": " has different predicate.",
    "index_unique": " has different uniqueness.",
    "fk_ref": " references different column.",
}
_KIND_RANK = {"table": 0, "column": 1, "index": 2, "fk": 3}
_CHECK_RANK = {
    "missing": 0, "data_type": 1, "comment": 2, "nullable": 3, "default": 4,
    "auto_increment": 5, "index_columns": 1, "index_predicate": 2,
    "index_unique": 3, "fk_ref": 1,
}


def expected_report(findings: list) -> dict:
    """The grouped JSON report the planted findings must produce: tables
    sorted by name; inside a table, findings ordered by (object kind,
    object name, check)."""
    per_table: dict[str, list] = {}
    for table, kind, obj, check, base, target in findings:
        qual = obj if kind == "table" else f"{table}.{obj}"
        msg = f"{_LABEL[kind]}: {qual}{_PHRASE[check]}"
        if check != "missing":
            msg += f" => {base} != {target}"
        per_table.setdefault(table, []).append(
            ((_KIND_RANK[kind], obj, _CHECK_RANK[check]), msg)
        )
    return {
        "report_table_list": [
            {"table_name": t, "report_list": [m for _, m in sorted(rows)]}
            for t, rows in sorted(per_table.items())
        ]
    }


def check_report(doc: dict, expected: dict) -> list[str]:
    got = {e["table_name"]: e["report_list"] for e in doc.get("report_table_list", [])}
    want = {e["table_name"]: e["report_list"] for e in expected["report_table_list"]}
    problems = []
    if [e["table_name"] for e in doc.get("report_table_list", [])] != sorted(got):
        problems.append("report tables are not sorted by name")
    for t in sorted(set(got) | set(want)):
        if got.get(t) != want.get(t):
            problems.append(f"table {t}: got {got.get(t)!r}, want {want.get(t)!r}")
    return problems[:5]


def check_datadiff(rows: list, truth: list) -> list[str]:
    """``rows``: (l_orderkey, l_linenumber, diff_status, changed_columns)."""
    got = sorted(rows)
    if got == truth:
        return []
    g, w = set(got), set(truth)
    return [f"{len(got)} rows vs {len(truth)} planted; "
            f"unexpected {sorted(g - w)[:3]}, missing {sorted(w - g)[:3]}"]


def check_admission(admitted: list, staged: list, want: list, clones: list) -> list[str]:
    """One ingest batch: every planted clone rejected, every other staged
    id admitted, nothing admitted that was not staged."""
    a, s = set(admitted), set(staged)
    problems = []
    if len(a) != len(admitted):
        problems.append("an id was admitted twice")
    if a - s:
        problems.append(f"admitted ids never staged: {sorted(a - s)[:5]}")
    if a & set(clones):
        problems.append(f"planted clones admitted: {sorted(a & set(clones))[:5]}")
    if a != set(want):
        problems.append(f"wrongly rejected: {sorted(set(want) - a)[:5]}")
    return problems
