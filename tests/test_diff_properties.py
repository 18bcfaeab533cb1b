"""Property-based check of the D1-D17 diff semantics: random snapshot pairs
are diffed by the Spark operators AND by an independent pure-Python
re-implementation of the reference's loop (check.rs:17-120); the finding
SETS must be identical.

This is the test the example-based fixtures can't give us: arbitrary
combinations of missing tables, missing child objects, and property flips —
including the degenerate shapes (empty sides, all-tables-missing,
identical snapshots) that hand-written fixtures skip.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from magiceye_spark.diff.core import diff_schemas
from magiceye_spark.report import grouped_report, write_report
from magiceye_spark.snapshot import SchemaSnapshot

TABLES = [f"t{i}" for i in range(4)]
COLS = ["a", "b"]
TYPES = ["int", "text"]
COMMENTS = ["", "c1"]
DEFAULTS = ["", "0"]
IDX = ["i1"]
IDX_COLS = [["a"], ["a", "b"], ["b", "a"]]
PREDS = ["", "x > 0"]
FKS = ["f1"]
REFS = [("r1", "id"), ("r2", "id")]


def _side(draw, label):
    tables = draw(st.lists(st.sampled_from(TABLES), unique=True, max_size=4))
    columns = {}
    indexes = {}
    fks = {}
    for t in tables:
        for c in draw(st.lists(st.sampled_from(COLS), unique=True, max_size=2)):
            columns[(t, c)] = (
                draw(st.sampled_from(TYPES)),
                draw(st.sampled_from(DEFAULTS)),
                draw(st.booleans()),
                draw(st.sampled_from(COMMENTS)),
                draw(st.booleans()),
            )
        for i in draw(st.lists(st.sampled_from(IDX), unique=True, max_size=1)):
            indexes[(t, i)] = (
                draw(st.sampled_from(IDX_COLS)),
                draw(st.sampled_from(PREDS)),
                draw(st.booleans()),
            )
        for f in draw(st.lists(st.sampled_from(FKS), unique=True, max_size=1)):
            fks[(t, f)] = draw(st.sampled_from(REFS))
    return tables, columns, indexes, fks


snapshot_pairs = st.composite(
    lambda draw: (_side(draw, "base"), _side(draw, "target"))
)()


def _expected(base, target):
    """The reference algorithm, straight-line Python (check.rs:17-120):
    directional base→target, missing table reported once, child objects
    compared only under matched tables, property checks per matched pair."""
    (bt, bc, bi, bf), (tt, tc, ti, tf) = base, target
    out = set()
    for t in bt:
        if t not in tt:
            out.add((t, "table", t, "missing", "", ""))
    matched = [t for t in bt if t in tt]

    def rn(b):  # nullable rendering, check.rs:171-178
        return "NULL" if b else "NOT NULL"

    def ra(b):  # auto_increment rendering, check.rs:210-221
        return "AUTO_INCREMENT" if b else "NOT AUTO_INCREMENT"

    for (t, c), (dt, de, nu, co, ai) in bc.items():
        if t not in matched:
            continue
        if (t, c) not in tc:
            out.add((t, "column", c, "missing", "", ""))
            continue
        dt2, de2, nu2, co2, ai2 = tc[(t, c)]
        if dt != dt2:
            out.add((t, "column", c, "data_type", dt, dt2))
        if co != co2:
            out.add((t, "column", c, "comment", co, co2))
        if nu != nu2:
            out.add((t, "column", c, "nullable", rn(nu), rn(nu2)))
        if de != de2:
            out.add((t, "column", c, "default", de, de2))
        if ai != ai2:
            out.add((t, "column", c, "auto_increment", ra(ai), ra(ai2)))
    for (t, i), (cols, pred, uniq) in bi.items():
        if t not in matched:
            continue
        if (t, i) not in ti:
            out.add((t, "index", i, "missing", "", ""))
            continue
        cols2, pred2, uniq2 = ti[(t, i)]
        if cols != cols2:  # order-sensitive, check.rs:267
            out.add((t, "index", i, "index_columns",
                     ", ".join(cols), ", ".join(cols2)))
        if pred != pred2:
            out.add((t, "index", i, "index_predicate", pred, pred2))
        if uniq != uniq2:
            u = "UNIQUE"
            n = "NOT UNIQUE"
            out.add((t, "index", i, "index_unique",
                     u if uniq else n, u if uniq2 else n))
    for (t, f), (rt, rc) in bf.items():
        if t not in matched:
            continue
        if (t, f) not in tf:
            out.add((t, "fk", f, "missing", "", ""))
            continue
        rt2, rc2 = tf[(t, f)]
        if (rt, rc) != (rt2, rc2):
            out.add((t, "fk", f, "fk_ref", f"{rt}.{rc}", f"{rt2}.{rc2}"))
    return out


def _to_snapshot(spark, side):
    tables, columns, indexes, fks = side
    return SchemaSnapshot.from_rows(
        spark,
        tables=[(t, "") for t in tables],
        columns=[
            (t, c, dt, de, nu, co, ai)
            for (t, c), (dt, de, nu, co, ai) in columns.items()
        ],
        indexes=[
            (t, i, cols, pred, uniq)
            for (t, i), (cols, pred, uniq) in indexes.items()
        ],
        fks=[
            (t, f, [f"{f}_col"], rt, rc) for (t, f), (rt, rc) in fks.items()
        ],
    )


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(pair=snapshot_pairs)
def test_diff_matches_reference_algorithm(spark, pair):
    base, target = pair
    got = {
        tuple(r)
        for r in diff_schemas(
            _to_snapshot(spark, base), _to_snapshot(spark, target)
        ).collect()
    }
    assert got == _expected(base, target)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.data_too_large,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(pair=snapshot_pairs)
def test_driver_grouped_report_equals_spark_grouped(spark, tmp_path, pair):
    """``write_report`` groups and orders on the driver; the lake-scale
    ``grouped_report`` does it in Spark. Same document, same order, in
    both languages."""
    base, target = pair
    diffed = diff_schemas(_to_snapshot(spark, base), _to_snapshot(spark, target))
    # both sinks read the same findings, held as a local relation so each
    # report does not re-run the diff's joins
    findings = spark.createDataFrame(diffed.collect(), diffed.schema)
    for language in ("english", "korean"):
        doc = write_report(findings, str(tmp_path / "report.json"), language)
        grouped = [
            {"table_name": r["table_name"], "report_list": list(r["report_list"])}
            for r in grouped_report(findings, language).collect()
        ]
        assert doc == {"report_table_list": grouped}
