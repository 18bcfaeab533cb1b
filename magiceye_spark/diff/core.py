"""Schema-diff operators D1-D17 as pure DataFrame transforms.

Reference semantics (``/root/reference/src/action/run/steps/check.rs``):

- Directional base→target: objects present only in *target* are ignored
  (``src/action/run/background.rs:48-51``) — hence LEFT joins, never full.
- Tables matched by name (``check.rs:33-34``); columns by name within a
  matched table (``check.rs:50-51``); indexes by name (``check.rs:64-65``);
  FKs by constraint name (``check.rs:78-80``, ``src/sql/mod.rs:74-79``).
- Property checks per matched object: column data_type/comment/nullable/
  default/auto_increment (``check.rs:137-233``); index columns (ORDER
  SENSITIVE, ``check.rs:267-277``)/predicate/uniqueness
  (``check.rs:284-324``); FK referenced table.column (``check.rs:356-380``
  — local columns are NOT compared, matching the reference).

The reference does all this with single-threaded HashMap probes and O(n²)
linear scans (``check.rs:33,51,65,80``). Here D1 is one anti join, and
D3-D17 are ONE matcher run once per child kind and fed by a table of
checks (:data:`_CHECKS`): a row gives the check name, the properties it
compares and the SQL rendering of one side's value. Per kind the matcher
scopes the base objects to the target's tables (a semi join), left-joins
the target objects on (table_name, object name), and builds the candidate
finding array, the ``missing`` branch and the explode (``inline``) in one
``selectExpr`` — so each matched object yields its findings in one pass,
with no per-check re-join.

Both joins broadcast the target side by default (catalog snapshots are
small next to executors); ``hint_broadcast=False`` leaves them to
Catalyst, which turns them into sort-merge joins on the (table_name,
object_name) key — shuffle-free when both snapshots are bucketed by
table_name (``SchemaSnapshot.write_bucketed``). Every expression is SQL
text: a Column tree costs a py4j round trip per node, and the diff is
metadata-sized, so building it used to cost more than running it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from magiceye_spark.schema import FINDINGS_SCHEMA
from magiceye_spark.snapshot import SchemaSnapshot
from magiceye_spark.sqltext import lit

_FINDING_COLS = [f.name for f in FINDINGS_SCHEMA.fields]

#: marker column proving the target row matched (every real target column is
#: ''-coalesced, so only an injected literal can distinguish "matched with
#: empty properties" from "no match").
_PRESENT = "_magiceye_target_present"

#: kind -> (snapshot attribute, object-name column, checks). A check is
#: (name, compared properties, SQL rendering of one side with ``{0}``,
#: ``{1}``… standing for those properties). The order is the reference's:
#: check.rs:137-233 (columns), :253-342 (indexes), :344-398 (FKs).
_CHECKS = {
    "column": ("columns", "column_name", (
        ("data_type", ("data_type",), "{0}"),
        ("comment", ("comment",), "{0}"),
        ("nullable", ("is_nullable",), "IF({0}, 'NULL', 'NOT NULL')"),  # check.rs:171-178
        ("default", ("column_default",), "{0}"),
        ("auto_increment", ("is_auto_increment",),
         "IF({0}, 'AUTO_INCREMENT', 'NOT AUTO_INCREMENT')"),  # check.rs:210-221
    )),
    "index": ("indexes", "index_name", (
        # array <=> is element- AND order-wise, exactly the reference's
        # Vec<String> compare (check.rs:267); rendered joined by ", " (:268)
        ("index_columns", ("columns",), "array_join({0}, ', ')"),
        ("index_predicate", ("predicate",), "{0}"),
        ("index_unique", ("is_unique",), "IF({0}, 'UNIQUE', 'NOT UNIQUE')"),
    )),
    "fk": ("fks", "fk_name", (
        # only the referenced side; the local column list is not compared
        # (check.rs:358), rendered t.c (check.rs:371)
        ("fk_ref", ("ref_table", "ref_column"), "concat_ws('.', {0}, {1})"),
    )),
}


def _finding(check: str, base_value: str, target_value: str) -> str:
    return (
        f"named_struct('check', {lit(check)}, 'base_value', coalesce({base_value}, ''), "
        f"'target_value', coalesce({target_value}, ''))"
    )


def _findings_sql(checks) -> str:
    """One row in -> its findings array: a missing target object -> the
    single 'missing' finding; a matched object -> one finding per differing
    property; an identical object -> an empty array, which ``inline`` drops
    (mirroring the reference's has_report flag, check.rs:41-46,109-111)."""
    candidates = []
    for name, props, render in checks:
        differs = " OR ".join(f"NOT ({p} <=> {p}_t)" for p in props)
        base = render.format(*props)
        target = render.format(*[f"{p}_t" for p in props])
        candidates.append(f"IF({differs}, {_finding(name, base, target)}, NULL)")
    missing = _finding("missing", "''", "''")
    return (
        f"IF({_PRESENT} IS NULL, array({missing}), "
        f"filter(array({', '.join(candidates)}), x -> x IS NOT NULL))"
    )


def _scope_to_target_tables(
    child: DataFrame, target: SchemaSnapshot, hint_broadcast: bool = True
) -> DataFrame:
    """Restrict child objects (columns/indexes/FKs) to tables that exist on
    the target side — a missing table reports once as a table finding, not
    once per column (check.rs:48-107 match arms).

    The reference iterates base tables and descends only on a match, i.e. it
    scopes to base.tables ∩ target.tables. A snapshot's child objects come
    from the same catalog scan as its table list (fetching.rs:11-60), so
    every child table_name is already in base.tables and the semi-join
    against target.tables alone is equivalent — one scan and zero joins
    cheaper per matcher, which matters because this subtree is built three
    times per diff."""
    t = target.tables.select("table_name")
    if hint_broadcast:
        t = F.broadcast(t)
    return child.join(t, "table_name", "left_semi")


def _left_join(
    base_df: DataFrame, target_df: DataFrame, keys: list[str], broadcast: bool = True
) -> DataFrame:
    """base LEFT JOIN target on keys, with target columns suffixed '_t' and a
    match marker. Broadcast hint on the target side by default — catalog
    snapshots are tiny next to the cluster; Catalyst falls back to SMJ when
    stats say otherwise."""
    t = target_df.selectExpr(
        *keys,
        *[f"{c} AS {c}_t" for c in target_df.columns if c not in keys],
        f"true AS {_PRESENT}",
    )
    if broadcast:
        t = F.broadcast(t)
    return base_df.join(t, keys, "left")


def _match(
    base: SchemaSnapshot, target: SchemaSnapshot, kind: str, hint_broadcast: bool
) -> DataFrame:
    """The D3-D17 matcher for one child kind (see :data:`_CHECKS`)."""
    attr, name_col, checks = _CHECKS[kind]
    scoped = _scope_to_target_tables(getattr(base, attr), target, hint_broadcast)
    j = _left_join(
        scoped, getattr(target, attr), ["table_name", name_col], broadcast=hint_broadcast
    )
    return j.selectExpr(
        "table_name",
        f"{lit(kind)} AS object_kind",
        f"{name_col} AS object_name",
        f"inline({_findings_sql(checks)})",
    )


def diff_tables(
    base: SchemaSnapshot, target: SchemaSnapshot, hint_broadcast: bool = True
) -> DataFrame:
    """D1: tables in base but not target (check.rs:94-107) — a left anti join."""
    t = F.broadcast(target.tables) if hint_broadcast else target.tables
    missing = base.tables.join(t, "table_name", "left_anti")
    return missing.selectExpr(
        "table_name",
        "'table' AS object_kind",
        "table_name AS object_name",
        "'missing' AS `check`",
        "'' AS base_value",
        "'' AS target_value",
    )


def diff_columns(
    base: SchemaSnapshot, target: SchemaSnapshot, hint_broadcast: bool = True
) -> DataFrame:
    """D3-D9: per-column presence + data_type/comment/nullable/default/
    auto_increment checks (check.rs:122-251); nullable renders as
    NULL/NOT NULL, auto_increment as AUTO_INCREMENT/NOT AUTO_INCREMENT."""
    return _match(base, target, "column", hint_broadcast)


def diff_indexes(
    base: SchemaSnapshot, target: SchemaSnapshot, hint_broadcast: bool = True
) -> DataFrame:
    """D10-D14: index presence + columns (order-sensitive, no sort, no
    set-ify)/predicate/uniqueness (check.rs:253-342)."""
    return _match(base, target, "index", hint_broadcast)


def diff_foreign_keys(
    base: SchemaSnapshot, target: SchemaSnapshot, hint_broadcast: bool = True
) -> DataFrame:
    """D15-D17: FK presence by constraint name + referenced-column equality
    (check.rs:344-398). Only the referenced side is compared; the local
    column list is deliberately ignored, matching the reference
    (check.rs:358 compares `foreign_column` only)."""
    return _match(base, target, "fk", hint_broadcast)


def diff_timeline(snapshots: list[tuple[str, SchemaSnapshot]]) -> DataFrame:
    """Catalog drift across an ordered snapshot history: diff each adjacent
    pair and tag findings with (from_version, to_version). The version loop
    is driver-side and catalog-sized; each pairwise diff is the same
    distributed plan as :func:`diff_schemas`, so the union is one lazy plan
    over all versions. Turns the one-shot checker into the drift-timeline
    primitive the streaming monitor aggregates."""
    if len(snapshots) < 2:
        raise ValueError("diff_timeline needs at least two snapshots")
    out = None
    for (v_from, s_from), (v_to, s_to) in zip(snapshots, snapshots[1:]):
        d = diff_schemas(s_from, s_to).select(
            F.lit(v_from).alias("from_version"),
            F.lit(v_to).alias("to_version"),
            *_FINDING_COLS,
        )
        out = d if out is None else out.unionByName(d)
    return out


def diff_schemas(
    base: SchemaSnapshot, target: SchemaSnapshot, hint_broadcast: bool = True
) -> DataFrame:
    """The full D1-D17 diff: union of all four matchers.

    The findings SET is deterministic; row order is left to the engine here
    (a global orderBy would add a range-partitioner sampling pass that
    re-executes the whole union). Deterministic ORDER is applied where a
    human reads it — ``report.write_report`` sorts tables and each table's
    findings on the driver — fixing the reference's nondeterministic HashMap
    iteration (check.rs:33) without taxing the operator layer."""
    findings = (
        diff_tables(base, target, hint_broadcast)
        .unionByName(diff_columns(base, target, hint_broadcast))
        .unionByName(diff_indexes(base, target, hint_broadcast))
        .unionByName(diff_foreign_keys(base, target, hint_broadcast))
    )
    return findings.select(_FINDING_COLS)


def rename_candidates(base, target) -> "DataFrame":
    """Column-RENAME detection — the finding class the reference's
    drop+add model cannot express (`check.rs` reports a rename as one
    missing-column plus one unmatched new column; a human reads it as a
    rename). A dropped base column and an added target column in the SAME
    table with IDENTICAL data_type and comment are paired as a rename
    candidate, ranked per dropped column by name edit distance (ties to
    the lexicographically first new name) so each dropped column proposes
    at most one rename.

    Returns (table_name, old_column, new_column, name_dist,
    default_match). Anti-joins + one equi-join on (table, type, comment)
    + a per-(table, old) rank window — broadcast-sized at catalog scale,
    like every other diff here."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    matched = base.tables.select("table_name").intersect(
        target.tables.select("table_name")
    )
    bcols = base.columns.join(F.broadcast(matched), "table_name")
    tcols = target.columns.join(F.broadcast(matched), "table_name")
    dropped = bcols.join(
        tcols.select("table_name", "column_name"), ["table_name", "column_name"], "left_anti"
    )
    added = tcols.join(
        bcols.select("table_name", "column_name"), ["table_name", "column_name"], "left_anti"
    )
    cand = dropped.alias("d").join(
        added.alias("a"),
        (F.col("d.table_name") == F.col("a.table_name"))
        & (F.col("d.data_type") == F.col("a.data_type"))
        & (F.col("d.comment") == F.col("a.comment")),
    )
    scored = cand.select(
        F.col("d.table_name").alias("table_name"),
        F.col("d.column_name").alias("old_column"),
        F.col("a.column_name").alias("new_column"),
        F.levenshtein(F.col("d.column_name"), F.col("a.column_name")).alias("name_dist"),
        (
            F.coalesce(F.col("d.column_default"), F.lit(""))
            == F.coalesce(F.col("a.column_default"), F.lit(""))
        ).alias("default_match"),
    )
    w = Window.partitionBy("table_name", "old_column").orderBy(
        F.asc("name_dist"), F.asc("new_column")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .drop("rk")
        .orderBy("table_name", "old_column")
    )
