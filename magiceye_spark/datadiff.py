"""Row-level data diff — the mandated extension beyond the reference's
catalog-only surface (SURVEY.md §2.4; the reference never touches user rows).

Design for 100 TB:

- ONE shuffle: a single full-outer join on the primary key. Both sides
  repartition on the key; AQE handles skewed keys (skew-join splitting is on
  in session.py). No driver-side materialization ever.
- Column compares are null-safe ``<=>`` expressions inside whole-stage
  codegen; the changed-column list is built with array/filter expressions,
  not a UDF, rendered as SQL text so building the plan costs a few py4j
  calls, not a round trip per column and operator.
- For very wide rows, :func:`diff_data_hash` compares one ``xxhash64`` per
  row first so unchanged rows never evaluate per-column predicates — the
  common fast path when diffing two nearly-identical 100 TB snapshots.
- Directional mode (``how='left'``) mirrors the reference's base→target
  semantics (src/action/run/background.rs:48-51): target-only rows ignored.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from magiceye_spark.sqltext import ident, lit

#: diff_status values
ADDED = "added"        # present only in target
REMOVED = "removed"    # present only in base
CHANGED = "changed"    # present in both, at least one compared column differs


def _compare_cols(base: DataFrame, target: DataFrame, keys: list[str],
                  compare_cols: list[str] | None) -> list[str]:
    for side, df in (("base", base), ("target", target)):
        missing = [k for k in keys if k not in df.columns]
        if missing:
            raise ValueError(f"key column(s) {missing} not in {side} table "
                             f"(has {df.columns})")
    if compare_cols is not None:
        return compare_cols
    common = [c for c in base.columns if c in set(target.columns)]
    return [c for c in common if c not in set(keys)]


def _canon_sql(df: DataFrame, c: str) -> str:
    """Comparison-safe view of a column, as SQL text: MapType has no
    ordering in Spark (``<=>`` rejects it, and casting to string depends on
    entry order), so maps are canonicalized to key-sorted entry arrays —
    content-equal maps compare equal regardless of construction order.
    Other types pass through."""
    if dict(df.dtypes).get(c, "").startswith("map<"):
        return f"sort_array(map_entries({ident(c)}))"
    return ident(c)


def _canon(df: DataFrame, c: str):
    """:func:`_canon_sql` as a Column."""
    return F.expr(_canon_sql(df, c))


def diff_data(
    base: DataFrame,
    target: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
    how: str = "full",
) -> DataFrame:
    """Diff two schema-aligned tables by primary key.

    Returns ``keys… , diff_status, changed_columns`` where changed_columns is
    a comma-joined sorted list of differing column names ('' for added/
    removed). Unchanged rows are dropped.

    ``how='full'`` reports added+removed+changed; ``how='left'`` reports only
    removed+changed (reference directionality).
    """
    if how not in ("full", "left"):
        raise ValueError(f"how must be 'full' or 'left', got {how!r}")
    cols = _compare_cols(base, target, keys, compare_cols)
    qk = [ident(k) for k in keys]
    b = base.selectExpr(*qk, *[f"{_canon_sql(base, c)} AS {ident(c)}" for c in cols],
                        "true AS _b_present")
    t = target.selectExpr(*qk, *[f"{_canon_sql(target, c)} AS {ident(c + '__t')}" for c in cols],
                          "true AS _t_present")
    j = b.join(t, keys, how == "full" and "full_outer" or "left")

    changed_arr = "filter(array({}), x -> x IS NOT NULL)".format(", ".join(
        f"IF(NOT ({ident(c)} <=> {ident(c + '__t')}), {lit(c)}, NULL)" for c in cols
    ))
    status = (
        f"CASE WHEN _t_present IS NULL THEN '{REMOVED}' "
        f"WHEN _b_present IS NULL THEN '{ADDED}' "
        f"WHEN size({changed_arr}) > 0 THEN '{CHANGED}' END"
    )
    out = j.withColumn("diff_status", F.expr(status)).where("diff_status IS NOT NULL")
    return out.selectExpr(
        *qk,
        "diff_status",
        f"IF(diff_status = '{CHANGED}', array_join(array_sort({changed_arr}), ','), '')"
        " AS changed_columns",
    )


def diff_data_summary(
    base: DataFrame, target: DataFrame, keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Aggregate diff counts per status — the 'is anything different and how
    much' summary that runs before anyone looks at row-level output."""
    d = diff_data(base, target, keys, compare_cols)
    return d.groupBy("diff_status").agg(F.count(F.lit(1)).alias("n")).orderBy("diff_status")


def diff_rows_set(base: DataFrame, target: DataFrame) -> DataFrame:
    """Keyless row-level diff via multiset difference (exceptAll both ways):
    (all columns…, diff_status ∈ {removed, added}). For tables WITHOUT a
    primary key — duplicates count, so 3 copies vs 2 copies reports one
    'removed'. One aggregation-style shuffle per side; no join."""
    removed = base.exceptAll(target).withColumn("diff_status", F.lit(REMOVED))
    added = target.exceptAll(base).withColumn("diff_status", F.lit(ADDED))
    return removed.unionByName(added)


def diff_dataset(
    pairs: dict[str, tuple[DataFrame, DataFrame]],
    keys: dict[str, list[str]],
) -> DataFrame:
    """Diff a whole dataset (many tables) in one call: per-table status
    counts unioned into (table_name, diff_status, n). The table loop is
    driver-side and catalog-sized (mirrors the reference's per-table
    orchestration, src/action/run/background.rs:20-56, but each table's
    diff is a distributed plan); tables with no differences contribute no
    rows, matching the reference's has_report behavior (check.rs:41-46)."""
    out = None
    for name, (base, target) in sorted(pairs.items()):
        d = (
            diff_data(base, target, keys=keys[name])
            .groupBy("diff_status")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit(name).alias("table_name"), "diff_status", "n")
        )
        out = d if out is None else out.unionByName(d)
    if out is None:
        raise ValueError("diff_dataset needs at least one table pair")
    return out.orderBy("table_name", "diff_status")


def diff_data_hash(
    base: DataFrame, target: DataFrame, keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Wide-row fast path: compare one 64-bit row hash instead of N columns.

    Emits the same (keys…, diff_status) shape but ``changed_columns`` is
    always '' — when a row hashes differently the caller re-diffs the
    (tiny) changed subset with :func:`diff_data` for column attribution.
    xxhash64 is computed JVM-side per row; join and filter are the only ops.
    """
    cols = sorted(_compare_cols(base, target, keys, compare_cols))
    def hashed(df: DataFrame, name: str) -> DataFrame:
        # normalize to string with a NUL separator so (1,'a')≠('1a',''),
        # and coalesce NULL to a sentinel so NULL≠''; maps canonicalized
        # to key-sorted entries first (string form is order-dependent).
        parts = [F.coalesce(_canon(df, c).cast("string"), F.lit("\x00null")) for c in cols]
        return df.select(*keys, F.xxhash64(*parts).alias(name))
    b = hashed(base, "_bh").withColumn("_b_present", F.lit(True))
    t = hashed(target, "_th").withColumn("_t_present", F.lit(True))
    j = b.join(t, keys, "full_outer")
    status = (
        F.when(F.col("_t_present").isNull(), F.lit(REMOVED))
        .when(F.col("_b_present").isNull(), F.lit(ADDED))
        .when(F.col("_bh") != F.col("_th"), F.lit(CHANGED))
    )
    return (
        j.withColumn("diff_status", status)
        .where(F.col("diff_status").isNotNull())
        .select(*keys, "diff_status", F.lit("").alias("changed_columns"))
    )


def table_fingerprint(
    df: DataFrame, cols: list[str] | None = None
) -> DataFrame:
    """Order-insensitive table checksum: SUM over rows of a 32-bit md5 prefix
    of the canonicalized row, plus the row count — one row
    (fingerprint string, n_rows).

    The cheap "did anything change at all?" pre-check before a full
    :func:`diff_data` of two 100 TB snapshots: one map-side hash per row and
    a single scalar aggregation (no join, no shuffle beyond the final
    reduce). Addition is commutative, so the result is independent of
    partitioning and row order; the 38-digit decimal sum cannot overflow at
    any realistic row count. md5 (not xxhash64) so external engines — the
    DuckDB oracle, or a fingerprint computed on the source warehouse —
    produce the identical value.
    """
    cols = sorted(cols or df.columns)
    parts = [
        F.coalesce(_canon(df, c).cast("string"), F.lit("<NULL>")) for c in cols
    ]
    h = F.conv(
        F.substring(F.md5(F.concat_ws("\x1f", *parts)), 1, 8), 16, 10
    ).cast("long")
    return df.agg(
        F.sum(h.cast("decimal(38,0)")).cast("string").alias("fingerprint"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def fingerprint_compare(
    base: DataFrame, target: DataFrame, cols: list[str] | None = None
) -> DataFrame:
    """Fingerprint both sides: (side, fingerprint, n_rows) for
    side ∈ {base, target} — equal fingerprints + counts mean the full diff
    can be skipped entirely."""
    b = table_fingerprint(base, cols).select(
        F.lit("base").alias("side"), "fingerprint", "n_rows"
    )
    t = table_fingerprint(target, cols).select(
        F.lit("target").alias("side"), "fingerprint", "n_rows"
    )
    return b.unionByName(t).orderBy("side")


def partition_fingerprints(
    df: DataFrame, partition_col, cols: list[str] | None = None
) -> DataFrame:
    """Per-partition order-insensitive checksum: (partition, fingerprint,
    n_rows). Same md5-prefix-sum construction as :func:`table_fingerprint`,
    grouped by a partition expression (typically the physical partition
    column, e.g. the ingest day) — one map-side hash per row and one
    partition-count-sized aggregate."""
    pcol = F.col(partition_col) if isinstance(partition_col, str) else partition_col
    cols = sorted(cols or [c for c in df.columns])
    parts = [F.coalesce(_canon(df, c).cast("string"), F.lit("<NULL>")) for c in cols]
    h = F.conv(
        F.substring(F.md5(F.concat_ws("\x1f", *parts)), 1, 8), 16, 10
    ).cast("long")
    return df.groupBy(pcol.alias("partition")).agg(
        F.sum(h.cast("decimal(38,0)")).cast("string").alias("fingerprint"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def write_fingerprints(
    df: DataFrame, partition_col, path: str,
    cols: list[str] | None = None, mode: str = "overwrite",
) -> None:
    """Persist the per-partition fingerprint table as a snapshot artifact.

    Written at ingest/publish time (the data was just scanned anyway), this
    KB-sized table is what makes :func:`diff_data_incremental` actually
    incremental at 100 TB: the next diff compares two stored fingerprint
    tables instead of re-scanning both snapshots, then reads ONLY changed
    partitions. For a keyed diff pass ``cols=sorted(set(keys)|set(compare))``
    so the fingerprint matches what the diff will compare."""
    partition_fingerprints(df, partition_col, cols).write.mode(mode).parquet(path)


def read_fingerprints(spark, path: str) -> DataFrame:
    """Read a fingerprint table written by :func:`write_fingerprints`."""
    return spark.read.parquet(path)


def compare_fingerprint_tables(
    base_fp: DataFrame, target_fp: DataFrame
) -> DataFrame:
    """Changed-partition set from two (partition, fingerprint, n_rows)
    tables: (partition, status) with status ∈ base_only/target_only/changed.
    Catalog-sized full-outer join — KB of work no matter the data size."""
    b = base_fp.select(
        "partition",
        F.col("fingerprint").alias("fp_b"),
        F.col("n_rows").alias("rows_b"),
    )
    t = target_fp.select(
        "partition",
        F.col("fingerprint").alias("fp_t"),
        F.col("n_rows").alias("rows_t"),
    )
    j = b.join(t, "partition", "full_outer")
    status = (
        F.when(F.col("fp_t").isNull(), F.lit("base_only"))
        .when(F.col("fp_b").isNull(), F.lit("target_only"))
        .when(
            ~F.col("fp_b").eqNullSafe(F.col("fp_t"))
            | ~F.col("rows_b").eqNullSafe(F.col("rows_t")),
            F.lit("changed"),
        )
    )
    return (
        j.withColumn("status", status)
        .where(F.col("status").isNotNull())
        .select("partition", "status")
        .orderBy("partition")
    )


def changed_partitions(
    base: DataFrame,
    target: DataFrame,
    partition_col,
    cols: list[str] | None = None,
) -> DataFrame:
    """Partitions whose content differs between the two snapshots:
    (partition, status) with status ∈ base_only/target_only/changed.
    Catalog-sized full-outer join of the two per-partition fingerprint
    tables — the at-scale incremental-diff planner: at 100 TB you compare
    KB of fingerprints, then row-diff ONLY the changed partitions (the
    partition filter prunes every untouched directory at the scan)."""
    return compare_fingerprint_tables(
        partition_fingerprints(base, partition_col, cols),
        partition_fingerprints(target, partition_col, cols),
    )


def diff_data_incremental(
    base: DataFrame,
    target: DataFrame,
    keys: list[str],
    partition_col: str,
    compare_cols: list[str] | None = None,
    base_fingerprints: DataFrame | None = None,
    target_fingerprints: DataFrame | None = None,
) -> DataFrame:
    """Row diff restricted to partitions whose fingerprints differ.

    Without stored fingerprints: the catalog-sized
    :func:`changed_partitions` set is computed (one fingerprint scan per
    side), collected, and applied as a literal ``IN`` filter, then the
    standard keyed :func:`diff_data` runs over the surviving rows. This
    still SCANS both sides once to compute fingerprints; it saves the
    join work and the unchanged-partition scan of the diff itself.

    With ``base_fingerprints``/``target_fingerprints`` (tables persisted by
    :func:`write_fingerprints` at publish time), the changed-partition set
    comes from comparing the two KB-sized stored tables — neither snapshot
    is scanned to decide what changed. The set is collected (it is
    catalog-sized by construction) and applied as a LITERAL ``IN`` filter on
    the partition column, so on a hive-partitioned lake the scan shows
    PartitionFilters and untouched directories are never opened — a
    day-partitioned 100 TB table with one changed day reads ~1/365th of the
    data. Identical output to a full :func:`diff_data` by construction —
    which is exactly what the oracle twin checks. A side whose fingerprint
    table is not supplied falls back to computing fingerprints from its data.

    The fingerprint covers keys AND compare columns: fingerprinting only the
    compared payload would prune a partition where rows merely exchange key
    values (the compare-tuple multiset and row count are unchanged, but the
    keyed diff is not empty)."""
    fp_cols = (
        sorted(set(keys) | set(compare_cols)) if compare_cols is not None else None
    )
    b_fp = (
        base_fingerprints
        if base_fingerprints is not None
        else partition_fingerprints(base, partition_col, fp_cols)
    )
    t_fp = (
        target_fingerprints
        if target_fingerprints is not None
        else partition_fingerprints(target, partition_col, fp_cols)
    )
    changed = compare_fingerprint_tables(b_fp, t_fp)
    # The changed set is catalog-sized by construction: collect it and
    # filter by LITERAL IN. This both enables PartitionFilters at the scan
    # AND runs each computed-fingerprint job exactly once — leaving the
    # fingerprint subtree lazy under a semi-join would re-execute it per
    # side (each snapshot scanned twice).
    vals = [r["partition"] for r in changed.select("partition").collect()]
    if not vals:
        empty = F.lit(False)
        return diff_data(base.where(empty), target.where(empty), keys, compare_cols)
    b = base.where(F.col(partition_col).isin(vals))
    t = target.where(F.col(partition_col).isin(vals))
    return diff_data(b, t, keys, compare_cols)


def diff_triage(
    base: DataFrame,
    target: DataFrame,
    keys: list[str],
    partition_col: str | None = None,
    compare_cols: list[str] | None = None,
    base_fingerprints: DataFrame | None = None,
    target_fingerprints: DataFrame | None = None,
) -> dict:
    """The measured 100 TB diff protocol as one call — escalate only as
    far as the data demands (BASELINE.md: fingerprint 7.3 s / hash 10.2 s
    / full attribution 20.0 s at sf1):

    1. whole-table fingerprint compare (scan + scalar agg, no join, or
       free if stored fingerprint tables are supplied) — equal means DONE;
    2. with ``partition_col``: changed-partition set from per-partition
       fingerprints, diff restricted to those partitions;
    3. otherwise the full keyed :func:`diff_data`.

    Returns ``{"identical": bool, "level": "fingerprint" | "partition" |
    "row", "changed_partitions": list | None, "diff": DataFrame | None}``
    — ``diff`` is lazy; nothing beyond the fingerprint jobs has executed
    when this returns."""
    fp_cols = (
        sorted(set(keys) | set(compare_cols)) if compare_cols is not None else None
    )
    if base_fingerprints is not None and target_fingerprints is not None:
        changed = compare_fingerprint_tables(base_fingerprints, target_fingerprints)
        vals = [r["partition"] for r in changed.select("partition").collect()]
        if not vals:
            return {"identical": True, "level": "fingerprint",
                    "changed_partitions": [], "diff": None}
        if partition_col is None:
            raise ValueError("stored fingerprint tables require partition_col")
        b = base.where(F.col(partition_col).isin(vals))
        t = target.where(F.col(partition_col).isin(vals))
        return {"identical": False, "level": "partition",
                "changed_partitions": sorted(vals),
                "diff": diff_data(b, t, keys, compare_cols)}
    fb, ft = (
        table_fingerprint(base, fp_cols).collect()[0],
        table_fingerprint(target, fp_cols).collect()[0],
    )
    if (fb["fingerprint"], fb["n_rows"]) == (ft["fingerprint"], ft["n_rows"]):
        return {"identical": True, "level": "fingerprint",
                "changed_partitions": None, "diff": None}
    if partition_col is not None:
        changed = changed_partitions(base, target, partition_col, fp_cols)
        vals = [r["partition"] for r in changed.select("partition").collect()]
        b = base.where(F.col(partition_col).isin(vals))
        t = target.where(F.col(partition_col).isin(vals))
        return {"identical": False, "level": "partition",
                "changed_partitions": sorted(vals),
                "diff": diff_data(b, t, keys, compare_cols)}
    return {"identical": False, "level": "row", "changed_partitions": None,
            "diff": diff_data(base, target, keys, compare_cols)}


def build_scd2(
    snapshots: list[tuple[int, DataFrame]],
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Slowly-changing-dimension (type 2) history from a series of FULL
    snapshots: one row per (key, unchanged-run) with
    ``valid_from``/``valid_to`` version bounds and an ``is_current``
    flag. The history a warehouse derives when upstream only publishes
    periodic full dumps:

    - a payload change at version v closes the previous interval at v
      and opens a new one;
    - a key ABSENT from version v closes its interval at v (deletion);
      re-appearing later opens a fresh interval (re-insert);
    - the interval containing the newest version has
      ``valid_to = NULL`` and ``is_current = true``.

    Shape: one union of the tagged snapshots, ONE key-ordered window
    pass to mark run starts (any payload column null-safe-differs from
    its lag, OR version gap), then a (key, run) aggregation — two
    shuffles total regardless of version count, never a per-version
    join. Columns are canonicalized like :func:`diff_data` (maps
    key-sorted), and the compare is exact per column, so the DuckDB
    twin (IS DISTINCT FROM on lags) is bit-identical."""
    if not snapshots:
        raise ValueError("build_scd2 needs at least one (version, df) snapshot")
    from pyspark.sql.window import Window

    versions = [v for v, _ in snapshots]
    if len(set(versions)) != len(versions):
        raise ValueError(f"duplicate snapshot versions: {versions}")
    latest = max(versions)
    first_df = snapshots[0][1]
    cols = sorted(_compare_cols(first_df, first_df, keys, compare_cols))

    tagged = None
    for v, df in snapshots:
        t = df.select(
            *keys,
            *[_canon(df, c).alias(c) for c in cols],
            F.lit(int(v)).alias("_v"),
        )
        tagged = t if tagged is None else tagged.unionByName(t)

    w = Window.partitionBy(*keys).orderBy("_v")
    col_changed = None
    for c in cols:
        d = ~F.lag(c).over(w).eqNullSafe(F.col(c))
        col_changed = d if col_changed is None else (col_changed | d)
    marked = tagged.select(
        "*",
        (
            F.lag("_v").over(w).isNull()
            | (F.lag("_v").over(w) != F.col("_v") - 1)
            | col_changed
        ).cast("int").alias("_start"),
    ).withColumn("_seg", F.sum("_start").over(
        Window.partitionBy(*keys).orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ))
    return (
        marked.groupBy(*keys, "_seg")
        .agg(
            *[F.first(c).alias(c) for c in cols],
            F.min("_v").alias("valid_from"),
            (F.max("_v") + 1).alias("_to_excl"),
            F.max("_v").alias("_last"),
        )
        .select(
            *keys,
            *cols,
            "valid_from",
            F.when(F.col("_last") == latest, F.lit(None).cast("long"))
            .otherwise(F.col("_to_excl")).alias("valid_to"),
            (F.col("_last") == latest).alias("is_current"),
        )
        .orderBy(*keys, "valid_from")
    )


def scd2_snapshot_at(history: DataFrame, version: int, keys: list[str]) -> DataFrame:
    """Reconstruct the FULL snapshot as of ``version`` from a
    :func:`build_scd2` history: rows whose interval covers the version.
    A map-side filter over the (compact) history table — the time-travel
    read that makes keeping history cheaper than keeping N snapshots.
    Inverse-of-build round-trip is pinned in tests."""
    covered = (F.col("valid_from") <= version) & (
        F.col("valid_to").isNull() | (F.col("valid_to") > version)
    )
    payload = [c for c in history.columns
               if c not in (*keys, "valid_from", "valid_to", "is_current")]
    return history.where(covered).select(*keys, *payload)


def scd2_point_in_time(
    facts: DataFrame,
    history: DataFrame,
    keys: list[str],
    as_of_col: str,
    fact_keys: list[str] | None = None,
    how: str = "left",
) -> DataFrame:
    """Point-in-time join: each FACT row picks the dimension attributes
    that were valid at its own ``as_of_col`` version — the consumer every
    :func:`build_scd2` history exists for (label a transaction with the
    customer tier it had WHEN it happened, not today's).

    ``fact_keys`` names the fact-side join columns (defaults to ``keys``,
    the history-side names). Facts whose key has NO interval covering
    their version (dimension row deleted, or key never existed) keep the
    fact columns with NULL dimension payload under the default left join.

    Shape: an EQUI-join on the key with the interval containment as a
    residual filter — Spark plans it as a hash/sort-merge join on the
    key (never BroadcastNestedLoop/cartesian: the equi-conjunct carries
    the join) and evaluates the two range conjuncts on each key's
    (short) history run. Intervals from build_scd2 are disjoint per key,
    so at most one history row survives per fact — no dedup pass needed.
    """
    fk = fact_keys or keys
    if len(fk) != len(keys):
        raise ValueError(f"fact_keys {fk} must pair 1:1 with history keys {keys}")
    h = history
    cond = None
    for f_c, h_c in zip(fk, keys):
        e = facts[f_c] == h[h_c]
        cond = e if cond is None else (cond & e)
    v = facts[as_of_col]
    cond = cond & (h["valid_from"] <= v) & (
        h["valid_to"].isNull() | (v < h["valid_to"])
    )
    payload = [c for c in history.columns if c not in keys]
    return facts.join(h, cond, how).select(facts["*"], *[h[c] for c in payload])


def scd2_apply_snapshot(
    history: DataFrame,
    version: int,
    snap: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Incrementally merge snapshot ``version`` into an existing
    :func:`build_scd2` history — the daily-maintenance path: ONE keyed
    join of the CURRENT rows (a fraction of the history) against the new
    snapshot, never a rebuild over all versions. Provably equal to
    rebuilding from the full series (pinned in tests).

    Current rows splitting:
    - payload unchanged → stay current;
    - changed → close at ``version``, open a new current interval;
    - key absent from the snapshot → close at ``version`` (delete);
    - snapshot key with no current row (new or re-inserted) → open.
    Closed historical rows pass through untouched."""
    cols = sorted(_compare_cols(snap, snap, keys, compare_cols))
    closed_hist = history.where(~F.col("is_current"))
    cur = history.where(F.col("is_current")).select(
        *keys, *[_canon(history, c).alias(c) for c in cols], "valid_from"
    )
    new = snap.select(
        *keys,
        *[_canon(snap, c).alias(f"{c}__n") for c in cols],
        F.lit(True).alias("_in_new"),
    )
    j = cur.withColumn("_in_cur", F.lit(True)).join(new, keys, "full_outer")

    same = None
    for c in cols:
        e = F.col(c).eqNullSafe(F.col(f"{c}__n"))
        same = e if same is None else (same & e)

    unchanged = j.where(
        F.col("_in_cur").isNotNull() & F.col("_in_new").isNotNull() & same
    ).select(
        *keys, *cols, "valid_from",
        F.lit(None).cast("long").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    closed_now = j.where(
        F.col("_in_cur").isNotNull() & (F.col("_in_new").isNull() | ~same)
    ).select(
        *keys, *cols, "valid_from",
        F.lit(int(version)).cast("long").alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    opened = j.where(
        F.col("_in_new").isNotNull() & (F.col("_in_cur").isNull() | ~same)
    ).select(
        *keys,
        *[F.col(f"{c}__n").alias(c) for c in cols],
        F.lit(int(version)).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return closed_hist.select(
        *keys, *cols, "valid_from", "valid_to", "is_current"
    ).unionByName(unchanged).unionByName(closed_now).unionByName(opened)
