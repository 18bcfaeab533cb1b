"""CLI: ``init`` writes a config, ``run`` produces a schema-diff report.

Config JSON is shape-compatible with the reference's
(``/root/reference/src/config.rs:75-100``): database_pairs with
base/target connections, default_database_pair, current_language, and
ignore_list — which the reference declares but never reads
(``config.rs:99``, no consumer); here it actually filters finding kinds.

Connections may be JDBC URLs (live catalogs, sources/jdbc.py — dialect
scans when database_type is Postgres/Mysql, the generic DatabaseMetaData
reader for any other type, with ``jdbc:...#SCHEMA`` selecting a schema),
``spark:<database>`` for this session's Spark catalog, or local paths to
parquet snapshot directories (snapshot.py) — the offline-testable path. The interactive TUI wizard (``src/action/init.rs``) is replaced by
flags: a library's CLI should be scriptable.

Report file naming follows the reference: ``report_YYYY-MM-DD HH:MM.json``
in the working directory (``src/action/run/background.rs:58-66``) unless
--out is given.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import sys

DEFAULT_CONFIG_PATH = os.path.expanduser("~/.local/share/magiceye_spark/config.json")

_VALID_CHECKS = {
    "missing", "data_type", "comment", "nullable", "default", "auto_increment",
    "index_columns", "index_predicate", "index_unique", "fk_ref",
}


def load_config(path: str = DEFAULT_CONFIG_PATH) -> dict:
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def save_config(cfg: dict, path: str = DEFAULT_CONFIG_PATH) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(cfg, fh, indent=2)


def cmd_init(args: argparse.Namespace) -> int:
    pair = {
        "name": args.name,
        "database_type": args.database_type,
        "base_connection": args.base,
        "target_connection": args.target,
    }
    path = args.config or DEFAULT_CONFIG_PATH
    try:
        cfg = load_config(path)
    except FileNotFoundError:
        cfg = {
            "database_pairs": [],
            "default_database_pair": "",
            "current_language": "English",
            "ignore_list": [],
        }
    cfg["database_pairs"] = [p for p in cfg["database_pairs"] if p["name"] != args.name]
    cfg["database_pairs"].append(pair)
    cfg["default_database_pair"] = args.name
    if args.language:
        cfg["current_language"] = args.language.capitalize()
    save_config(cfg, path)
    print(f"wrote {path} (default pair: {args.name})")
    return 0


def _snapshot(spark, connection: str, database_type: str):
    """Resolve a connection string to a snapshot: ``jdbc:…`` → live pg/mysql
    catalog, ``spark:<database>`` → this session's Spark catalog, anything
    else → parquet snapshot directory."""
    from magiceye_spark.snapshot import SchemaSnapshot

    if connection.startswith("jdbc:"):
        kind = {"Postgres": "postgresql", "Mysql": "mysql"}.get(database_type)
        if kind is not None:
            from magiceye_spark.sources.jdbc import read_catalog_snapshot

            return read_catalog_snapshot(spark, connection, kind)
        # any other database_type: generic DatabaseMetaData reader.
        # ``jdbc:...#SCHEMA`` selects one schema (e.g. Derby's APP).
        from magiceye_spark.sources.jdbc import read_catalog_snapshot_generic

        url, _, schema = connection.partition("#")
        return read_catalog_snapshot_generic(spark, url, schema=schema or None)
    if connection.startswith("spark:"):
        from magiceye_spark.sources.spark_catalog import snapshot_spark_catalog

        return snapshot_spark_catalog(spark, connection[len("spark:"):] or None)
    return SchemaSnapshot.read_parquet(spark, connection)


def cmd_run(args: argparse.Namespace) -> int:
    cfg = load_config(args.config or DEFAULT_CONFIG_PATH)
    pair_name = args.pair or cfg.get("default_database_pair")
    pairs = {p["name"]: p for p in cfg.get("database_pairs", [])}
    if pair_name not in pairs:
        print(f"no database pair named {pair_name!r} in config", file=sys.stderr)
        return 2
    pair = pairs[pair_name]
    ignore = set(cfg.get("ignore_list", []))
    bad = ignore - _VALID_CHECKS
    if bad:
        print(f"unknown ignore_list entries: {sorted(bad)}", file=sys.stderr)
        return 2

    from magiceye_spark.diff.core import diff_schemas
    from magiceye_spark.report import write_report
    from magiceye_spark.session import get_spark

    spark = get_spark("magiceye-run")
    base = _snapshot(spark, pair["base_connection"], pair["database_type"])
    target = _snapshot(spark, pair["target_connection"], pair["database_type"])
    findings = diff_schemas(base, target)
    if ignore:
        from pyspark.sql import functions as F

        findings = findings.where(~F.col("check").isin(*sorted(ignore)))
    out = args.out or f"report_{dt.datetime.now().strftime('%Y-%m-%d %H:%M')}.json"
    language = (args.language or cfg.get("current_language", "English")).lower()
    from magiceye_spark.progress import ProgressReporter

    def show(ev) -> None:  # reference's per-step progress counters, P1
        print(
            f"\rstages {ev.active_stages} tasks {ev.completed_tasks}/{ev.total_tasks}",
            end="",
            file=sys.stderr,
        )

    with ProgressReporter(spark, show):
        doc = write_report(findings, out, language)
    print(file=sys.stderr)
    if args.ddl_out:
        from magiceye_spark.ddl import suggest_ddl

        rows = suggest_ddl(findings).orderBy(
            "table_name", "object_kind", "object_name", "check"
        ).collect()
        with open(args.ddl_out, "w", encoding="utf-8") as fh:
            fh.write("-- candidate migration aligning target to base\n")
            for r in rows:
                fh.write(r["statement"] + "\n")
        print(f"wrote {args.ddl_out} ({len(rows)} statements)")
    print(f"wrote {out} ({len(doc['report_table_list'])} tables with findings)")
    return 0


def cmd_list(args: argparse.Namespace) -> int:
    """List every registered query (name + oracle coverage)."""
    from magiceye_spark import registry

    oracles = registry.oracles()
    for name in registry.queries():
        kind = "oracle-checked" if name in oracles else "rows-only"
        print(f"{name:36s} {kind}")
    return 0


def cmd_explain(args: argparse.Namespace) -> int:
    """Print the optimized physical plan for a registry query — the
    plan-quality inspection loop (`.explain("formatted")`) as a command."""
    from magiceye_spark import registry
    from magiceye_spark.plans import formatted_plan
    from magiceye_spark.session import get_spark

    qs = registry.queries()
    if args.query not in qs:
        print(f"unknown query {args.query!r}; see `list`", file=sys.stderr)
        return 2
    spark = get_spark("magiceye-explain")
    spark.sparkContext.setLogLevel("ERROR")
    df = qs[args.query](spark, args.sf_dir)
    print(formatted_plan(df))
    return 0


def cmd_plans(args: argparse.Namespace) -> int:
    """Plan-quality report: Exchange/broadcast/SMJ/Python-eval counts for
    every registered query — the at-a-glance scale audit."""
    from magiceye_spark import plans, registry
    from magiceye_spark.session import get_spark

    spark = get_spark("magiceye-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    names = [n for n in qs if not args.filter or args.filter in n]
    print(f"{'query':36s} {'shuffle':>7s} {'bcast':>6s} {'smj':>4s} {'python':>7s}")
    for name in names:
        try:
            df = qs[name](spark, args.sf_dir)
            print(
                f"{name:36s} {plans.count_shuffles(df):7d} "
                f"{plans.broadcast_join_count(df):6d} "
                f"{plans.sortmerge_join_count(df):4d} "
                f"{plans.python_eval_count(df):7d}"
            )
        except Exception as e:  # noqa: BLE001
            print(f"{name:36s} ERROR {e}")
    return 0


def _read_table(spark, path: str, fmt: str):
    """Read one data table for the datadiff/dq/profile commands. CSV gets
    header+inferSchema (ergonomics over speed — schema inference is an
    extra pass; at scale, convert to parquet first and diff that)."""
    if fmt == "csv":
        return spark.read.option("header", "true").option(
            "inferSchema", "true"
        ).csv(path)
    return getattr(spark.read, fmt)(path)


def cmd_datadiff(args: argparse.Namespace) -> int:
    """Row-level diff of two tables (the §2.4 extension as a command).
    Row-level output goes to parquet via --out — never collected to the
    driver, so the same invocation works on a 100 TB pair; stdout gets
    only the per-status counts (a handful of rows)."""
    from magiceye_spark import datadiff
    from magiceye_spark.session import get_spark

    spark = get_spark("magiceye-datadiff")
    spark.sparkContext.setLogLevel("ERROR")
    base = _read_table(spark, args.base, args.format)
    target = _read_table(spark, args.target, args.format)
    cols = args.columns.split(",") if args.columns else None

    if args.mode == "fingerprint":
        rows = datadiff.fingerprint_compare(base, target, cols).collect()
        for r in rows:
            print(f"{r['side']:6s} fingerprint={r['fingerprint']} rows={r['n_rows']}")
        same = len({(r["fingerprint"], r["n_rows"]) for r in rows}) == 1
        print("identical" if same else "DIFFERENT")
        return 0 if same else 1

    if args.mode == "write-fingerprints":
        if not args.partition_col or not args.out:
            print("--partition-col and --out are required for write-fingerprints",
                  file=sys.stderr)
            return 2
        # cover keys + compare columns, matching what incremental mode
        # fingerprints on its side — a mismatched column set degrades safely
        # (every partition looks changed: correct output, no pruning)
        wkeys = args.keys.split(",") if args.keys else []
        # with --columns: keys ∪ columns; without: None (all columns, which
        # already include the keys)
        fp_cols = sorted({*wkeys, *cols}) if cols else None
        datadiff.write_fingerprints(base, args.partition_col, args.out, fp_cols)
        print(f"wrote {args.out}")
        return 0

    keys = args.keys.split(",") if args.keys else None
    if args.mode == "triage":
        if not keys:
            print("--keys is required for triage mode", file=sys.stderr)
            return 2
        bfp = (
            datadiff.read_fingerprints(spark, args.base_fingerprints)
            if args.base_fingerprints else None
        )
        tfp = (
            datadiff.read_fingerprints(spark, args.target_fingerprints)
            if args.target_fingerprints else None
        )
        res = datadiff.diff_triage(
            base, target, keys, args.partition_col, cols,
            base_fingerprints=bfp, target_fingerprints=tfp,
        )
        print(f"level    {res['level']}")
        if res["changed_partitions"] is not None:
            print(f"changed_partitions {res['changed_partitions']}")
        if res["identical"]:
            print("identical")
            return 0
        d = res["diff"]
        if args.out:
            d.write.mode("overwrite").parquet(args.out)
            print(f"wrote {args.out}")
        from pyspark.sql import functions as F

        for r in (
            d.groupBy("diff_status").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("diff_status").collect()
        ):
            print(f"{r['diff_status']:8s} {r['n']}")
        return 1
    if args.mode == "rowset":
        d = datadiff.diff_rows_set(base, target)
    elif args.mode == "incremental":
        if not keys or not args.partition_col:
            print("--keys and --partition-col are required for incremental mode",
                  file=sys.stderr)
            return 2
        bfp = (
            datadiff.read_fingerprints(spark, args.base_fingerprints)
            if args.base_fingerprints else None
        )
        tfp = (
            datadiff.read_fingerprints(spark, args.target_fingerprints)
            if args.target_fingerprints else None
        )
        d = datadiff.diff_data_incremental(
            base, target, keys, args.partition_col, cols,
            base_fingerprints=bfp, target_fingerprints=tfp,
        )
    else:
        if not keys:
            print("--keys is required for keyed modes", file=sys.stderr)
            return 2
        d = {
            "full": lambda: datadiff.diff_data(base, target, keys, cols),
            "left": lambda: datadiff.diff_data(base, target, keys, cols, how="left"),
            "hash": lambda: datadiff.diff_data_hash(base, target, keys, cols),
        }[args.mode]()
    if args.out:
        d.write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.out}")
    from pyspark.sql import functions as F

    counts = d.groupBy("diff_status").agg(F.count(F.lit(1)).alias("n")).orderBy("diff_status").collect()
    for r in counts:
        print(f"{r['diff_status']:8s} {r['n']}")
    if not counts:
        print("identical")
    return 0


def cmd_dq(args: argparse.Namespace) -> int:
    """Data-quality gate over one parquet table. Rules come from a JSON
    file: {"not_null": [col…], "unique": [[col…]…], "ranges": {col: [lo,
    hi]}, "accepted": {col: [val…]}, "references": {col: "path:ref_col"}}.
    Exit 1 when any rule fails — the CI-gate contract."""
    from magiceye_spark.dq import Rules, check_quality
    from magiceye_spark.session import get_spark

    with open(args.rules, encoding="utf-8") as fh:
        spec = json.load(fh)
    unknown = set(spec) - {"not_null", "unique", "ranges", "accepted", "references"}
    if unknown:
        print(f"unknown rule kinds: {sorted(unknown)}", file=sys.stderr)
        return 2

    spark = get_spark("magiceye-dq")
    spark.sparkContext.setLogLevel("ERROR")
    refs = {}
    for col, ref in spec.get("references", {}).items():
        path, _, ref_col = ref.rpartition(":")
        if not path:
            print(f"references[{col!r}] must be 'path:ref_col'", file=sys.stderr)
            return 2
        refs[col] = (_read_table(spark, path, args.format), ref_col)
    rules = Rules(
        not_null=spec.get("not_null", []),
        unique=[list(k) for k in spec.get("unique", [])],
        ranges={c: (lo, hi) for c, (lo, hi) in spec.get("ranges", {}).items()},
        accepted=spec.get("accepted", {}),
        references=refs,
    )
    rows = check_quality(_read_table(spark, args.path, args.format), rules).collect()
    failed = 0
    for r in rows:
        mark = "PASS" if r["pass"] else "FAIL"
        failed += not r["pass"]
        print(f"{mark} {r['check']:16s} {r['column']:24s} "
              f"{r['violations']}/{r['total']} violations")
    return 1 if failed else 0


def cmd_compact(args: argparse.Namespace) -> int:
    """Compact a table into ~target-MB files (optionally range-clustered
    on --sort-by so later range filters skip whole files)."""
    from magiceye_spark.io import compact_table
    from magiceye_spark.session import get_spark

    spark = get_spark("magiceye-compact")
    spark.sparkContext.setLogLevel("ERROR")
    n = compact_table(
        spark,
        args.path,
        args.out,
        target_mb=args.target_mb,
        sort_by=args.sort_by.split(",") if args.sort_by else None,
        fmt=args.format,
    )
    print(f"wrote {args.out} ({n} file{'s' if n != 1 else ''})")
    return 0


def cmd_zorder(args: argparse.Namespace) -> int:
    """Rewrite a parquet table clustered along the Z-order curve of the
    given columns, then print the per-file span profile so the operator
    can see the pruning win immediately."""
    from pyspark.sql import functions as F

    from magiceye_spark import layout
    from magiceye_spark.session import get_spark

    spark = get_spark("magiceye-zorder")
    spark.sparkContext.setLogLevel("ERROR")
    cols = args.cols.split(",")
    df = spark.read.parquet(args.path)
    stats = layout.zorder_write(df, cols, args.out, n_files=args.n_files, bits=args.bits)
    print(f"wrote {args.out} (curve stats: {stats})")
    prof = layout.file_span_profile(spark, args.out, cols)
    spans = prof.agg(
        *[F.avg(f"span_{c}").alias(c) for c in cols]
    ).collect()[0]
    for c in cols:
        total = stats[c][1] - stats[c][0]
        frac = (spans[c] / total) if total else 0.0
        print(f"  {c}: mean per-file span {spans[c]:.0f} / domain {total} ({frac:.1%})")
    return 0


def cmd_profile(args: argparse.Namespace) -> int:
    """Per-column profile of a parquet table (null rate, distinct, min/max,
    avg); --approx swaps exact distincts for HLL sketches at scale."""
    from magiceye_spark.profile import profile_table
    from magiceye_spark.session import get_spark

    spark = get_spark("magiceye-profile")
    spark.sparkContext.setLogLevel("ERROR")
    df = _read_table(spark, args.path, args.format)
    cols = args.columns.split(",") if args.columns else None
    for r in profile_table(df, cols, approx=args.approx).collect():
        print(
            f"{r['column']:24s} rows={r['n_rows']} nulls={r['n_nulls']}"
            f" ({r['null_rate']:.2%}) distinct={r['n_distinct']}"
            f" min={r['min']} max={r['max']}"
            + (f" avg={r['avg']}" if r["avg"] is not None else "")
        )
    return 0


def cmd_corpus_report(args: argparse.Namespace) -> int:
    """Per-source corpus report card (volume, length, language share, dup
    exposure, token entropy); --out also writes the full card to parquet."""
    from magiceye_spark.llmops.textstats import source_report_card
    from magiceye_spark.session import get_spark

    spark = get_spark("magiceye-corpus-report")
    spark.sparkContext.setLogLevel("ERROR")
    card = source_report_card(_read_table(spark, args.path, args.format))
    if args.out:
        card.write.mode("overwrite").parquet(args.out)
    for r in card.collect():
        print(
            f"{r['source']:16s} docs={r['n_docs']} avg_chars={r['avg_chars']}"
            f" avg_tokens={r['avg_tokens']} en={r['en_frac']:.2%}"
            f" dup={r['dup_doc_frac']:.2%} entropy={r['avg_token_entropy']}"
        )
    return 0


def cmd_corpus_clean(args: argparse.Namespace) -> int:
    """Substring-level dedup cleaning pass: drop duplicated n-gram spans
    (Lee et al.) and write the cleaned corpus; prints removal totals."""
    from pyspark.sql import functions as F

    from magiceye_spark.llmops.retrieval import span_cleaned_corpus
    from magiceye_spark.session import get_spark

    spark = get_spark("magiceye-corpus-clean")
    spark.sparkContext.setLogLevel("ERROR")
    docs = _read_table(spark, args.path, args.format)
    cleaned = span_cleaned_corpus(docs, n=args.ngram, min_count=args.min_count)
    # carry the non-text document columns through so the cleaned corpus is
    # a drop-in input for corpus-report / downstream ops (doc_id-keyed
    # rejoin; the cleaned text replaces the original text column)
    passthrough = [c for c in docs.columns if c not in ("doc_id", "text")]
    if passthrough:
        cleaned = cleaned.join(docs.select("doc_id", *passthrough), "doc_id")
    cleaned.write.mode("overwrite").parquet(args.out)
    stats = spark.read.parquet(args.out).agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_tokens").alias("tokens"),
        F.sum("n_removed").alias("removed"),
    ).first()
    frac = (stats["removed"] or 0) / max(stats["tokens"] or 0, 1)
    print(f"cleaned {stats['docs']} docs -> {args.out}: "
          f"removed {stats['removed']}/{stats['tokens']} tokens ({frac:.2%})")
    return 0


def cmd_phash_dedup(args: argparse.Namespace) -> int:
    """Perceptual near-dup dedup from the shell: dHash signatures over the
    payload column (or text bytes for a documents table), banded candidate
    pairs, drop every doc within the Hamming threshold of an earlier
    (lower-id) one, write the keepers."""
    from pyspark.sql import functions as F

    from magiceye_spark.llmops.multimodal import phash_signatures
    from magiceye_spark.session import get_spark
    from magiceye_spark.streaming.stateful import near_dup_rejects_batch

    if args.max_hamming > 3:
        print(
            "phash-dedup: --max-hamming must be <= 3 — the 4x16-bit band "
            "blocking is only LOSSLESS up to Hamming 3 (pigeonhole); a "
            "larger threshold would silently miss pairs",
            file=sys.stderr,
        )
        return 2
    spark = get_spark("magiceye-phash-dedup")
    spark.sparkContext.setLogLevel("ERROR")
    t = _read_table(spark, args.path, args.format)
    idcol = "media_id" if "media_id" in t.columns else "doc_id"
    payload = (
        F.col("payload") if "payload" in t.columns else F.encode("text", "UTF-8")
    )
    sig_in = t.select(F.col(idcol).alias("media_id"), payload.alias("payload"))
    rejects = near_dup_rejects_batch(
        phash_signatures(sig_in), args.max_hamming
    ).withColumnRenamed("doc_id", idcol)
    kept = t.join(rejects.select(idcol), idcol, "left_anti")
    kept.write.mode("overwrite").parquet(args.out)
    n_in = t.count()
    n_kept = spark.read.parquet(args.out).count()
    print(
        f"phash dedup: kept {n_kept}/{n_in} "
        f"({n_in - n_kept} perceptual near-dups dropped, "
        f"hamming<={args.max_hamming}) -> {args.out}"
    )
    return 0


def cmd_search(args: argparse.Namespace) -> int:
    """BM25 top-k retrieval over a document table for a comma-separated
    term list — eval-set carving / corpus inspection from the shell."""
    from magiceye_spark.llmops.retrieval import bm25_topk
    from magiceye_spark.session import get_spark

    spark = get_spark("magiceye-search")
    spark.sparkContext.setLogLevel("ERROR")
    hits = bm25_topk(
        _read_table(spark, args.path, args.format),
        terms=[t.strip() for t in args.terms.split(",") if t.strip()],
        k=args.k,
    )
    for r in hits.collect():
        print(f"{r['doc_id']:>12d}  {r['bm25']:.4f}")
    return 0


def cmd_anonymity(args: argparse.Namespace) -> int:
    """Privacy gate: k-anonymity (and optional l-diversity) over a quasi-
    identifier set; exit 1 when the risky-row fraction exceeds the cap —
    the shell form of the governance check run before sharing a table."""
    from magiceye_spark.dq import k_anonymity_audit, l_diversity_audit
    from magiceye_spark.session import get_spark

    spark = get_spark("magiceye-anonymity")
    spark.sparkContext.setLogLevel("ERROR")
    df = _read_table(spark, args.path, args.format)
    quasi = [c.strip() for c in args.quasi.split(",") if c.strip()]
    row = k_anonymity_audit(df, quasi, k=args.k).first()
    print(
        f"k={args.k} groups={row['n_groups']} risky_groups={row['n_risky_groups']}"
        f" risky_rows={row['n_risky_rows']} risky_frac={row['risky_row_frac']:.4%}"
    )
    ok = row["risky_row_frac"] <= args.max_risky_frac
    if args.sensitive:
        lrow = l_diversity_audit(df, quasi, args.sensitive, l=args.l_min).first()
        print(
            f"l={args.l_min} sensitive={args.sensitive}"
            f" leaky_groups={lrow['n_leaky_groups']} leaky_rows={lrow['n_leaky_rows']}"
            f" leaky_frac={lrow['leaky_row_frac']:.4%}"
        )
        ok = ok and lrow["leaky_row_frac"] <= args.max_risky_frac
    if args.sensitive and args.t_max is not None:
        from magiceye_spark.dq import t_closeness_audit

        trow = t_closeness_audit(
            df, quasi, args.sensitive, bin_width=args.bin_width, t=args.t_max
        ).first()
        print(
            f"t={args.t_max} bins={trow['m_bins']}"
            f" over_t_groups={trow['n_over_t']}"
            f" over_t_frac={trow['over_t_row_frac']:.4%}"
            f" max_emd={trow['max_emd']:.4f}"
        )
        ok = ok and trow["n_over_t"] == 0
    return 0 if ok else 1


def cmd_trend(args: argparse.Namespace) -> int:
    """Trend triage over a grouped time series: per group, OLS slope/r²,
    the Mann-Kendall robust test + Theil-Sen slope, and the CUSUM
    changepoint — 'which metrics are drifting, how confidently, and
    since when' in one shot (all three are anchor-invariant)."""
    from pyspark.sql import functions as F

    from magiceye_spark.session import get_spark
    from magiceye_spark.sketches import (
        daily_cusum_changepoint,
        daily_trend_ols,
        daily_trend_robust,
    )

    spark = get_spark("magiceye-trend")
    spark.sparkContext.setLogLevel("ERROR")
    df = _read_table(spark, args.path, args.format)
    ev = df.select(
        F.col(args.group).alias("event_type"),
        F.col(args.ts).alias("ts"),
        F.col(args.value).cast("double").alias("value"),
    )
    ols = {r["event_type"]: r for r in daily_trend_ols(ev).collect()}
    mk = {r["event_type"]: r for r in daily_trend_robust(ev).collect()}
    cp = {r["event_type"]: r for r in daily_cusum_changepoint(ev).collect()}
    for g in sorted(ols):
        o, m, c = ols[g], mk.get(g), cp.get(g)
        line = (
            f"{g}: slope={o['slope']} r2={o['r2']} days={o['n_days']}"
        )
        if m is not None:
            line += f" | MK z={m['z_mk']:.3f} sen_slope={m['sen_slope']:.6f}"
        if c is not None:
            delta = c["mean_delta"]
            line += (
                f" | changepoint={c['cp_date']}"
                f" delta={'n/a' if delta is None else format(delta, '.4f')}"
            )
        print(line)
    return 0


def cmd_ingest(args: argparse.Namespace) -> int:
    """Continuous dedup ingest from the shell — the production entry point
    over the persistent-store triad: drain (or follow) a parquet directory
    through the chosen store's streaming loop; each micro-batch is
    admitted against the store and the admitted items' signatures/vectors
    are appended, so later batches dedup against earlier ones. Every store
    bootstraps empty: MinHash/Hamming write an empty index up front; ivf
    defers to the loop's cold-start (r10) — the FIRST micro-batch is its
    own quantizer sample (``--bootstrap-from`` seeds a missing store with
    a pre-fit model instead). Either way the fitted model is FROZEN
    after that (the FAISS add contract). An existing ivf store whose pq
    flag differs from ``--pq``, or a PQ store without its rerank table,
    exits 2."""
    import os as _os

    from magiceye_spark import fsops
    from magiceye_spark.session import get_spark

    if args.pq and args.store != "ivf":
        print(
            f"ingest: --pq applies to --store ivf only (got --store "
            f"{args.store}) — refusing to silently ignore it",
            file=sys.stderr,
        )
        return 2
    spark = get_spark("magiceye-ingest")
    spark.sparkContext.setLogLevel("ERROR")
    static = spark.read.parquet(args.src)
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", str(args.max_files_per_trigger))
        .parquet(args.src)
    )
    trigger = (
        {"processingTime": args.follow} if args.follow else {"availableNow": True}
    )
    seed = (
        spark.read.parquet(args.bootstrap_from)
        if args.bootstrap_from
        else static.limit(0)
    )
    # Resolved through the path's Hadoop FileSystem scheme, NOT os.path —
    # for an hdfs:// or s3a:// store a local-only check would always say
    # "missing" and the bootstrap write would silently overwrite the live
    # remote store's params and signatures/postings.
    exists = fsops.fs_exists(
        spark, _os.path.join(args.store_path, "params")
    )
    if args.store == "minhash":
        from magiceye_spark.llmops import sigstore

        if not exists:
            sigstore.write_minhash_index(seed, args.store_path)
        q = sigstore.streaming_dedup_ingest(
            spark, args.store_path, stream, args.checkpoint,
            output_path=args.out, compact_every=args.compact_every,
            trigger=trigger,
        )
        read_n = lambda: sigstore.read_minhash_index(  # noqa: E731
            spark, args.store_path
        ).signatures.count()
    elif args.store == "hamming":
        from magiceye_spark.llmops import dedup as dedup_ops
        from magiceye_spark.llmops import hamstore

        if not exists:
            hamstore.write_hamming_index(
                dedup_ops.simhash_signatures(seed), args.store_path,
                kind="simhash",
            )
        q = hamstore.streaming_hamming_ingest(
            spark, args.store_path, stream, args.checkpoint, kind="simhash",
            output_path=args.out, compact_every=args.compact_every,
            trigger=trigger,
        )
        read_n = lambda: hamstore.read_hamming_index(  # noqa: E731
            spark, args.store_path, kind="simhash"
        ).signatures.count()
    else:  # ivf
        from magiceye_spark.llmops import annindex

        # postings mark a complete store, as in the loop's cold start: a
        # build cut before them is rebuilt, not refused
        exists = exists and fsops.fs_exists(
            spark, _os.path.join(args.store_path, "postings")
        )
        if exists:
            try:
                model = annindex._read_model(spark, args.store_path)
            except ValueError as e:
                print(f"ingest: {e}", file=sys.stderr)
                return 2
            stored_pq = bool(model["params"]["pq"])
            if stored_pq != args.pq:
                print(
                    f"ingest: store at {args.store_path} is "
                    f"{'pq' if stored_pq else 'flat'} but the flags say "
                    f"{'--pq' if args.pq else 'flat'} — refusing to mix",
                    file=sys.stderr,
                )
                return 2
        if not exists and args.bootstrap_from:
            # size the quantizer to the seed that trains it — the same
            # recommend_ivf_params(√n) rule the in-loop cold-start applies;
            # the fixed 32-cell default is wrong at any serious seed size
            annindex.write_ivf_index(
                seed, args.store_path, pq=args.pq,
                **annindex.recommend_ivf_params(seed.count()),
            )
        # with no pre-built store and no seed, the loop's cold-start fits
        # the quantizer on the first micro-batch (annindex.streaming_ann_
        # ingest bootstrap contract) — an empty drain just never fires it.
        q = annindex.streaming_ann_ingest(
            spark, args.store_path, stream, args.checkpoint,
            threshold=args.threshold, output_path=args.out,
            compact_every=args.compact_every, trigger=trigger,
            bootstrap={"pq": True} if args.pq else {},
        )
        read_n = lambda: annindex.read_ivf_index(  # noqa: E731
            spark, args.store_path
        ).postings.count()
    if args.follow:
        print(f"ingest: following {args.src} -> {args.store_path} "
              f"(trigger {args.follow}); ctrl-C to stop")
        q.awaitTermination()
    else:
        q.awaitTermination()
        print(
            f"ingest: drained {args.src} -> {args.store_path} "
            f"({args.store}; store now holds {read_n()} items)"
        )
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="magiceye-spark", description=__doc__)
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_init = sub.add_parser("init", help="create/update config (non-interactive)")
    p_init.add_argument("--name", required=True)
    p_init.add_argument("--database-type", choices=["Postgres", "Mysql"], default="Postgres")
    p_init.add_argument("--base", required=True, help="JDBC URL or parquet snapshot dir")
    p_init.add_argument("--target", required=True)
    p_init.add_argument("--language", choices=["english", "korean"])
    p_init.add_argument("--config")
    p_init.set_defaults(fn=cmd_init)

    p_run = sub.add_parser("run", help="diff base vs target, write report JSON")
    p_run.add_argument("--pair", help="pair name (default: config default)")
    p_run.add_argument("--config")
    p_run.add_argument("--out")
    p_run.add_argument("--language", choices=["english", "korean"])
    p_run.add_argument("--ddl-out", help="also write candidate ALTER statements here")
    p_run.set_defaults(fn=cmd_run)

    p_list = sub.add_parser("list", help="list registered queries")
    p_list.set_defaults(fn=cmd_list)

    p_explain = sub.add_parser("explain", help="print a query's physical plan")
    p_explain.add_argument("query")
    p_explain.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    p_explain.set_defaults(fn=cmd_explain)

    p_plans = sub.add_parser("plans", help="plan-quality report for all queries")
    p_plans.add_argument("--filter", help="substring filter on query names")
    p_plans.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    p_plans.set_defaults(fn=cmd_plans)

    p_dd = sub.add_parser("datadiff", help="row-level diff of two parquet tables")
    p_dd.add_argument("base", help="base parquet file/dir")
    p_dd.add_argument("target", help="target parquet file/dir")
    p_dd.add_argument("--keys", help="comma-separated primary-key columns")
    p_dd.add_argument("--columns", help="comma-separated compare columns (default: all shared non-key)")
    p_dd.add_argument("--mode",
                      choices=["full", "left", "hash", "rowset", "fingerprint",
                               "incremental", "write-fingerprints", "triage"],
                      default="full",
                      help="full/left: per-column attribution; hash: wide-row fast path; "
                           "rowset: keyless multiset diff; fingerprint: checksum pre-check; "
                           "incremental: diff only changed partitions (stored fingerprint "
                           "tables via --base-fingerprints/--target-fingerprints skip the "
                           "deciding scans entirely); write-fingerprints: persist BASE's "
                           "per-partition fingerprint table to --out (target arg ignored); "
                           "triage: escalate fingerprint -> partition -> row as the data "
                           "demands (exit 0 iff identical)")
    p_dd.add_argument("--partition-col",
                      help="partition column for incremental/write-fingerprints modes")
    p_dd.add_argument("--base-fingerprints",
                      help="stored fingerprint table for the base side (incremental mode)")
    p_dd.add_argument("--target-fingerprints",
                      help="stored fingerprint table for the target side (incremental mode)")
    p_dd.add_argument("--out", help="write row-level diff as parquet here (never collected)")
    p_dd.add_argument("--format", choices=["parquet", "csv", "json", "orc"],
                      default="parquet", help="input table format")
    p_dd.set_defaults(fn=cmd_datadiff)

    p_dq = sub.add_parser("dq", help="data-quality gate over a parquet table (exit 1 on failure)")
    p_dq.add_argument("path", help="parquet file/dir to check")
    p_dq.add_argument("--rules", required=True, help="rules JSON file")
    p_dq.add_argument("--format", choices=["parquet", "csv", "json", "orc"],
                      default="parquet", help="input table format")
    p_dq.set_defaults(fn=cmd_dq)

    p_compact = sub.add_parser("compact", help="rewrite a table into ~target-MB files")
    p_compact.add_argument("path", help="input table file/dir")
    p_compact.add_argument("out", help="output directory")
    p_compact.add_argument("--target-mb", type=int, default=512)
    p_compact.add_argument("--sort-by", help="comma-separated range-cluster columns")
    p_compact.add_argument("--format", choices=["parquet", "csv", "json", "orc"],
                           default="parquet", help="input/output table format")
    p_compact.set_defaults(fn=cmd_compact)

    p_zorder = sub.add_parser("zorder", help="rewrite a table Z-ordered on columns")
    p_zorder.add_argument("path", help="input parquet file/dir")
    p_zorder.add_argument("out", help="output directory")
    p_zorder.add_argument("--cols", required=True, help="comma-separated curve columns")
    p_zorder.add_argument("--n-files", type=int, default=32)
    p_zorder.add_argument("--bits", type=int, default=16)
    p_zorder.set_defaults(fn=cmd_zorder)

    p_profile = sub.add_parser("profile", help="per-column profile of a parquet table")
    p_profile.add_argument("path", help="parquet file/dir to profile")
    p_profile.add_argument("--columns", help="comma-separated subset (default: all)")
    p_profile.add_argument("--approx", action="store_true",
                           help="HLL distinct counts (the 100 TB path)")
    p_profile.add_argument("--format", choices=["parquet", "csv", "json", "orc"],
                           default="parquet", help="input table format")
    p_profile.set_defaults(fn=cmd_profile)

    p_creport = sub.add_parser("corpus-report",
                               help="per-source corpus report card")
    p_creport.add_argument("path", help="documents table (doc_id,text,lang,source,n_chars)")
    p_creport.add_argument("--out", help="also write the card to this parquet path")
    p_creport.add_argument("--format", choices=["parquet", "csv", "json", "orc"],
                           default="parquet", help="input table format")
    p_creport.set_defaults(fn=cmd_corpus_report)

    p_cclean = sub.add_parser("corpus-clean",
                              help="drop duplicated n-gram spans, write cleaned corpus")
    p_cclean.add_argument("path", help="documents table")
    p_cclean.add_argument("--out", required=True, help="output parquet path")
    p_cclean.add_argument("--ngram", type=int, default=8, help="span gram size")
    p_cclean.add_argument("--min-count", type=int, default=2, dest="min_count",
                          help="corpus-wide occurrences for a gram to count as duplicated")
    p_cclean.add_argument("--format", choices=["parquet", "csv", "json", "orc"],
                          default="parquet", help="input table format")
    p_cclean.set_defaults(fn=cmd_corpus_clean)

    p_phash = sub.add_parser("phash-dedup",
                             help="perceptual (dHash) near-dup dedup, write keepers")
    p_phash.add_argument("path", help="media or documents table")
    p_phash.add_argument("--out", required=True, help="output parquet path")
    p_phash.add_argument("--max-hamming", type=int, default=3, dest="max_hamming",
                         help="Hamming threshold (<=3 keeps banding lossless)")
    p_phash.add_argument("--format", choices=["parquet", "csv", "json", "orc"],
                         default="parquet", help="input table format")
    p_phash.set_defaults(fn=cmd_phash_dedup)

    p_search = sub.add_parser("search", help="BM25 top-k retrieval over documents")
    p_search.add_argument("path", help="documents table")
    p_search.add_argument("--terms", required=True, help="comma-separated query terms")
    p_search.add_argument("-k", type=int, default=20, help="results to return")
    p_search.add_argument("--format", choices=["parquet", "csv", "json", "orc"],
                          default="parquet", help="input table format")
    p_search.set_defaults(fn=cmd_search)

    p_anon = sub.add_parser("anonymity",
                            help="k-anonymity / l-diversity gate (exit 1 on failure)")
    p_anon.add_argument("path", help="table to audit")
    p_anon.add_argument("--quasi", required=True, help="comma-separated quasi-identifier columns")
    p_anon.add_argument("-k", type=int, default=5, help="k-anonymity threshold")
    p_anon.add_argument("--sensitive", help="sensitive column for l-diversity (optional)")
    p_anon.add_argument("--l-min", type=int, default=2, dest="l_min", help="l-diversity threshold")
    p_anon.add_argument("--max-risky-frac", type=float, default=0.0, dest="max_risky_frac",
                        help="maximum tolerated risky/leaky row fraction")
    p_anon.add_argument("--t-max", type=float, default=None, dest="t_max",
                        help="t-closeness EMD cap for the sensitive column (requires --sensitive)")
    p_anon.add_argument("--bin-width", type=float, default=1000.0, dest="bin_width",
                        help="sensitive-column bin width for t-closeness")
    p_anon.add_argument("--format", choices=["parquet", "csv", "json", "orc"],
                        default="parquet", help="input table format")
    p_anon.set_defaults(fn=cmd_anonymity)

    p_trend = sub.add_parser("trend",
                             help="per-group trend triage: OLS + Mann-Kendall/Theil-Sen + CUSUM changepoint")
    p_trend.add_argument("path", help="grouped time-series table")
    p_trend.add_argument("--group", default="event_type", help="group column")
    p_trend.add_argument("--ts", default="ts", help="timestamp column")
    p_trend.add_argument("--value", default="value", help="numeric value column")
    p_trend.add_argument("--format", choices=["parquet", "csv", "json", "orc"],
                         default="parquet", help="input table format")
    p_trend.set_defaults(fn=cmd_trend)

    p_ing = sub.add_parser(
        "ingest",
        help="continuous dedup ingest of a parquet dir into a persistent "
        "store (minhash text / hamming simhash / ivf embeddings)",
    )
    p_ing.add_argument("src", help="source parquet directory (watched)")
    p_ing.add_argument("store_path", help="persistent store directory")
    p_ing.add_argument("--store", choices=["minhash", "hamming", "ivf"],
                       default="minhash")
    p_ing.add_argument("--checkpoint", required=True,
                       help="streaming checkpoint directory")
    p_ing.add_argument("--out", help="write admitted rows per batch here")
    p_ing.add_argument("--bootstrap-from",
                       help="seed corpus parquet for a missing store; "
                       "an existing store ignores it (optional for "
                       "--store ivf: without it the first micro-batch "
                       "fits the quantizer)")
    p_ing.add_argument("--pq", action="store_true",
                       help="ivf only (exit 2 otherwise): bootstrap a "
                       "product-quantized store — codes-only postings "
                       "are probed; admission reranks exact cosine from "
                       "the store's own cell-partitioned rerank table")
    p_ing.add_argument("--threshold", type=float, default=0.95,
                       help="ivf cosine admission threshold")
    p_ing.add_argument("--compact-every", type=int,
                       help="compact the store after every Nth batch")
    p_ing.add_argument("--max-files-per-trigger", type=int, default=1)
    p_ing.add_argument("--follow", metavar="INTERVAL",
                       help="keep running with a processingTime trigger "
                       "(e.g. '1 minute'); default drains and exits")
    p_ing.set_defaults(fn=cmd_ingest)


    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
