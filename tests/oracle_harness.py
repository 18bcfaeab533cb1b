"""Local replica of the driver's correctness gate: run each registry query
on Spark AND its DuckDB oracle over the same parquet, compare row count,
column names, and order-insensitive values.

Usage:  python tests/oracle_harness.py [sf_dir] [query ...]
Exit 0 iff every compared query matches.
"""

from __future__ import annotations

import math
import sys

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _canon(v):
    if v is None:
        return "\0null"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # normalize -0.0 and represent with enough digits to catch real diffs
        return repr(round(v + 0.0, 9))
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\x01".join(_canon(r[i]) for i in order) for r in rows)


def compare(spark, sf_dir: str, names=None, inspect=None) -> bool:
    """``inspect(name, sdf)``, if given, is called on each built query
    before it runs, so a caller can read its plan in the same pass."""
    from magiceye_spark import registry

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = registry.queries(), registry.oracles()
    names = names or list(qs)
    ok = True
    for name in names:
        # Like the driver: a broken query is recorded and the sweep continues,
        # so one failure can't hide the status of everything behind it.
        try:
            sdf = qs[name](spark, sf_dir)
            if inspect is not None:
                inspect(name, sdf)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"{name:32s} SPARK ERROR: {type(e).__name__}: {str(e)[:160]}")
            ok = False
            continue
        finally:
            # queries such as two_phase_window persist their inputs;
            # without this the sweep holds every cached frame at once
            spark.catalog.clearCache()
        # Window-seat lint: the DRIVER's canonicalizer sorts the result with
        # pandas before hashing and crashes on Array/Map/Struct cells
        # ("unhashable type: 'list'" — r10's only red row). This harness
        # stringifies cells (_canon), so without this schema check it
        # structurally cannot catch the class; seats must be scalar-typed.
        if name in registry._DRIVER_WINDOW and name in oracles:  # noqa: SLF001
            complexed = [
                f.name for f in sdf.schema.fields
                if f.dataType.typeName() in ("array", "map", "struct")
            ]
            if complexed:
                print(
                    f"{name:32s} WINDOW LINT: driver-unhashable "
                    f"Array/Map/Struct output columns {complexed}"
                )
                ok = False
                continue
        if name not in oracles:
            print(f"{name:32s} rows-only: {len(srows)} rows (no oracle)")
            continue
        try:
            res = con.sql(oracles[name])
            dcols = [d[0] for d in res.description]
            dtypes = [str(t) for t in res.types]
            drows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"{name:32s} ORACLE SQL ERROR: {e}")
            ok = False
            continue
        problems = []
        # HUGEINT / DECIMAL survive fetchall() but turn into float64 / object
        # under pandas conversion (which the driver's hasher may use) —
        # require an explicit CAST in the oracle SQL instead.
        shaky = [f"{c}:{t}" for c, t in zip(dcols, dtypes)
                 if "HUGEINT" in t or t.startswith("DECIMAL")]
        if shaky:
            problems.append(f"unstable oracle column types {shaky} — add CAST")
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"columns spark={sorted(scols)} duckdb={sorted(dcols)}")
        if not problems:
            s, d = _rowset(scols, srows), _rowset(dcols, drows)
            if s != d:
                diff_s = [x for x in s if x not in set(d)][:3]
                diff_d = [x for x in d if x not in set(s)][:3]
                problems.append(f"values spark-only={diff_s} duckdb-only={diff_d}")
        if problems:
            ok = False
            print(f"{name:32s} MISMATCH: {'; '.join(problems)}")
        else:
            print(f"{name:32s} OK ({len(srows)} rows)")
    return ok


if __name__ == "__main__":
    sys.path.insert(0, "/root/repo")
    from pyspark.sql import SparkSession

    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    names = [a for a in args if "/" not in a] or None
    # Deliberately a VANILLA session (not session.get_spark): the driver's
    # correctness gate builds its own config-free SparkSession, so any query
    # that silently depends on our session factory's configs must fail here
    # too, before the driver sees it.
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("oracle-harness")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    sys.exit(0 if compare(spark, sf_dir, names) else 1)
