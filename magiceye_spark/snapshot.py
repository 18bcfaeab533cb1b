"""SchemaSnapshot — a bundle of the four catalog DataFrames for one database.

Replaces the reference's driver-memory ``HashMap<String, Table>`` snapshot
(``src/action/run/steps/fetching.rs:14,27``) with distributed DataFrames so a
catalog of millions of objects (or a data lake's worth of table metadata)
diffs without ever materializing on one machine.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession

from magiceye_spark.schema import (
    COLUMNS_SCHEMA,
    FKS_SCHEMA,
    INDEXES_SCHEMA,
    TABLES_SCHEMA,
)
from magiceye_spark.sqltext import ident

_KINDS = ("tables", "columns", "indexes", "fks")
_SCHEMAS = {
    "tables": TABLES_SCHEMA,
    "columns": COLUMNS_SCHEMA,
    "indexes": INDEXES_SCHEMA,
    "fks": FKS_SCHEMA,
}


#: SQL default per property type: NULL text is '', NULL bool is false, a
#: NULL list is empty
_EMPTY = {"string": "''", "boolean": "false", "array": "array()"}
_NORMALIZED = {
    kind: [
        f"coalesce({ident(f.name)}, {_EMPTY[f.dataType.typeName()]}) AS {ident(f.name)}"
        for f in schema.fields
    ]
    for kind, schema in _SCHEMAS.items()
}


def _normalize(df: DataFrame, kind: str) -> DataFrame:
    """Coalesce NULL text properties to '' and NULL bools to False, matching
    the reference's scan-time normalization (src/sql/postgres.rs:54-56,
    src/sql/mysql.rs:42-44) so inequality checks never hit SQL NULL traps.
    One ``selectExpr`` of SQL text: one py4j call, not a Column tree."""
    return df.selectExpr(*_NORMALIZED[kind])


def _require_columns(spark: SparkSession, df: DataFrame, path: str, kind: str) -> None:
    """Fail loudly when a kind directory's files lack a snapshot column.

    A read with a declared schema turns an absent column into NULL, and
    :func:`_normalize` would then turn that into ''. So the footer of the
    first data file is read through the session's Hadoop ``FileSystem``,
    on the driver — the same file schema inference would open, but no
    Spark job."""
    files = sorted(df.inputFiles())
    if not files:
        raise ValueError(f"snapshot directory {path} holds no parquet file")
    jvm = spark._jvm
    footer = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        spark._jsc.hadoopConfiguration(), jvm.org.apache.hadoop.fs.Path(files[0])
    )
    schema = footer.getFileMetaData().getSchema()
    # the scan resolves columns case-insensitively (spark.sql.caseSensitive)
    present = {schema.getFieldName(i).lower() for i in range(schema.getFieldCount())}
    missing = [f.name for f in _SCHEMAS[kind].fields if f.name.lower() not in present]
    if missing:
        raise ValueError(f"snapshot file {files[0]} lacks column(s) {missing}")


@dataclass(frozen=True)
class SchemaSnapshot:
    """The four normalized catalog tables for one database side."""

    tables: DataFrame
    columns: DataFrame
    indexes: DataFrame
    fks: DataFrame

    @classmethod
    def from_rows(
        cls,
        spark: SparkSession,
        tables: Iterable[Sequence] = (),
        columns: Iterable[Sequence] = (),
        indexes: Iterable[Sequence] = (),
        fks: Iterable[Sequence] = (),
    ) -> "SchemaSnapshot":
        """Build from plain Python rows (tests, fixtures, tiny catalogs)."""
        return cls(
            tables=_normalize(spark.createDataFrame(list(tables), TABLES_SCHEMA), "tables"),
            columns=_normalize(spark.createDataFrame(list(columns), COLUMNS_SCHEMA), "columns"),
            indexes=_normalize(spark.createDataFrame(list(indexes), INDEXES_SCHEMA), "indexes"),
            fks=_normalize(spark.createDataFrame(list(fks), FKS_SCHEMA), "fks"),
        )

    @classmethod
    def from_dataframes(
        cls, tables: DataFrame, columns: DataFrame, indexes: DataFrame, fks: DataFrame
    ) -> "SchemaSnapshot":
        return cls(
            tables=_normalize(tables, "tables"),
            columns=_normalize(columns, "columns"),
            indexes=_normalize(indexes, "indexes"),
            fks=_normalize(fks, "fks"),
        )

    @classmethod
    def read_parquet(cls, spark: SparkSession, path: str) -> "SchemaSnapshot":
        """Read a snapshot previously persisted with :meth:`write_parquet`.

        Parquet is the snapshot interchange format (column-pruned scans);
        layout is ``{path}/{tables,columns,indexes,fks}``. Each kind is read
        with its declared schema, so no schema-inference job runs; a kind
        whose files lack a snapshot column raises ``ValueError``.
        """
        dfs = {}
        for k in _KINDS:
            dfs[k] = spark.read.schema(_SCHEMAS[k]).parquet(f"{path}/{k}")
            _require_columns(spark, dfs[k], f"{path}/{k}", k)
        return cls.from_dataframes(dfs["tables"], dfs["columns"], dfs["indexes"], dfs["fks"])

    def write_parquet(self, path: str, mode: str = "overwrite") -> None:
        for kind in _KINDS:
            getattr(self, kind).write.mode(mode).parquet(f"{path}/{kind}")

    @classmethod
    def read_bucketed(cls, spark: SparkSession, table_prefix: str) -> "SchemaSnapshot":
        """Read a snapshot persisted with :meth:`write_bucketed` from the
        session catalog (``{prefix}_tables`` … ``{prefix}_fks``).

        Deliberately does NOT re-run :func:`_normalize`: the persisted rows
        were normalized before the bucketed write, and wrapping table_name
        in another ``coalesce`` would hide the scan's bucket partitioning
        from the optimizer — exactly the property this path exists for
        (shuffle-free matcher joins)."""
        dfs = {k: spark.table(f"{table_prefix}_{k}") for k in _KINDS}
        return cls(tables=dfs["tables"], columns=dfs["columns"],
                   indexes=dfs["indexes"], fks=dfs["fks"])

    def write_bucketed(self, table_prefix: str, n_buckets: int = 32) -> None:
        """Persist all four sides bucketed (and sorted) by ``table_name``
        into the session catalog as ``{prefix}_tables`` … ``{prefix}_fks``.

        The scale path for catalogs too big to broadcast (millions of
        objects): when BOTH diff sides are written this way with the same
        bucket count, every matcher join in :mod:`magiceye_spark.diff.core`
        clusters on table_name at WRITE time, so
        ``diff_schemas(..., hint_broadcast=False)`` runs shuffle-free
        end-to-end — write once, diff every subsequent snapshot against it
        without re-shuffling either side (pinned in tests/test_plans.py).
        """
        from magiceye_spark import io

        for kind in _KINDS:
            io.write_bucketed(
                getattr(self, kind), f"{table_prefix}_{kind}", ["table_name"], n_buckets
            )

    def table_names(self) -> DataFrame:
        return self.tables.select("table_name")
