"""``SchemaSnapshot`` persistence: the parquet round trip, the loud failure
for a snapshot file that lacks a column, and the typed read's job count
(no schema-inference job)."""

import shutil
from pathlib import Path

import pytest

from magiceye_spark import diff_schemas, write_report
from magiceye_spark.fixtures import mysql_base, mysql_target
from magiceye_spark.snapshot import SchemaSnapshot


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture
def written(spark, tmp_path):
    """The MySQL fixture pair persisted with ``write_parquet``."""
    paths = {}
    for side, snap in (("base", mysql_base(spark)), ("target", mysql_target(spark))):
        paths[side] = str(tmp_path / side)
        snap.write_parquet(paths[side])
    return paths


def test_parquet_round_trip_diffs_like_from_rows(spark, written):
    base = SchemaSnapshot.read_parquet(spark, written["base"])
    target = SchemaSnapshot.read_parquet(spark, written["target"])
    got = _rows(diff_schemas(base, target))
    assert got
    assert got == _rows(diff_schemas(mysql_base(spark), mysql_target(spark)))


def test_read_parquet_names_a_missing_column(spark, written, tmp_path):
    cols = spark.read.parquet(f"{written['base']}/columns").drop("comment")
    cols.write.mode("overwrite").parquet(str(tmp_path / "no_comment"))
    spark.read.parquet(str(tmp_path / "no_comment")).write.mode("overwrite").parquet(
        f"{written['base']}/columns"
    )
    with pytest.raises(ValueError, match=r"columns.*\['comment'\]"):
        SchemaSnapshot.read_parquet(spark, written["base"])


def test_read_parquet_refuses_a_kind_without_files(spark, written):
    shutil.rmtree(f"{written['target']}/fks")
    (Path(written["target"]) / "fks").mkdir()
    with pytest.raises(ValueError, match=r"fks holds no parquet file"):
        SchemaSnapshot.read_parquet(spark, written["target"])


def test_read_parquet_starts_no_job(spark, written, jobs_started):
    snaps = []
    n = jobs_started(lambda: snaps.append(SchemaSnapshot.read_parquet(spark, written["base"])))
    assert n == 0
    assert snaps[0].columns.count() > 0


def test_catalog_report_runs_in_five_jobs(spark, written, jobs_started, tmp_path):
    """Two typed reads, the diff and the driver-side grouping: the broadcast
    jobs of the diff's joins and one collect — no inference, no shuffle
    sort."""

    def report():
        base = SchemaSnapshot.read_parquet(spark, written["base"])
        target = SchemaSnapshot.read_parquet(spark, written["target"])
        write_report(diff_schemas(base, target), str(tmp_path / "r.json"))

    assert jobs_started(report) <= 5
