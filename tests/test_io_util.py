"""io_util's schema memo: a warm load of an unchanged file runs no
schema-inference job, and a rewritten file is inferred again."""

from __future__ import annotations

import itertools

import pyarrow as pa
import pyarrow.parquet as pq

from xml_to_sqlite3_spark.io_util import load

_GROUPS = itertools.count()


def _load_counting_jobs(spark, sf_dir, name):
    """(load's DataFrame, Spark jobs the load itself ran)."""
    sc = spark.sparkContext
    group = f"test_io_util_{next(_GROUPS)}"
    sc.setJobGroup(group, "io_util.load")
    try:
        df = load(spark, str(sf_dir), name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def _check_memo_then_rewrite(spark, sf_dir, name, rewrite):
    first, _ = _load_counting_jobs(spark, sf_dir, name)
    second, jobs = _load_counting_jobs(spark, sf_dir, name)
    assert jobs == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())

    rewrite()
    third, _ = _load_counting_jobs(spark, sf_dir, name)
    assert third.columns == [*first.columns, "extra"]
    assert sorted(r.extra for r in third.collect()) == ["e0", "e1", "e2"]


def test_schema_inferred_once_per_file_version(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"id": [0, 1, 2]}), path)

    def rewrite():
        pq.write_table(pa.table({"id": [0, 1, 2], "extra": ["e0", "e1", "e2"]}), path)

    _check_memo_then_rewrite(spark, tmp_path, "t", rewrite)


def test_schema_inferred_once_per_directory_version(spark, tmp_path):
    path = str(tmp_path / "d.parquet")
    spark.range(3).write.parquet(path)

    def rewrite():
        spark.range(3).selectExpr("id", "concat('e', id) AS extra").write.mode(
            "overwrite"
        ).parquet(path)

    _check_memo_then_rewrite(spark, tmp_path, "d", rewrite)
