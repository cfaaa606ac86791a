"""The input reader ``_qcore._t``: schema inference once per file
identity and inference confs, Spark's own error for a missing table, and
the session default that turns off per-Column call-site capture."""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from soil_data_development_tools___arcmap_spark._qcore import _t

NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"


def _jobs(spark, group, fn):
    """Run ``fn`` under job group ``group``; return its result and the
    number of Spark jobs it submitted."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_read_of_a_file_submits_no_job(spark, tmp_path):
    pq.write_table(pa.table({"k": [1, 2, 3]}), tmp_path / "t.parquet")
    d = str(tmp_path)
    first, n_first = _jobs(spark, "reader-first", lambda: _t(spark, d, "t"))
    again, n_again = _jobs(spark, "reader-again", lambda: _t(spark, d, "t"))
    assert n_first >= 1  # inference is a job, so the count is live
    assert n_again == 0
    assert again.schema == first.schema
    assert sorted(r.k for r in again.collect()) == [1, 2, 3]


def test_rewritten_file_is_inferred_afresh(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": [1, 2]}), path)
    assert _t(spark, str(tmp_path), "t").columns == ["k"]
    pq.write_table(pa.table({"k": [1, 2], "extra": ["a", "b"]}), path)
    df = _t(spark, str(tmp_path), "t")
    assert df.columns == ["k", "extra"]
    assert sorted((r.k, r.extra) for r in df.collect()) == [(1, "a"), (2, "b")]


def test_schema_follows_the_timestamp_ntz_conf(spark, tmp_path):
    ts = pa.array([datetime.datetime(2024, 1, 2, 3, 4, 5)], pa.timestamp("us"))
    pq.write_table(pa.table({"ts": ts}), tmp_path / "ev.parquet")
    d = str(tmp_path)
    before = spark.conf.get(NTZ)
    try:
        spark.conf.set(NTZ, "true")
        assert dict(_t(spark, d, "ev").dtypes)["ts"] == "timestamp_ntz"
        spark.conf.set(NTZ, "false")
        assert dict(_t(spark, d, "ev").dtypes)["ts"] == "timestamp"
        spark.conf.set(NTZ, "true")
        assert dict(_t(spark, d, "ev").dtypes)["ts"] == "timestamp_ntz"
    finally:
        spark.conf.set(NTZ, before)


def test_missing_table_raises_sparks_path_not_found(spark, tmp_path):
    with pytest.raises(AnalysisException) as e:
        _t(spark, str(tmp_path), "absent")
    assert e.value.getCondition() == "PATH_NOT_FOUND"


def test_session_turns_off_dataframe_debugging(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
