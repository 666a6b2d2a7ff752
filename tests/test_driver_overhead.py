"""The driver's fixed cost per query stays off the warm path.

``__spark_entry__._t`` reuses the Parquet schema Spark inferred for a
table, so a repeated read runs no schema-inference job, and a changed
table is inferred again. ``get_spark`` turns off PySpark's per-Column
call-site capture; analysis errors must still name the column."""

import os
import sys
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.errors.utils import is_debugging_enabled

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402


def _jobs(spark, fn):
    """``fn()``'s result and the number of Spark jobs it submitted."""
    sc = spark.sparkContext
    group = f"driver_overhead_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_read_runs_no_inference_job(spark, sf_dir):
    first, _ = _jobs(spark, lambda: entrymod._t(spark, sf_dir, "lineitem"))
    second, n = _jobs(spark, lambda: entrymod._t(spark, sf_dir, "lineitem"))
    assert n == 0
    assert second.schema == first.schema
    plain = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    assert second.schema == plain.schema
    assert second.count() == plain.count()


def test_first_read_of_a_path_infers(spark, sf_dir, tmp_path):
    src = os.path.join(sf_dir, "events.parquet")
    with open(src, "rb") as f, open(tmp_path / "events.parquet", "wb") as g:
        g.write(f.read())
    df, n = _jobs(spark, lambda: entrymod._t(spark, str(tmp_path), "events"))
    assert n == 1
    assert df.schema == spark.read.parquet(src).schema


def test_rewritten_table_is_inferred_again(spark, tmp_path):
    path = tmp_path / "grow.parquet"
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df, n = _jobs(spark, lambda: entrymod._t(spark, str(tmp_path), "grow"))
    assert n == 1 and df.columns == ["a", "b"]
    pq.write_table(pa.table({"a": [3], "b": ["z"], "c": [0.5]}), path)
    df, n = _jobs(spark, lambda: entrymod._t(spark, str(tmp_path), "grow"))
    assert n == 1 and df.columns == ["a", "b", "c"]
    assert [tuple(r) for r in df.collect()] == [(3, "z", 0.5)]
    _, n = _jobs(spark, lambda: entrymod._t(spark, str(tmp_path), "grow"))
    assert n == 0


def test_call_site_capture_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


def test_missing_column_error_still_names_it(spark):
    df = spark.range(3)
    with pytest.raises(AnalysisException) as err:
        df.select("no_such_column").collect()
    assert err.value.getCondition().startswith("UNRESOLVED_COLUMN")
    assert "no_such_column" in str(err.value)


def test_uri_path_is_inferred_every_read(spark, tmp_path):
    # a URI has no local files to stat, so there is nothing to key on
    path = tmp_path / "uri.parquet"
    pq.write_table(pa.table({"a": [1]}), path)
    uri = "file://" + str(tmp_path)
    _, n = _jobs(spark, lambda: entrymod._t(spark, uri, "uri"))
    assert n == 1
    pq.write_table(pa.table({"a": [2], "b": ["y"]}), path)
    df, n = _jobs(spark, lambda: entrymod._t(spark, uri, "uri"))
    assert n == 1 and df.columns == ["a", "b"]


def test_directory_table_is_keyed_on_every_file(spark, tmp_path):
    table = tmp_path / "parts.parquet"
    table.mkdir()
    pq.write_table(pa.table({"a": [1]}), table / "part-0.parquet")
    _, n = _jobs(spark, lambda: entrymod._t(spark, str(tmp_path), "parts"))
    assert n == 1
    _, n = _jobs(spark, lambda: entrymod._t(spark, str(tmp_path), "parts"))
    assert n == 0
    pq.write_table(pa.table({"a": [2]}), table / "part-1.parquet")
    df, n = _jobs(spark, lambda: entrymod._t(spark, str(tmp_path), "parts"))
    assert n == 1 and sorted(r.a for r in df.collect()) == [1, 2]
