"""Driver-side frames are JVM LocalRelations: `verdicts.local_frame`
plans a LocalTableScan whatever the Arrow conf says (empty frames
included), round-trips rows exactly like the Python-list path, and
keeps its non-nullable checks; the suite's verdict table and the
near-dup pair frames ride on it. The opposite direction,
`verdicts.driver_rows`, collects a frame in one job only when it fits
its entry of the one cap table. Also covers non-finite SQL double
literals reaching `ivf_ann_topk`."""

import ast
import glob
import os
import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

from menelaus_spark import tables
from menelaus_spark.operators import similarity
from menelaus_spark.operators.dedup import _lloyd, local_pairs_frame
from menelaus_spark.runner import ValidationSuite
from menelaus_spark.verdicts import (
    DRIVER_ROW_CAPS,
    FAIL,
    PASS,
    VERDICT_SCHEMA,
    Verdict,
    driver_rows,
    local_frame,
    verdicts_df,
)

ARROW_CONF = "spark.sql.execution.arrow.pyspark.enabled"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(params=["true", "false"])
def arrow_conf(spark, request):
    old = spark.conf.get(ARROW_CONF)
    spark.conf.set(ARROW_CONF, request.param)
    yield request.param
    spark.conf.set(ARROW_CONF, old)


@pytest.mark.parametrize("rows", [[], [("a", 1.0), ("b", None)]], ids=["empty", "rows"])
def test_local_frame_is_local_under_either_arrow_conf(spark, arrow_conf, rows):
    df = local_frame(spark, rows, "k string, v double")
    assert df.isLocal()
    assert "LocalTableScan" in _plan(df)
    assert [tuple(r) for r in df.collect()] == rows


def test_empty_pairs_frame_is_local(spark, arrow_conf):
    assert local_pairs_frame(spark, set(), "string").isLocal()


def test_verdict_rows_match_list_path(spark):
    rows = [
        Verdict("0", "schema", PASS, n_rows=5).as_row(),
        Verdict("1", "ks:dur_ms", FAIL, statistic=0.25, threshold=None,
                n_rows=7, details={"role": "reference", "n": 3}).as_row(),
        Verdict("2", "psi:codec", PASS, statistic=None, threshold=0.2).as_row(),
    ]
    got = verdicts_df(spark, rows)
    want = spark.createDataFrame(rows, schema=VERDICT_SCHEMA)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert got.collect()[0]["details"] == {}


def test_tuple_rows_match_list_path(spark):
    rows = [("x", 1, [1.5, float("nan")]), ("y", None, [])]
    schema = "k string, n bigint, v array<double>"
    got = [r.asDict() for r in local_frame(spark, rows, schema).collect()]
    want = [r.asDict() for r in spark.createDataFrame(rows, schema).collect()]
    assert str(got) == str(want)  # NaN != NaN, so compare the reprs


def test_none_in_non_nullable_field_raises(spark):
    row = Verdict("0", "schema", PASS).as_row()
    row["check_name"] = None
    with pytest.raises(ValueError, match="check_name"):
        verdicts_df(spark, [row])
    with pytest.raises(ValueError, match="fields"):
        local_frame(spark, [("only-one",)], "a string, b double")


def test_suite_verdicts_plan_is_local_table_scan(spark, tmp_path):
    df = tables.audio_table(spark, n_rows=120, n_parts=2, null_frac=0.0)
    suite = ValidationSuite(
        spark, checkpoint_dir=str(tmp_path / "ck"),
        expected_schema=tables.AUDIO_SCHEMA, hdm_cols=(), ks_cols=(),
        psi_col=None, kdq_features=False,
    )
    verdicts, violations = suite.run(df)
    assert "LocalTableScan" in _plan(verdicts)
    assert "ExistingRDD" not in _plan(verdicts)
    assert violations.isLocal() and violations.count() == 0
    states = {(r["partition_key"], r["check_name"]): r["state"] for r in verdicts.collect()}
    assert states[("0", "schema")] == PASS and states[("1", "schema")] == PASS


def _probe_frame(spark, n):
    return spark.range(n, numPartitions=4).select(
        "id", (F.col("id") * 0.5).alias("x"), F.col("id").cast("string").alias("s"))


@pytest.mark.parametrize("n", [0, 300])
def test_driver_rows_at_cap_returns_every_row(spark, monkeypatch, n):
    monkeypatch.setitem(DRIVER_ROW_CAPS, "suite_rows", n)
    pdf = driver_rows(_probe_frame(spark, n), "suite_rows")
    assert sorted(pdf["id"]) == list(range(n))
    # an empty collect keeps the frame's columns and dtypes
    want = _probe_frame(spark, 3).toPandas().dtypes
    assert list(pdf.columns) == ["id", "x", "s"] and pdf.dtypes.equals(want)


def test_driver_rows_over_cap_returns_none(spark, monkeypatch):
    monkeypatch.setitem(DRIVER_ROW_CAPS, "suite_rows", 299)
    assert driver_rows(_probe_frame(spark, 300), "suite_rows") is None


def test_driver_rows_runs_one_job(spark):
    sc = spark.sparkContext
    df = _probe_frame(spark, 300)
    group = f"driver_rows_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        pdf = driver_rows(df, "suite_rows")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(pdf) == 300
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_no_callable_takes_a_cap_or_salt_option():
    # every fast-path cap lives in DRIVER_ROW_CAPS, the counts have no
    # salt, and a path selector whose paths agree is a module constant:
    # no function grows a per-call option for them
    gone = {"driver_cap", "total_cap", "driver_row_cap", "driver_value_cap", "n_salt",
            "literal_cutoff", "kernel_block_rows"}
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [os.path.join(root, "__spark_entry__.py")] + glob.glob(
        os.path.join(root, "menelaus_spark", "**", "*.py"), recursive=True)
    found = []
    for path in paths:
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                a = node.args
                names = {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}
                found += [f"{os.path.relpath(path, root)}:{node.lineno} {n}"
                          for n in sorted(names & gone)]
    assert len(paths) > 20 and found == []


def test_dbl_array_sql_spells_non_finite_values(spark):
    sql = similarity._dbl_array_sql([1.5, float("nan"), float("inf"), float("-inf")])
    [row] = spark.sql(f"SELECT {sql} AS a").collect()
    a = row["a"]
    assert a[0] == 1.5 and np.isnan(a[1]) and a[2] == np.inf and a[3] == -np.inf


def test_ivf_ann_topk_with_non_finite_vectors(spark, monkeypatch):
    rng = np.random.default_rng(3)
    vecs = [[float(x) for x in rng.standard_normal(4)] for _ in range(40)]
    vecs[5] = [float("inf"), 1.0, 0.0, 0.0]  # unit-normalizes to a NaN row
    vecs[6] = [float("nan")] * 4
    # the NaN row pulls a centroid to NaN: its literal must still parse
    assert np.isnan(_lloyd(np.asarray(vecs), 4, 20, 42)).any()
    df = local_frame(spark, list(enumerate(vecs)), "vec_id long, embedding array<double>")
    queries = [("q0", vecs[0])]

    def topk():
        return similarity.ivf_ann_topk(
            df, "vec_id", "embedding", queries, k=3, n_lists=4, nprobe=4
        ).toPandas().sort_values("rank").reset_index(drop=True)

    lit = topk()
    assert len(lit) == 3
    assert 0 in set(lit["vec_id"])
    # the broadcast-centroid Arrow kernel agrees with the literal plan
    monkeypatch.setattr(similarity, "IVF_LITERAL_CUTOFF", 0)
    assert lit.equals(topk())
