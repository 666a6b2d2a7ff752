"""Steady state compiles nothing: a second run of the same plans in one
session must hit Spark's whole-stage-codegen cache for every unit.

A failure means the cache is smaller than the working set
(``spark.sql.codegen.cache.maxEntries`` in ``session.py``), or
something that changes per run (a UUID, an unseeded salt, a stage id)
leaked into the generated source."""

import os
import sys

import pytest

from menelaus_spark import tables
from menelaus_spark.runner import ValidationSuite

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

DRIFT_ENTRIES = ("hist_extendedprice", "hdddm_lineitem", "kdq_lineitem",
                 "hll_distinct_events")


def _compiles(spark) -> int:
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(cm.METRIC_COMPILATION_TIME().getCount())


@pytest.fixture(scope="module")
def audio_df(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("cg_audio") / "table")
    tables.write_audio_table(
        tables.audio_table(spark, n_rows=400, n_parts=4, null_frac=0.02), path)
    return spark.read.parquet(path)


def test_session_codegen_conf(spark):
    # the full queries() registry is 992 distinct units at sf0.01
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 2048
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"


def test_second_pass_compiles_nothing(spark, sf_dir, audio_df, tmp_path):
    qs = entrymod.queries()

    def one_pass(i):
        for name in DRIFT_ENTRIES:
            qs[name](spark, sf_dir).collect()
        suite = ValidationSuite(
            spark,
            checkpoint_dir=str(tmp_path / f"ckpt{i}"),
            expected_schema=tables.AUDIO_SCHEMA,
            null_rate_max={"transcript": 0.2},
            ranges={"dur_ms": (200, 3000)},
            kdq_params={"count_ubound": 20, "bootstrap_samples": 50},
        )
        verdicts, violations = suite.run(audio_df)
        return sorted(map(tuple, verdicts.select(
            "partition_key", "check_name", "state").collect())), violations.count()

    c0 = _compiles(spark)
    first = one_pass(0)
    c1 = _compiles(spark)
    second = one_pass(1)
    c2 = _compiles(spark)
    assert first == second
    assert c1 > c0  # the metric is live: pass 1 compiled its units
    assert c2 - c1 == 0, f"second pass recompiled {c2 - c1} units"
