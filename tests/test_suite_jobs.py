"""The suite run submits few Spark jobs and leaves nothing cached.

At validation-table sizes each Spark job costs a fixed 40-60 ms, so the
job count of a suite run sets much of its time. A warm run of the
benchmark's ``suite_cold`` configuration is bounded here, and every
frame a run caches must be released when it returns or raises."""

import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from menelaus_spark import runner  # noqa: E402
from menelaus_spark.runner import ValidationSuite  # noqa: E402
from menelaus_spark.verdicts import DRIVER_ROW_CAPS  # noqa: E402
from perfbench.workloads import Context, SuiteCold  # noqa: E402

# at most this many jobs in a warm suite_cold run at smoke size on 4
# cores (18 while the partition list and the KS ranges had jobs of
# their own, 14 while the summary probe, the kdq collect and the
# quality counts each read the data through jobs of their own, 11
# while a partition's violation rows took a Spark write job)
WARM_SUITE_JOBS = 10
# at most this many jobs in a warm run resumed from a manifest of
# partitions 0-8 that validates partition 9 (15 while a resumed run
# counted its kdq leaves with a job of its own)
WARM_APPEND_JOBS = 13


def _job_ids(sc) -> set[int]:
    # new ids with no job group cover the jobs of every driver thread:
    # the suite's pool threads do not inherit a group set on this one
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup())


def _cached(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


@pytest.fixture(scope="module")
def suite_cold(spark, tmp_path_factory):
    """The benchmark's suite_cold workload at smoke size (200 clips in
    10 partitions, seed 42) and its table, read once."""
    ctx = Context(spark, str(tmp_path_factory.mktemp("suite_cold")), 42, {"clips": 200})
    wl = SuiteCold(ctx)
    wl.prepare()
    return wl, spark.read.parquet(wl.path)


def test_suite_cold_warm_job_count(spark, suite_cold):
    wl, df = suite_cold
    wl.suite(wl.fresh_checkpoint()).run(df)  # cold: codegen, first plans
    before = _job_ids(spark.sparkContext)
    wl.suite(wl.fresh_checkpoint()).run(df)
    n = len(_job_ids(spark.sparkContext) - before)
    assert n <= WARM_SUITE_JOBS


def test_resumed_append_warm_job_count(spark, suite_cold, monkeypatch):
    # a resumed run decides kdq from the decoded frame's collect, as a
    # fresh run does: its restored tree counts the new partition's
    # leaves with no distributed pass
    wl, df = suite_cold
    base = wl.fresh_checkpoint()
    wl.suite(base).run(df.filter("part < 9"))

    def append():
        ckpt = wl.fresh_checkpoint()
        shutil.copytree(base, ckpt)
        wl.suite(ckpt).run(df)

    append()  # cold
    calls = []
    real = runner.distributed_leaf_counts_by_group
    monkeypatch.setattr(runner, "distributed_leaf_counts_by_group",
                        lambda *a: calls.append(a) or real(*a))
    before = _job_ids(spark.sparkContext)
    append()
    n = len(_job_ids(spark.sparkContext) - before)
    assert not calls
    assert n <= WARM_APPEND_JOBS


def test_violations_written_by_the_driver_under_the_gate(spark, suite_cold, monkeypatch):
    # under the suite_rows gate the driver writes every partition's
    # violation file; at cap 0 a failing partition's rows take one
    # Spark write
    from pyspark.sql.readwriter import DataFrameWriter

    wl, df = suite_cold
    calls = []
    real = DataFrameWriter.parquet
    monkeypatch.setattr(DataFrameWriter, "parquet",
                        lambda self, *a, **k: calls.append(a) or real(self, *a, **k))
    suite = wl.suite(wl.fresh_checkpoint())
    suite.run(df)
    assert not calls
    assert any(r["n_violations"] for r in suite.manifest.records)
    monkeypatch.setitem(DRIVER_ROW_CAPS, "suite_rows", 0)
    wl.suite(wl.fresh_checkpoint()).run(df)
    assert calls


def test_run_releases_cached_frames(spark, suite_cold):
    wl, df = suite_cold
    n0 = _cached(spark)
    ckpt = wl.fresh_checkpoint()
    wl.suite(ckpt).run(df.filter("part < 4"))
    assert _cached(spark) == n0
    # a resume restores the HDM and kdq references from the table
    wl.suite(ckpt).run(df)
    assert _cached(spark) == n0


def test_run_releases_cached_frames_when_it_raises(spark, suite_cold, monkeypatch):
    wl, df = suite_cold
    n0 = _cached(spark)
    finish = ValidationSuite._finish_partition
    calls = []

    def fail_second(self, *args, **kwargs):
        calls.append(1)
        if len(calls) == 2:  # after HDM has owned a reference frame
            raise RuntimeError("partition write failed")
        return finish(self, *args, **kwargs)

    monkeypatch.setattr(ValidationSuite, "_finish_partition", fail_second)
    with pytest.raises(RuntimeError, match="partition write failed"):
        wl.suite(wl.fresh_checkpoint()).run(df)
    assert _cached(spark) == n0


def test_run_that_raises_cancels_its_passes(spark, suite_cold, monkeypatch):
    # building the decoded frame's projection fails on the main thread
    # just after the decode, the constraint pass and the uniqueness pass
    # were submitted: they are cancelled, not waited for, and that
    # error is the one raised
    wl, df = suite_cold
    sc = spark.sparkContext
    tags = sc.getJobTags()

    def fail(self, feats, summary):
        raise RuntimeError("projection failed")

    monkeypatch.setattr(ValidationSuite, "_decoded_projection", fail)
    before = _job_ids(sc)
    with pytest.raises(RuntimeError, match="projection failed"):
        wl.suite(wl.fresh_checkpoint()).run(df)
    new = _job_ids(sc) - before
    assert "FAILED" in {sc.statusTracker().getJobInfo(j).status for j in new}
    assert sc.getJobTags() == tags
