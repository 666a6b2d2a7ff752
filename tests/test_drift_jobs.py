"""The drift/sketch entries run few Spark jobs, and their plans keep
their meaning.

At validation-table sizes each Spark job costs a fixed 40-60 ms, so the
job count of an entry sets its time. The warm count of each entry is
bounded here. Each driver fast path must return its distributed twin's
rows over the cap, the HDM entries must release the frames their
detector cached, the HLL rollup must build the same registers as the
plain sketch operators, and the worker zip must be this checkout's own
sources."""

import os
import sys
import tempfile
import time
import uuid
import zipfile

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from menelaus_spark.checks import kdqtree  # noqa: E402
from menelaus_spark.operators import sketches as SK  # noqa: E402
from menelaus_spark.verdicts import DRIVER_ROW_CAPS  # noqa: E402

# at most this many warm jobs per entry at sf0.001 on 4 cores
WARM_JOBS = {
    "hist_extendedprice": 4,
    "hellinger_returnflag": 4,
    "psi_event_type_halves": 2,
    "ks_value_click_vs_error": 4,
    "hdddm_lineitem": 1,
    "kdq_lineitem": 1,
    "streaming_traces": 3,
    "hll_distinct_events": 5,
}


def _jobs(spark, fn):
    """``fn()``'s result and the number of Spark jobs it submitted."""
    sc = spark.sparkContext
    group = f"drift_jobs_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(spark, sf_dir, name):
    return [tuple(r) for r in entrymod.queries()[name](spark, sf_dir).collect()]


@pytest.mark.parametrize("name", sorted(WARM_JOBS))
def test_warm_job_count(spark, sf_dir, name):
    q = entrymod.queries()[name]
    q(spark, sf_dir).collect()  # cold: schema inference, codegen
    spark.catalog.clearCache()
    _, n = _jobs(spark, lambda: q(spark, sf_dir).collect())
    spark.catalog.clearCache()
    assert n <= WARM_JOBS[name]


def test_kdq_over_cap_matches_fast_path(spark, sf_dir, monkeypatch):
    fast = _rows(spark, sf_dir, "kdq_lineitem")
    collect = kdqtree.collect_group_features
    took = []

    def recorded(*args, **kwargs):
        out = collect(*args, **kwargs)
        took.append(out)
        return out

    monkeypatch.setitem(DRIVER_ROW_CAPS, "kdq_group_rows", 0)
    monkeypatch.setattr(kdqtree, "collect_group_features", recorded)
    slow = _rows(spark, sf_dir, "kdq_lineitem")
    spark.catalog.clearCache()
    assert took == [None]
    assert slow == fast


def test_hdddm_over_cap_matches_fast_path(spark, sf_dir, monkeypatch):
    fast = _rows(spark, sf_dir, "hdddm_lineitem")
    monkeypatch.setitem(DRIVER_ROW_CAPS, "batch_summaries", 0)
    # the over-cap summary is a salted aggregation: more than the one
    # collect job of the fast path
    slow, n = _jobs(spark, lambda: _rows(spark, sf_dir, "hdddm_lineitem"))
    spark.catalog.clearCache()
    assert n > WARM_JOBS["hdddm_lineitem"]
    assert slow == fast


@pytest.mark.parametrize(
    "name", ["hdddm_lineitem", "hdddm_lineitem_cumulative", "cdbd_events_value"])
def test_hdm_entries_release_detector_frames(spark, sf_dir, name):
    # the detector caches each batch frame it is fed; the entry must
    # release them, so one call leaves only its pinned projection
    # (the (batch, values) frame the per-batch filters read)
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    entrymod.queries()[name](spark, sf_dir).collect()
    n = cache.cachedData().size()
    spark.catalog.clearCache()
    assert n == 1


def test_hll_rollup_matches_sketch_operators(spark, sf_dir):
    p = 8
    ev = entrymod._t(spark, sf_dir, "events")
    roll = entrymod._hll_quarter_rollup(ev, p)
    glob = roll.filter(F.col("gid") == 1).select("reg", "rho")
    assert sorted(glob.collect()) == sorted(SK.hll_registers(ev, "user_id", p=p).collect())
    by_q = roll.filter(F.col("gid") == 0).select("q", "reg", "rho")
    expect_q = SK.hll_registers_by(
        ev.withColumn("q", F.pmod("event_id", F.lit(4))), "q", "user_id", p=p)
    assert sorted(by_q.collect()) == sorted(expect_q.select("q", "reg", "rho").collect())

    got = entrymod.queries()["hll_distinct_events"](spark, sf_dir).collect()[0]
    want = SK.hll_estimate_df(glob, p=p).collect()[0]
    assert (got["m"], got["v_zero"], got["s_int"], got["est_distinct"]) == (
        want["m"], want["v_zero"], want["s_int"], want["est_distinct"])
    assert got["merge_mismatches"] == 0
    assert got["exact_distinct"] == ev.select("user_id").distinct().dropna().count()


def _fake_checkout(root, files):
    for rel, text in files.items():
        path = root / "menelaus_spark" / rel
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(text)
    return str(root)


def test_pyfiles_zip_is_content_addressed(tmp_path, monkeypatch):
    files = {"__init__.py": "X = 1\n", "checks/hdm.py": "Y = 2\n", "notes.txt": "skip"}
    repo = _fake_checkout(tmp_path / "a", files)
    out = tmp_path / "out"
    out.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(out))
    first = entrymod._pyfiles_zip(repo)
    assert os.path.dirname(first) == str(out)
    assert entrymod._pyfiles_zip(repo) == first
    # a second checkout with identical sources shares the zip
    assert entrymod._pyfiles_zip(_fake_checkout(tmp_path / "b", files)) == first
    with zipfile.ZipFile(first) as zf:
        assert sorted(zf.namelist()) == ["menelaus_spark/__init__.py",
                                         "menelaus_spark/checks/hdm.py"]
        assert zf.read("menelaus_spark/checks/hdm.py") == b"Y = 2\n"

    (tmp_path / "a" / "menelaus_spark" / "checks" / "hdm.py").write_text("Y = 3\n")
    changed = entrymod._pyfiles_zip(repo)
    assert changed != first and os.path.exists(first)
    with zipfile.ZipFile(changed) as zf:
        assert zf.read("menelaus_spark/checks/hdm.py") == b"Y = 3\n"
    # nothing but the finished zips is left in the directory
    assert sorted(os.listdir(out)) == sorted(os.path.basename(p) for p in (first, changed))

    # zips unused for longer than the age limit and the legacy fixed
    # name are pruned; a reused zip is touched, so it stays. The
    # spark-submit zip tools/submit_validation.py packages is kept.
    stale = time.time() - entrymod._PYFILES_MAX_AGE_S - 60
    old = out / "menelaus_spark_pyfiles_0123456789abcdef.zip"
    for path in (old, out / "menelaus_spark_pyfiles.zip", out / "menelaus_spark.zip",
                 out / "unrelated.zip"):
        path.write_bytes(b"zip")
        os.utime(path, (stale, stale))
    os.utime(first, (stale, stale))
    assert entrymod._pyfiles_zip(repo) == changed
    assert os.path.exists(changed) and not os.path.exists(first)
    (tmp_path / "a" / "menelaus_spark" / "checks" / "hdm.py").write_text("Y = 2\n")
    assert entrymod._pyfiles_zip(repo) == first
    for path in (first, changed):
        os.utime(path, (stale, stale))
    assert entrymod._pyfiles_zip(repo) == first  # reused: touched, not pruned
    assert os.path.getmtime(first) > stale + 60
    assert sorted(os.listdir(out)) == sorted(
        [os.path.basename(first), "menelaus_spark.zip", "unrelated.zip"])


def test_shipped_zip_holds_this_checkout():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = entrymod._pyfiles_zip(repo)
    pkg = os.path.join(repo, "menelaus_spark")
    srcs = sorted(os.path.relpath(os.path.join(d, fn), repo)
                  for d, _, fns in os.walk(pkg) for fn in fns if fn.endswith(".py"))
    with zipfile.ZipFile(path) as zf:
        assert sorted(zf.namelist()) == srcs
        for rel in srcs:
            with open(os.path.join(repo, rel), "rb") as f:
                assert zf.read(rel) == f.read()
