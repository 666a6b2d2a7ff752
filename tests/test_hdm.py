"""Differential tests for the HDM state machine against the reference's
own test expectations (/root/reference/tests/menelaus/data_drift/
test_histogram_density_method.py — counters, epsilon-list lengths,
lambda, reference size, drift/no-drift outcomes)."""

import numpy as np
import pandas as pd
import pytest

from menelaus_spark.checks.hdm import CDBD, HDDDM, HDM
from menelaus_spark.verdicts import DRIVER_ROW_CAPS


def _sdf(spark, arr):
    """numpy (n, 3) -> Spark DF with order column __idx + f0..f2."""
    arr = np.asarray(arr, dtype=float)
    if arr.ndim == 1:
        arr = arr.reshape(-1, 1)
    pdf = pd.DataFrame(arr, columns=[f"f{i}" for i in range(arr.shape[1])])
    pdf.insert(0, "__idx", range(len(pdf)))
    return spark.createDataFrame(pdf)


@pytest.fixture(scope="module")
def const_batch():
    return np.tile(np.repeat(1.0, 100).reshape(-1, 1), (1, 3))


@pytest.fixture(scope="module")
def shift_batch():
    np.random.seed(1)
    d = np.random.randint(2, 10, 150).astype(float)
    return np.tile(d.reshape(-1, 1), (1, 3))


def _hdm(**kw):
    kw.setdefault("divergence", "H")
    kw.setdefault("detect_batch", 1)
    kw.setdefault("statistic", "tstat")
    kw.setdefault("significance", 0.05)
    kw.setdefault("subsets", 5)
    kw.setdefault("order_col", "__idx")
    return HDM(**kw)


def test_histogram_bins_from_half_reference(spark, const_batch):
    # test_histogram_density_method.py:45-67: detect_batch=1 splits the
    # reference; bins = floor(sqrt(len(first_half)))
    hdm = _hdm()
    hdm.set_reference(_sdf(spark, const_batch))
    assert hdm._reference_density.shape[0] == 3
    assert hdm._reference_density.shape[1] == int(np.floor(np.sqrt(50)))


def test_detect_batch_1_init(spark, const_batch):
    hdm = _hdm()
    hdm.set_reference(_sdf(spark, const_batch))
    assert hdm.total_batches == 1
    assert hdm.batches_since_reset == 1
    assert hdm.drift_state is None
    assert hdm._prev_feature_distances is not None
    assert hdm.reference_n == 100
    assert hdm._prev_distance is not None


def test_detect_batch_1_no_drift(spark, const_batch):
    hdm = _hdm()
    hdm.set_reference(_sdf(spark, const_batch))
    hdm.update(_sdf(spark, const_batch))
    assert hdm.total_batches == 2
    assert hdm.batches_since_reset == 2
    assert hdm.drift_state is None
    assert hdm.reference_n == 200
    assert hdm.feature_epsilons is not None
    assert len(hdm.epsilon) == 2
    assert hdm.beta is not None


def test_detect_batch_1_epsilon_trim(spark, const_batch):
    hdm = _hdm()
    hdm.set_reference(_sdf(spark, const_batch))
    hdm.update(_sdf(spark, const_batch))
    hdm.update(_sdf(spark, const_batch))
    assert hdm.drift_state is None
    assert len(hdm.epsilon) == 2  # bootstrap epsilon removed on batch 3


def test_detect_batch_1_drift_and_reset(spark, const_batch, shift_batch):
    hdm = _hdm()
    hdm.set_reference(_sdf(spark, const_batch))
    hdm.update(_sdf(spark, shift_batch))
    assert hdm.feature_epsilons is not None
    assert hdm.drift_state == "drift"
    assert hdm._lambda == 2
    assert hdm.reference_n == 100  # stale until reset, as in reference
    assert hdm._ref_df().count() == 150  # reference replaced by test
    assert hdm.feature_info is not None

    hdm.update(_sdf(spark, shift_batch))  # triggers reset + proxy re-entry
    assert hdm.total_batches == 4
    assert hdm.batches_since_reset == 2
    assert len(hdm.epsilon) == 2
    assert hdm.beta is not None
    assert hdm.drift_state is None


def test_detect_batch_2_init_and_no_drift(spark, const_batch):
    hdm = _hdm(detect_batch=2)
    hdm.set_reference(_sdf(spark, const_batch))
    assert hdm.total_batches == 0
    assert hdm.batches_since_reset == 0
    assert hdm.reference_n == 100
    hdm.update(_sdf(spark, const_batch))
    assert hdm.drift_state is None
    assert hdm.reference_n == 200
    hdm.update(_sdf(spark, const_batch))
    assert hdm.drift_state is None
    assert hdm.total_batches == 2
    assert len(hdm.epsilon) == 2
    assert hdm.beta is not None


def test_detect_batch_2_drift_and_reset(spark, const_batch, shift_batch):
    hdm = _hdm(detect_batch=2)
    hdm.set_reference(_sdf(spark, const_batch))
    hdm.update(_sdf(spark, const_batch))
    hdm.update(_sdf(spark, shift_batch))
    assert hdm.drift_state == "drift"
    assert hdm._lambda == 2
    assert hdm._ref_df().count() == 150
    hdm.update(_sdf(spark, shift_batch))
    assert hdm.total_batches == 3
    assert hdm.batches_since_reset == 1
    assert len(hdm.epsilon) == 0
    assert hdm.beta is not None
    assert hdm.drift_state is None


def test_detect_batch_3_full_cycle(spark, const_batch, shift_batch):
    hdm = _hdm(detect_batch=3)
    hdm.set_reference(_sdf(spark, const_batch))
    assert hdm.total_batches == 0
    hdm.update(_sdf(spark, const_batch))
    assert hdm.reference_n == 200
    hdm.update(_sdf(spark, const_batch))
    hdm.update(_sdf(spark, const_batch))
    assert hdm.drift_state is None
    assert hdm.total_batches == 3
    assert len(hdm.epsilon) == 2
    assert hdm.beta is not None
    # drift on a fresh detector's third batch
    hdm2 = _hdm(detect_batch=3)
    hdm2.set_reference(_sdf(spark, const_batch))
    hdm2.update(_sdf(spark, const_batch))
    hdm2.update(_sdf(spark, const_batch))
    hdm2.update(_sdf(spark, shift_batch))
    assert hdm2.drift_state == "drift"
    assert hdm2._lambda == 3
    assert hdm2._ref_df().count() == 150
    hdm2.update(_sdf(spark, shift_batch))
    assert hdm2.total_batches == 4
    assert hdm2.batches_since_reset == 1
    assert len(hdm2.epsilon) == 0
    assert hdm2.drift_state is None


def test_stdev_vs_tstat_differ(spark, const_batch, shift_batch):
    # test_histogram_density_method.py:7-42 asserts the two statistics
    # give different betas. In the reference that test passes via the
    # UNSEEDED bootstrap (two runs draw different subsets); with our
    # seeded bootstrap both reduce to epsilon_hat when the epsilon
    # stdev is 0, so we assert the distinction where stdev > 0:
    # detect_batch=3, three varied batches.
    def run(statistic):
        h = _hdm(statistic=statistic, detect_batch=3)
        h.set_reference(_sdf(spark, shift_batch))
        h.update(_sdf(spark, const_batch))
        h.update(_sdf(spark, shift_batch))
        h.update(_sdf(spark, const_batch))
        return h.thresholds[3]

    assert run("stdev") != run("tstat")


def test_KL_univariate_drift(spark):
    # test_histogram_density_method.py:452-500: uniform(0,1) vs uniform(3,4)
    np.random.seed(1)
    ref = np.random.uniform(0, 1, 100)
    test = np.random.uniform(3, 4, 100)
    hdm = _hdm(divergence="KL", detect_batch=1)
    hdm.set_reference(_sdf(spark, ref))
    hdm.update(_sdf(spark, test))
    assert hdm.drift_state == "drift"


def test_cdbd_univariate_guard(spark, const_batch):
    cdbd = CDBD(order_col="__idx")
    with pytest.raises(ValueError):
        cdbd.set_reference(_sdf(spark, const_batch))  # 3 columns -> error
    cdbd2 = CDBD(order_col="__idx")
    cdbd2.set_reference(_sdf(spark, const_batch[:, 0]))
    assert cdbd2.total_batches == 1


def test_custom_divergence(spark, const_batch):
    # extension point: user-supplied divergence callable
    # (test_histogram_density_method.py:502-535)
    def manhattan(ref_hist, test_hist):
        return float(np.abs(np.asarray(ref_hist) - np.asarray(test_hist)).sum())

    hdm = _hdm(divergence=manhattan)
    hdm.set_reference(_sdf(spark, const_batch))
    hdm.update(_sdf(spark, const_batch))
    assert hdm.total_batches == 2
    assert hdm.current_distance == 0.0


def test_hdddm_schema_freeze(spark, const_batch):
    h = HDDDM(order_col="__idx")
    h.set_reference(_sdf(spark, const_batch))
    with pytest.raises(ValueError):
        h.update(_sdf(spark, const_batch[:, :2]))  # wrong column count


def test_bin_weighted_driver_matches_bin_index_col(spark):
    # property check: the driver-side numpy binning twin is bit-equal
    # to the distributed bin_index_col expression for arbitrary data,
    # ranges and bin counts (the exactness claim the HDM summary path
    # rests on)
    from hypothesis import given, settings, strategies as st

    from menelaus_spark.operators import histograms as H
    from pyspark.sql import functions as F

    @settings(max_examples=15, deadline=None)
    @given(
        vals=st.lists(
            st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
            min_size=1, max_size=60,
        ),
        nbins=st.integers(min_value=1, max_value=40),
        pad=st.floats(min_value=0.0, max_value=10.0, allow_nan=False),
    )
    def check(vals, nbins, pad):
        lo, hi = min(vals) - pad, max(vals) + pad
        uv, counts = np.unique(np.asarray(vals), return_counts=True)
        driver = H.bin_weighted_driver(uv, counts.astype(float), lo, hi, nbins)
        sdf = spark.createDataFrame(pd.DataFrame({"v": vals}))
        rows = (
            sdf.select(H.bin_index_col(F.col("v"), lo, hi, nbins).alias("b"))
            .filter(F.col("b").isNotNull())
            .groupBy("b").count().collect()
        )
        dist = np.zeros(nbins)
        for r in rows:
            dist[int(r["b"])] = float(r["count"])
        assert np.array_equal(driver, dist)

    check()


def _run_sequence(spark, batches, **kw):
    """Drive one HDM through set_reference + updates; return the full
    diagnostic state (distances / epsilons / thresholds / verdicts)."""
    hdm = _hdm(**kw)
    hdm.set_reference(_sdf(spark, batches[0]))
    verdicts = [hdm.update(_sdf(spark, b)) for b in batches[1:]]
    return hdm, verdicts


def test_cluster_spill_branch_bit_equal_to_driver(spark, monkeypatch):
    # an hdm_values cap of 0 forces _summarize to spill every batch summary
    # to a persisted cluster DataFrame, _merge_summaries to union
    # cluster frames, and _hists_from_summaries to run the salted
    # weighted aggregation — the exact branch that runs at 100 TB. The
    # module claims bit-equality with the driver path; verify it over a
    # full drift cycle, including a NaN-carrying batch (range parity).
    rng = np.random.default_rng(17)
    b0 = rng.normal(0.0, 1.0, (120, 3))
    b1 = rng.normal(0.0, 1.0, (120, 3))
    b2 = rng.normal(0.0, 1.0, (120, 3))
    b2[5, 1] = np.nan  # NaN must not poison the joint min/max
    b3 = rng.normal(6.0, 1.0, (120, 3))  # drift
    b4 = rng.normal(6.0, 1.0, (120, 3))
    batches = [b0, b1, b2, b3, b4]

    for detect_batch in (1, 2):
        drv, vd = _run_sequence(spark, batches, detect_batch=detect_batch)
        with monkeypatch.context() as m:
            m.setitem(DRIVER_ROW_CAPS, "hdm_values", 0)
            clu, vc = _run_sequence(spark, batches, detect_batch=detect_batch)
        assert clu._ref_summary["mode"] == "cluster"  # branch executed
        assert vc == vd
        assert clu.distances == drv.distances
        assert clu.epsilon_values == drv.epsilon_values
        assert clu.thresholds == drv.thresholds
        assert clu.reference_n == drv.reference_n
        assert clu._bins == drv._bins
        assert clu._ref_minmax == drv._ref_minmax


def _summary(arr):
    """{f<i>: (distinct values, counts)} of a batch, as the suite's
    summary pass hands it to HDM."""
    out = {}
    for i in range(arr.shape[1]):
        v, n = np.unique(arr[:, i], return_counts=True)
        out[f"f{i}"] = (v, n.astype(np.float64))
    return out


def test_summary_batches_need_no_frame(spark):
    # with summary_values, set_reference and update take df=None: the
    # columns come from the summary, nothing is persisted, lineage holds
    # (batch_id, None), and the drift sequence is the one with frames
    rng = np.random.default_rng(5)
    batches = [rng.normal(0.0, 1.0, (120, 3)).round(1) for _ in range(3)]
    batches += [rng.normal(6.0, 1.0, (120, 3)).round(1) for _ in range(2)]
    runs = []
    for with_frames in (True, False):
        hdm = _hdm(detect_batch=2)

        def frame(b):
            return _sdf(spark, b) if with_frames else None

        hdm.set_reference(frame(batches[0]), batch_id="b0",
                          summary_values=_summary(batches[0]))
        verdicts = [hdm.update(frame(b), batch_id=f"b{i}", summary_values=_summary(b))
                    for i, b in enumerate(batches[1:], 1)]
        runs.append((verdicts, hdm.get_state()))
        if not with_frames:
            assert hdm._owned == []
            assert all(d is None for _, d in hdm._reference)
        hdm._release_owned()
    assert "drift" in runs[0][0]
    assert runs[0] == runs[1]
    # the detect_batch=1 half-split reads the reference rows
    with pytest.raises(ValueError, match="reference frame"):
        _hdm(detect_batch=1).set_reference(None, summary_values=_summary(batches[0]))
    with pytest.raises(ValueError, match="summary_values"):
        _hdm(detect_batch=2).set_reference(None)


def test_owned_reference_frames_released_on_drift(spark):
    # long drift sequences must not accumulate persisted frames: every
    # drift-replace releases the previous owned set, and no-drift
    # batches past the bootstrap keep only lineage ids (no handles)
    rng = np.random.default_rng(3)
    hdm = _hdm(detect_batch=1)
    hdm.set_reference(_sdf(spark, rng.normal(0, 1, (80, 3))))
    level = 0.0
    n_owned_peaks = []
    for i in range(8):
        if i % 3 == 2:
            level += 6.0  # force periodic drift
        hdm.update(_sdf(spark, rng.normal(level, 1, (80, 3))))
        n_owned_peaks.append(len(hdm._owned))
    # bounded: reference + half-split frames only, never one per batch
    assert max(n_owned_peaks) <= 4
    # no-drift batches past bootstrap carry no DataFrame handle
    dead = [d for _, d in hdm._reference[2:] if d is None]
    assert hdm.batches_since_reset < 2 or len(hdm._reference) <= 2 or dead


def test_bootstrap_partition_independent(spark):
    """r04: the Poissonized bootstrap draws from the collected
    reference HISTOGRAM, so the initial epsilon (and the whole drift
    sequence) must be bit-identical regardless of input partitioning —
    the property that was false for DataFrame.sample and now lets the
    bootstrap configurations be replayed by the driver's oracle twins."""
    rng = np.random.default_rng(17)
    batches = [rng.normal(i * 0.3, 1.0, (400, 3)) for i in range(4)]

    def run(repart):
        det = HDDDM(detect_batch=2, seed=42)
        frames = [_sdf(spark, b).drop("__idx") for b in batches]
        if repart is not None:
            frames = [f.repartition(repart) for f in frames]
        det.set_reference(frames[0])
        states = [det.update(f) for f in frames[1:]]
        return states, list(det.epsilon), det.beta

    s1, e1, b1 = run(None)
    s2, e2, b2 = run(7)
    assert s1 == s2
    assert e1 == e2 and b1 == b2
