"""Histogram Density Method (HDM) batch drift detector — HDDDM and
CDBD — re-expressed Spark-first.

Semantics reproduce the reference implementation at
/root/reference/menelaus/data_drift/histogram_density_method.py
(Ditzler & Polikar 2011 Hellinger drift detection; Lindstrom 2013
CDBD), including:

- bins = floor(sqrt(reference_n)) computed from the *previous* batch's
  reference size (reset :343-369, grow :335-341);
- joint per-feature min/max of reference+test aligns the bins (:267-276);
- per-feature Hellinger (HDDDM) or Jensen-Shannon (CDBD "KL")
  distance, averaged over features (:279-287);
- epsilon = |dist_t - dist_{t-1}| (:306), bootstrap initial epsilon on
  the 2nd batch since reset for detect_batch in {1,2} (:300-304,
  :472-534, including the sum/num_subsets normalization :532);
- adaptive threshold beta (tstat or stdev) with the reference's exact
  bookkeeping: removal of the bootstrap epsilon on batch 3 (:440-442),
  d_scale handling (:445-448), the ``total_epsilon += epsilon[-2]``
  running-mean recurrence (:451), stdev over all-but-last epsilon
  (:456-459), t df = reference_n + test_n - 2 (:462-463);
- on drift: reference := test batch, lambda := total_batches,
  feature_info attribution (:318-333); next update() resets counters
  and, for detect_batch == 1, re-splits the reference in half and
  re-enters update() with the second half as a proxy test batch
  (:352-369);
- no drift: reference grows by the test batch (:335-341).

Spark-first split: ALL data passes are distributed — one count, one
joint min/max, and ONE summary shuffle per update; the
epsilon/beta decision runs on the collected (2 x n_features x bins)
count matrix, which is O(sqrt(n)) scalars.

Bounded per-update cost (SURVEY.md §7.2): the reference re-histograms
the whole accumulated reference with a *changing* bin count
floor(sqrt(n)) every batch (:335-341), which re-scans history.  Here
the accumulated reference is held as a MERGEABLE per-feature
(value, count) summary — binning distinct values weighted by their
counts is exactly equal to binning raw rows, for ANY future
(range, nbins) edges — so raw reference data is never re-scanned:
each update scans only the incoming batch once to extend the summary.
While the summary is small (at most the ``hdm_values`` entry of
``verdicts.DRIVER_ROW_CAPS``) it lives on the driver and histograms
are pure numpy (zero Spark jobs for the reference side); past the cap
it spills to a persisted compact DataFrame and histograms run as one
grouped weighted count over (distinct values), not rows.  Both
paths use the identical floor((v-lo)/width) double arithmetic, so
results are bit-equal.
The reference's pandas ``sample(n, replace=True)`` bootstrap becomes
a seeded driver-side Poissonized resample of the reference HISTOGRAM
(bin count ~ Poisson(f * c_b) — the exact distribution of
with-replacement row sampling at fraction f, see
``_estimate_initial_epsilon``): zero Spark jobs, byte-identical on
resume, and partitioning-independent so the bootstrap configurations
are replayable by the driver's oracle twins (the reference draws
unseeded; its tests seed numpy globally).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from menelaus_spark.functions import distances as dist
from menelaus_spark.functions import stats
from menelaus_spark.operators import histograms as H
from menelaus_spark.verdicts import DRIVER_ROW_CAPS, driver_rows, local_frame

DRIFT = "drift"


class HDM:
    """Spark-native Histogram Density Method.

    Args mirror the reference (histogram_density_method.py:134-201);
    ``order_col`` names a totally-ordered column used for the
    deterministic detect_batch=1 half-split (the reference splits by
    positional order; a distributed table needs an explicit order key).
    """

    def __init__(
        self,
        divergence="H",
        detect_batch: int = 1,
        statistic: str = "tstat",
        significance: float = 0.05,
        subsets: int = 5,
        order_col: str | None = None,
        seed: int = 42,
    ):
        if callable(divergence):
            self.distance_function = divergence
        elif divergence == "H":
            self.distance_function = dist.hellinger
        elif divergence == "KL":
            self.distance_function = dist.jensen_shannon
        else:
            raise ValueError(f"unknown divergence {divergence!r}")
        self.detect_batch = detect_batch
        self.statistic = statistic
        self.significance = significance
        self.subsets = subsets
        self.order_col = order_col
        self.seed = seed

        self.total_batches = 0
        self.batches_since_reset = 0
        self.drift_state: str | None = None
        self._lambda = 0
        self._input_cols: list[str] | None = None
        self.distances: dict[int, float] = {}
        self.epsilon_values: dict[int, float] = {}
        self.thresholds: dict[int, float] = {}
        self.beta: float | None = None
        self.feature_info: dict | None = None
        self.feature_epsilons: list[float] | None = None
        self._prev_distance: float | None = None
        self._prev_feature_distances: list[float] | None = None
        self.epsilon: list[float] = []
        self.total_epsilon = 0.0
        self.reference_n = 0
        self._bins = 0
        self._reference: list[tuple[str, DataFrame]] = []
        self.reference_batch_ids: list[str] = []
        self._ref_minmax: dict = {}
        self._ref_batch_counts: list[int] = []
        # mergeable (feature -> distinct value -> count) reference
        # summary: {"mode": "driver", "data": {feat: (vals, cnts)}} or
        # {"mode": "cluster", "df": DataFrame(feature, value, count)}
        self._ref_summary: dict | None = None
        # DataFrames THIS detector persisted (never caller frames) —
        # released when the reference they back is replaced, so long
        # drift sequences hold a bounded set of cached frames
        self._owned: list[DataFrame] = []

    def _own(self, df: DataFrame) -> DataFrame:
        try:
            df.persist()
            self._owned.append(df)
        except Exception:
            pass  # caller already pinned it at another storage level
        return df

    def _release_owned(self) -> None:
        for d in self._owned:
            try:
                d.unpersist()
            except Exception:
                pass
        self._owned = []

    # -- input validation (schema freeze, reference detector.py:221-307) --

    def _features(self, df: DataFrame) -> list[str]:
        return [c for c in df.columns if c != self.order_col]

    def _validate(self, df: DataFrame, n: int) -> None:
        cols = self._features(df)
        if self._input_cols is None:
            self._input_cols = cols
        elif cols != self._input_cols:
            raise ValueError("Columns of new data must match with columns of prior data.")
        if n <= 1:
            raise ValueError("Input for batch detectors should contain more than one observation.")

    # -- public API (mirrors set_reference/update, :224-341) --

    def set_reference(self, df: DataFrame, batch_id: str = "reference",
                      summary_values: dict | None = None) -> None:
        """``summary_values`` = {col: (distinct values, counts)} lets a
        caller that already summarized the batch (the ValidationSuite's
        one global summary pass) skip this detector's reference scan."""
        self._release_owned()
        df = self._own(df)
        cols = self._features(df)
        if summary_values is not None:
            # n / min / max derive from the caller's summary — zero
            # Spark jobs on this path (the ValidationSuite's and the
            # entry queries' one-global-pass feed)
            if self._input_cols is None:
                self._input_cols = cols
            s = {"mode": "driver", "data": dict(summary_values)}
            n, mm = self._minmax_count_from_summary(s)
        else:
            s = None
            n, mm = self._minmax_count(df, cols)
        self._validate(df, n)
        self._reference = [(batch_id, df)]
        self.reference_batch_ids = [batch_id]
        self._ref_minmax = mm
        self._ref_batch_counts = [n]
        self._ref_summary = s
        self.reset()

    def update(self, df: DataFrame, batch_id: str | None = None,
               precomputed: tuple[int, dict] | None = None,
               summary_values: dict | None = None) -> str | None:
        """``precomputed`` = (test_n, {col: (min, max)}) lets a caller
        that already aggregated the batch (e.g. the ValidationSuite's
        fused constraint pass) skip this detector's test-side agg;
        ``summary_values`` = {col: (values, counts)} likewise skips the
        test-side distinct-value summary scan."""
        if self.drift_state == DRIFT:
            self.reset()
        self._validate(df, 2)  # schema check; row count validated in _update_inner
        batch_id = batch_id if batch_id is not None else f"batch_{self.total_batches + 1}"
        self._update_inner(df, batch_id, precomputed, summary_values)
        return self.drift_state

    # -- internals --

    def _ref_df(self) -> DataFrame:
        frames = [d for _, d in self._reference if d is not None]
        if len(frames) != len(self._reference):
            raise RuntimeError(
                "raw reference frames were released after the bootstrap; "
                "reference state lives in the mergeable summary"
            )
        out = frames[0]
        for d in frames[1:]:
            out = out.unionByName(d)
        return out

    @staticmethod
    def _minmax_count(df: DataFrame, cols: list[str]) -> tuple[int, dict]:
        # NaN-filter so ranges match _minmax_count_from_summary exactly
        # (plain F.max would pick NaN, which sorts above every double)
        aggs = [F.count(F.lit(1)).alias("__n")]
        for c in cols:
            clean = F.when(~F.isnan(F.col(c).cast("double")), F.col(c))
            aggs += [F.min(clean).alias(f"__min_{c}"), F.max(clean).alias(f"__max_{c}")]
        row = df.agg(*aggs).collect()[0]
        return int(row["__n"]), {c: (row[f"__min_{c}"], row[f"__max_{c}"]) for c in cols}

    @staticmethod
    def _merge_ranges(a: dict, b: dict) -> dict:
        out = {}
        for c in a:
            lo = min(x for x in (a[c][0], b[c][0]) if x is not None) if (
                a[c][0] is not None or b[c][0] is not None) else None
            hi = max(x for x in (a[c][1], b[c][1]) if x is not None) if (
                a[c][1] is not None or b[c][1] is not None) else None
            out[c] = (lo, hi)
        return out

    def _update_inner(self, X: DataFrame, batch_id: str,
                      precomputed: tuple[int, dict] | None = None,
                      summary_values: dict | None = None) -> None:
        self.total_batches += 1
        self.batches_since_reset += 1
        cols = self._input_cols

        # Joint min/max of reference+test aligns the bins
        # (histogram_density_method.py:267-276); the reference side
        # comes from the mergeable running min/max.
        # ONE pass over the test batch: its (value, count) summary.
        # n / min / max derive from the summary (null groups kept), so
        # no separate test-side aggregation job is needed; the
        # reference histogram comes from the mergeable running summary
        # — raw reference rows are NEVER re-scanned.
        test_sum = (
            {"mode": "driver", "data": dict(summary_values)}
            if summary_values is not None
            else self._summarize(X)
        )
        if precomputed is not None:
            test_n, test_mm = precomputed
        else:
            test_n, test_mm = self._minmax_count_from_summary(test_sum)
        if test_n <= 1:
            raise ValueError("Input for batch detectors should contain more than one observation.")
        ranges = self._merge_ranges(self._ref_minmax, test_mm)
        if self._ref_summary is None:  # restored state without summary
            self._ref_summary = self._summarize(self._ref_df())
        ref_mat, test_mat = self._hists_from_summaries(
            self._ref_summary, test_sum, ranges, self._bins
        )
        self._reference_density = ref_mat

        feature_distances = [
            float(self.distance_function(ref_mat[f], test_mat[f])) for f in range(len(cols))
        ]
        self.current_distance = float(np.mean(feature_distances))
        self.distances[self.total_batches] = self.current_distance

        if self.total_batches > 1 and self._prev_feature_distances is not None:
            self.feature_epsilons = [
                a - b for a, b in zip(feature_distances, self._prev_feature_distances)
            ]

        if self.batches_since_reset >= 2:
            if self.batches_since_reset == 2 and self.detect_batch != 3:
                self.epsilon.append(self._estimate_initial_epsilon(ref_mat))
            current_epsilon = abs(self.current_distance - self._prev_distance)
            self.epsilon.append(current_epsilon)
            self.epsilon_values[self.total_batches] = current_epsilon

            can_detect = (self.detect_batch != 3 and self.batches_since_reset >= 2) or (
                self.detect_batch == 3 and self.batches_since_reset >= 3
            )
            if can_detect:
                self.beta = self._adaptive_threshold(self.statistic, test_n)
                self.thresholds[self.total_batches] = self.beta
                if current_epsilon > self.beta:
                    if len(cols) > 1 and self.feature_epsilons is not None:
                        self.feature_info = {
                            "epsilons": self.feature_epsilons,
                            "feature_distances": feature_distances,
                            "max_drift_feature": cols[
                                int(np.argmax(self.feature_epsilons))
                            ],
                        }
                    self.drift_state = DRIFT
                    self._release_owned()  # old reference frames are dead
                    self._reference = [(batch_id, self._own(X))]
                    self.reference_batch_ids = [batch_id]
                    self._ref_minmax = test_mm
                    self._ref_batch_counts = [test_n]
                    self._set_ref_summary(test_sum)
                    self._lambda = self.total_batches

        if self.drift_state != DRIFT:
            self._prev_distance = self.current_distance
            self._prev_feature_distances = feature_distances
            # past the bootstrap batch the mergeable summary carries
            # ALL reference state — keep only the batch id for lineage,
            # not a live DataFrame handle per no-drift batch
            keep_frame = self.batches_since_reset < 2 or self._ref_summary is None
            self._reference.append((batch_id, X if keep_frame else None))
            self.reference_batch_ids.append(batch_id)
            self._ref_minmax = ranges
            self._ref_batch_counts.append(test_n)
            self._set_ref_summary(self._merge_summaries(self._ref_summary, test_sum))
            self.reference_n += test_n
            self._bins = int(np.floor(np.sqrt(self.reference_n)))
        # the batch's own cluster summary is dead once merged/replaced
        if (
            test_sum["mode"] == "cluster"
            and self._ref_summary is not test_sum
            and test_sum["df"] is not self._ref_summary.get("df")
        ):
            test_sum["df"].unpersist()

    def reset(self) -> None:
        self.batches_since_reset = 0
        self.drift_state = None
        proxy = None
        if self.detect_batch == 1:
            first, proxy = self._split_half(self._reference[0][1])
            bid = self._reference[0][0]
            first = self._own(first)
            self._reference = [(f"{bid}#half0", first)]
            self.reference_batch_ids = [f"{bid}#half0"]
            # the half-split changes the reference min/max: one agg
            self.reference_n, self._ref_minmax = self._minmax_count(
                first, self._input_cols
            )
            self._ref_batch_counts = [self.reference_n]
            # half0 is a different row set than any prior batch: its
            # summary is built fresh (one pass over half0 only)
            self._set_ref_summary(self._summarize(first))
        else:
            self.reference_n = sum(self._ref_batch_counts)
            if self._ref_summary is None:
                self._set_ref_summary(self._summarize(self._ref_df()))
        self._bins = int(np.floor(np.sqrt(self.reference_n)))
        self.epsilon = []
        self.total_epsilon = 0.0
        if proxy is not None:
            proxy = self._own(proxy)
            bid = self.reference_batch_ids[0].replace("#half0", "#half1")
            self._update_inner(proxy, bid)

    def _split_half(self, df: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Deterministic positional half-split on ``order_col`` (the
        reference splits pandas positionally, :352-361). Uses the exact
        n//2-th order statistic, so no global sort / single-task window
        is needed — scalable to an arbitrarily large initial reference."""
        if self.order_col is None:
            raise ValueError("detect_batch=1 requires order_col for a deterministic half-split")
        n = df.count()
        k = n // 2  # first half has n//2 rows (reference: iloc[:n//2])
        if k == 0:
            return df, df.limit(0)
        cut = df.select(self.order_col).orderBy(self.order_col).limit(k).agg(
            F.max(self.order_col)
        ).collect()[0][0]
        first = df.filter(F.col(self.order_col) <= F.lit(cut))
        second = df.filter(F.col(self.order_col) > F.lit(cut))
        return first, second

    # -- mergeable (feature, value, count) reference summaries --

    def _batch_summary_df(self, df: DataFrame) -> DataFrame:
        """(feature, value, count) distinct-value summary of one batch
        in ONE exploded grouped count. Null/NaN values are KEPT as
        their own groups so that per-feature total row counts (and thus
        min/max + n) are derivable from the summary alone — one Spark
        action per update; the binning step excludes them, exactly as
        bin_index_col does."""
        structs = [
            F.struct(F.lit(c).alias("feature"), F.col(c).cast("double").alias("value"))
            for c in self._input_cols
        ]
        ex = df.select(F.explode(F.array(*structs)).alias("fv")).select(
            "fv.feature", "fv.value"
        )
        return H.salted_count(ex, ["feature", "value"])

    def _summarize(self, df: DataFrame) -> dict:
        """Build a batch summary; collect it to the driver while it
        fits the ``hdm_values`` cap (driver_rows), else keep it as a
        persisted compact DataFrame."""
        sdf = self._batch_summary_df(df).persist()
        pdf = driver_rows(sdf, "hdm_values")
        if pdf is not None:
            sdf.unpersist()
            out = {c: (np.array([]), np.array([])) for c in self._input_cols}
            for c, g in pdf.groupby("feature"):
                out[str(c)] = (
                    g["value"].to_numpy(dtype=np.float64),
                    g["count"].to_numpy(dtype=np.float64),
                )
            return {"mode": "driver", "data": out}
        return {"mode": "cluster", "df": sdf}

    def _minmax_count_from_summary(self, s: dict) -> tuple[int, dict]:
        """(n, {col: (min, max)}) derived from a batch summary — n
        counts every row (null/NaN groups included), min/max ignore
        them, matching _minmax_count exactly."""
        if s["mode"] == "driver":
            mm = {}
            n = 0
            for c in self._input_cols:
                vals, cnts = s["data"].get(c, (np.array([]), np.array([])))
                n = max(n, int(cnts.sum()))
                clean = vals[~np.isnan(vals)]
                mm[c] = (
                    (float(clean.min()), float(clean.max())) if len(clean) else (None, None)
                )
            return n, mm
        clean_val = F.when(~F.isnan("value"), F.col("value"))
        row = (
            s["df"]
            .groupBy("feature")
            .agg(
                F.sum("count").alias("__n"),
                F.min(clean_val).alias("__lo"),
                F.max(clean_val).alias("__hi"),
            )
            .collect()
        )
        by = {r["feature"]: r for r in row}
        n = max(int(r["__n"]) for r in row) if row else 0
        return n, {
            c: (
                (by[c]["__lo"], by[c]["__hi"]) if c in by else (None, None)
            )
            for c in self._input_cols
        }

    def _summary_as_df(self, s: dict) -> DataFrame:
        if s["mode"] == "cluster":
            return s["df"]
        spark = self._reference[0][1].sparkSession
        rows = [
            (c, float(v), int(n))
            for c, (vals, cnts) in s["data"].items()
            for v, n in zip(vals, cnts)
        ]
        return local_frame(spark, rows, "feature string, value double, count long")

    def _set_ref_summary(self, s: dict) -> None:
        old = self._ref_summary
        self._ref_summary = s
        if old is not None and old["mode"] == "cluster" and old is not s:
            old["df"].unpersist()

    def _merge_summaries(self, a: dict, b: dict) -> dict:
        """Exact merge: counts of identical distinct values add. Spills
        driver->cluster when the merged summary exceeds the cap."""
        if a["mode"] == "driver" and b["mode"] == "driver":
            data = {}
            total = 0
            for c in self._input_cols:
                va, ca = a["data"].get(c, (np.array([]), np.array([])))
                vb, cb = b["data"].get(c, (np.array([]), np.array([])))
                v = np.concatenate([va, vb])
                n = np.concatenate([ca, cb])
                uv, inv = np.unique(v, return_inverse=True)
                un = np.zeros(len(uv), dtype=np.float64)
                np.add.at(un, inv, n)
                data[c] = (uv, un)
                total += len(uv)
            if total <= DRIVER_ROW_CAPS["hdm_values"]:
                return {"mode": "driver", "data": data}
            merged = {"mode": "driver", "data": data}
            return {"mode": "cluster", "df": self._summary_as_df(merged).persist()}
        adf, bdf = self._summary_as_df(a), self._summary_as_df(b)
        mdf = (
            adf.unionByName(bdf)
            .groupBy("feature", "value")
            .agg(F.sum("count").alias("count"))
            .persist()
        )
        # materialize NOW so the inputs (about to be unpersisted) are
        # never recomputed and the merge lineage stays one level deep
        mdf.count()
        return {"mode": "cluster", "df": mdf}

    def _hists_from_summaries(
        self, ref_sum: dict, test_sum: dict, ranges: dict, nbins: int
    ) -> tuple[np.ndarray, np.ndarray]:
        """Reference + test histograms at the CURRENT (ranges, nbins)
        edges from the (value, count) summaries. Driver mode is pure
        numpy (zero Spark jobs); cluster mode is one grouped weighted
        count over distinct values — never raw rows. Both use the
        identical floor((v-lo)/width) double arithmetic."""
        cols = list(ranges.keys())
        if ref_sum["mode"] == "driver" and test_sum["mode"] == "driver":
            mats = []
            for s in (ref_sum, test_sum):
                m = np.zeros((len(cols), nbins), dtype=np.float64)
                for i, c in enumerate(cols):
                    vals, cnts = s["data"].get(c, (np.array([]), np.array([])))
                    lo, hi = ranges[c]
                    m[i] = H.bin_weighted_driver(vals, cnts, lo, hi, nbins)
                mats.append(m)
            return mats[0], mats[1]
        tagged = (
            self._summary_as_df(ref_sum).withColumn("__role", F.lit(0))
            .unionByName(self._summary_as_df(test_sum).withColumn("__role", F.lit(1)))
        )
        bin_expr = None
        for c, (lo, hi) in ranges.items():
            b = H.bin_index_col(F.col("value"), lo, hi, nbins)
            bin_expr = (
                F.when(F.col("feature") == c, b)
                if bin_expr is None
                else bin_expr.when(F.col("feature") == c, b)
            )
        binned = tagged.select(
            "__role", "feature", bin_expr.alias("bin"), "count"
        ).filter(F.col("bin").isNotNull())
        counts = H.salted_weighted_count(binned, ["__role", "feature", "bin"], "count")
        mats = [np.zeros((len(cols), nbins)) for _ in range(2)]
        fidx = {c: i for i, c in enumerate(cols)}
        for row in counts.collect():
            mats[int(row["__role"])][fidx[row["feature"]], int(row["bin"])] = float(row["count"])
        return mats[0], mats[1]

    def _estimate_initial_epsilon(self, ref_mat: np.ndarray) -> float:
        """Bootstrapped initial epsilon (:472-534) as a Poissonized
        resample of the REFERENCE HISTOGRAM, driver-side.

        With-replacement row sampling at fraction f = 1 - 1/k gives
        each row an iid Poisson(f) multiplicity (exactly what Spark's
        ``sample(withReplacement=True, f)`` draws), so each histogram
        bin's sampled count is Poisson(f * c_b) — a distribution the
        driver can draw directly from the already-collected F x B
        reference histogram. r04: this replaces r03's distributed
        sampled-histogram job with ZERO Spark jobs, and — unlike
        ``DataFrame.sample``, whose RNG is per-partition — it is
        partitioning-independent and exactly replayable by a numpy
        twin, which is what lets the bootstrap configurations be
        hash-checked by the driver's oracle harness. (Reference draws
        exactly (1-1/k)*n rows; Poissonization draws Poisson(f*n) —
        same expectation, documented deviation for scale.)"""
        fraction = 1.0 - 1.0 / self.subsets
        rng = np.random.default_rng([self.seed, 104729, self.total_batches])
        boot_hists = rng.poisson(
            fraction * ref_mat, size=(self.subsets,) + ref_mat.shape
        ).astype(np.float64)
        distances = []
        for i in range(len(boot_hists)):
            for j in range(i + 1, len(boot_hists)):
                total = sum(
                    float(self.distance_function(boot_hists[i][f], boot_hists[j][f]))
                    for f in range(len(self._input_cols))
                )
                distances.append(total)
        eps = 0.0
        for i in range(len(distances)):
            for j in range(i + 1, len(distances)):
                eps += abs(distances[i] - distances[j])
        return eps / self.subsets

    def _adaptive_threshold(self, stat: str, test_n: int) -> float:
        if self.batches_since_reset == 3 and self.detect_batch != 3:
            self.total_epsilon -= self.epsilon[0]
            self.epsilon = self.epsilon[1:]
        if self.batches_since_reset == 2 and self.detect_batch != 3:
            d_scale = 1.0
        else:
            d_scale = float(self.total_batches - self._lambda - 1)
        self.total_epsilon += self.epsilon[-2]
        epsilon_hat = self.total_epsilon / d_scale
        total_stdev = sum((e - epsilon_hat) ** 2 for e in self.epsilon[:-1])
        stdev = float(np.sqrt(total_stdev / d_scale))
        if stat == "tstat":
            t_stat = stats.t_ppf(1 - self.significance / 2, self.reference_n + test_n - 2)
            return float(epsilon_hat + t_stat * (stdev / np.sqrt(d_scale)))
        return float(epsilon_hat + self.significance * stdev)

    # -- checkpoint support --

    def get_state(self) -> dict:
        """Serializable scalar state (reference data is reconstructed
        by the runner from ``reference_batch_ids`` lineage)."""
        return {
            "total_batches": self.total_batches,
            "batches_since_reset": self.batches_since_reset,
            "drift_state": self.drift_state,
            "lambda": self._lambda,
            "input_cols": self._input_cols,
            "epsilon": list(self.epsilon),
            "total_epsilon": self.total_epsilon,
            "reference_n": self.reference_n,
            "bins": self._bins,
            "beta": self.beta,
            "prev_distance": self._prev_distance,
            "prev_feature_distances": self._prev_feature_distances,
            "reference_batch_ids": list(self.reference_batch_ids),
            "ref_minmax": {c: [v[0], v[1]] for c, v in self._ref_minmax.items()},
            "ref_batch_counts": list(self._ref_batch_counts),
            "distances": {str(k): v for k, v in self.distances.items()},
            "epsilon_values": {str(k): v for k, v in self.epsilon_values.items()},
            "thresholds": {str(k): v for k, v in self.thresholds.items()},
        }

    def set_state(self, state: dict, reference: list[tuple[str, DataFrame]]) -> None:
        self.total_batches = state["total_batches"]
        self.batches_since_reset = state["batches_since_reset"]
        self.drift_state = state["drift_state"]
        self._lambda = state["lambda"]
        self._input_cols = state["input_cols"]
        self.epsilon = list(state["epsilon"])
        self.total_epsilon = state["total_epsilon"]
        self.reference_n = state["reference_n"]
        self._bins = state["bins"]
        self.beta = state["beta"]
        self._prev_distance = state["prev_distance"]
        self._prev_feature_distances = state["prev_feature_distances"]
        self.reference_batch_ids = list(state["reference_batch_ids"])
        self._ref_minmax = {c: (v[0], v[1]) for c, v in state["ref_minmax"].items()}
        self._ref_batch_counts = list(state["ref_batch_counts"])
        self.distances = {int(k): v for k, v in state["distances"].items()}
        self.epsilon_values = {int(k): v for k, v in state["epsilon_values"].items()}
        self.thresholds = {int(k): v for k, v in state["thresholds"].items()}
        self._reference = list(reference)
        # rebuild the mergeable summary once from the restored lineage
        # (lazily on first update — avoids a job when no new batch comes)
        self._ref_summary = None


class HDDDM(HDM):
    """Hellinger Distance Drift Detection Method
    (/root/reference/menelaus/data_drift/hdddm.py:4-217)."""

    def __init__(self, detect_batch=1, statistic="tstat", significance=0.05,
                 subsets=5, **kw):
        super().__init__(divergence="H", detect_batch=detect_batch,
                         statistic=statistic, significance=significance,
                         subsets=subsets, **kw)


class CDBD(HDM):
    """Confidence Distribution Batch Detection — univariate KL/JS
    (/root/reference/menelaus/data_drift/cdbd.py:4-185, including the
    one-column guard at :165-167)."""

    def __init__(self, detect_batch=1, statistic="tstat", significance=0.05,
                 subsets=5, divergence="KL", **kw):
        super().__init__(divergence=divergence, detect_batch=detect_batch,
                         statistic=statistic, significance=significance,
                         subsets=subsets, **kw)

    def _validate(self, df, n):
        if len(self._features(df)) != 1:
            raise ValueError("CDBD is univariate and only accepts one feature column.")
        super()._validate(df, n)
