"""ValidationSuite: orchestrates constraint + drift checks over an
Iceberg-style partitioned audio table, in partition-key order (the
batch sequence, SURVEY.md §1.1), with checkpoint/resume.

Per partition (one "batch" in reference terms):

- constraint checks: schema conformance, per-column profile stats,
  null-rate bounds, value ranges, accepted values, within-partition
  uniqueness, referential clip<->transcript anti-join, decode
  integrity (NaN feature rows);
- drift checks: HDDDM over (dur_ms, sr_hz), KS on dur_ms/sr_hz
  cumulative histograms, PSI on codec frequencies, kdq-tree over
  decoded-PCM feature vectors — the north_star detector set. The first
  partition initializes every reference; later partitions update the
  sequential state machines.

Statistics for every unvisited partition come from a constant number
of global passes grouped by partition key: one constraint aggregation
and one decode of the payloads. Under the ``suite_rows`` row cap, one
collect of the decoded frame feeds every decision that reads decoded
rows (the drift summaries, the kdq trees and leaf counts, the decode
integrity and quality counts), on fresh and resumed runs alike; over
it each decision runs one distributed pass, and only O(bins + leaves
+ categories) summaries reach the driver. The sequential drift
decisions then run driver-side. Under the same cap the driver builds
every violation row (the quality rows from that collect, the
constraint rows from one collect of the failing partitions' frames)
and writes each partition's violation file itself; over it a failing
partition's rows take one Spark write. Completed partitions are recorded in the
CheckpointManifest (lineage fingerprint, metrics, serialized state,
verdict rows); a resumed run replays those verdicts byte-identically
and continues from the first unvisited partition.
"""

from __future__ import annotations

import functools
import time

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from menelaus_spark import audio
from menelaus_spark.checks.hdm import HDDDM
from menelaus_spark.checks.kdqtree import (
    KdqTreeBatch,
    distributed_leaf_counts,
    distributed_leaf_counts_by_group,
)
from menelaus_spark.functions import distances as dist
from menelaus_spark.functions import stats as S
from menelaus_spark.operators import constraints as C
from menelaus_spark.operators import histograms as H
from menelaus_spark.state import CheckpointManifest
from menelaus_spark.verdicts import (
    DRIFT,
    DRIVER_ROW_CAPS,
    FAIL,
    PASS,
    VIOLATION_SCHEMA,
    Verdict,
    driver_rows,
    empty_violations,
    verdicts_df,
)

KS_BINS = 1024
_REFERENTIAL = "referential:transcript"
_VIOLATION_ARROW = to_arrow_schema(VIOLATION_SCHEMA)


def _f0_clean():
    """Row decodes successfully. Decode failures arrive as NULL
    through the Arrow boundary (pandas NaN -> null), so every filter
    must be null-robust, not isnan-only."""
    return F.col("f0").isNotNull() & ~F.isnan("f0")


def _f0_bad():
    return F.col("f0").isNull() | F.isnan("f0")


def ks_critical(n: int, m: int, alpha: float = 0.05) -> float:
    """Two-sample KS critical value: c(alpha) * sqrt((n+m)/(n*m))."""
    c = float(np.sqrt(-np.log(alpha / 2.0) / 2.0))
    return c * float(np.sqrt((n + m) / (n * m))) if n and m else float("inf")


def _cancel_tasks(sc, tag: str, futures: list) -> None:
    """Stop a run's driver-thread passes: drop the ones not started,
    cancel the Spark jobs tagged ``tag`` and wait for the rest to end.
    Spark cancels only jobs already submitted, so the cancel repeats
    until every task is done, catching a job submitted after a round."""
    from concurrent.futures import wait

    for f in futures:
        f.cancel()
    while True:
        sc.cancelJobsWithTag(tag)
        if not wait(futures, timeout=0.1).not_done:
            return


class ValidationSuite:
    def __init__(
        self,
        spark: SparkSession,
        checkpoint_dir: str,
        partition_col: str = "part",
        key_col: str = "clip_id",
        expected_schema: T.StructType | None = None,
        null_rate_max: dict[str, float] | None = None,
        ranges: dict[str, tuple] | None = None,
        accepted_values: dict[str, list] | None = None,
        hdm_cols: tuple[str, ...] = ("dur_ms", "sr_hz"),
        ks_cols: tuple[str, ...] = ("dur_ms", "sr_hz"),
        psi_col: str | None = "codec",
        psi_threshold: float = 0.2,
        chisq_alpha: float | None = None,
        entropy_min: float | None = None,
        hot_key_max_frac: dict | None = None,
        emd_cols: tuple[str, ...] = (),
        emd_threshold: float | dict | None = None,
        cvm_cols: tuple[str, ...] = (),
        cvm_threshold: float | dict | None = None,
        kdq_features: bool = True,
        referential: DataFrame | None = None,
        seed: int = 42,
        ks_alpha: float = 0.05,
        kdq_params: dict | None = None,
        hdm_params: dict | None = None,
        global_uniqueness: bool = True,
        uniqueness_mode: str = "exact",
        uniqueness_sketch_p: int = 12,
        neardup_rate_max: float | None = None,
        cps_bounds: tuple | None = None,
        payload_tol: float | None = None,
        payload_codecs: tuple | None = None,
        payload_bps: dict | None = None,
        codec_col: str = "codec",
        quality_rules: dict | None = None,
        meta_rules: dict | None = None,
        transcript_col: str = "transcript",
        dur_col: str = "dur_ms",
        sr_col: str = "sr_hz",
        bytes_col: str = "bytes",
    ):
        self.spark = spark
        self.manifest = CheckpointManifest(checkpoint_dir)
        self.partition_col = partition_col
        self.key_col = key_col
        self.expected_schema = expected_schema
        self.null_rate_max = null_rate_max or {}
        self.ranges = ranges or {}
        self.accepted_values = accepted_values or {}
        self.hdm_cols = list(hdm_cols)
        self.ks_cols = list(ks_cols)
        self.psi_col = psi_col
        self.psi_threshold = psi_threshold
        # chi-squared homogeneity test on the SAME collected category
        # frequencies PSI uses (zero extra passes): the hypothesis-test
        # sibling of PSI — drift when stat > chi2_critical(k-1, alpha),
        # a principled alpha-level threshold instead of PSI's
        # rule-of-thumb bands.
        if chisq_alpha is not None:
            if psi_col is None:
                raise ValueError(
                    "chisq_alpha requires psi_col (the chi-squared test "
                    "rides the PSI frequency pass)")
            if not 0.0 < chisq_alpha < 1.0:
                raise ValueError("chisq_alpha must be in (0, 1)")
        self.chisq_alpha = chisq_alpha
        # Shannon-entropy floor on the psi_col category distribution
        # (deequ-style profile constraint): a partition whose
        # distribution COLLAPSES (one codec swallows everything) fails
        # even when no new category appears. Same collected
        # frequencies, zero extra passes; checked on EVERY partition
        # including the reference (no baseline needed).
        if entropy_min is not None and psi_col is None:
            raise ValueError(
                "entropy_min requires psi_col (the entropy floor rides "
                "the PSI frequency pass)")
        self.entropy_min = entropy_min
        # heavy-hitter ceiling: {column: max mode share}. A partition
        # where one value of a HIGH-CARDINALITY column (e.g.
        # transcript) swallows more than the ceiling fails — the
        # boilerplate-flood check ("thank you for watching" x 10^6)
        # that frequency-family checks can't see because the column
        # has too many categories to collect. See _hotkey_verdicts.
        self.hot_key_max_frac = hot_key_max_frac or None
        # Earth Mover's (1-Wasserstein) drift vs the reference
        # partition, computed from the SAME collected KS histograms —
        # zero extra passes, so emd_cols must be a subset of ks_cols.
        # Thresholds are in the column's own units (a dict per column,
        # or one float for all); EMD integrates the whole CDF gap, so
        # it accumulates mean shifts that KS's single max understates.
        self.emd_cols = list(emd_cols)
        missing = set(self.emd_cols) - set(self.ks_cols)
        if missing:
            raise ValueError(
                f"emd_cols must be a subset of ks_cols (EMD rides the KS "
                f"histogram pass); not in ks_cols: {sorted(missing)}")
        if self.emd_cols and emd_threshold is None:
            raise ValueError("emd_cols requires emd_threshold")
        self.emd_threshold = emd_threshold
        # Cramer-von Mises: pooled-weighted squared CDF gap, same
        # collected KS histograms, same subset rule as EMD. Scale-free
        # in [0, 1] (thresholds need no column units, unlike EMD's).
        self.cvm_cols = list(cvm_cols)
        missing = set(self.cvm_cols) - set(self.ks_cols)
        if missing:
            raise ValueError(
                f"cvm_cols must be a subset of ks_cols (CvM rides the KS "
                f"histogram pass); not in ks_cols: {sorted(missing)}")
        if self.cvm_cols and cvm_threshold is None:
            raise ValueError("cvm_cols requires cvm_threshold")
        self.cvm_threshold = cvm_threshold
        self.kdq_features = kdq_features
        self.referential = referential
        self.seed = seed
        self.ks_alpha = ks_alpha
        hdm_kwargs = {"detect_batch": 2, "order_col": None, "seed": seed}
        hdm_kwargs.update(hdm_params or {})  # callers may override defaults
        self.hdm = HDDDM(**hdm_kwargs) if self.hdm_cols else None
        self.kdq = (
            KdqTreeBatch(seed=seed, **(kdq_params or {"count_ubound": 50, "bootstrap_samples": 200}))
            if kdq_features
            else None
        )
        self.global_uniqueness = global_uniqueness
        # "exact": count vs countDistinct (a full key shuffle at
        # 10^12 rows). "sketch": HyperLogLog screen first (one scan,
        # a 2^p-row register shuffle, NO key shuffle); the exact pass
        # runs only when the estimate can't rule duplicates out within
        # 3-sigma sketch noise — the scale-path default.
        if uniqueness_mode not in ("exact", "sketch"):
            raise ValueError(f"uniqueness_mode must be exact|sketch, got {uniqueness_mode!r}")
        self.uniqueness_mode = uniqueness_mode
        self.uniqueness_sketch_p = uniqueness_sketch_p
        # payload near-duplicate rate (spectral-fingerprint shingle
        # path, operators/audio_dedup.py): fraction of clips that are a
        # member of at least one near-dup pair. Global like uniqueness
        # (pairs cross partitions); the most expensive global family
        # (one extra decode pass over the table per run) — off by
        # default, enable for corpus-hygiene validation runs.
        self.neardup_rate_max = neardup_rate_max
        # audio-depth checks (north_star: audio clip + transcript pairs).
        # cps_bounds / payload_tol are pure-JVM row predicates that ride
        # the fused constraint aggregation; quality_rules are per-clip
        # thresholds over decode-pass metrics (audio.QUALITY_COLS):
        #   {"clip_rate_max": .., "silence_ratio_max": ..}
        self.cps_bounds = cps_bounds
        self.payload_tol = payload_tol
        # payload_expected_and_tol models the mono PCM16 44-byte-header
        # WAV layout; on tables whose payloads are genuinely compressed
        # (opus/mp3/...), restrict the check to container codecs via
        # payload_codecs=("pcm","wav") so every compressed row isn't
        # flagged. None (default) checks all rows — correct whenever
        # the physical container is WAV regardless of the codec label.
        self.payload_codecs = tuple(payload_codecs) if payload_codecs else None
        # codec -> bytes/sample for codec-aware payload modeling (e.g.
        # {"ulaw": 1.0} for G.711 mu-law WAVs); unmapped codecs keep the
        # PCM16 default of 2 bytes/sample
        self.payload_bps = dict(payload_bps) if payload_bps else None
        self.codec_col = codec_col
        self.quality_rules = quality_rules or None
        # metadata-consistency: compare the CLAIMED (sr_hz, dur_ms,
        # codec) columns against the container header's own facts
        # (audio.wav_header_facts, riding the decode pass as the
        # q_hdr_* columns — zero extra reads of the binary column).
        # Catches the lies the O(length) payload model cannot: rate
        # doubled + duration halved (byte count unchanged), or a codec
        # label swapped between equal-rate codecs (mu-law <-> A-law).
        # Keys: "sr" (bool, default True — claimed rate must equal the
        # header rate), "dur_tol_ms" (float|None — |header duration -
        # claimed| bound), "codec_tags" ({label: fmt_tag} — labels in
        # the map must sit over a container with that format tag;
        # unmapped labels are skipped, so corpora whose labels are
        # known-logical (e.g. "flac" over PCM16 test fixtures) aren't
        # mass-flagged).
        self.meta_rules = dict(meta_rules) if meta_rules else None
        self.transcript_col = transcript_col
        self.dur_col = dur_col
        self.sr_col = sr_col
        self.bytes_col = bytes_col
        # KS / PSI reference summaries (set on first partition)
        self._ks_ref: dict | None = None  # col -> {"lo","hi","counts","n"}
        self._psi_ref: dict | None = None  # {"freqs": {cat: n}, "n": int}

    # ---------------------------------------------------- check runners

    def _payload_in_decode(self) -> bool:
        """The payload-size check needs length(bytes). When a decode
        pass runs anyway (kdq features / quality rules), the length
        rides that pass's quality columns so the huge binary column is
        read EXACTLY ONCE per suite run; only a suite with no decode
        pass at all falls back to length(bytes) inside the fused
        constraint aggregation."""
        return self.payload_tol is not None and (
            self.kdq is not None or self.quality_rules is not None
            or self.meta_rules is not None
        )

    def _quality_active(self) -> bool:
        return (self.quality_rules is not None or self._payload_in_decode()
                or self.meta_rules is not None)

    def _decodes(self) -> bool:
        """Whether a run decodes the payloads: for the kdq features or
        for a quality, payload-size or metadata check."""
        return self.kdq is not None or self._quality_active()

    def _feats_carry_cols(self, summary: bool) -> tuple:
        """The source columns the decode pass carries: the partition,
        the payload and metadata checks' inputs, and with ``summary``
        the summary pass's inputs (_summary_cols) that the decoded
        frame's one collect feeds to it."""
        carry = [self.partition_col]
        if self._payload_in_decode():
            carry += [self.sr_col, self.dur_col]
            if self.payload_codecs is not None or self.payload_bps is not None:
                carry.append(self.codec_col)
        if self.meta_rules is not None:
            carry += [self.sr_col, self.dur_col]
            if self.meta_rules.get("codec_tags"):
                carry.append(self.codec_col)
        if summary:
            carry += list(self._summary_cols)
        return tuple(dict.fromkeys(carry))

    def _payload_codec_gate(self):
        """Row predicate limiting the payload-size check to rows whose
        codec names a PCM/WAV container (no-op when ungated)."""
        if self.payload_codecs is None:
            return F.lit(True)
        return F.col(self.codec_col).isin(list(self.payload_codecs))

    def _quality_conds(self) -> list:
        """(check_name, row predicate over the feats frame, value expr)
        of every per-row check of a suite that decodes, in fixed
        emission order, so verdict tables stay byte-identical across
        runs and resumes. The first is decode integrity: a row whose
        payload did not decode has a null or NaN f0, which every other
        predicate excludes. Memoized per instance: the
        list depends only on the (immutable) suite config, and building
        these Column trees costs ~0.1 s of py4j round-trips per call —
        the old per-partition rebuild was ~1 s of pure driver chatter
        per 10-partition run (cProfile)."""
        cached = getattr(self, "_quality_conds_cache", None)
        if cached is not None:
            return cached
        out = [("decode_integrity", _f0_bad(), F.lit(None).cast("string"))]
        clean = _f0_clean()
        rules = self.quality_rules or {}
        if "clip_rate_max" in rules:
            out.append(("audio_clipping",
                        clean & (F.col("q_clip_rate") > F.lit(rules["clip_rate_max"])),
                        F.round(F.col("q_clip_rate"), 4).cast("string")))
        if "silence_ratio_max" in rules:
            out.append(("audio_silence",
                        clean & (F.col("q_silence_ratio") > F.lit(rules["silence_ratio_max"])),
                        F.round(F.col("q_silence_ratio"), 4).cast("string")))
        if "dc_offset_max" in rules:
            out.append(("audio_dc_offset",
                        clean & (F.abs(F.col("q_dc_offset"))
                                 > F.lit(rules["dc_offset_max"])),
                        F.round(F.col("q_dc_offset"), 4).cast("string")))
        if "crest_min_db" in rules:
            # over-compression / hard-limiting detection: crest factor
            # (peak/RMS, dB) collapses toward 0 under saturation. The
            # silence guard keeps all-silent clips (crest reported 0)
            # with the audio_silence check where they belong.
            out.append(("audio_crest",
                        clean & (F.col("q_silence_ratio") < F.lit(1.0))
                        & (F.col("q_crest_db") < F.lit(rules["crest_min_db"])),
                        F.round(F.col("q_crest_db"), 4).cast("string")))
        if "min_band_ratio" in rules:
            # upsampling / bandwidth-mismatch detection from the
            # ALREADY-COMPUTED spectral bands: a clip whose upper-half
            # spectrum carries almost no energy was upsampled from a
            # lower rate than its sr_hz claims. Zero extra decode cost
            # — a JVM expression over the cached feature columns
            # (bands f4..f11 are log1p(mean power) over 8 equal slices
            # of 0..nyquist; expm1 undoes the compression).
            hi = sum(F.expm1(F.col(f"f{i}")) for i in range(8, audio.N_FEATURES))
            tot = sum(F.expm1(F.col(f"f{i}")) for i in range(4, audio.N_FEATURES))
            out.append(("audio_bandwidth",
                        clean & (tot > F.lit(0.0))
                        & ((hi / tot) < F.lit(rules["min_band_ratio"])),
                        F.round(hi / tot, 6).cast("string")))
        if self._payload_in_decode():
            expected, tol = C.payload_expected_and_tol(
                self.sr_col, self.dur_col, self.payload_tol,
                self.codec_col, self.payload_bps,
            )
            # explicit NULL/NaN guard: q_byte_len is missing for NULL
            # payloads (mirroring the fallback path's isNotNull), and
            # Spark sorts NaN ABOVE every double, so a bare > would
            # flag such rows
            out.append(("payload_size",
                        F.col("q_byte_len").isNotNull()
                        & ~F.isnan("q_byte_len")
                        & self._payload_codec_gate()
                        & (F.abs(F.col("q_byte_len") - expected) > tol),
                        F.col("q_byte_len").cast("long").cast("string")))
        if self.meta_rules is not None:
            m = self.meta_rules
            lies = F.lit(False)
            if m.get("sr", True):
                lies = lies | (F.col("q_hdr_sr")
                               != F.col(self.sr_col).cast("double"))
            if m.get("dur_tol_ms") is not None:
                lies = lies | (
                    F.abs(F.col("q_hdr_ms") - F.col(self.dur_col).cast("double"))
                    > F.lit(float(m["dur_tol_ms"])))
            tags = m.get("codec_tags")
            if tags:
                want = F.create_map(
                    *[F.lit(x) for k, v in sorted(tags.items())
                      for x in (k, float(v))])
                exp_tag = want[F.col(self.codec_col)]
                lies = lies | (exp_tag.isNotNull()
                               & (F.col("q_hdr_tag") != exp_tag))
            # rows whose header never parsed belong to decode_integrity,
            # not here — same division of labor as the quality checks
            out.append(("metadata_consistency",
                        F.col("q_hdr_sr").isNotNull()
                        & ~F.isnan("q_hdr_sr") & lies,
                        F.concat_ws(
                            ":",
                            F.col("q_hdr_sr").cast("long").cast("string"),
                            F.round(F.col("q_hdr_ms"), 1).cast("string"),
                            F.col("q_hdr_tag").cast("long").cast("string"))))
        self._quality_conds_cache = out
        return out

    def _quality_counts_by_part(self, feats: DataFrame, pks: list[str],
                                pdf=None) -> dict:
        """Violation counts for EVERY quality check x partition: the
        per-partition sums of the ``__q{i}`` flags of ``pdf``, the
        decoded frame's collect, when there is one, else ONE
        aggregation over the cached feats frame (keeps the suite's job
        count O(1) in the partition count)."""
        conds = self._quality_conds()
        if pdf is not None:
            qcols = [f"__q{i}" for i in range(len(conds))]
            sums = pdf.groupby("__pk")[qcols].sum()
            return {pk: ([int(n) for n in sums.loc[pk]] if pk in sums.index
                         else [0] * len(conds))
                    for pk in pks}
        rows = feats.groupBy(self.partition_col).agg(*[
            F.sum(cond.cast("long")).alias(f"__q{i}")
            for i, (_, cond, _) in enumerate(conds)
        ]).collect()
        out = {str(r[self.partition_col]): [int(r[f"__q{i}"] or 0)
                                            for i in range(len(conds))]
               for r in rows}
        return {pk: out.get(pk, [0] * len(conds)) for pk in pks}

    def _quality_verdicts(self, pk: str, feats: DataFrame, n_rows: int,
                          counts: list[int], flagged=None):
        """Decode-integrity, per-clip audio-quality, payload-size and
        metadata verdicts for one partition from its collected
        violation counts
        (_quality_counts_by_part); violation rows are only
        materialized on failure: from ``flagged``, the partition's
        flagged rows of the decoded frame's collect, when there is one
        (pandas frames), else from the cached feats frame."""
        verdicts, violations = [], []
        feats_pk = None
        for i, ((name, cond, value), n_bad) in enumerate(
                zip(self._quality_conds(), counts)):
            verdicts.append(Verdict(pk, name, PASS if n_bad == 0 else FAIL,
                                    statistic=float(n_bad), threshold=0.0, n_rows=n_rows))
            if not n_bad:
                continue
            if flagged is not None:
                rows = flagged[flagged[f"__q{i}"]]
                violations.append(pd.DataFrame({
                    "row_key": rows["__key"], "value": rows[f"__v{i}"],
                    "reason": name}))
                continue
            if feats_pk is None:
                feats_pk = feats.filter(
                    F.col(self.partition_col).cast("string") == pk)
            violations.append(
                feats_pk.filter(cond)
                .select(F.col(self.key_col).cast("string").alias("row_key"),
                        value.alias("value"))
                .withColumn("reason", F.lit(name))
            )
        return verdicts, violations

    def _constraint_aggs(self) -> list:
        """All scalar constraint statistics + the lineage fingerprint
        as ONE aggregation expression list: count, key-hash, exact
        distinct keys, null rates, out-of-range counts, bad-category
        counts. One distributed pass per partition instead of one pass
        per rule — the job-count reduction that keeps fixed overhead
        from dominating at high parallelism."""
        aggs = [
            F.count(F.lit(1)).alias("__n"),
            F.expr(f"bit_xor(xxhash64({self.key_col}))").alias("__key_hash"),
            F.countDistinct(self.key_col).alias("__n_distinct"),
        ]
        for c in self.null_rate_max:
            aggs.append(F.avg(F.col(c).isNull().cast("double")).alias(f"__null_{c}"))
        for c, (lo, hi) in self.ranges.items():
            bad = (F.col(c) < F.lit(lo)) | (F.col(c) > F.lit(hi))
            aggs.append(F.sum(bad.cast("long")).alias(f"__range_{c}"))
        for c, allowed in self.accepted_values.items():
            bad = ~F.col(c).isin(allowed) | F.col(c).isNull()
            aggs.append(F.sum(bad.cast("long")).alias(f"__acc_{c}"))
        if self.cps_bounds is not None:
            lo, hi = self.cps_bounds
            aggs.append(F.sum(
                C.transcript_rate_cond(self.transcript_col, self.dur_col, lo, hi)
                .cast("long")).alias("__cps_bad"))
        if self.payload_tol is not None and not self._payload_in_decode():
            aggs.append(F.sum(
                (C.payload_size_cond(self.bytes_col, self.sr_col, self.dur_col,
                                     self.payload_tol, self.codec_col,
                                     self.payload_bps)
                 & self._payload_codec_gate())
                .cast("long")).alias("__paysize_bad"))
        # test-side min/max for the HDM + KS drift checks ride along in
        # the same pass (HDM consumes them via `precomputed`), plus
        # mean + approx-quantile sketches for the manifest metrics
        for c in sorted(set(self.hdm_cols) | set(self.ks_cols)):
            col = F.col(c).cast("double")
            aggs += [
                F.min(col).alias(f"__mm_lo_{c}"),
                F.max(col).alias(f"__mm_hi_{c}"),
                F.avg(col).alias(f"__mean_{c}"),
                F.percentile_approx(col, 0.5, 1000).alias(f"__p50_{c}"),
                F.percentile_approx(col, 0.95, 1000).alias(f"__p95_{c}"),
            ]
        return aggs

    def _schema_result(self, df: DataFrame):
        """Schema conformance of the whole table: every partition is a
        filter of ``df`` and shares its schema, so one driver-side check
        serves the whole run."""
        if self.expected_schema is None:
            return None
        return C.schema_check(df, self.expected_schema)

    def _constraint_verdicts(self, pk: str, part_df, stats: dict,
                             schema_result: tuple | None, crows_by: dict | None):
        """The constraint verdicts and violations of one partition from
        its row of the constraint pass. Under the ``suite_rows`` gate
        its violation rows (and its orphan count) come from
        ``crows_by``, the run's one constraint collect
        (_constraint_rows); over it (``crows_by`` None) they are Spark
        frames. ``part_df()`` returns the partition's frame; it is
        called only over the gate, where a violation count is non-zero
        or the referential check runs, so a clean partition builds
        none."""
        verdicts = []
        n_rows = int(stats["__n"])
        n_orphan = None
        if crows_by is not None:
            rows = crows_by.get(pk)
            violations = [] if rows is None else [rows]
            if self.referential is not None:
                n_orphan = (0 if rows is None
                            else int((rows["reason"] == _REFERENTIAL).sum()))
        else:
            violations = self._constraint_violations(part_df, stats)
            if self.referential is not None:
                orphans = self._orphans(part_df())
                n_orphan = orphans.count()
                if n_orphan:
                    violations.append(orphans)

        if schema_result is not None:
            ok, problems = schema_result
            verdicts.append(Verdict(pk, "schema", PASS if ok else FAIL, n_rows=n_rows,
                                    details=problems))

        for c, mx in self.null_rate_max.items():
            rate = float(stats[f"__null_{c}"] or 0.0)
            verdicts.append(Verdict(pk, f"null_rate:{c}", PASS if rate <= mx else FAIL,
                                    statistic=rate, threshold=mx, n_rows=n_rows))

        counted = [(f"range:{c}", f"__range_{c}") for c in self.ranges]
        counted += [(f"accepted:{c}", f"__acc_{c}") for c in self.accepted_values]
        if self.cps_bounds is not None:
            counted.append(("transcript_rate", "__cps_bad"))
        if self.payload_tol is not None and not self._payload_in_decode():
            counted.append(("payload_size", "__paysize_bad"))
        for name, stat in counted:
            n_bad = int(stats[stat] or 0)
            verdicts.append(Verdict(pk, name, PASS if n_bad == 0 else FAIL,
                                    statistic=float(n_bad), threshold=0.0, n_rows=n_rows))

        n_dup_rows = n_rows - int(stats["__n_distinct"])
        verdicts.append(Verdict(pk, f"unique:{self.key_col}",
                                PASS if n_dup_rows == 0 else FAIL,
                                statistic=float(n_dup_rows), threshold=0.0, n_rows=n_rows))

        if self.referential is not None:
            verdicts.append(Verdict(pk, _REFERENTIAL, PASS if n_orphan == 0 else FAIL,
                                    statistic=float(n_orphan), threshold=0.0, n_rows=n_rows))
        return verdicts, violations

    def _constraint_violations(self, part_df, stats: dict) -> list[DataFrame]:
        """(row_key, value, reason) frames of one partition's failing
        row-level constraint checks, the referential check aside: one
        per non-zero violation count of its constraint-pass row, the
        key cast to a string."""
        out = []
        for c, (lo, hi) in self.ranges.items():
            if stats[f"__range_{c}"]:
                out.append(C.range_violations(part_df(), c, lo, hi, key=self.key_col)
                           .withColumn("reason", F.lit(f"range:{c}")))
        for c, allowed in self.accepted_values.items():
            if stats[f"__acc_{c}"]:
                out.append(C.accepted_values_violations(part_df(), c, allowed,
                                                        key=self.key_col)
                           .withColumn("reason", F.lit(f"accepted:{c}")))
        if self.cps_bounds is not None and stats["__cps_bad"]:
            lo, hi = self.cps_bounds
            out.append(C.transcript_rate_violations(
                part_df(), self.transcript_col, self.dur_col, lo, hi, key=self.key_col)
                .withColumn("reason", F.lit("transcript_rate")))
        if (self.payload_tol is not None and not self._payload_in_decode()
                and stats["__paysize_bad"]):
            out.append(C.payload_size_violations(
                part_df().filter(self._payload_codec_gate()),
                self.bytes_col, self.sr_col, self.dur_col,
                self.payload_tol, key=self.key_col)
                .withColumn("reason", F.lit("payload_size")))
        if int(stats["__n"]) > int(stats["__n_distinct"]):
            out.append(C.uniqueness_violations(part_df(), self.key_col).select(
                F.col("row_key").cast("string"),
                F.col("n_dup").cast("string").alias("value"),
                F.lit(f"unique:{self.key_col}").alias("reason")))
        return out

    def _orphans(self, child: DataFrame, carry: tuple = ()) -> DataFrame:
        """(row_key, value, reason) rows of ``child``'s keys that the
        referential table lacks, the key cast to a string, with the
        ``carry`` columns of ``child``."""
        return C.referential_orphans(
            child.select(self.key_col, *carry), self.referential.select(self.key_col),
            self.key_col, carry,
        ).select(F.col("row_key").cast("string"),
                 F.lit(None).cast("string").alias("value"),
                 F.lit(_REFERENTIAL).alias("reason"), *carry)

    def _constraint_rows(self, df: DataFrame, scoped: DataFrame, todo: list[str],
                         stats_by: dict) -> dict:
        """{partition: pandas (row_key, value, reason) rows} of every
        row-level constraint check that fails in a partition of
        ``todo``, from ONE collect of the union of those partitions'
        frames and, with a referential table, of the scope's orphans.
        With nothing to read no job runs. Called under the
        ``suite_rows`` gate only: each frame holds at most the scoped
        row count."""
        frames = []
        for pk in todo:
            part_df = functools.cache(functools.partial(self._part_frame, df, pk))
            frames += [f.withColumn("__pk", F.lit(pk))
                       for f in self._constraint_violations(part_df, stats_by[pk])]
        if self.referential is not None:
            frames.append(self._orphans(scoped.withColumn(
                "__pk", F.col(self.partition_col).cast("string")), ("__pk",)))
        if not frames:
            return {}
        pdf = functools.reduce(DataFrame.unionByName, frames).toPandas()
        return {str(pk): g.drop(columns="__pk") for pk, g in pdf.groupby("__pk")}

    @staticmethod
    def _bin_blame(ref_counts, test_counts, lo: float, hi: float,
                   squared_pooled: bool = False) -> dict:
        """Drift localization for the CDF-gap family: the bin that
        contributes most to the statistic (|gap| for KS/EMD,
        pooled-weighted squared gap for CvM), reported as its value
        interval — so a drifted verdict says WHERE the distribution
        moved, not just that it did. Driver-side numpy over the
        already-collected histograms; attached to DRIFT verdicts only.
        np.argmax's lowest-index tie rule keeps it deterministic."""
        r = np.asarray(ref_counts, dtype=np.float64)
        t = np.asarray(test_counts, dtype=np.float64)
        rs, ts = r.sum(), t.sum()
        if rs == 0 or ts == 0:
            return {}
        gap = np.cumsum(r) / rs - np.cumsum(t) / ts
        contrib = ((r + t) / (rs + ts)) * gap * gap if squared_pooled else np.abs(gap)
        i = int(np.argmax(contrib))
        bw = (float(hi) - float(lo)) / r.size
        return {"top_bin": i,
                "bin_lo": round(float(lo) + i * bw, 6),
                "bin_hi": round(float(lo) + (i + 1) * bw, 6),
                "cdf_gap": round(float(gap[i]), 6)}

    @staticmethod
    def _cat_blame(cats, contrib) -> dict:
        """Top-contributing category for the frequency family (PSI /
        chi-squared), attached to DRIFT verdicts only."""
        i = int(np.argmax(contrib))
        return {"top_category": str(cats[i]),
                "contribution": round(float(contrib[i]), 6)}

    def _ks_psi_decide(self, pk: str, n_rows: int, is_ref: bool, ranges: dict,
                       mat: dict, freqs: dict):
        verdicts = []
        if self.ks_cols:
            if is_ref:
                self._ks_ref = {
                    c: {"lo": float(ranges[c][0]), "hi": float(ranges[c][1]),
                        "counts": mat[c].tolist(), "n": int(mat[c].sum())}
                    for c in self.ks_cols
                }
                for c in self.ks_cols:
                    verdicts.append(Verdict(pk, f"ks:{c}", PASS, statistic=0.0,
                                            threshold=None, n_rows=n_rows,
                                            details={"role": "reference"}))
            else:
                for c in self.ks_cols:
                    ref = self._ks_ref[c]
                    stat = dist.ks_statistic(np.array(ref["counts"]), mat[c])
                    thr = ks_critical(ref["n"], int(mat[c].sum()), self.ks_alpha)
                    drifted = stat > thr
                    blame = (self._bin_blame(ref["counts"], mat[c],
                                             ref["lo"], ref["hi"])
                             if drifted else {})
                    verdicts.append(Verdict(pk, f"ks:{c}", DRIFT if drifted else PASS,
                                            statistic=stat, threshold=thr,
                                            n_rows=n_rows, details=blame))
        for c in self.emd_cols:
            if is_ref:
                verdicts.append(Verdict(pk, f"emd:{c}", PASS, statistic=0.0,
                                        threshold=None, n_rows=n_rows,
                                        details={"role": "reference"}))
            else:
                thr = (self.emd_threshold[c]
                       if isinstance(self.emd_threshold, dict)
                       else float(self.emd_threshold))
                ref = self._ks_ref[c]  # emd_cols <= ks_cols: always set
                stat = dist.emd_1d(np.array(ref["counts"]), mat[c],
                                   ref["lo"], ref["hi"])
                drifted = stat > thr
                blame = (self._bin_blame(ref["counts"], mat[c],
                                         ref["lo"], ref["hi"])
                         if drifted else {})
                verdicts.append(Verdict(pk, f"emd:{c}", DRIFT if drifted else PASS,
                                        statistic=stat, threshold=thr,
                                        n_rows=n_rows, details=blame))
        for c in self.cvm_cols:
            if is_ref:
                verdicts.append(Verdict(pk, f"cvm:{c}", PASS, statistic=0.0,
                                        threshold=None, n_rows=n_rows,
                                        details={"role": "reference"}))
            else:
                thr = (self.cvm_threshold[c]
                       if isinstance(self.cvm_threshold, dict)
                       else float(self.cvm_threshold))
                ref = self._ks_ref[c]  # cvm_cols <= ks_cols: always set
                stat = dist.cvm_statistic(np.array(ref["counts"]), mat[c])
                drifted = stat > thr
                blame = (self._bin_blame(ref["counts"], mat[c],
                                         ref["lo"], ref["hi"],
                                         squared_pooled=True)
                         if drifted else {})
                verdicts.append(Verdict(pk, f"cvm:{c}", DRIFT if drifted else PASS,
                                        statistic=stat, threshold=thr,
                                        n_rows=n_rows, details=blame))
        if self.psi_col:
            if is_ref:
                self._psi_ref = {"freqs": freqs, "n": n_rows}
                verdicts.append(Verdict(pk, f"psi:{self.psi_col}", PASS, statistic=0.0,
                                        threshold=self.psi_threshold, n_rows=n_rows,
                                        details={"role": "reference"}))
                if self.chisq_alpha is not None:
                    verdicts.append(Verdict(pk, f"chisq:{self.psi_col}", PASS,
                                            statistic=0.0, threshold=None,
                                            n_rows=n_rows,
                                            details={"role": "reference"}))
            else:
                r, t, cats = H.align_frequencies(self._psi_ref["freqs"], freqs)
                stat = dist.psi(r, t)
                drifted = stat > self.psi_threshold
                blame = {}
                if drifted and r.sum() > 0 and t.sum() > 0:
                    eps = 1e-4
                    p = np.maximum(r / r.sum(), eps)
                    q = np.maximum(t / t.sum(), eps)
                    blame = self._cat_blame(cats, (q - p) * np.log(q / p))
                verdicts.append(Verdict(pk, f"psi:{self.psi_col}",
                                        DRIFT if drifted else PASS,
                                        statistic=stat, threshold=self.psi_threshold,
                                        n_rows=n_rows, details=blame))
                if self.chisq_alpha is not None:
                    stat, dof = dist.chi2_homogeneity(r, t)
                    thr = (S.chi2_critical(dof, self.chisq_alpha)
                           if dof > 0 else float("inf"))
                    details = {"dof": dof, "alpha": self.chisq_alpha}
                    if stat > thr:
                        # per-category (O-E)^2/E summed over both samples
                        pooled = r + t
                        mask = pooled > 0
                        p = pooled[mask] / (r.sum() + t.sum())
                        er, et = r.sum() * p, t.sum() * p
                        contrib = ((r[mask] - er) ** 2 / er
                                   + (t[mask] - et) ** 2 / et)
                        details.update(self._cat_blame(
                            [c for c, m in zip(cats, mask) if m], contrib))
                    verdicts.append(Verdict(
                        pk, f"chisq:{self.psi_col}",
                        DRIFT if stat > thr else PASS,
                        statistic=stat, threshold=thr, n_rows=n_rows,
                        details=details))
            if self.entropy_min is not None:
                cnts = np.array(list(freqs.values()), dtype=np.float64)
                ent = dist.shannon_entropy(cnts)
                verdicts.append(Verdict(
                    pk, f"entropy:{self.psi_col}",
                    FAIL if ent < self.entropy_min else PASS,
                    statistic=ent, threshold=self.entropy_min,
                    n_rows=n_rows,
                    details={"n_categories": int((cnts > 0).sum())}))
        return verdicts

    # ------------------------------------------------------ state (re)store

    def _check_states(self) -> dict:
        states: dict = {}
        if self.hdm is not None:
            states["hdddm"] = self.hdm.get_state()
        if self.kdq is not None:
            states["kdq_tree"] = self.kdq.get_state()
            states["kdq_ref_pk"] = getattr(self, "_kdq_ref_pk", None)
        states["ks_ref"] = self._ks_ref
        states["psi_ref"] = self._psi_ref
        return states

    def _restore(self, df: DataFrame, states: dict) -> None:
        if self.hdm is not None and "hdddm" in states:
            ref_ids = states["hdddm"]["reference_batch_ids"]
            ref = [(pk, self._hdm_frame(self._part_frame(df, pk)))
                   for pk in ref_ids]
            self.hdm.set_state(states["hdddm"], ref)
        if self.kdq is not None and "kdq_tree" in states:
            # the reference frame is rebuilt from _kdq_ref_pk when a
            # drift needs it (_kdq_clean_feats_for), so none is restored
            self.kdq.set_state(states["kdq_tree"])
            self._kdq_ref_pk = states.get("kdq_ref_pk")
        self._ks_ref = states.get("ks_ref")
        self._psi_ref = states.get("psi_ref")

    def _pk_value(self, df: DataFrame, pk: str):
        dtype = dict(df.dtypes).get(self.partition_col, "string")
        return int(pk) if dtype in ("int", "bigint", "smallint") else pk

    def _part_frame(self, df: DataFrame, pk: str) -> DataFrame:
        return df.filter(F.col(self.partition_col) == self._pk_value(df, pk))

    def _hdm_frame(self, part_df: DataFrame) -> DataFrame:
        """HDM's input rows for one partition, for the paths that read
        rows rather than a summary."""
        return part_df.select(
            *[F.col(c).cast("double").alias(c) for c in self.hdm_cols])

    # -------------------------------------------------------------- run

    @staticmethod
    def _metrics_from_stats(stats: dict) -> dict:
        """Per-partition column metrics recorded in the manifest
        (north rule: lineage + METRICS per partition)."""
        out = {}
        for k, v in stats.items():
            if k.startswith("__") and not k.startswith("__key_hash"):
                val = None if v is None else float(v)
                out[k.strip("_")] = val
        return out

    def _finish_partition(self, pk: str, n_rows: int, fingerprint: dict,
                          verdicts: list, violations: list, t0: float,
                          metrics: dict | None = None) -> None:
        """Write the partition's violation rows, then append its
        manifest record. ``violations`` holds pandas (row_key, value,
        reason) frames under the ``suite_rows`` gate, written by the
        driver with no Spark job, or Spark frames over it, written by
        one Spark job. Either way the partition's directory holds this
        attempt's rows only."""
        if violations and isinstance(violations[0], DataFrame):
            from pyspark.sql import Observation

            all_v = violations[0]
            for v in violations[1:]:
                all_v = all_v.unionByName(v)
            all_v = all_v.select(
                F.lit(pk).alias("partition_key"),
                F.col("reason").alias("check_name"),
                F.col("row_key"),
                F.col("reason"),
                F.create_map(F.lit("value"), F.coalesce(F.col("value"), F.lit(""))).alias("details"),
            )
            # count rides along with the write (Observation) — one job,
            # not a separate count pass over the recomputed violations
            obs = Observation()
            all_v = all_v.observe(obs, F.count(F.lit(1)).alias("n"))
            all_v.write.mode("overwrite").parquet(self.manifest.violations_dir(pk))
            n_viol = int(obs.get["n"])
        else:
            n_viol = self.manifest.write_violations(
                pk, self._violation_table(pk, violations))
        self.manifest.append(
            {
                "partition_key": pk,
                "seq": len(self.manifest.records),
                "n_rows": n_rows,
                "fingerprint": fingerprint,
                "metrics": metrics or {},
                "verdicts": [v.as_row() for v in verdicts],
                "n_violations": n_viol,
                "check_states": self._check_states(),
                "elapsed_s": round(time.time() - t0, 3),
            }
        )

    @staticmethod
    def _violation_table(pk: str, frames: list):
        """The pandas (row_key, value, reason) ``frames`` of partition
        ``pk`` as an Arrow table in VIOLATION_SCHEMA, shaped as the
        Spark write shapes them (a null value is ""); None without
        rows. Every string in it was made by Spark."""
        if not frames:
            return None
        rows = pd.concat(frames, ignore_index=True)
        reasons = rows["reason"].tolist()
        return pa.Table.from_pydict({
            "partition_key": [pk] * len(rows),
            "check_name": reasons,
            "row_key": [k if isinstance(k, str) else None for k in rows["row_key"]],
            "reason": reasons,
            "details": [[("value", v if isinstance(v, str) else "")]
                        for v in rows["value"]],
        }, schema=_VIOLATION_ARROW)

    @staticmethod
    def _sorted_keys(values) -> list[str]:
        """Raw partition values -> their string keys in partition-key
        order. Sorted driver-side: an orderBy would add a range-partition
        exchange plus its sampling job to collect O(partitions) rows.
        Python's sort on the raw values matches Spark's orderBy for
        every partition-key type we accept (int/str/date)."""
        return [str(v) for v in sorted(
            values, key=lambda v: (v is not None, v))]  # NULLS FIRST, like orderBy

    def _global_uniqueness_verdict(self, df: DataFrame):
        """Cross-partition key uniqueness: within-partition dup checks
        cannot see a clip_id repeated in two partitions, so one global
        pass covers the whole table.

        uniqueness_mode="exact": count vs countDistinct — correct but
        a full key shuffle. uniqueness_mode="sketch": HyperLogLog
        screen (operators/sketches.py) — one scan whose shuffle is at
        most 2^p register rows; only when the estimate sits below the
        row count by more than 3-sigma sketch noise does the exact
        pass run (and its verdict is then identical to exact mode).

        CONTRACT of a sketch-mode PASS (ADVICE r05): the screen can
        only rule out LARGE duplication, not certify uniqueness — a
        sketch PASS means dup_frac <= 3 * 1.04 / sqrt(2^p) (~4.9%
        relative at the default p=12), NOT dup_frac == 0. The verdict
        row makes the weaker guarantee machine-readable: statistic =
        the estimated dup fraction, threshold = the exact bound it was
        compared against, details.mode = "sketch". Consumers needing
        the zero-duplicates guarantee must use exact mode (or treat
        details.mode == "sketch" as advisory).
        NULL keys ride the same register pass (reg -1) and always
        escalate — exact mode counts them as duplicates. Both modes
        are deterministic, so recomputing per run keeps resumed and
        one-shot verdict tables identical; in sketch mode the screen's
        per-partition registers additionally persist as checkpoint
        sidecars, so a RESUMED run scans only unvisited partitions."""
        if self.uniqueness_mode == "sketch":
            part_keys = self._sorted_keys(
                r[0] for r in df.select(self.partition_col).distinct().collect())
            verdict = self._uniqueness_sketch_screen(df, part_keys)
            if verdict is not None:
                return verdict
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(self.key_col).alias("d"),
        ).collect()[0]
        n_dup = int(row["n"]) - int(row["d"])
        details = {}
        if self.uniqueness_mode == "sketch":
            details["mode"] = "sketch+exact"
        return Verdict(
            "__global__", f"unique:{self.key_col}",
            PASS if n_dup == 0 else FAIL,
            statistic=float(n_dup), threshold=0.0, n_rows=int(row["n"]),
            details=details,
        ).as_row()

    def _sketch_path(self, pk: str) -> str:
        import os

        return os.path.join(self.manifest.dir, "uniq_sketch",
                            f"partition_key={pk}.json")

    def _uniqueness_sketch_screen(self, df: DataFrame, part_keys: list[str]):
        """The HLL screen, RESUMABLE: per-partition register sketches
        persist as sidecar files under the checkpoint dir, so a
        resumed run scans ONLY partitions whose sketch is missing and
        max-merges the rest from disk — the uniqueness twin of the
        manifest's replay contract (a one-shot run and a resumed run
        merge the identical registers, so the verdict is byte-equal).

        Returns a PASS verdict row when the merged sketch rules
        duplicates out within 3-sigma noise, else None (caller
        escalates to the exact pass). One grouped job over the missing
        partitions only; NULL keys are counted in a sentinel register
        so they force escalation without a second scan. Sketches
        written at a different ``p`` are recomputed, not merged."""
        import json as _json
        import math as _math
        import os as _os
        import tempfile as _tempfile

        from menelaus_spark.operators import sketches as SK

        p = self.uniqueness_sketch_p
        m = 1 << p
        kmax = SK._HASH_BITS - p + 1

        # sidecars are keyed by (partition, p) AND pinned to the
        # partition fingerprint recorded in the manifest (n, key_hash)
        # — a resumed run whose partition was rewritten underneath the
        # checkpoint recomputes that partition's sketch instead of
        # silently merging stale registers (ADVICE r05), mirroring the
        # lineage contract. Pre-fingerprint sidecars (no "fp" field)
        # and partitions without a manifest record are treated stale.
        manifest_fp = {r["partition_key"]: r.get("fingerprint")
                       for r in self.manifest.records}
        loaded: dict[str, dict] = {}
        missing: list[str] = []
        for pk in part_keys:
            path = self._sketch_path(pk)
            rec = None
            if _os.path.exists(path):
                with open(path) as f:
                    rec = _json.load(f)
                if rec.get("p") != p:
                    rec = None  # stale sketch at another precision
                elif rec is not None:
                    want = manifest_fp.get(pk)
                    if want is None or rec.get("fp") != want:
                        rec = None  # partition changed (or unknown) since sketching
            if rec is None:
                missing.append(pk)
            else:
                loaded[pk] = rec

        if missing:
            key = F.col(self.key_col)
            h = SK._hash60(key, "hll")
            rows = (
                df.filter(F.col(self.partition_col).cast("string").isin(missing))
                .select(
                    F.col(self.partition_col).cast("string").alias("__pk"),
                    F.when(key.isNull(), F.lit(-1))
                    .otherwise(F.shiftright(h, SK._HASH_BITS - p).cast("int")).alias("reg"),
                    F.when(key.isNull(), F.lit(0))
                    .otherwise(SK._rho_expr(h, p)).alias("rho"),
                )
                .groupBy("__pk", "reg")
                .agg(F.max("rho").alias("rho"), F.count(F.lit(1)).alias("c"))
                .collect()
            )
            fresh = {pk: {"n": 0, "n_null": 0, "regs": bytearray(m)} for pk in missing}
            for r in rows:
                d = fresh[r["__pk"]]
                d["n"] += int(r["c"])
                if r["reg"] == -1:
                    d["n_null"] += int(r["c"])
                elif int(r["rho"]) > d["regs"][r["reg"]]:
                    d["regs"][r["reg"]] = int(r["rho"])
            for pk, d in fresh.items():
                rec = {"partition_key": pk, "p": p, "n": d["n"],
                       "n_null": d["n_null"], "regs_hex": bytes(d["regs"]).hex(),
                       "fp": manifest_fp.get(pk)}
                sdir = _os.path.dirname(self._sketch_path(pk))
                _os.makedirs(sdir, exist_ok=True)
                fd, tmp = _tempfile.mkstemp(dir=sdir, suffix=".sketch.tmp")
                try:
                    with _os.fdopen(fd, "w") as f:
                        _json.dump(rec, f, sort_keys=True)
                    _os.replace(tmp, self._sketch_path(pk))
                finally:
                    if _os.path.exists(tmp):
                        _os.unlink(tmp)
                loaded[pk] = rec

        n_total = sum(rec["n"] for rec in loaded.values())
        if sum(rec["n_null"] for rec in loaded.values()) > 0:
            return None  # exact mode treats null keys as dups
        regs = bytearray(m)
        for rec in loaded.values():
            b = bytes.fromhex(rec["regs_hex"])
            for i in range(m):
                if b[i] > regs[i]:
                    regs[i] = b[i]
        v_zero = sum(1 for x in regs if x == 0)
        s_int = sum(1 << (kmax - x) for x in regs if x) + v_zero * (1 << kmax)
        est = SK._estimate_from(v_zero, s_int, p) if n_total else 0.0
        noise = 3.0 * 1.04 / _math.sqrt(m)
        dup_frac_est = 0.0 if n_total == 0 else max(0.0, (n_total - est) / n_total)
        if dup_frac_est > noise:
            return None
        return Verdict(
            "__global__", f"unique:{self.key_col}", PASS,
            statistic=dup_frac_est, threshold=noise, n_rows=n_total,
            details={"mode": "sketch", "est_distinct": f"{est:.2f}", "p": str(p),
                     "partitions_scanned": str(len(missing))},
        ).as_row()

    def _hotkey_verdicts(self, df: DataFrame) -> list[dict]:
        """Per-partition heavy-hitter (mode share) verdicts for each
        configured high-cardinality column: `hotkey:<col>` fails where
        one value's share exceeds the ceiling. One groupBy(partition,
        col) per column — no salting needed: Spark's partial (map-side)
        hash aggregation collapses a hot value to one row per task
        before the shuffle, so a boilerplate flood costs nothing extra.
        The top-1 reduction collects O(partitions) rows. Deterministic
        (ties broken by the larger value string via the struct max), so
        recomputing per run keeps resumed and one-shot verdict tables
        identical — the same contract as the global uniqueness check.
        NULLs are excluded from both the mode and the denominator (they
        belong to the null-rate constraint)."""
        out = []
        for col, frac_max in (self.hot_key_max_frac or {}).items():
            counts = (
                df.filter(F.col(col).isNotNull())
                .groupBy(self.partition_col, col)
                .agg(F.count(F.lit(1)).alias("c"))
            )
            top = (
                counts.groupBy(self.partition_col)
                .agg(
                    F.max(F.struct(F.col("c"),
                                   F.col(col).cast("string").alias("k"))).alias("top"),
                    F.sum("c").alias("total"),
                )
                .collect()
            )
            for r in sorted(top, key=lambda r: str(r[0])):
                share = float(r["top"]["c"]) / float(r["total"])
                out.append(Verdict(
                    str(r[0]), f"hotkey:{col}",
                    FAIL if share > float(frac_max) else PASS,
                    statistic=share, threshold=float(frac_max),
                    n_rows=int(r["total"]),
                    details={"top_key": r["top"]["k"],
                             "top_n": int(r["top"]["c"])},
                ).as_row())
        return out

    def _neardup_verdicts(self, df: DataFrame) -> list[dict]:
        """Global payload near-dup verdicts via the fingerprint-shingle
        MinHash/LSH path. Deterministic (seeded md5 hash family,
        partition-independent fingerprints, deterministic star
        contraction), so recomputing per run keeps resumed and one-shot
        verdict tables identical — the same contract as the global
        uniqueness check. Two rows:

        neardup:payload  — fraction of clips in >= 1 near-dup pair
        neardup:clusters — fraction REMOVABLE by keep-one-per-cluster
                           resolution (members - components) / n, the
                           actionable dedup number; its details carry
                           n_clusters and max_cluster_size
        """
        from menelaus_spark.operators.audio_dedup import (
            audio_neardup_pairs,
            audio_shingles,
        )
        from menelaus_spark.operators.clusters import connected_components

        sh = audio_shingles(
            df, key_col=self.key_col, bytes_col=self.bytes_col,
            codec_col=self.codec_col,
        ).persist()
        try:
            pairs = audio_neardup_pairs(df, key_col=self.key_col, fp=sh)
            cc = connected_components(pairs.select("id_a", "id_b"))
            row = cc.agg(
                F.count(F.lit(1)).alias("m"),
                F.countDistinct("cluster_id").alias("k"),
            ).collect()[0]
            top = (
                cc.groupBy("cluster_id").count().agg(F.max("count")).collect()[0][0]
            )
        finally:
            sh.unpersist()
        members, k = int(row["m"] or 0), int(row["k"] or 0)
        n = df.count()
        rate = members / n if n else 0.0
        removable = (members - k) / n if n else 0.0
        return [
            Verdict(
                "__global__", "neardup:payload",
                PASS if rate <= self.neardup_rate_max else FAIL,
                statistic=float(rate), threshold=float(self.neardup_rate_max),
                n_rows=int(n),
            ).as_row(),
            Verdict(
                "__global__", "neardup:clusters",
                PASS if removable <= self.neardup_rate_max else FAIL,
                statistic=float(removable),
                threshold=float(self.neardup_rate_max),
                n_rows=int(n),
                details={"n_clusters": k, "max_cluster_size": int(top or 0)},
            ).as_row(),
        ]

    def _lineage_verdicts(self, df: DataFrame, scope: set[str]) -> list[dict]:
        """Re-fingerprint every COMPLETED partition (one metadata-only
        aggregation over the key column — pruned scan, no payload read)
        and compare against the manifest's recorded lineage. A replayed
        partition whose data silently changed since it was validated —
        rows added/removed, keys rewritten, the whole partition gone —
        gets a `lineage` FAIL row alongside its (now stale) replayed
        verdicts. Deliberately NOT auto-revalidated: the sequential
        drift chain (HDM reference growth, kdq reference, KS baseline)
        already consumed the original data, so recomputing one
        mid-chain partition out of order would corrupt the sequence
        semantics; the remedy is a fresh checkpoint. Verdict fields:
        statistic = found row count, threshold = recorded row count,
        details carry both fingerprints on mismatch."""
        recs = {r["partition_key"]: r["fingerprint"]
                for r in self.manifest.records
                if r["partition_key"] in scope}
        pv = [self._pk_value(df, pk) for pk in recs]
        rows = (
            df.filter(F.col(self.partition_col).isin(pv))
            .groupBy(self.partition_col)
            .agg(F.count(F.lit(1)).alias("__n"),
                 F.expr(f"bit_xor(xxhash64({self.key_col}))").alias("__h"))
            .collect()
        )
        found = {str(r[self.partition_col]): (int(r["__n"]), int(r["__h"] or 0))
                 for r in rows}
        out = []
        for pk in sorted(recs):
            fp = recs[pk]
            got = found.get(pk, (0, 0))
            ok = got == (int(fp["n"]), int(fp["key_hash"]))
            det = {} if ok else {
                "expected_n": str(fp["n"]), "found_n": str(got[0]),
                "expected_key_hash": str(fp["key_hash"]),
                "found_key_hash": str(got[1]),
            }
            out.append(Verdict(pk, "lineage", PASS if ok else FAIL,
                               statistic=float(got[0]),
                               threshold=float(fp["n"]),
                               n_rows=got[0], details=det).as_row())
        return out

    def run(self, df: DataFrame,
            verify_lineage: bool = False) -> tuple[DataFrame, DataFrame]:
        """Validate every partition not yet in the manifest; return
        (verdicts, violations) DataFrames covering ALL partitions
        (replayed + newly computed).

        ``verify_lineage=True`` additionally re-fingerprints every
        already-completed partition and emits a `lineage` pass/fail
        verdict row per replayed partition (see _lineage_verdicts) —
        the guard against trusting replayed verdicts over data that
        changed underneath the checkpoint.

        Per-partition statistics for ALL unvisited partitions come
        from a constant number of global passes — one
        groupBy(partition) constraint aggregation and ONE decode
        pandas pass, then under the ``suite_rows`` cap one collect of
        the decoded frame, and over it one distributed pass per
        decision (the fused (partition, kind, key) count of the KS
        histograms, PSI frequencies and HDM distinct values, one kdq
        leaf count, one count of the decode-integrity and quality
        flags) — then the sequential drift decisions run driver-side
        on the collected summaries. Job count is O(1) in the partition
        count (over the cap, plus one kdq recount pass per drift
        event).

        The scope is known before any Spark job runs: all of ``df`` on
        a fresh checkpoint, else the rows outside the manifest's
        completed partitions. So the decode — the suite's wall-clock
        floor and the only pass that reads the binary column — is
        started before any other pass, and on a warm plan it is the
        first job Spark schedules. The constraint aggregation and the
        exact global uniqueness pass follow it on driver threads:
        Spark schedules concurrent jobs FIFO and back-fills the slots
        the decode leaves idle, so the small passes hide under it
        (spark_optimization_guide §2.6). The partition list and the KS
        reference ranges are read from the constraint aggregation's
        groups and min/max columns. The decode carries the KS, PSI and
        HDM columns (_summary_cols), and one collect of the decoded
        frame then feeds the summary, kdq, decode-integrity and
        quality decisions (see _run_vectorized).

        The frames a run caches (the feature frame, HDM's reference
        frames) are released before it returns or raises. A run that
        raises first cancels the Spark jobs its driver threads still
        run, so the error does not wait for the decode to finish.
        """
        import uuid
        from concurrent.futures import ThreadPoolExecutor

        done = set(self.manifest.completed_keys())
        if done:
            self._restore(df, self.manifest.last_states())
        scoped = self._scope(df, done)
        sc = self.spark.sparkContext
        tag = f"menelaus-suite-{uuid.uuid4().hex}"
        pool = ThreadPoolExecutor(max_workers=3)
        futures: list = []

        def submit(fn, *args):
            # a pool thread does not inherit this thread's job tags, so
            # each task tags the jobs it submits itself
            def tagged():
                sc.addJobTag(tag)
                try:
                    return fn(*args)
                finally:
                    sc.removeJobTag(tag)
            futures.append(pool.submit(tagged))
            return futures[-1]

        feats = None
        try:
            feats_future = None
            if self._decodes():
                summary = self._summary_in_decode()
                feats = audio.features_df(
                    scoped.withColumns(self._summary_cols) if summary else scoped,
                    key_col=self.key_col,
                    carry_cols=self._feats_carry_cols(summary),
                    quality=self.quality_rules is not None,
                    byte_len=self._payload_in_decode(),
                    header=self.meta_rules is not None,
                ).persist()
                feats_future = submit(feats.count)
            stat_future = submit(
                scoped.groupBy(self.partition_col).agg(*self._constraint_aggs()).collect)
            # sketch mode reads the manifest fingerprints this run
            # writes, so only the exact pass can start now
            uniq_future = None
            if self.global_uniqueness and self.uniqueness_mode == "exact":
                uniq_future = submit(self._global_uniqueness_verdict, df)
            self._run_vectorized(df, scoped, submit, feats, feats_future, stat_future)

            verdict_rows = self.manifest.replayed_verdicts()
            if verify_lineage and done:
                # only partitions REPLAYED from a prior run need the check —
                # ones validated just now fingerprinted their own data
                verdict_rows = verdict_rows + self._lineage_verdicts(df, done)
            if self.global_uniqueness:
                verdict_rows = verdict_rows + [
                    uniq_future.result() if uniq_future is not None
                    else self._global_uniqueness_verdict(df)]
            if self.neardup_rate_max is not None:
                verdict_rows = verdict_rows + self._neardup_verdicts(df)
            if self.hot_key_max_frac is not None:
                verdict_rows = verdict_rows + self._hotkey_verdicts(df)
        except BaseException:
            # a failed run raises now, not once the decode and the
            # uniqueness pass have read the whole table
            _cancel_tasks(sc, tag, futures)
            raise
        finally:
            # join the passes still in flight before uncaching their input
            pool.shutdown(wait=True)
            if feats is not None:
                feats.unpersist()
            if self.hdm is not None:
                self.hdm._release_owned()
        verdicts = verdicts_df(self.spark, verdict_rows)
        # the recorded partitions' files only: a directory left by an
        # attempt killed before its manifest append is not this run's.
        # The schema is known by construction (every violation write
        # uses the VIOLATION_SCHEMA shape); passing it skips the
        # footer-sampling schema-inference pass over the sink dirs
        viol_dirs = [self.manifest.violations_dir(r["partition_key"])
                     for r in self.manifest.records if r["n_violations"]]
        if viol_dirs:
            violations_df = self.spark.read.schema(VIOLATION_SCHEMA).parquet(*viol_dirs)
        else:
            violations_df = empty_violations(self.spark)
        return verdicts, violations_df

    def _scope(self, df: DataFrame, done: set[str]) -> DataFrame:
        """The rows a run validates: every partition of ``df`` not in
        the manifest's ``done`` keys. Built without a Spark job; a done
        key no longer in ``df`` filters nothing."""
        if not done:
            return df
        return df.filter(~F.col(self.partition_col).isin(
            [self._pk_value(df, pk) for pk in sorted(done)]))

    # ---------------------------------------- vectorized-over-partitions

    def _summary_in_decode(self) -> bool:
        """Whether the summary pass's columns ride the decode pass, to
        be collected with the decoded frame (_decoded_projection)."""
        return (bool(self.ks_cols or self.psi_col or self.hdm is not None)
                and self._decodes())

    @staticmethod
    def _ks_bin(col: str, rng: tuple):
        """Column ``col``'s KS bin index against the reference range
        ``rng``, null where no bin counts the row. Values are clamped
        into the range first, so that mass outside it piles into the
        edge bins and the CDF gap registers."""
        lo, hi = float(rng[0]), float(rng[1])
        name = col.replace("`", "``")
        x = (f"least(greatest(CAST(`{name}` AS DOUBLE), {H.sql_double(lo)}),"
             f" {H.sql_double(hi)})")
        return F.expr(H.bin_index_sql(x, lo, hi, KS_BINS))

    @functools.cached_property
    def _summary_cols(self) -> dict:
        """{name: expression} of the summary pass's inputs as a collect
        carries them: each KS column as its Java string (the decode's
        pandas boundary would turn a NaN into a null, which the KS clamp
        sends to the other edge), the psi column as a string and each
        HDM column as a double. Cached: it depends only on the suite
        config, and each expression costs py4j round trips."""
        cols = {f"__ks_{c}": F.col(c).cast("double").cast("string")
                for c in self.ks_cols}
        if self.psi_col:
            cols["__psi"] = F.col(self.psi_col).cast("string")
        if self.hdm is not None:
            cols.update({f"__hdm_{c}": F.col(c).cast("double") for c in self.hdm_cols})
        return cols

    def _with_ks_bins(self, frame: DataFrame, ranges: dict) -> DataFrame:
        """``frame``, which holds _summary_cols, with each KS column
        replaced by its bin index (_ks_bin): the collect then holds the
        exploded pass's keys, and the driver only counts them. Spark's
        ordering of null, NaN and +-inf and its float arithmetic need
        no numpy twin."""
        return frame.withColumns({f"__ks_{c}": self._ks_bin(f"__ks_{c}", ranges[c])
                                  for c in self.ks_cols})

    def _summary_probe(self, scoped: DataFrame, ranges: dict):
        """The summary pass's driver fast path for a suite with no
        decode: under the ``suite_rows`` cap, ONE bounded Arrow collect
        (driver_rows) of the summary columns replaces the exploded
        grouped count (see _global_summary_pass). Returns the collected
        frame, or None over the cap."""
        return driver_rows(self._with_ks_bins(scoped.select(
            F.col(self.partition_col).cast("string").alias("__pk"),
            *[e.alias(n) for n, e in self._summary_cols.items()]), ranges), "suite_rows")

    def _decoded_projection(self, feats: DataFrame, summary: bool) -> DataFrame:
        """The projection of the cached decoded frame that the driver
        collects once, under the ``suite_rows`` cap, to feed every
        decision that reads decoded rows: the string partition key
        ``__pk``, the key as a string ``__key``, the features (kdq),
        each _quality_conds predicate as a flag ``__q{i}`` (a null
        predicate is False, as Spark's ``sum(cast)`` counts it 0;
        ``__q0`` is decode integrity) with its violation value
        ``__v{i}`` on flagged rows and, with ``summary``, the summary
        pass's inputs (_summary_cols), whose KS columns _with_ks_bins
        bins once the ranges are known."""
        sel = [F.col(self.partition_col).cast("string").alias("__pk"),
               F.col(self.key_col).cast("string").alias("__key")]
        if self.kdq is not None:
            sel += [f"f{i}" for i in range(audio.N_FEATURES)]
        for i, (_, cond, value) in enumerate(self._quality_conds()):
            flag = F.coalesce(cond, F.lit(False))
            sel += [flag.alias(f"__q{i}"), F.when(flag, value).alias(f"__v{i}")]
        if summary:
            sel += list(self._summary_cols)
        return feats.select(*sel)

    def _global_summary_pass(
        self, scoped: DataFrame, todo: list[str], ranges: dict, pdf
    ) -> tuple[dict, dict]:
        """KS histograms + PSI frequencies + HDM distinct-value
        summaries for EVERY partition in ONE exploded grouped count —
        one scan of the (numeric, codec) projection where rounds 1-2
        used two. HDM values ride as their Java
        shortest-round-trip string (exact double round-trip), and the
        driver cap still guards the HDM side: past it, HDM falls back
        to its own per-batch summary jobs.

        ``pdf`` is the decoded frame's collect (_decoded_projection) or,
        in a suite with no decode, _summary_probe's. When it is there,
        its columns already hold the exploded pass's keys
        (_with_ks_bins), so the driver only counts them and no further
        job runs. Over the cap, the exploded pass runs unchanged — the
        100-TB path.

        Returns (kspsi_by, hdm_sum_by)."""
        hdm_cols = self.hdm_cols if self.hdm is not None else []
        if pdf is not None:
            kspsi_by: dict = {}
            hdm_data: dict = {}
            n_hdm_entries = 0
            for pk, g in pdf.groupby("__pk"):
                mat = {}
                freqs: dict = {}
                for c in self.ks_cols:
                    b = g[f"__ks_{c}"].to_numpy(np.float64)
                    mat[c] = np.bincount(b[~np.isnan(b)].astype(np.int64),
                                         minlength=KS_BINS).astype(np.float64)
                if self.psi_col:
                    vc = g["__psi"].value_counts(dropna=True)
                    freqs = {str(k): int(n) for k, n in vc.items()}
                if self.ks_cols or self.psi_col:
                    kspsi_by[str(pk)] = (mat, freqs)
                if hdm_cols:
                    d = {}
                    for c in hdm_cols:
                        a = g[f"__hdm_{c}"].to_numpy(np.float64)
                        vals, cnts = np.unique(
                            a[~np.isnan(a)], return_counts=True)
                        d[c] = (vals.astype(np.float64),
                                cnts.astype(np.float64))
                        n_hdm_entries += vals.size
                    hdm_data[str(pk)] = d
            hdm_sum_by: dict = {}
            if hdm_cols and n_hdm_entries <= DRIVER_ROW_CAPS["hdm_values"]:
                hdm_sum_by = {
                    pk: hdm_data.get(
                        pk, {c: (np.array([]), np.array([]))
                             for c in hdm_cols})
                    for pk in todo
                }
            return kspsi_by, hdm_sum_by
        structs = [F.struct(F.lit(f"ks:{c}").alias("kind"),
                            self._ks_bin(c, ranges[c]).cast("string").alias("key"))
                   for c in self.ks_cols]
        if self.psi_col:
            structs.append(F.struct(
                F.lit("psi").alias("kind"),
                F.col(self.psi_col).cast("string").alias("key"),
            ))
        for c in hdm_cols:
            v = F.col(c).cast("double")
            structs.append(F.struct(
                F.lit(f"hdm:{c}").alias("kind"),
                F.when(~F.isnan(v), v).cast("string").alias("key"),
            ))
        exploded = (
            scoped.select(
                F.col(self.partition_col).cast("string").alias("__pk"),
                F.explode(F.array(*structs)).alias("kk"),
            )
            .select("__pk", "kk.kind", "kk.key")
            .filter(F.col("key").isNotNull())
        )
        agg = H.salted_count(exploded, ["__pk", "kind", "key"])
        if hdm_cols:
            # ONE action enforces the HDM driver cap inline (the old
            # shape paid a separate count() job first): non-HDM rows
            # ride unlimited, HDM rows pass through LIMIT cap+1 — if
            # cap+1 survive, the cap is blown and the HDM side falls
            # back to its own per-batch jobs. persist() so the single
            # union action materializes the aggregation once for both
            # branches; the extra driver transfer is bounded by cap.
            cap = DRIVER_ROW_CAPS["hdm_values"]
            agg = agg.persist()
            try:
                is_hdm = F.col("kind").startswith("hdm:")
                rows = (
                    agg.filter(~is_hdm)
                    .unionByName(agg.filter(is_hdm).limit(cap + 1))
                    .toPandas()
                )
            finally:
                agg.unpersist()
            hdm_rows = rows["kind"].str.startswith("hdm:")
            hdm_ok = int(hdm_rows.sum()) <= cap
            if not hdm_ok:
                rows = rows[~hdm_rows]
        else:
            hdm_ok = True
            rows = agg.toPandas()

        kspsi_by: dict = {}
        hdm_sum_by: dict = {
            pk: {c: ([], []) for c in hdm_cols} for pk in todo
        } if (hdm_cols and hdm_ok) else {}
        for pk, kind, key, count in zip(
            rows["__pk"], rows["kind"], rows["key"], rows["count"]
        ):
            if kind.startswith("hdm:"):
                if pk in hdm_sum_by:
                    vs, cs = hdm_sum_by[pk][kind[4:]]
                    vs.append(float(key))
                    cs.append(float(count))
                continue
            if not (self.ks_cols or self.psi_col):
                continue
            mat, freqs = kspsi_by.setdefault(
                pk, ({c: np.zeros(KS_BINS) for c in self.ks_cols}, {})
            )
            if kind == "psi":
                freqs[str(key)] = int(count)
            else:
                mat[kind[3:]][int(key)] = float(count)
        hdm_sum_by = {
            pk: {
                c: (np.asarray(vs, dtype=np.float64), np.asarray(cs, dtype=np.float64))
                for c, (vs, cs) in d.items()
            }
            for pk, d in hdm_sum_by.items()
        }
        return kspsi_by, hdm_sum_by

    def _kdq_clean_feats_for(self, df: DataFrame, feats: DataFrame | None,
                             pk: str, todo: list[str]) -> DataFrame:
        """Clean feature vectors of one partition: from the cached
        global feature frame when the partition is in scope, else
        recomputed from the source table (resume case: the kdq
        reference partition may already be completed)."""
        fcols = [f"f{i}" for i in range(audio.N_FEATURES)]
        if feats is not None and pk in todo:
            return feats.filter(
                F.col(self.partition_col).cast("string") == pk
            ).filter(_f0_clean()).select(*fcols)
        part = df.filter(F.col(self.partition_col) == self._pk_value(df, pk))
        return audio.features_df(part, key_col=self.key_col).filter(
            _f0_clean()
        ).select(*fcols)

    def _kdq_tree(self, df: DataFrame, feats: DataFrame | None, pk: str,
                  todo: list[str], groups: dict | None):
        """The kdq tree of partition ``pk``, built driver-side from its
        clean feature vectors: its group of the decoded frame's collect
        when that holds at most ``build_sample_cap`` rows (where
        _collect_build_sample would take the whole partition too; tree
        builds are row-order independent, so the tree is the same), else
        _collect_build_sample's bounded sample."""
        ary = None if groups is None else groups.get(pk)
        if ary is None or len(ary) > self.kdq.build_sample_cap:
            ary, _ = self.kdq._collect_build_sample(
                self._kdq_clean_feats_for(df, feats, pk, todo))
        return self.kdq.build_tree_from_sample(ary)

    def _run_vectorized(self, df: DataFrame, scoped: DataFrame, submit,
                        feats: DataFrame | None, feats_future, stat_future) -> None:
        """Validate the partitions of ``scoped``. run() has already
        submitted, in this order, global pass 3 (decode + features +
        quality metrics into the cached ``feats``, on ``feats_future``)
        and global pass 1 (all constraint stats + min/max, one shuffle,
        on ``stat_future``). ``submit(fn, *args)`` runs a further pass
        on run()'s driver thread pool and returns its future.

        While the decode runs, this thread builds the run's invariants:
        the schema check and the one projection of ``feats`` that the
        driver collects (_decoded_projection). Once pass 1 has given
        the partition list, its exact row counts and the KS ranges, and
        the decode has filled the cache, ONE collect of that
        projection, under the
        ``suite_rows`` cap, feeds every decision that reads decoded
        rows, on a fresh and on a resumed run alike: the summary
        counts, the kdq tree builds and leaf counts, and the
        decode-integrity and quality counts. Over the cap each runs its
        one distributed pass. A suite with no decode collects the
        summary columns with its own bounded probe. Under the same gate
        the violation rows reach the driver too (_constraint_rows,
        _quality_verdicts) and _finish_partition writes them with no
        Spark job."""
        t0 = time.time()
        run_summary = bool(self.ks_cols or self.psi_col or self.hdm is not None)
        summary_in_feats = self._summary_in_decode()
        schema_result = self._schema_result(df)
        proj = (self._decoded_projection(feats, summary_in_feats)
                if feats is not None else None)

        # pass 1's groups are the partitions to validate; on a fresh
        # run the first one's min/max are the KS reference ranges, a
        # resumed run bins against the stored reference ranges
        stat_rows = stat_future.result()
        stats_by = {str(r[self.partition_col]): r.asDict() for r in stat_rows}
        todo = self._sorted_keys(r[self.partition_col] for r in stat_rows)
        if not todo:  # every partition is done: the decode ran over no rows
            if feats_future is not None:
                feats_future.result()
            return
        if self._ks_ref:
            ranges = {c: (self._ks_ref[c]["lo"], self._ks_ref[c]["hi"])
                      for c in self.ks_cols}
        else:
            ranges = {c: (stats_by[todo[0]][f"__mm_lo_{c}"],
                          stats_by[todo[0]][f"__mm_hi_{c}"])
                      for c in self.ks_cols}
        if summary_in_feats:
            proj = self._with_ks_bins(proj, ranges)
        probe = (self._summary_probe(scoped, ranges)
                 if run_summary and feats is None else None)
        # the decoded frame holds one row per scoped row, and every
        # violation check reads at most one row per scoped row, so pass
        # 1's exact counts gate the decoded collect and the driver's
        # violation rows. The constraint rows are collected now, under
        # the decode
        bounded = sum(int(stats_by[pk]["__n"]) for pk in todo
                      ) <= DRIVER_ROW_CAPS["suite_rows"]
        crows_future = (submit(self._constraint_rows, df, scoped, todo, stats_by)
                        if bounded else None)
        collect = proj is not None and bounded
        summary_from_pdf = collect and summary_in_feats

        # global pass 2: KS histograms + PSI frequencies + HDM
        # distinct-value summaries for every partition, from a bounded
        # collect or ONE exploded grouped count. The sequential HDM
        # updates then run driver-side on the collected summaries —
        # zero Spark jobs per partition, keeping the suite's job count
        # O(1) in the partition count. The exploded pass runs here,
        # while the decode is in flight.
        kspsi_by: dict = {}
        hdm_sum_by: dict = {}
        if run_summary and not summary_from_pdf:
            kspsi_by, hdm_sum_by = self._global_summary_pass(scoped, todo, ranges, probe)

        # global pass 3 (the only pandas stage): decode + features +
        # quality metrics for ALL partitions, already running on the
        # background thread — join it before any feats-dependent action
        # so the cache is never materialized twice concurrently
        if feats_future is not None:
            feats_future.result()
        pdf = proj.toPandas() if collect else None
        if summary_from_pdf:
            kspsi_by, hdm_sum_by = self._global_summary_pass(scoped, todo, ranges, pdf)
        # without the collect, the quality-count aggregation runs on the
        # driver thread pool WHILE the kdq build-sample collect +
        # leaf-count job run, so the two jobs back-fill each other's
        # idle slots
        qcounts_by: dict = {}
        qcounts_future = None
        flagged_by: dict = {}
        if pdf is not None:
            qcounts_by = self._quality_counts_by_part(feats, todo, pdf)
            qcols = [f"__q{i}" for i in range(len(self._quality_conds()))]
            flagged_by = {str(pk): g for pk, g in
                          pdf[pdf[qcols].any(axis=1)].groupby("__pk")}
        elif feats is not None:
            qcounts_future = submit(self._quality_counts_by_part, feats, todo)
        fcols = [f"f{i}" for i in range(audio.N_FEATURES)]
        # each partition's clean feature rows (__q0 is decode integrity)
        groups = self._kdq_groups = None if pdf is None or self.kdq is None else {
            str(g): sub[fcols].to_numpy(dtype=np.float64)
            for g, sub in pdf[~pdf["__q0"]].groupby("__pk")}

        def kdq_counts(tree, pks):
            # {partition: leaf counts} from the collected groups, else
            # from one grouped distributed pass
            if groups is None:
                pk_clean = feats.filter(_f0_clean()).withColumn(
                    "__pk", F.col(self.partition_col).cast("string"))
                return distributed_leaf_counts_by_group(pk_clean, "__pk", fcols, tree, pks)
            empty = np.empty((0, len(fcols)))
            return {pk: tree.fill_counts(groups.get(pk, empty)) for pk in pks}

        counts_by: dict = {}
        if self.kdq is not None:
            tree = self.kdq._tree  # restored from the checkpoint on a resumed run
            self._kdq_fresh_ref = tree is None
            if tree is None:
                tree = self._kdq_tree(df, feats, todo[0], todo, groups)
                self._kdq_ref_pk = todo[0]
            counts_by = kdq_counts(tree, todo)
            if self._kdq_fresh_ref:
                self.kdq.install_reference(tree, counts_by[todo[0]])
                self.kdq._input_cols = fcols
        if qcounts_future is not None:
            qcounts_by = qcounts_future.result()
        crows_by = crows_future.result() if crows_future is not None else None

        # sequential decision loop over collected summaries; a
        # partition's frame is built only where a check reads its rows
        for i, pk in enumerate(todo):
            t_pk = time.time() if i else t0  # first record absorbs global passes
            stats = stats_by[pk]
            n_rows = int(stats["__n"])
            fingerprint = {"n": n_rows, "key_hash": int(stats["__key_hash"] or 0)}
            is_ref = not self.manifest.records
            part_df = functools.cache(functools.partial(self._part_frame, df, pk))
            verdicts, violations = self._constraint_verdicts(pk, part_df, stats,
                                                             schema_result, crows_by)

            # HDM: test-side agg AND distinct-value summary both come
            # precomputed from the global passes, so the exact
            # re-binning semantics run driver-side with no per-batch job.
            # HDM reads rows only for the detect_batch == 1 half-split
            # and when the summary is over its cap.
            if self.hdm is not None:
                summary = hdm_sum_by.get(pk)
                hdm_df = (None if summary is not None and self.hdm.detect_batch != 1
                          else self._hdm_frame(part_df()))
                if is_ref:
                    self.hdm.set_reference(hdm_df, batch_id=pk,
                                           summary_values=summary)
                    verdicts.append(Verdict(pk, "hdddm", PASS, n_rows=n_rows,
                                            details={"role": "reference"}))
                else:
                    mm = {c: (stats[f"__mm_lo_{c}"], stats[f"__mm_hi_{c}"])
                          for c in self.hdm_cols}
                    state = self.hdm.update(hdm_df, batch_id=pk, precomputed=(n_rows, mm),
                                            summary_values=summary)
                    det = {}
                    if state == DRIFT and self.hdm.feature_info:
                        det["max_drift_feature"] = self.hdm.feature_info["max_drift_feature"]
                    verdicts.append(Verdict(
                        pk, "hdddm", DRIFT if state == DRIFT else PASS,
                        statistic=self.hdm.epsilon[-1] if self.hdm.epsilon else None,
                        threshold=self.hdm.beta, n_rows=n_rows, details=det,
                    ))

            # kdq: decisions on collected counts; a drift event rebuilds
            # the tree from the drifted partition and recounts it and
            # every partition not yet decided
            if self.kdq is not None:
                if self.kdq.drift_state == DRIFT:
                    ref_pk = self._kdq_ref_pk
                    tree = self._kdq_tree(df, feats, ref_pk, todo, groups)
                    recount = kdq_counts(
                        tree, ([ref_pk] if ref_pk in todo else []) + todo[i:])
                    counts_by.update(recount)
                    self.kdq.install_reference(tree, recount[ref_pk] if ref_pk in recount
                                               else distributed_leaf_counts(  # done in a prior run
                                                   self._kdq_clean_feats_for(df, feats, ref_pk, todo),
                                                   fcols, tree))
                if is_ref and self._kdq_fresh_ref and pk == self._kdq_ref_pk:
                    verdicts.append(Verdict(pk, "kdq_tree", PASS, n_rows=n_rows,
                                            details={"role": "reference"}))
                else:
                    state = self.kdq.observe_counts(counts_by[pk])
                    if state == DRIFT:
                        self._kdq_ref_pk = pk
                    verdicts.append(Verdict(pk, "kdq_tree", DRIFT if state == DRIFT else PASS,
                                            statistic=self.kdq.test_dist,
                                            threshold=self.kdq._critical_dist, n_rows=n_rows))

            if feats is not None:
                qv, qviol = self._quality_verdicts(
                    pk, feats, n_rows, qcounts_by[pk],
                    None if pdf is None else flagged_by.get(pk))
                verdicts.extend(qv)
                violations.extend(qviol)

            if self.ks_cols or self.psi_col:
                mat, freqs = kspsi_by.get(
                    pk, ({c: np.zeros(KS_BINS) for c in self.ks_cols}, {})
                )
                verdicts.extend(self._ks_psi_decide(pk, n_rows, is_ref, ranges, mat, freqs))

            self._finish_partition(pk, n_rows, fingerprint, verdicts, violations, t_pk,
                                   metrics=self._metrics_from_stats(stats))
