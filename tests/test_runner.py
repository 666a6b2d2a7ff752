"""End-to-end ValidationSuite tests on the drifted synthetic audio
table: drift checks fire on the injected partitions (FIXTURES.md §1
recipe), negative controls stay quiet, and a killed/resumed run
reproduces a byte-identical verdict table (north_rule)."""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from menelaus_spark import tables
from menelaus_spark.operators import histograms as H
from menelaus_spark.runner import ValidationSuite
from menelaus_spark.state import CheckpointManifest
from menelaus_spark.verdicts import DRIVER_ROW_CAPS


def _suite(spark, tmp_path, name, **kw):
    return ValidationSuite(
        spark,
        checkpoint_dir=str(tmp_path / name),
        expected_schema=tables.AUDIO_SCHEMA,
        null_rate_max={"transcript": 0.2},
        ranges={"dur_ms": (200, 3000)},
        accepted_values={"codec": ["pcm", "opus", "mp3", "aac", "flac"]},
        kdq_params={"count_ubound": 20, "bootstrap_samples": 100},
        **kw,
    )


@pytest.fixture(scope="module")
def audio_df(spark, tmp_path_factory):
    # 200 rows/partition: enough that PSI sampling noise on the rare
    # Zipf-tail codecs stays well under the 0.2 threshold on the
    # negative-control partitions
    path = str(tmp_path_factory.mktemp("audio") / "table")
    tables.write_audio_table(
        tables.audio_table(spark, n_rows=2000, n_parts=10, null_frac=0.02), path
    )
    return spark.read.parquet(path)


def _by_check(verdicts):
    out = {}
    for r in verdicts:
        out[(r["partition_key"], r["check_name"])] = r
    return out


def test_full_suite_drift_detection(spark, tmp_path, audio_df):
    suite = _suite(spark, tmp_path, "full")
    verdicts_df, violations_df = suite.run(audio_df)
    rows = [r.asDict(recursive=True) for r in verdicts_df.collect()]
    v = _by_check(rows)

    # schema + constraints pass everywhere
    for pk in map(str, range(10)):
        assert v[(pk, "schema")]["state"] == "pass"
        assert v[(pk, "range:dur_ms")]["state"] == "pass"
        assert v[(pk, "unique:clip_id")]["state"] == "pass"

    # injected drift partitions (tables.default_drift_spec):
    assert v[("5", "ks:dur_ms")]["state"] == "drift"       # dur_ms mean shift
    assert v[("6", "psi:codec")]["state"] == "drift"       # codec reshuffle
    assert v[("7", "kdq_tree")]["state"] == "drift"        # 50x noise in PCM

    # drift localization: the KS verdict names the bin interval of the
    # largest CDF gap (an upward dur_ms mean shift -> gap peaks INSIDE
    # the range, in dur_ms units), the PSI verdict the top category
    ks_blame = v[("5", "ks:dur_ms")]["details"]
    assert {"top_bin", "bin_lo", "bin_hi", "cdf_gap"} <= set(ks_blame)
    assert 200.0 <= float(ks_blame["bin_lo"]) < float(ks_blame["bin_hi"]) <= 3000.0
    assert abs(float(ks_blame["cdf_gap"])) > 0.1
    psi_blame = v[("6", "psi:codec")]["details"]
    assert psi_blame["top_category"] in {"pcm", "opus", "mp3", "aac", "flac"}
    assert float(psi_blame["contribution"]) > 0.0
    # quiet verdicts carry no blame
    assert v[("1", "ks:dur_ms")]["details"] == {}

    # negative controls: KS/PSI quiet on unchanged partitions
    for pk in ("1", "2", "3", "4", "8", "9"):
        assert v[(pk, "ks:dur_ms")]["state"] == "pass", pk
        assert v[(pk, "psi:codec")]["state"] == "pass", pk
    # no drift on non-shifted partitions before the injection point
    for pk in ("1", "2", "3", "4"):
        assert v[(pk, "kdq_tree")]["state"] == "pass", pk

    assert violations_df.count() == 0


def test_emd_drift_check(spark, tmp_path, audio_df):
    # Earth Mover's drift rides the SAME collected KS histograms (zero
    # extra passes): emd:dur_ms must flag the dur_mu_shift partition
    # and stay quiet on every control (measured: shifted 852 ms vs
    # controls 28-88 ms against the 150 ms threshold)
    suite = _suite(spark, tmp_path, "emd", kdq_features=False,
                   emd_cols=("dur_ms",), emd_threshold={"dur_ms": 150.0})
    verdicts_df, _ = suite.run(audio_df)
    v = _by_check([r.asDict(recursive=True) for r in verdicts_df.collect()])
    assert v[("5", "emd:dur_ms")]["state"] == "drift"
    assert v[("5", "emd:dur_ms")]["statistic"] > 500.0
    assert "bin_lo" in v[("5", "emd:dur_ms")]["details"]
    for pk in ("1", "2", "3", "4", "6", "7", "8", "9"):
        assert v[(pk, "emd:dur_ms")]["state"] == "pass", pk
    assert v[("0", "emd:dur_ms")]["details"] == {"role": "reference"}
    # EMD-only columns would need their own histogram pass — refused
    with pytest.raises(ValueError):
        _suite(spark, tmp_path, "emd_bad", emd_cols=("value",),
               emd_threshold=1.0)
    with pytest.raises(ValueError):
        _suite(spark, tmp_path, "emd_bad2", emd_cols=("dur_ms",))


def test_cvm_drift_check(spark, tmp_path, audio_df):
    # Cramer-von Mises rides the SAME collected KS histograms (zero
    # extra passes): pooled-weighted squared CDF gap, scale-free in
    # [0, 1]. cvm:dur_ms must flag the dur_mu_shift partition and stay
    # quiet on every control.
    suite = _suite(spark, tmp_path, "cvm", kdq_features=False,
                   cvm_cols=("dur_ms",), cvm_threshold={"dur_ms": 0.01})
    verdicts_df, _ = suite.run(audio_df)
    v = _by_check([r.asDict(recursive=True) for r in verdicts_df.collect()])
    assert v[("5", "cvm:dur_ms")]["state"] == "drift"
    assert 0.0 < v[("5", "cvm:dur_ms")]["statistic"] <= 1.0
    assert "bin_lo" in v[("5", "cvm:dur_ms")]["details"]
    for pk in ("1", "2", "3", "4", "6", "7", "8", "9"):
        assert v[(pk, "cvm:dur_ms")]["state"] == "pass", pk
        assert v[(pk, "cvm:dur_ms")]["statistic"] < 0.005, pk
    assert v[("0", "cvm:dur_ms")]["details"] == {"role": "reference"}
    # CvM-only columns would need their own histogram pass — refused
    with pytest.raises(ValueError):
        _suite(spark, tmp_path, "cvm_bad", cvm_cols=("value",),
               cvm_threshold=1.0)
    with pytest.raises(ValueError):
        _suite(spark, tmp_path, "cvm_bad2", cvm_cols=("dur_ms",))


def test_chisq_drift_check(spark, tmp_path, audio_df):
    # chi-squared homogeneity rides the SAME collected PSI category
    # frequencies (zero extra passes): chisq:codec must flag the codec
    # reshuffle partition at a principled alpha-level threshold. Alpha
    # is Bonferroni-tight (0.001) so the 9 independent control
    # partitions stay quiet against sampling noise.
    suite = _suite(spark, tmp_path, "chisq", kdq_features=False,
                   chisq_alpha=0.001)
    verdicts_df, _ = suite.run(audio_df)
    v = _by_check([r.asDict(recursive=True) for r in verdicts_df.collect()])
    assert v[("6", "chisq:codec")]["state"] == "drift"
    assert v[("6", "chisq:codec")]["statistic"] > v[("6", "chisq:codec")]["threshold"]
    assert v[("6", "chisq:codec")]["details"]["alpha"] == "0.001"
    assert v[("6", "chisq:codec")]["details"]["top_category"] in {
        "pcm", "opus", "mp3", "aac", "flac"}
    for pk in ("1", "2", "3", "4", "5", "7", "8", "9"):
        assert v[(pk, "chisq:codec")]["state"] == "pass", pk
    assert v[("0", "chisq:codec")]["details"] == {"role": "reference"}
    # the test needs the frequency pass: refused without psi_col
    with pytest.raises(ValueError):
        _suite(spark, tmp_path, "chisq_bad", psi_col=None, chisq_alpha=0.05)
    with pytest.raises(ValueError):
        _suite(spark, tmp_path, "chisq_bad2", chisq_alpha=1.5)


def test_hotkey_check(spark, tmp_path):
    # heavy-hitter ceiling on a HIGH-CARDINALITY column: a partition
    # flooded with one boilerplate transcript fails hotkey:transcript;
    # organic partitions (random word sequences) stay far below the
    # ceiling. Deterministic, so it is recomputed per run like the
    # global uniqueness check — a resumed table yields identical rows.
    df = tables.audio_table(spark, n_rows=800, n_parts=4,
                            drift={2: {"boilerplate_frac": 0.7}})
    suite = _suite(spark, tmp_path, "hotkey", kdq_features=False,
                   hot_key_max_frac={"transcript": 0.5})
    verdicts_df, _ = suite.run(df)
    v = _by_check([r.asDict(recursive=True) for r in verdicts_df.collect()])
    assert v[("2", "hotkey:transcript")]["state"] == "fail"
    assert v[("2", "hotkey:transcript")]["statistic"] > 0.5
    assert v[("2", "hotkey:transcript")]["details"]["top_key"] == \
        "thank you for watching"
    for pk in ("0", "1", "3"):
        assert v[(pk, "hotkey:transcript")]["state"] == "pass", pk
        assert v[(pk, "hotkey:transcript")]["statistic"] < 0.2, pk


def test_entropy_floor_check(spark, tmp_path, audio_df):
    # entropy floor rides the SAME collected PSI frequencies: a
    # partition whose codec distribution COLLAPSES to one value fails
    # even though 'pcm' is an accepted value and appears in the
    # reference (accepted_values and PSI-vs-new-category are blind to
    # pure collapse). Partition 8 is forced single-codec.
    df = audio_df.withColumn(
        "codec", F.when(F.col("part") == 8, F.lit("pcm")).otherwise(F.col("codec")))
    suite = _suite(spark, tmp_path, "entropy", kdq_features=False,
                   entropy_min=0.5)
    verdicts_df, _ = suite.run(df)
    v = _by_check([r.asDict(recursive=True) for r in verdicts_df.collect()])
    assert v[("8", "entropy:codec")]["state"] == "fail"
    assert v[("8", "entropy:codec")]["statistic"] == 0.0
    assert v[("8", "entropy:codec")]["details"]["n_categories"] == "1"
    # every other partition (including the reference) is checked + quiet
    for pk in ("0", "1", "2", "3", "4", "5", "6", "7", "9"):
        assert v[(pk, "entropy:codec")]["state"] == "pass", pk
        assert v[(pk, "entropy:codec")]["statistic"] > 0.5, pk
    # needs the frequency pass: refused without psi_col
    with pytest.raises(ValueError):
        _suite(spark, tmp_path, "entropy_bad", psi_col=None, entropy_min=0.5)


def test_resume_byte_identical(spark, tmp_path, audio_df):
    # single-shot run
    s_full = _suite(spark, tmp_path, "oneshot")
    full_v, _ = s_full.run(audio_df)
    full_rows = sorted(json.dumps(r.asDict(recursive=True), sort_keys=True) for r in full_v.collect())

    # "killed" run: first 4 partitions only
    s_a = _suite(spark, tmp_path, "resumable")
    s_a.run(audio_df.filter(F.col("part") < 4))
    # resumed run in a NEW suite instance over the full table
    s_b = _suite(spark, tmp_path, "resumable")
    resumed_v, _ = s_b.run(audio_df)
    resumed_rows = sorted(
        json.dumps(r.asDict(recursive=True), sort_keys=True) for r in resumed_v.collect()
    )
    assert resumed_rows == full_rows
    # resumed run only processed the unvisited partitions
    assert s_b.manifest.records[3]["partition_key"] == "3"
    assert len(s_b.manifest.records) == 10
    # lineage fingerprints recorded per partition
    assert all("fingerprint" in r and r["fingerprint"]["n"] > 0 for r in s_b.manifest.records)


def test_violations_surface(spark, tmp_path):
    df = spark.createDataFrame(
        tables.audio_table(
            spark, n_rows=200, n_parts=2, dup_frac=0.05, null_frac=0.5, drift={}
        ).toPandas()
    )
    suite = _suite(spark, tmp_path, "viol", kdq_features=False)
    verdicts_df, violations_df = suite.run(df)
    v = _by_check([r.asDict(recursive=True) for r in verdicts_df.collect()])
    assert v[("0", "null_rate:transcript")]["state"] == "fail"
    assert v[("0", "unique:clip_id")]["state"] == "fail"
    assert violations_df.filter(F.col("check_name") == "unique:clip_id").count() > 0
    # the driver-written rows equal the Spark-written ones of cap 0
    with pytest.MonkeyPatch.context() as m:
        m.setitem(DRIVER_ROW_CAPS, "suite_rows", 0)
        _, dist = _suite(spark, tmp_path, "viol_cap0", kdq_features=False).run(df)
    assert _violation_rows(violations_df) == _violation_rows(dist)


def test_referential_check(spark, tmp_path):
    df = spark.createDataFrame(
        tables.audio_table(spark, n_rows=200, n_parts=2, drift={}).toPandas()
    )
    trans = tables.transcripts_table(df, orphan_frac=0.2)
    suite = _suite(spark, tmp_path, "ref", kdq_features=False, referential=trans)
    verdicts_df, violations_df = suite.run(df)
    v = _by_check([r.asDict(recursive=True) for r in verdicts_df.collect()])
    assert v[("0", "referential:transcript")]["state"] == "fail"
    assert violations_df.filter(F.col("check_name") == "referential:transcript").count() > 10
    # one collect of the scope's orphans gives the per-partition counts
    # and rows of cap 0's one count and write per partition
    with pytest.MonkeyPatch.context() as m:
        m.setitem(DRIVER_ROW_CAPS, "suite_rows", 0)
        dist = _suite(spark, tmp_path, "ref_cap0", kdq_features=False, referential=trans)
        _, dist_violations = dist.run(df)
    assert _manifest_rows(suite) == _manifest_rows(dist)
    assert _violation_rows(violations_df) == _violation_rows(dist_violations)


def test_hdm_past_cap_fallback_identical(spark, tmp_path, audio_df, monkeypatch):
    # an hdm_values cap of 0 makes the global summary pass refuse to carry
    # HDM values to the driver (runner falls back to HDDDM's own
    # per-batch summary jobs, which themselves spill to cluster mode);
    # verdicts must be identical to the default driver-path run
    with monkeypatch.context() as m:
        m.setitem(DRIVER_ROW_CAPS, "hdm_values", 0)
        s_cap = _suite(spark, tmp_path, "capped")
        c_rows, _ = s_cap.run(audio_df)
        assert s_cap.hdm._ref_summary["mode"] == "cluster"  # spill branch ran
    s_def = _suite(spark, tmp_path, "uncapped")
    d_rows, _ = s_def.run(audio_df)
    c = sorted(json.dumps(r.asDict(recursive=True), sort_keys=True) for r in c_rows.collect())
    d = sorted(json.dumps(r.asDict(recursive=True), sort_keys=True) for r in d_rows.collect())
    assert c == d


_AUDIO_DEPTH_DRIFT = {
    1: {"gain": 8.0},              # saturates the int16 encode -> clipping
    2: {"silence_frac": 0.5},      # half the clips become digital silence
    3: {"words_per_s": 40.0},      # transcript rate far above speech
    4: {"pad_bytes": 4096},        # payload inconsistent with (sr, dur)
    5: {"upsample_from": 2000},    # spectrum empty above 1 kHz -> bandwidth
    6: {"dc_offset": 0.2},         # broken-ADC bias, no clipping (0.6 < 1)
}
_AUDIO_DEPTH_KW = dict(
    cps_bounds=(1.0, 60.0),
    payload_tol=0.02,
    quality_rules={"clip_rate_max": 0.05, "silence_ratio_max": 0.9,
                   "min_band_ratio": 0.01, "dc_offset_max": 0.05,
                   "crest_min_db": 1.5},
)


@pytest.fixture(scope="module")
def depth_df(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("audio_depth") / "table")
    tables.write_audio_table(
        tables.audio_table(spark, n_rows=700, n_parts=7, drift=_AUDIO_DEPTH_DRIFT),
        path,
    )
    return spark.read.parquet(path)


def test_audio_depth_checks(spark, tmp_path, depth_df):
    suite = _suite(spark, tmp_path, "adepth", **_AUDIO_DEPTH_KW)
    verdicts_df, violations_df = suite.run(depth_df)
    v = _by_check([r.asDict(recursive=True) for r in verdicts_df.collect()])

    for name in ("audio_clipping", "audio_silence", "transcript_rate",
                 "payload_size", "audio_bandwidth", "audio_dc_offset",
                 "audio_crest"):
        assert v[("0", name)]["state"] == "pass", name  # clean partition
    assert v[("1", "audio_clipping")]["state"] == "fail"
    # hard saturation ALSO collapses the crest factor toward 0 dB —
    # the two checks see the same physical fault from different sides
    assert v[("1", "audio_crest")]["state"] == "fail"
    assert v[("2", "audio_silence")]["state"] == "fail"
    # the crest guard exempts ALL-silent clips (reported crest 0) —
    # they belong to audio_silence, and the half-silent partition's
    # voiced clips have normal crest
    assert v[("2", "audio_crest")]["state"] == "pass"
    assert v[("3", "transcript_rate")]["state"] == "fail"
    assert v[("4", "payload_size")]["state"] == "fail"
    assert v[("5", "audio_bandwidth")]["state"] == "fail"
    assert v[("5", "audio_clipping")]["state"] == "pass"
    assert v[("5", "decode_integrity")]["state"] == "pass"
    # DC bias: inaudible to every other check (no clipping at 0.6 FS,
    # frames not silent), caught only by the signed-mean metric
    assert v[("6", "audio_dc_offset")]["state"] == "fail"
    assert v[("6", "audio_clipping")]["state"] == "pass"
    assert v[("6", "audio_silence")]["state"] == "pass"
    # faults don't cross-contaminate other checks
    assert v[("4", "decode_integrity")]["state"] == "pass"  # padding still decodes
    assert v[("1", "audio_silence")]["state"] == "pass"
    assert v[("3", "payload_size")]["state"] == "pass"
    assert v[("5", "audio_dc_offset")]["state"] == "pass"

    # violation rows carry clip ids + metric values, one reason each
    by_reason = {
        r["check_name"]: r["n"]
        for r in violations_df.groupBy("check_name").agg(F.count("*").alias("n")).collect()
    }
    assert by_reason["audio_clipping"] >= 90        # whole partition clipped
    assert 20 <= by_reason["audio_silence"] <= 80   # ~half the clips
    assert by_reason["transcript_rate"] >= 90
    assert by_reason["payload_size"] == 100
    # near-Nyquist tones at the low rate leave interpolation harmonics
    # in the upper bands, so a tail of upsampled clips sits above the
    # threshold — the check is statistical per clip, deterministic for
    # this seeded fixture; the PARTITION verdict needs only one hit
    assert 80 <= by_reason["audio_bandwidth"] <= 100
    assert by_reason["audio_dc_offset"] >= 90       # whole partition biased
    assert by_reason["audio_crest"] >= 90           # whole partition limited
    row = violations_df.filter(F.col("check_name") == "payload_size").first()
    assert int(row["details"]["value"]) > 4096  # value = payload byte length


def test_payload_fallback_without_decode_pass(spark, tmp_path, depth_df):
    # no kdq features, no quality rules -> length(bytes) rides the
    # fused constraint aggregation instead of the decode pass, with
    # identical statistics
    suite = _suite(spark, tmp_path, "payfb", kdq_features=False, payload_tol=0.02)
    assert not suite._payload_in_decode()
    verdicts_df, violations_df = suite.run(depth_df)
    v = _by_check([r.asDict(recursive=True) for r in verdicts_df.collect()])
    assert v[("4", "payload_size")]["state"] == "fail"
    assert v[("4", "payload_size")]["statistic"] == 100.0
    assert v[("0", "payload_size")]["state"] == "pass"

    s_dec = _suite(spark, tmp_path, "paydec", **_AUDIO_DEPTH_KW)
    assert s_dec._payload_in_decode()
    d_rows, _ = s_dec.run(depth_df)
    d = _by_check([r.asDict(recursive=True) for r in d_rows.collect()])
    for pk in map(str, range(6)):
        assert (d[(pk, "payload_size")]["statistic"]
                == v[(pk, "payload_size")]["statistic"])


def test_decode_failure_rows_flow_through_suite(spark, tmp_path):
    """Decode failures reach Spark as NULL feature rows (the Arrow
    boundary maps pandas NaN to null) — regression test for the
    null-robust _f0_clean/_f0_bad predicates: a NULL payload in the
    REFERENCE partition must not crash the kdq tree build, and
    undecodable clips must fail decode_integrity with violation rows."""
    pdf = tables.audio_table(spark, n_rows=200, n_parts=2, drift={}).toPandas()
    pdf.loc[0, "bytes"] = None                    # NULL payload, ref partition
    idx = pdf[pdf["part"] == 1].index[:5]
    pdf.loc[idx, "bytes"] = b"corrupt-not-a-wav"  # undecodable, partition 1
    df = spark.createDataFrame(pdf)

    suite = _suite(spark, tmp_path, "decfail",
                   quality_rules={"clip_rate_max": 0.05}, payload_tol=0.02)
    v, viol = suite.run(df)
    r = {(x["partition_key"], x["check_name"]): x for x in v.collect()}
    assert (
        r[("0", "decode_integrity")]["state"],
        r[("0", "decode_integrity")]["statistic"],
        r[("1", "decode_integrity")]["statistic"],
        r[("1", "payload_size")]["statistic"],
        viol.filter(F.col("check_name") == "decode_integrity").count(),
    ) == ("fail", 1.0, 5.0, 5.0, 6)


def test_decode_integrity_without_kdq(spark, tmp_path):
    """ADVICE r03: with quality_rules set but kdq disabled, the decode
    pass still runs — undecodable clips (excluded from every quality
    condition by _f0_clean) must get a decode_integrity verdict of
    their own instead of silently passing the suite."""
    pdf = tables.audio_table(spark, n_rows=200, n_parts=2, drift={}).toPandas()
    idx = pdf[pdf["part"] == 1].index[:4]
    pdf.loc[idx, "bytes"] = b"corrupt-not-a-wav"
    df = spark.createDataFrame(pdf)

    suite = _suite(spark, tmp_path, "nokdq", kdq_features=False,
                   quality_rules={"clip_rate_max": 0.05})
    assert suite.kdq is None and suite._quality_active()
    v, viol = suite.run(df)
    r = {(x["partition_key"], x["check_name"]): x for x in v.collect()}
    assert (
        r[("0", "decode_integrity")]["state"],
        r[("1", "decode_integrity")]["state"],
        r[("1", "decode_integrity")]["statistic"],
        viol.filter(F.col("check_name") == "decode_integrity").count(),
    ) == ("pass", "fail", 4.0, 4)


def test_payload_codec_gate(spark, tmp_path):
    """ADVICE r03: payload_expected_and_tol models the PCM16-WAV
    container; with payload_codecs=("pcm",) only pcm-labeled rows are
    checked, so compressed-codec rows with padded payloads are not
    flagged — identically in the fallback (no decode) and decode-pass
    paths."""
    df = tables.audio_table(spark, n_rows=200, n_parts=2,
                            drift={1: {"pad_bytes": 4096}}, null_frac=0.0)
    n_pcm_bad = df.filter((F.col("part") == 1) & (F.col("codec") == "pcm")).count()
    assert 0 < n_pcm_bad < 100  # gate must actually exclude something

    stats = {}
    # fallback path (no decode pass at all) and decode-pass path
    for name, kw in [
        ("gate_fb", dict(kdq_features=False)),
        ("gate_dec", dict(kdq_features=False,
                          quality_rules={"clip_rate_max": 0.05})),
    ]:
        suite = _suite(spark, tmp_path, name, payload_tol=0.02,
                       payload_codecs=("pcm",), **kw)
        v, viol = suite.run(df)
        r = {(x["partition_key"], x["check_name"]): x for x in v.collect()}
        stats[name] = (r[("1", "payload_size")]["statistic"],
                       viol.filter(F.col("check_name") == "payload_size").count())
    assert stats["gate_fb"] == stats["gate_dec"] == (float(n_pcm_bad), n_pcm_bad)


def test_neardup_rate_check(spark, tmp_path):
    # 80 clips, every 8th a mechanical copy -> 20/80 = 25% of clips are
    # near-dup members; threshold 0.05 must FAIL with that statistic,
    # and a clean table must PASS
    path = str(tmp_path / "ndtab")
    tables.write_audio_table(
        tables.audio_table(spark, n_rows=80, n_parts=2, drift={},
                           neardup_frac=0.125, null_frac=0.0),
        path,
    )
    df = spark.read.parquet(path)
    suite = _suite(spark, tmp_path, "nd1", kdq_features=False,
                   neardup_rate_max=0.05)
    verdicts, _ = suite.run(df)
    row = verdicts.filter(F.col("check_name") == "neardup:payload").collect()
    assert len(row) == 1 and row[0]["state"] == "fail"
    assert row[0]["partition_key"] == "__global__"
    # the shingle path sees the bit-exact copy classes: gain-mode dups
    # (equal sr with their source); resample-mode dups are the
    # transcript-blocked path's job and don't count here
    srs = {r.clip_id: r.sr_hz for r in df.select("clip_id", "sr_hz").collect()}
    gain_pairs = [
        i for i in range(80)
        if i % 8 == 7 and srs[f"clip_{i:012d}"] == srs[f"clip_{i - 1:012d}"]
    ]
    assert gain_pairs
    assert abs(row[0]["statistic"] - 2 * len(gain_pairs) / 80) < 1e-9
    # cluster-resolution verdict: every detected pair is its own
    # 2-clique, so removable = members/2 and max cluster size = 2
    crow = verdicts.filter(F.col("check_name") == "neardup:clusters").collect()
    assert len(crow) == 1 and crow[0]["state"] == "fail"
    assert abs(crow[0]["statistic"] - len(gain_pairs) / 80) < 1e-9
    assert crow[0]["details"]["n_clusters"] == str(len(gain_pairs))
    assert crow[0]["details"]["max_cluster_size"] == "2"

    clean_path = str(tmp_path / "ndclean")
    tables.write_audio_table(
        tables.audio_table(spark, n_rows=80, n_parts=2, drift={},
                           null_frac=0.0),
        clean_path,
    )
    suite2 = _suite(spark, tmp_path, "nd2", kdq_features=False,
                    neardup_rate_max=0.05)
    verdicts2, _ = suite2.run(spark.read.parquet(clean_path))
    row2 = verdicts2.filter(F.col("check_name") == "neardup:payload").collect()
    assert len(row2) == 1 and row2[0]["state"] == "pass"
    assert row2[0]["statistic"] == 0.0
    crow2 = verdicts2.filter(F.col("check_name") == "neardup:clusters").collect()
    assert len(crow2) == 1 and crow2[0]["state"] == "pass"
    assert crow2[0]["statistic"] == 0.0


def test_suite_all_corrupt_partition_and_empty_partition(spark, tmp_path):
    # 10^12-row realism: a partition can be ENTIRELY damaged payloads,
    # and a partition key can exist with zero rows. Neither may crash
    # the suite; the all-corrupt partition must fail decode_integrity
    # while its metadata-only checks still evaluate.
    import pandas as pd

    from menelaus_spark import tables
    from menelaus_spark.runner import ValidationSuite

    df = tables.audio_table(spark, n_rows=120, n_parts=3, null_frac=0.0,
                            drift={2: {"corrupt_frac": 1.1}})  # > 1 -> every row
    pdf = df.toPandas()
    # drop every part-1 row AFTER generation: the partition directory
    # vanishes, modeling a key gap in the partition axis
    pdf = pdf[pdf["part"] != 1]
    path = str(tmp_path / "tbl")
    spark.createDataFrame(pdf, schema=tables.AUDIO_SCHEMA) \
        .write.partitionBy("part").parquet(path)
    suite = ValidationSuite(
        spark, str(tmp_path / "ckpt"),
        expected_schema=tables.AUDIO_SCHEMA,
        ranges={"dur_ms": (200, 3000)},
        kdq_params={"count_ubound": 20, "bootstrap_samples": 50},
        payload_tol=0.02,
        quality_rules={"clip_rate_max": 0.05, "silence_ratio_max": 0.9},
    )
    verdicts, violations = suite.run(spark.read.parquet(path))
    v = {(r["partition_key"], r["check_name"]): r["state"]
         for r in verdicts.collect()}
    assert v[("2", "decode_integrity")] == "fail"
    assert v[("2", "range:dur_ms")] == "pass"  # metadata checks survive
    assert v[("0", "decode_integrity")] == "pass"
    # the missing partition simply contributes no verdicts
    assert not any(pk == "1" for pk, _ck in v)
    # every damaged clip surfaces as a violation row
    n_bad = int((violations.filter("check_name = 'decode_integrity'")
                 .count()))
    assert n_bad == int((pdf["part"] == 2).sum())


def test_lineage_verification_on_resume(spark, tmp_path):
    # a replayed partition whose data changed under the checkpoint must
    # be flagged, not silently trusted: verify_lineage re-fingerprints
    # completed partitions (one key-column-only aggregation) against
    # the manifest's recorded lineage
    df = spark.createDataFrame(
        tables.audio_table(spark, n_rows=240, n_parts=6, drift={}).toPandas()
    )

    def s(name):
        return _suite(spark, tmp_path, name, kdq_features=False)

    shared = s("lin")
    shared.run(df.filter(F.col("part") < 3))  # "killed" after 3 parts

    # tamper part 1: rewrite some keys (count unchanged, hash changes)
    tampered = df.withColumn(
        "clip_id",
        F.when((F.col("part") == 1) & F.col("clip_id").endswith("1"),
               F.concat(F.col("clip_id"), F.lit("_x")))
        .otherwise(F.col("clip_id")))
    v, _ = s("lin").run(tampered, verify_lineage=True)
    states = {(r["partition_key"], r["check_name"]): r
              for r in v.collect() if r["check_name"] == "lineage"}
    # lineage rows for REPLAYED partitions only; fail exactly on the tamper
    assert set(states) == {(pk, "lineage") for pk in ("0", "1", "2")}
    assert states[("1", "lineage")]["state"] == "fail"
    assert states[("0", "lineage")]["state"] == "pass"
    assert states[("2", "lineage")]["state"] == "pass"
    det = states[("1", "lineage")]["details"]
    assert det["expected_n"] == det["found_n"] == "40"  # keys, not counts
    assert det["expected_key_hash"] != det["found_key_hash"]

    # all partitions now complete: a VANISHED partition also fails
    v2, _ = s("lin").run(tampered.filter(F.col("part") != 2),
                         verify_lineage=True)
    states2 = {r["partition_key"]: r for r in v2.collect()
               if r["check_name"] == "lineage"}
    assert set(states2) == set(map(str, range(6)))
    assert states2["2"]["state"] == "fail"
    assert states2["2"]["details"]["found_n"] == "0"
    assert states2["1"]["state"] == "fail"
    for pk in ("0", "3", "4", "5"):
        assert states2[pk]["state"] == "pass", pk

    # default off: verdict table carries no lineage rows (byte-identity
    # of every pre-existing configuration)
    v3, _ = s("lin").run(tampered)
    assert v3.filter("check_name = 'lineage'").count() == 0


_META_RULES = {"sr": True, "dur_tol_ms": 5.0,
               "codec_tags": {"pcm": 1, "ulaw": 7, "alaw": 6, "adpcm": 17}}
_META_DRIFT = {4: {"meta_lie_frac": 0.4}}


def _meta_suite(spark, tmp_path, name, **kw):
    from menelaus_spark import audio

    return ValidationSuite(
        spark, str(tmp_path / name),
        expected_schema=tables.AUDIO_SCHEMA,
        ranges={"dur_ms": (100, 8000)},  # lies double dur_ms: keep range quiet
        kdq_features=False,
        payload_tol=0.02,
        payload_bps={"ulaw": 1.0, "alaw": 1.0,
                     "adpcm": audio.ADPCM_PAYLOAD_MODEL},
        meta_rules=_META_RULES,
        **kw,
    )


@pytest.fixture(scope="module")
def metalies_df(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("metalies") / "table")
    tables.write_audio_table(
        tables.audio_table(spark, n_rows=240, n_parts=6, null_frac=0.0,
                           drift=_META_DRIFT, real_codecs="full"), path)
    return spark.read.parquet(path)


def test_metadata_consistency_check(spark, tmp_path, metalies_df):
    # lying metadata with intact payloads: compensated rate/duration
    # swaps keep the byte count unchanged (payload_size MUST stay
    # green — that's the check's reason to exist) and G.711 label
    # swaps keep bytes/sample equal; only the header-vs-claim check
    # fires, in exactly the lying partition
    import numpy as np

    from menelaus_spark import audio

    verdicts_df, violations_df = _meta_suite(spark, tmp_path, "meta").run(metalies_df)
    v = _by_check([r.asDict(recursive=True) for r in verdicts_df.collect()])
    for pk in map(str, range(6)):
        assert v[(pk, "payload_size")]["state"] == "pass", pk
        assert v[(pk, "decode_integrity")]["state"] == "pass", pk
        want = "fail" if pk == "4" else "pass"
        assert v[(pk, "metadata_consistency")]["state"] == want, pk

    # exact violation set from the same numpy kernel the Arrow pass runs
    pdf = tables._gen_rows(np.arange(240), 42, 6, 40, _META_DRIFT, 0.0, 0.0,
                           6.6, 0.5, (200, 3000), True, 0.0,
                           ("gain", "resample"), "full")
    feats = audio.features_for_batch(pdf["bytes"].tolist(),
                                     pdf["codec"].tolist(), header=True)
    h0 = audio.N_FEATURES
    hdr_sr, hdr_ms, hdr_tag = feats[:, h0], feats[:, h0 + 1], feats[:, h0 + 2]
    sr = pdf["sr_hz"].to_numpy(np.float64)
    dur = pdf["dur_ms"].to_numpy(np.float64)
    tags = _META_RULES["codec_tags"]
    exp = np.array([float(tags.get(c, np.nan)) for c in pdf["codec"]])
    ok = ~np.isnan(hdr_sr)
    sr_lie = ok & (hdr_sr != sr)
    dur_lie = ok & (np.abs(hdr_ms - dur) > 5.0)
    tag_lie = ok & ~np.isnan(exp) & (hdr_tag != exp)
    lies = sr_lie | dur_lie | tag_lie
    expect_ids = set(pdf["clip_id"][lies])
    got_ids = {r["row_key"] for r in violations_df.filter(
        "check_name = 'metadata_consistency'").collect()}
    assert got_ids == expect_ids and len(got_ids) >= 10
    # the fixture exercises a PURE label swap too: header rate and
    # duration agree with the claim, only the format tag lies — the
    # class neither payload_size nor any rate arithmetic can see
    assert bool((tag_lie & ~sr_lie & ~dur_lie).any())


def test_resume_byte_identical_codec_mixed_corrupt(spark, tmp_path):
    # resume byte-identity on the HARD input: three physical codecs AND
    # a damaged partition — the kill/resume path must reproduce the
    # one-shot verdict table bit-for-bit through tag-dispatch decode,
    # block-quantized payload modeling and NaN decode-integrity rows.
    import json as _json

    from menelaus_spark import audio as _audio
    from menelaus_spark.runner import ValidationSuite

    df = tables.audio_table(
        spark, n_rows=240, n_parts=6, null_frac=0.0,
        drift={3: {"meta_lie_frac": 0.3}, 4: {"corrupt_frac": 0.3}},
        real_codecs="full",
    ).persist()

    def suite(name):
        return ValidationSuite(
            spark, str(tmp_path / name),
            expected_schema=tables.AUDIO_SCHEMA,
            ranges={"dur_ms": (200, 3000)},
            kdq_params={"count_ubound": 20, "bootstrap_samples": 50},
            payload_tol=0.02,
            payload_bps={"ulaw": 1.0, "alaw": 1.0,
                         "adpcm": _audio.ADPCM_PAYLOAD_MODEL},
            quality_rules={"clip_rate_max": 0.05, "silence_ratio_max": 0.9},
            meta_rules=_META_RULES,
        )

    full_v, _ = suite("oneshot").run(df)
    full = sorted(_json.dumps(r.asDict(recursive=True), sort_keys=True)
                  for r in full_v.collect())
    suite("resumable").run(df.filter(F.col("part") < 3))  # "killed"
    resumed_v, _ = suite("resumable").run(df)
    resumed = sorted(_json.dumps(r.asDict(recursive=True), sort_keys=True)
                     for r in resumed_v.collect())
    assert resumed == full
    # the damaged + lying partitions' verdicts survived the resume
    # identically, each caught by its own check
    states = {(r["partition_key"], r["check_name"]): r["state"]
              for r in resumed_v.collect()}
    assert states[("4", "decode_integrity")] == "fail"
    assert states[("3", "metadata_consistency")] == "fail"
    assert states[("3", "decode_integrity")] == "pass"
    df.unpersist()


def test_uniqueness_sketch_screen_passes_clean(spark, tmp_path):
    df = spark.createDataFrame(
        tables.audio_table(spark, n_rows=400, n_parts=2, drift={}).toPandas()
    )
    suite = _suite(spark, tmp_path, "uniq_sketch_clean", kdq_features=False,
                   uniqueness_mode="sketch")
    verdicts_df, _ = suite.run(df)
    [r] = [r.asDict(recursive=True) for r in
           verdicts_df.filter(
               (F.col("partition_key") == "__global__")
               & (F.col("check_name") == "unique:clip_id")).collect()]
    assert r["state"] == "pass"
    assert r["details"]["mode"] == "sketch"  # screen ruled dups out, no exact pass
    est = float(r["details"]["est_distinct"])
    assert abs(est - 400) / 400 < 0.05  # p=12 -> ~1.6% standard error


def test_uniqueness_sketch_escalates_on_dups(spark, tmp_path):
    df = spark.createDataFrame(
        tables.audio_table(
            spark, n_rows=400, n_parts=2, dup_frac=0.2, drift={}
        ).toPandas()
    )
    exact = _suite(spark, tmp_path, "uniq_exact", kdq_features=False)
    sketch = _suite(spark, tmp_path, "uniq_sketch_dup", kdq_features=False,
                    uniqueness_mode="sketch")
    ve, _ = exact.run(df)
    vs, _ = sketch.run(df)

    def g(vdf):
        [r] = [r.asDict(recursive=True) for r in
               vdf.filter((F.col("partition_key") == "__global__")
                          & (F.col("check_name") == "unique:clip_id")).collect()]
        return r

    re_, rs = g(ve), g(vs)
    assert rs["state"] == "fail" and rs["details"]["mode"] == "sketch+exact"
    # escalated verdict carries the SAME exact dup count as exact mode
    assert rs["statistic"] == re_["statistic"] and rs["statistic"] > 0


def test_uniqueness_sketch_escalates_on_null_keys(spark, tmp_path):
    import pandas as pd

    base = tables.audio_table(spark, n_rows=200, n_parts=1, drift={}).toPandas()
    base.loc[base.index[:3], "clip_id"] = None
    df = spark.createDataFrame(base)
    suite = _suite(spark, tmp_path, "uniq_sketch_null", kdq_features=False,
                   uniqueness_mode="sketch")
    verdicts_df, _ = suite.run(df)
    [r] = [r.asDict(recursive=True) for r in
           verdicts_df.filter((F.col("partition_key") == "__global__")
                              & (F.col("check_name") == "unique:clip_id")).collect()]
    # null keys force the exact pass, which counts them as duplicates
    assert r["details"]["mode"] == "sketch+exact" and r["state"] == "fail"


def test_uniqueness_sketch_sidecars_resume(spark, tmp_path):
    """The sketch screen is checkpoint-resumable: per-partition
    register sidecars are written on the first run, a rerun scans 0
    partitions and reproduces the identical verdict, a deleted sidecar
    is recreated byte-identically, and a tampered sidecar changes the
    estimate (proving the merge reads sidecars, not the table)."""
    import json
    import os

    df = spark.createDataFrame(
        tables.audio_table(spark, n_rows=400, n_parts=4, drift={}).toPandas()
    )
    ck = tmp_path / "uniq_resume"

    def g(vdf):
        [r] = [r.asDict(recursive=True) for r in
               vdf.filter((F.col("partition_key") == "__global__")
                          & (F.col("check_name") == "unique:clip_id")).collect()]
        return r

    s1 = _suite(spark, ck, "a", kdq_features=False, uniqueness_mode="sketch")
    r1 = g(s1.run(df)[0])
    assert r1["state"] == "pass" and r1["details"]["partitions_scanned"] == "4"
    paths = [s1._sketch_path(str(i)) for i in range(4)]
    assert all(os.path.exists(p) for p in paths)

    # resumed run: all four sketches come from sidecars, verdict identical
    s2 = _suite(spark, ck, "a", kdq_features=False, uniqueness_mode="sketch")
    r2 = g(s2.run(df)[0])
    assert r2["details"]["partitions_scanned"] == "0"
    assert {k: v for k, v in r1.items() if k != "details"} == \
           {k: v for k, v in r2.items() if k != "details"}
    assert r1["details"]["est_distinct"] == r2["details"]["est_distinct"]

    # deleted sidecar -> only that partition rescanned, byte-identical file
    before = open(paths[2]).read()
    os.unlink(paths[2])
    s3 = _suite(spark, ck, "a", kdq_features=False, uniqueness_mode="sketch")
    r3 = g(s3.run(df)[0])
    assert r3["details"]["partitions_scanned"] == "1"
    assert open(paths[2]).read() == before
    assert r3["details"]["est_distinct"] == r1["details"]["est_distinct"]

    # tampered sidecar shifts the merged estimate -> the screen reads disk
    rec = json.loads(before)
    regs = bytearray(bytes.fromhex(rec["regs_hex"]))
    regs[0] = 48  # implausibly deep rho inflates the register
    rec["regs_hex"] = bytes(regs).hex()
    with open(paths[2], "w") as f:
        json.dump(rec, f, sort_keys=True)
    s4 = _suite(spark, ck, "a", kdq_features=False, uniqueness_mode="sketch")
    r4 = g(s4.run(df)[0])
    assert r4["details"]["est_distinct"] != r1["details"]["est_distinct"]


def test_uniqueness_sketch_sidecar_invalidated_by_changed_partition(spark, tmp_path):
    """A resumed run whose partition data changed must NOT reuse that
    partition's persisted sketch sidecar (ADVICE r05): the sidecar is
    pinned to the manifest's partition fingerprint and recomputed on
    mismatch."""
    import json as _json
    import os as _os

    df = spark.createDataFrame(
        tables.audio_table(spark, n_rows=400, n_parts=2, drift={}).toPandas()
    ).persist()
    suite = _suite(spark, tmp_path, "uniq_sketch_stale",
                   kdq_features=False, uniqueness_mode="sketch")
    suite.run(df)
    sdir = _os.path.join(suite.manifest.dir, "uniq_sketch")
    recs = {fn: _json.load(open(_os.path.join(sdir, fn)))
            for fn in _os.listdir(sdir) if fn.endswith(".json")}
    # every sidecar carries the manifest fingerprint it was built from
    assert all(r.get("fp") and "key_hash" in r["fp"] for r in recs.values())
    # simulate a rewritten partition underneath the checkpoint: poison
    # one sidecar's registers but keep its p — without the fingerprint
    # pin the stale registers would be merged silently
    fn0 = sorted(recs)[0]
    bad = dict(recs[fn0])
    bad["fp"] = {"n": -1, "key_hash": 0}
    with open(_os.path.join(sdir, fn0), "w") as f:
        _json.dump(bad, f)
    suite2 = _suite(spark, tmp_path, "uniq_sketch_stale",
                    kdq_features=False, uniqueness_mode="sketch")
    verdicts_df, _ = suite2.run(df)
    [r] = [x.asDict(recursive=True) for x in verdicts_df.filter(
        (F.col("partition_key") == "__global__")
        & (F.col("check_name") == "unique:clip_id")).collect()]
    # the mismatching partition was re-scanned (partitions_scanned >= 1)
    # and the verdict is the same clean PASS as a fresh run
    assert r["state"] == "pass" and r["details"]["mode"] == "sketch"
    assert int(r["details"]["partitions_scanned"]) >= 1
    # the rewritten sidecar is healed back to the true fingerprint
    healed = _json.load(open(_os.path.join(sdir, fn0)))
    assert healed["fp"] == recs[fn0]["fp"]
    df.unpersist()


def _manifest_rows(suite):
    return [json.dumps([r["verdicts"], r["n_violations"]], sort_keys=True)
            for r in suite.manifest.records]


def _check_kdq_fast_path(spark, tmp_path, df, make):
    s1 = make(spark, tmp_path, "spec")
    s1.run(df)
    # fast path actually engaged wherever kdq runs
    assert (s1._kdq_groups is not None) == (s1.kdq is not None)
    rows1 = _manifest_rows(s1)

    with pytest.MonkeyPatch.context() as m:
        m.setitem(DRIVER_ROW_CAPS, "suite_rows", 0)  # force the distributed chain
        s2 = make(spark, tmp_path, "dist")
        s2.run(df)
        assert s2._kdq_groups is None
        rows2 = _manifest_rows(s2)
    assert rows1 == rows2


def _check_summary_fast_path(spark, tmp_path, df, make):
    s1 = make(spark, tmp_path, "sum_fast")
    s1.run(df)
    rows1 = _manifest_rows(s1)

    with pytest.MonkeyPatch.context() as m:
        m.setitem(DRIVER_ROW_CAPS, "suite_rows", 0)  # force the exploded aggregation
        s2 = make(spark, tmp_path, "sum_dist")
        s2.run(df)
        rows2 = _manifest_rows(s2)
    assert rows1 == rows2


def test_kdq_driver_fast_path_matches_distributed(spark, tmp_path, audio_df):
    """The kdq small-table fast path (one Arrow collect + driver-side
    tree builds / leaf counts) must reproduce the distributed chain's
    verdict table byte-for-byte, including the drift-event rebuild
    sequence on the drifted fixture."""
    _check_kdq_fast_path(spark, tmp_path, audio_df, _suite)


def test_summary_driver_fast_path_matches_exploded(spark, tmp_path, audio_df):
    """The summary-pass driver fast path (bounded raw collect + numpy
    twin binning) must reproduce the exploded salted aggregation's
    verdict table byte-for-byte (KS histograms, PSI frequencies and
    HDM summaries)."""
    _check_summary_fast_path(spark, tmp_path, audio_df, _suite)


# (table fixture, suite builder) beyond the drifted audio table: the
# audio-depth quality fixture and the lying-metadata fixture, so every
# check family keeps a byte-equal comparison of the two plans
_FAST_PATH_CASES = {
    "depth": ("depth_df", lambda spark, tmp_path, name:
              _suite(spark, tmp_path, name, **_AUDIO_DEPTH_KW)),
    "meta": ("metalies_df", _meta_suite),
}


@pytest.mark.parametrize("case", list(_FAST_PATH_CASES))
def test_driver_fast_paths_match_distributed(spark, tmp_path, request, case):
    """Both driver fast paths (kdq and summary pass) reproduce their
    distributed plans' verdict tables on the quality and metadata
    fixtures."""
    fixture, make = _FAST_PATH_CASES[case]
    df = request.getfixturevalue(fixture)
    _check_kdq_fast_path(spark, tmp_path, df, make)
    _check_summary_fast_path(spark, tmp_path, df, make)


def _violation_rows(violations):
    return sorted(json.dumps(r.asDict(recursive=True), sort_keys=True)
                  for r in violations.collect())


def _spy(monkeypatch, owner, name, record):
    """Wrap ``owner.name`` so each call appends ``record(*args)`` to the
    returned list."""
    calls = []
    real = getattr(owner, name)

    def wrapped(*args, **kwargs):
        calls.append(record(*args, **kwargs))
        return real(*args, **kwargs)

    monkeypatch.setattr(owner, name, wrapped)
    return calls


def _collect_vs_cap0(spark, tmp_path, df, make, name, caps=(None, 0)):
    """(manifest rows, violation rows) of a run that collects the
    decoded frame, and of one with the ``suite_rows`` cap at 0, which
    runs every distributed pass; ``caps`` sets other caps (None keeps
    the table's)."""
    out = []
    for cap in caps:
        with pytest.MonkeyPatch.context() as m:
            if cap is not None:
                m.setitem(DRIVER_ROW_CAPS, "suite_rows", cap)
            s = make(spark, tmp_path, f"{name}_{cap}")
            _, violations = s.run(df)
            out.append((_manifest_rows(s), _violation_rows(violations)))
    return out


@pytest.fixture(scope="module")
def corrupt_df(spark, tmp_path_factory):
    # a third of partition 1's payloads are undecodable, some partition
    # 2 payloads are null (a null f0) and some of its durations are
    # null, which makes the payload-size predicate null
    path = str(tmp_path_factory.mktemp("audio_corrupt") / "table")
    df = tables.audio_table(spark, n_rows=300, n_parts=3, null_frac=0.0,
                            drift={1: {"corrupt_frac": 0.3}})
    in2 = F.col("part") == 2
    df = df.withColumn("bytes", F.when(in2 & F.col("clip_id").endswith("3"), None)
                       .otherwise(F.col("bytes")))
    df = df.withColumn("dur_ms", F.when(in2 & F.col("clip_id").endswith("7"), None)
                       .otherwise(F.col("dur_ms")))
    tables.write_audio_table(df, path)
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def ks_special_df(spark):
    # two double KS columns holding null, NaN, +inf and -inf: "score"
    # in partitions 1 and 2, "score0" in the reference partition 0,
    # whose min and max (-inf, NaN) then become the KS range
    specials = {"1": None, "3": float("nan"), "5": float("inf"), "7": float("-inf")}

    def score(parts):
        x = F.col("dur_ms") / 1000.0
        for digit, v in specials.items():
            x = F.when(F.col("part").isin(parts) & F.col("clip_id").endswith(digit),
                       F.lit(v).cast("double")).otherwise(x)
        return x

    df = tables.audio_table(spark, n_rows=300, n_parts=3, null_frac=0.0)
    return df.withColumn("score", score([1, 2])).withColumn("score0", score([0])).cache()


@pytest.fixture(scope="module")
def long_key_df(spark, tmp_path_factory):
    # 60 clips keyed by a long: partition 1 clips (audio_clipping) and
    # its clips whose string key ends in "3" break the dur_ms range
    path = str(tmp_path_factory.mktemp("audio_long_key") / "table")
    df = tables.audio_table(spark, n_rows=60, n_parts=3, null_frac=0.0,
                            drift={1: {"gain": 8.0}})
    df = df.withColumn("dur_ms", F.when(
        (F.col("part") == 1) & F.col("clip_id").endswith("3"), 5000)
        .otherwise(F.col("dur_ms")))
    tables.write_audio_table(df.withColumn("clip_id", F.xxhash64("clip_id")), path)
    return spark.read.parquet(path)


_COLLECT_CASES = {
    "drifted": ("audio_df", {}),
    "undecodable": ("corrupt_df", _AUDIO_DEPTH_KW),
    "quality_only": ("depth_df", dict(_AUDIO_DEPTH_KW, kdq_features=False)),
    # no decode: the summary pass's own probe is the collect
    "no_decode": ("audio_df", {"kdq_features": False}),
    "ks_special": ("ks_special_df", {"ks_cols": ("dur_ms", "score", "score0")}),
    # a non-string psi column, and no KS column to bin
    "psi_int": ("audio_df", {"psi_col": "sr_hz", "ks_cols": ()}),
    # violation keys are written as strings whatever the key's type
    "long_key": ("long_key_df", {"quality_rules": {"clip_rate_max": 0.05}}),
}


@pytest.mark.parametrize("case", list(_COLLECT_CASES))
def test_decoded_collect_matches_cap0(spark, tmp_path, request, monkeypatch, case):
    """One collect of the decoded frame feeds the summary, kdq, quality
    and decode-integrity decisions; its manifest and violation rows
    must equal, byte for byte, those of the distributed passes that run
    with the ``suite_rows`` cap at 0. Without a decode the summary
    probe is gated by the same cap."""
    fixture, kw = _COLLECT_CASES[case]
    df = request.getfixturevalue(fixture)
    summary_pdf = _spy(monkeypatch, ValidationSuite, "_global_summary_pass",
                       lambda self, summary, todo, pdf: pdf is not None)
    quality_pdf = _spy(monkeypatch, ValidationSuite, "_quality_counts_by_part",
                       lambda self, proj, pks, pdf=None: pdf is not None)
    # the suite_rows cap in force at each grouped count (the exploded
    # summary pass, the distributed kdq leaf counts, HDM's own summaries)
    counts_at_cap = _spy(monkeypatch, H, "salted_count",
                         lambda *a, **k: DRIVER_ROW_CAPS["suite_rows"])
    fast, dist = _collect_vs_cap0(
        spark, tmp_path, df, lambda sp, tp, name: _suite(sp, tp, name, **kw), case)
    assert fast == dist
    # the first run decided from the collect, the second from Spark jobs
    assert summary_pdf == [True, False]
    decodes = kw.get("kdq_features", True) or "quality_rules" in kw
    assert quality_pdf == ([True, False] if decodes else [])
    assert counts_at_cap and set(counts_at_cap) == {0}
    if case == "undecodable":
        states = {(v["partition_key"], v["check_name"]): v
                  for rec in fast[0] for v in json.loads(rec)[0]}
        bad = [states[(pk, "decode_integrity")]["statistic"] for pk in "012"]
        assert bad[0] == 0 and bad[1] > 0 and bad[2] > 0
        assert sum(json.loads(r)["check_name"] == "decode_integrity"
                   for r in fast[1]) == sum(bad)
    if case == "long_key":
        names = {json.loads(r)["check_name"] for r in fast[1]}
        assert {"range:dur_ms", "audio_clipping"} <= names
    if case == "ks_special":
        # the reference range skips NaN: its hi is no longer NaN
        for cap in (None, 0):
            rec = CheckpointManifest(str(tmp_path / f"{case}_{cap}")).records[0]
            ref = rec["check_states"]["ks_ref"]["score0"]
            assert not np.isnan([ref["lo"], ref["hi"]]).any()
            assert rec["metrics"]["mm_hi_score0"] == ref["hi"]


@pytest.mark.parametrize("case", ["drifted", "undecodable", "no_decode"])
def test_suite_rows_gate_boundary(spark, tmp_path, request, monkeypatch, case):
    """With the ``suite_rows`` cap at exactly the scoped row count the
    driver collects; one below it Spark counts. Both runs give the
    same manifest and violation rows, byte for byte."""
    fixture, kw = _COLLECT_CASES[case]
    df = request.getfixturevalue(fixture)
    n = df.count()
    summary_pdf = _spy(monkeypatch, ValidationSuite, "_global_summary_pass",
                       lambda self, summary, todo, pdf: pdf is not None)
    quality_pdf = _spy(monkeypatch, ValidationSuite, "_quality_counts_by_part",
                       lambda self, proj, pks, pdf=None: pdf is not None)
    at_cap, below_cap = _collect_vs_cap0(
        spark, tmp_path, df, lambda sp, tp, name: _suite(sp, tp, name, **kw),
        f"boundary_{case}", caps=(n, n - 1))
    assert at_cap == below_cap
    assert summary_pdf == [True, False]
    assert quality_pdf == ([] if case == "no_decode" else [True, False])


def test_decoded_collect_with_non_string_psi_column(spark, tmp_path, audio_df, monkeypatch):
    """A non-string psi column is cast to string by Spark inside the
    collected projection, so the summary pass and the kdq decisions
    both read the collect."""
    summary_pdf = _spy(monkeypatch, ValidationSuite, "_global_summary_pass",
                       lambda self, summary, todo, pdf: pdf is not None)
    fast, dist = _collect_vs_cap0(
        spark, tmp_path, audio_df,
        lambda sp, tp, name: _suite(sp, tp, name, psi_col="sr_hz"), "psi_int")
    assert fast == dist
    assert summary_pdf == [True, False]
    s = _suite(spark, tmp_path, "psi_int_groups", psi_col="sr_hz")
    s.run(audio_df)
    assert s._kdq_groups is not None


def test_decoded_collect_hdm_half_split_gets_frames(spark, tmp_path, audio_df, monkeypatch):
    """HDM with ``detect_batch=1`` re-splits its reference rows, so the
    suite still hands it every partition's frame; with the default
    ``detect_batch=2`` it decides from the collected summaries alone."""
    from menelaus_spark.checks.hdm import HDM

    frames = []
    for attr in ("set_reference", "update"):
        frames += [_spy(monkeypatch, HDM, attr,
                        lambda self, df, *a, **k: df is not None)]
    kw = {"hdm_params": {"detect_batch": 1, "order_col": "dur_ms"}}
    fast, dist = _collect_vs_cap0(
        spark, tmp_path, audio_df, lambda sp, tp, name: _suite(sp, tp, name, **kw),
        "half_split")
    assert fast == dist
    assert all(sum(frames, [])) and len(frames[0]) == 2
    for calls in frames:
        calls.clear()
    _suite(spark, tmp_path, "hdm_summaries").run(audio_df)
    assert not any(sum(frames, []))


def test_decoded_collect_resume_equals_one_shot(spark, tmp_path, audio_df):
    """A run resumed from a checkpoint of partitions 0-4 gives the
    one-shot run's manifest rows, with the collect and at cap 0."""
    import shutil

    first = _suite(spark, tmp_path, "resume_base")
    first.run(audio_df.filter(F.col("part") < 5))
    one_shot = _suite(spark, tmp_path, "resume_one_shot")
    one_shot.run(audio_df)
    for cap in (None, 0):
        with pytest.MonkeyPatch.context() as m:
            if cap is not None:
                m.setitem(DRIVER_ROW_CAPS, "suite_rows", cap)
            ck = tmp_path / f"resume_{cap}"
            shutil.copytree(first.manifest.dir, str(ck))
            s = _suite(spark, tmp_path, f"resume_{cap}")
            s.run(audio_df)
            assert _manifest_rows(s) == _manifest_rows(one_shot)


@pytest.mark.parametrize("cap", [None, 0])
def test_stale_violation_directories_are_not_returned(spark, tmp_path, audio_df, cap):
    """Violation directories left by an earlier attempt are cleared as
    their partitions are validated, also where a partition has no
    violation rows now, on the driver write path and at cap 0."""
    import os

    from menelaus_spark.verdicts import VIOLATION_SCHEMA

    with pytest.MonkeyPatch.context() as m:
        if cap is not None:
            m.setitem(DRIVER_ROW_CAPS, "suite_rows", cap)
        s = _suite(spark, tmp_path, f"stale_{cap}")
        for pk in map(str, range(10)):
            spark.createDataFrame(
                [(pk, "range:dur_ms", "stale", "range:dur_ms", {"value": "1"})],
                VIOLATION_SCHEMA).write.parquet(s.manifest.violations_dir(pk))
        _, violations = s.run(audio_df)
    assert "stale" not in {r["row_key"] for r in violations.collect()}
    clean = [r["partition_key"] for r in s.manifest.records if not r["n_violations"]]
    assert clean
    assert not any(os.path.exists(s.manifest.violations_dir(pk)) for pk in clean)


class _Killed(Exception):
    pass


@pytest.mark.parametrize("cap", [None, 0])
def test_resume_after_kill_between_violation_write_and_append(
        spark, tmp_path, depth_df, cap):
    """A run killed after partition 2's violation file is written and
    before its manifest record is appended resumes to the one-shot
    run's manifest and violation rows."""
    import os

    from menelaus_spark.state import CheckpointManifest

    _, want = _suite(spark, tmp_path, f"kill_one_shot_{cap}", **_AUDIO_DEPTH_KW).run(depth_df)
    want = _violation_rows(want)
    with pytest.MonkeyPatch.context() as m:
        if cap is not None:
            m.setitem(DRIVER_ROW_CAPS, "suite_rows", cap)
        real = CheckpointManifest.append

        def killed(self, record):
            if record["partition_key"] == "2":
                assert record["n_violations"]
                assert os.listdir(self.violations_dir("2"))
                raise _Killed
            real(self, record)

        m.setattr(CheckpointManifest, "append", killed)
        with pytest.raises(_Killed):
            _suite(spark, tmp_path, f"kill_{cap}", **_AUDIO_DEPTH_KW).run(depth_df)
        m.setattr(CheckpointManifest, "append", real)
        s = _suite(spark, tmp_path, f"kill_{cap}", **_AUDIO_DEPTH_KW)
        assert s.manifest.completed_keys() == ["0", "1"]
        _, got = s.run(depth_df)
        assert _violation_rows(got) == want


def _distinct_scope(self, df, done):
    """The scoping runs used before the constraint pass supplied the
    partition list: a distinct job for the keys, then an ``isin`` of
    the ones not done."""
    keys = self._sorted_keys(
        r[0] for r in df.select(self.partition_col).distinct().collect())
    todo = [pk for pk in keys if pk not in done]
    return df.filter(F.col(self.partition_col).isin(
        [self._pk_value(df, pk) for pk in todo]))


@pytest.mark.parametrize("case", ["gone_partition", "string_partition"])
def test_resume_scope_matches_distinct_scoping(spark, tmp_path, monkeypatch, case):
    """A resumed run validates the partitions the manifest lacks. Its
    scope is built without a job, as the complement of the done keys;
    it must give the same partitions, verdict rows and manifest records
    as an ``isin`` of the table's keys left to do. Two cases: a done
    partition that is no longer in the table, and a string-typed
    partition column."""
    import shutil

    df = spark.createDataFrame(
        tables.audio_table(spark, n_rows=600, n_parts=6, null_frac=0.02).toPandas())
    if case == "string_partition":
        df = df.withColumn("part", F.col("part").cast("string"))
    first = _suite(spark, tmp_path, "first")
    first.run(df.filter(F.col("part").isin(0, 1, 2)))
    if case == "gone_partition":
        df = df.filter(F.col("part") != 1)

    def resume(name):
        shutil.copytree(first.manifest.dir, str(tmp_path / name))
        suite = _suite(spark, tmp_path, name)
        verdicts, _ = suite.run(df)
        rows = sorted(json.dumps(r.asDict(recursive=True), sort_keys=True)
                      for r in verdicts.collect())
        recs = [{k: v for k, v in r.items() if k != "elapsed_s"}
                for r in suite.manifest.records]
        return rows, recs

    rows, recs = resume("complement")
    monkeypatch.setattr(ValidationSuite, "_scope", _distinct_scope)
    want_rows, want_recs = resume("distinct")
    assert [r["partition_key"] for r in recs] == ["0", "1", "2", "3", "4", "5"]
    assert rows == want_rows
    assert json.dumps(recs, sort_keys=True) == json.dumps(want_recs, sort_keys=True)
