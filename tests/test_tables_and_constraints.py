import numpy as np
import pytest
from pyspark.sql import functions as F

from menelaus_spark import audio, tables
from menelaus_spark.operators import constraints, histograms, profile


def test_audio_table_deterministic_across_parallelism(spark):
    a = tables.audio_table(spark, n_rows=60, n_parts=3).orderBy("clip_id").collect()
    b = (
        tables.audio_table(spark, n_rows=60, n_parts=3)
        .repartition(7)
        .orderBy("clip_id")
        .collect()
    )
    assert [r["clip_id"] for r in a] == [r["clip_id"] for r in b]
    assert all(bytes(x["bytes"]) == bytes(y["bytes"]) for x, y in zip(a, b))
    # decodable, SNR oracle holds trivially (same generator)
    sr, pcm = audio.wav_decode(bytes(a[0]["bytes"]))
    assert sr == a[0]["sr_hz"]
    assert abs(len(pcm) - a[0]["dur_ms"] * sr / 1000.0) <= 1


def test_schema_check(spark):
    df = tables.audio_table(spark, n_rows=10, n_parts=1)
    ok, problems = constraints.schema_check(df, tables.AUDIO_SCHEMA)
    assert ok, problems
    bad = df.drop("codec").withColumn("extra", F.lit(1))
    ok, problems = constraints.schema_check(bad, tables.AUDIO_SCHEMA)
    assert not ok
    assert "codec" in problems and "extra" in problems


def test_uniqueness_and_referential(spark):
    df = tables.audio_table(spark, n_rows=100, n_parts=2, dup_frac=0.1)
    dups = constraints.uniqueness_violations(df, "clip_id")
    assert dups.count() > 0
    clean = tables.audio_table(spark, n_rows=100, n_parts=2, dup_frac=0.0)
    assert constraints.uniqueness_violations(clean, "clip_id").count() == 0

    trans = tables.transcripts_table(clean, orphan_frac=0.2)
    orphans = constraints.referential_orphans(
        clean.select("clip_id"), trans.select("clip_id"), "clip_id"
    )
    n_orphans = orphans.count()
    assert 5 < n_orphans < 40  # ~20% of 100


def test_null_rate_and_profile(spark):
    df = tables.audio_table(spark, n_rows=200, n_parts=2, null_frac=0.1)
    rate, n = constraints.null_rate(df, "transcript")
    assert n == 200
    assert 0.02 < rate < 0.25
    stats = profile.profile(df, ["dur_ms", "sr_hz"], all_cols=["transcript", "dur_ms"])
    assert stats["n_rows"] == 200
    assert stats["dur_ms__min"] >= 200
    assert stats["dur_ms__max"] <= 3000
    assert stats["dur_ms__q50"] is not None
    assert stats["transcript__nulls"] == round(rate * 200)


def _bin_counts(df, col, lo, hi, nbins):
    """Dense counts of ``bin_index_col`` over ``col``: the binning every
    KS and HDM histogram uses."""
    b = df.select(histograms.bin_index_col(
        F.col(col).cast("double"), lo, hi, nbins).alias("bin"))
    out = np.zeros(nbins)
    for r in histograms.salted_count(b.filter(F.col("bin").isNotNull()), ["bin"]).collect():
        out[int(r["bin"])] = r["count"]
    return out


def test_histogram_matches_numpy(spark):
    df = tables.audio_table(spark, n_rows=300, n_parts=3)
    pdf = df.select("dur_ms", "sr_hz").toPandas()
    ranges = histograms.joint_minmax(df, ["dur_ms", "sr_hz"])
    nbins = 12
    for c in ["dur_ms", "sr_hz"]:
        lo, hi = histograms.numpy_range(*ranges[c])
        expected, _ = np.histogram(pdf[c].to_numpy(), bins=nbins, range=(lo, hi))
        assert np.array_equal(_bin_counts(df, c, *ranges[c], nbins), expected), c


def test_histogram_constant_column(spark):
    # np.histogram degenerate-range semantics (constant batches are a
    # reference fixture: test_histogram_density_method.py:74-75)
    df = spark.range(100).select(F.lit(1.0).alias("x"))
    ranges = histograms.joint_minmax(df, ["x"])
    assert ranges["x"] == (1.0, 1.0)
    expected, _ = np.histogram(np.ones(100), bins=10, range=(1.0, 1.0))
    assert np.array_equal(_bin_counts(df, "x", *ranges["x"], 10), expected)


@pytest.mark.parametrize("lo, hi", [
    (0.5, 2.5), (1.0, 1.0), (0.0, 5e-324), (float("-inf"), 2.0),
    (0.0, float("inf")), (0.0, float("nan")),
])
def test_bin_index_sql_matches_bin_index_col(spark, lo, hi):
    # the SQL text of the suite's KS bins is bin_index_col's expression,
    # also for null, NaN, +-inf and degenerate or non-finite ranges
    vals = [None, float("nan"), float("inf"), float("-inf"), -1.0, 0.0, 5e-324,
            0.5, 1.0, 1.7, 2.5, 3.0]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    rows = df.select(histograms.bin_index_col(F.col("x"), lo, hi, 16).alias("col"),
                     F.expr(histograms.bin_index_sql("x", lo, hi, 16)).alias("sql")).collect()
    assert [r["col"] for r in rows] == [r["sql"] for r in rows]
    assert any(r["col"] is not None for r in rows)


def test_range_and_accepted_values(spark):
    df = tables.audio_table(spark, n_rows=50, n_parts=1)
    assert constraints.range_violations(df, "dur_ms", lo=200, hi=3000, key="clip_id").count() == 0
    assert constraints.range_violations(df, "dur_ms", lo=200, hi=250, key="clip_id").count() > 0
    bad = constraints.accepted_values_violations(df, "codec", ["pcm", "opus"], key="clip_id")
    assert 0 < bad.count() < 50


def test_salted_count_under_extreme_skew(spark):
    # one hot key carrying 99% of rows: the count must agree exactly
    # with the plain groupBy count (partial aggregation collapses the
    # hot key to one row per map task before the shuffle)
    from pyspark.sql import functions as F

    df = spark.range(50_000).select(
        F.when(F.col("id") % 100 < 99, F.lit("pcm")).otherwise(F.lit("flac")).alias("category")
    )
    salted = {r["category"]: r["count"] for r in
              histograms.salted_count(df, ["category"]).collect()}
    plain = {r["category"]: r["count"] for r in df.groupBy("category").count().collect()}
    assert salted == plain
    assert salted["pcm"] == 49_500


@pytest.mark.parametrize("weighted", [False, True], ids=["count", "weighted"])
def test_salted_counts_are_one_grouped_aggregation(spark, weighted):
    # a count or a sum aggregates partially on the map side, so the
    # counts shuffle once and carry no row-id salt
    df = spark.range(0, 4_000, 1, 8).select(
        (F.col("id") % 3).alias("k"), (F.col("id") % 5).alias("w"))
    if weighted:
        out = histograms.salted_weighted_count(df, ["k"], "w")
        want = df.groupBy("k").agg(F.sum("w").alias("count"))
    else:
        out = histograms.salted_count(df, ["k"])
        want = df.groupBy("k").count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "monotonically_increasing_id" not in plan
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, want.collect()))


def test_asof_join_tied_right_rows_deterministic(spark):
    """Multiple right rows tied on (key, ts): the value pick is the
    content-hash tiebreaker's winner — stable across runs and input
    partitionings (round-2 ADVICE: last() over shuffle order was not)."""
    import pandas as pd

    from menelaus_spark.operators.relational import asof_join_last

    left = spark.createDataFrame(pd.DataFrame({"k": [1], "lts": [100]}))
    right_pdf = pd.DataFrame({"k": [1, 1, 1], "rts": [50, 50, 50],
                              "v": ["a", "b", "c"]})
    picks = set()
    for n_parts in (1, 2, 3):
        right = spark.createDataFrame(right_pdf).repartition(n_parts)
        out = asof_join_last(left, right, on="k", left_ts="lts",
                             right_ts="rts", value_cols=["v"]).collect()
        assert len(out) == 1 and out[0]["asof_rts"] == 50
        picks.add(out[0]["asof_v"])
    assert len(picks) == 1  # same winner under every partitioning


def test_real_codecs_table_mulaw_payloads(spark):
    # real_codecs=True: "opus" draws become honest G.711 mu-law clips —
    # the byte format actually changes (1 byte/sample, WAV tag 7)
    df = tables.audio_table(spark, n_rows=200, n_parts=4, drift={},
                            null_frac=0.0, real_codecs=True).persist()
    rows = df.collect()
    ulaw = [r for r in rows if r["codec"] == "ulaw"]
    assert len(ulaw) > 10
    for r in ulaw[:5]:
        buf = bytes(r["bytes"])
        n_samples = round(r["dur_ms"] * r["sr_hz"] / 1000.0)
        assert len(buf) == 44 + n_samples  # 1 byte/sample
        sr, pcm = audio.wav_decode(buf)   # decodable via the tag-7 path
        assert sr == r["sr_hz"] and pcm.size == n_samples
    # metadata draws are real_codecs-independent: same clips, same
    # sr/dur, only the opus-labeled payloads changed container
    base = {r["clip_id"]: r for r in
            tables.audio_table(spark, n_rows=200, n_parts=4, drift={},
                               null_frac=0.0).collect()}
    for r in rows:
        b = base[r["clip_id"]]
        assert (r["sr_hz"], r["dur_ms"]) == (b["sr_hz"], b["dur_ms"])
        assert r["codec"] == ("ulaw" if b["codec"] == "opus" else b["codec"])

    # codec-aware payload model: zero violations with bps {"ulaw": 1};
    # the PCM16-only model flags every mu-law row (i.e. the check
    # genuinely sees the compressed format)
    aware = constraints.payload_size_cond(
        "bytes", "sr_hz", "dur_ms", 0.02, "codec", {"ulaw": 1.0})
    naive = constraints.payload_size_cond("bytes", "sr_hz", "dur_ms", 0.02)
    assert df.filter(aware).count() == 0
    assert df.filter(naive).count() == len(ulaw)
    df.unpersist()


def test_real_codecs_suite_decode_integrity(spark, tmp_path):
    # the full validation suite over a codec-mixed table: mu-law clips
    # decode through the same feature path (no NaN rows), and the
    # payload check models them via payload_bps
    from menelaus_spark.runner import ValidationSuite

    df = tables.audio_table(spark, n_rows=160, n_parts=4, drift={},
                            null_frac=0.0, real_codecs=True)
    path = str(tmp_path / "table")
    tables.write_audio_table(df, path)
    suite = ValidationSuite(
        spark, str(tmp_path / "state"),
        expected_schema=tables.AUDIO_SCHEMA,
        ranges={"dur_ms": (200, 3000)},
        accepted_values={"codec": ["pcm", "ulaw", "mp3", "aac", "flac"]},
        kdq_params={"count_ubound": 20, "bootstrap_samples": 50},
        payload_tol=0.02,
        payload_bps={"ulaw": 1.0},
        quality_rules={"clip_rate_max": 0.05, "silence_ratio_max": 0.9},
    )
    verdicts, violations = suite.run(spark.read.parquet(path))
    v = {(r["partition_key"], r["check_name"]): r["state"]
         for r in verdicts.collect()}
    bad = [(k, s) for k, s in v.items()
           if k[1] in ("decode_integrity", "payload_size", "accepted_values:codec")
           and s != "pass"]
    assert bad == []


def test_full_codecs_table_payloads(spark):
    # real_codecs="full": THREE physical codecs — "opus"->ulaw, "mp3"->
    # alaw (1 byte/sample), "aac"->adpcm (256-byte IMA blocks + fact
    # chunk). Each container decodes via its own tag path and the
    # block-quantized payload model matches exactly.
    df = tables.audio_table(spark, n_rows=200, n_parts=4, drift={},
                            null_frac=0.0, real_codecs="full").persist()
    rows = df.collect()
    by_codec = {}
    for r in rows:
        by_codec.setdefault(r["codec"], []).append(r)
    assert set(by_codec) >= {"pcm", "ulaw", "alaw", "adpcm"}
    for r in by_codec["alaw"][:3]:
        buf = bytes(r["bytes"])
        n = round(r["dur_ms"] * r["sr_hz"] / 1000.0)
        assert len(buf) == 44 + n
        sr, pcm = audio.wav_decode(buf)
        assert sr == r["sr_hz"] and pcm.size == n
    for r in by_codec["adpcm"][:3]:
        buf = bytes(r["bytes"])
        n = round(r["dur_ms"] * r["sr_hz"] / 1000.0)
        nb = -(-n // audio.ADPCM_SPB)
        assert len(buf) == 60 + nb * audio.ADPCM_BLOCK_ALIGN
        sr, pcm = audio.wav_decode(buf)
        assert sr == r["sr_hz"] and pcm.size == n
    # metadata draws are mode-independent: same sr/dur as the plain
    # table; labels remapped per the documented codec map
    base = {r["clip_id"]: r for r in
            tables.audio_table(spark, n_rows=200, n_parts=4, drift={},
                               null_frac=0.0).collect()}
    remap = {"opus": "ulaw", "mp3": "alaw", "aac": "adpcm"}
    for r in rows:
        b = base[r["clip_id"]]
        assert (r["sr_hz"], r["dur_ms"]) == (b["sr_hz"], b["dur_ms"])
        assert r["codec"] == remap.get(b["codec"], b["codec"])
    # codec-aware payload model (incl. the BLOCK-quantized adpcm
    # triple): zero violations; the PCM16-only model flags every
    # compressed row
    bps = {"ulaw": 1.0, "alaw": 1.0, "adpcm": audio.ADPCM_PAYLOAD_MODEL}
    aware = constraints.payload_size_cond(
        "bytes", "sr_hz", "dur_ms", 0.02, "codec", bps)
    naive = constraints.payload_size_cond("bytes", "sr_hz", "dur_ms", 0.02)
    n_compressed = sum(len(v) for k, v in by_codec.items()
                       if k in ("ulaw", "alaw", "adpcm"))
    assert df.filter(aware).count() == 0
    assert df.filter(naive).count() == n_compressed
    df.unpersist()


def test_full_codecs_suite_decode_integrity(spark, tmp_path):
    # the validation suite over the THREE-codec table: every container
    # decodes through the same Arrow feature pass (no NaN rows) and
    # the block-quantized payload model holds suite-wide
    from menelaus_spark.runner import ValidationSuite

    df = tables.audio_table(spark, n_rows=160, n_parts=4, drift={},
                            null_frac=0.0, real_codecs="full")
    path = str(tmp_path / "table")
    tables.write_audio_table(df, path)
    suite = ValidationSuite(
        spark, str(tmp_path / "state"),
        expected_schema=tables.AUDIO_SCHEMA,
        ranges={"dur_ms": (200, 3000)},
        accepted_values={"codec": ["pcm", "ulaw", "alaw", "adpcm", "flac"]},
        kdq_params={"count_ubound": 20, "bootstrap_samples": 50},
        payload_tol=0.02,
        payload_bps={"ulaw": 1.0, "alaw": 1.0,
                     "adpcm": audio.ADPCM_PAYLOAD_MODEL},
        quality_rules={"clip_rate_max": 0.05, "silence_ratio_max": 0.9},
    )
    verdicts, violations = suite.run(spark.read.parquet(path))
    v = {(r["partition_key"], r["check_name"]): r["state"]
         for r in verdicts.collect()}
    bad = [(k, s) for k, s in v.items()
           if k[1] in ("decode_integrity", "payload_size",
                       "accepted_values:codec")
           and s != "pass"]
    assert bad == []


def test_corrupt_frac_damage_classes(spark):
    # corrupt_frac injects payload damage with claimed-good metadata.
    # All three kinds must decode-fail WITHOUT crashing the Arrow pass,
    # and the length-based check must catch exactly kinds 0/1 (kind 2
    # keeps the right length — only decode_integrity sees it).
    df = tables.audio_table(spark, n_rows=120, n_parts=3, null_frac=0.0,
                            drift={1: {"corrupt_frac": 0.5}})
    rows = df.collect()
    damaged = []
    for r in rows:
        buf = bytes(r["bytes"])
        try:
            audio.decode_clip(buf, r["codec"])
        except Exception:
            damaged.append(r)
    # only partition 1 requested damage; roughly half its rows hit
    assert {r["part"] for r in damaged} == {1}
    assert 10 <= len(damaged) <= 30
    kinds = {int(r["clip_id"].split("_")[1]) % 3 for r in damaged}
    assert kinds == {0, 1, 2}  # all three damage classes present
    # undamaged partitions byte-identical to the no-corruption config
    base = {r["clip_id"]: bytes(r["bytes"]) for r in
            tables.audio_table(spark, n_rows=120, n_parts=3,
                               null_frac=0.0, drift={}).collect()}
    for r in rows:
        if r["part"] != 1:
            assert bytes(r["bytes"]) == base[r["clip_id"]]
    # length check: fires for kinds 0/1, NOT for kind 2 (magic smash
    # preserves length) — the two checks are genuinely complementary
    cond = constraints.payload_size_cond("bytes", "sr_hz", "dur_ms", 0.02)
    flagged = {r["clip_id"] for r in df.filter(cond).collect()}
    for r in damaged:
        k = int(r["clip_id"].split("_")[1]) % 3
        assert (r["clip_id"] in flagged) == (k in (0, 1))


def test_wav_decode_strict_on_truncated_data():
    import numpy as np
    import pytest as _pytest

    pcm = (np.sin(np.arange(4000) / 8.0) * 9000).astype(np.int16)
    for enc in (audio.wav_encode, audio.wav_encode_mulaw,
                audio.wav_encode_alaw, audio.wav_encode_adpcm):
        buf = enc(pcm, 8000)
        with _pytest.raises(ValueError):
            audio.wav_decode(buf[: len(buf) - 7])
