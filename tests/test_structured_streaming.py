"""Structured Streaming incremental validation (SURVEY.md §2.9): drive
a file-source stream through foreachBatch, each micro-batch validated
as one partition-batch of the sequential drift state machine — the
true-incremental mode of the engine."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from menelaus_spark.checks.hdm import HDDDM


def test_foreach_batch_incremental_hdddm(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    out = []

    # three micro-batch files: two reference-like, one drifted
    rng = np.random.default_rng(5)
    frames = [
        pd.DataFrame({"dur_ms": rng.normal(1000, 100, 300), "sr_hz": rng.normal(16000, 10, 300)}),
        pd.DataFrame({"dur_ms": rng.normal(1000, 100, 300), "sr_hz": rng.normal(16000, 10, 300)}),
        pd.DataFrame({"dur_ms": rng.normal(4000, 100, 300), "sr_hz": rng.normal(16000, 10, 300)}),
    ]
    det = HDDDM(detect_batch=2, seed=42)

    import os

    os.makedirs(src)
    for i, f in enumerate(frames):
        spark.createDataFrame(f).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("dur_ms double, sr_hz double")
        .option("maxFilesPerTrigger", 1).parquet(src)
    )

    def validate(batch_df, epoch_id):
        if batch_df.isEmpty():
            return
        if det.total_batches == 0 and det.reference_n == 0:
            det.set_reference(batch_df, batch_id=f"epoch_{epoch_id}")
            out.append((epoch_id, "reference"))
        else:
            state = det.update(batch_df, batch_id=f"epoch_{epoch_id}")
            out.append((epoch_id, state or "pass"))

    q = (
        stream.writeStream.foreachBatch(validate)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    states = [s for _, s in out]
    assert states[0] == "reference"
    assert "drift" in states  # the shifted micro-batch alarms
    assert det.total_batches >= 2


def test_apply_in_pandas_with_state_cusum(spark, tmp_path):
    """Per-key kernels persist ACROSS micro-batches in GroupState: the
    burn-in happens in batch 1, the level shift in batch 3 alarms —
    impossible unless state genuinely carried over."""
    from menelaus_spark.streaming.stateful import stateful_detector_stream
    from menelaus_spark.streaming.detectors import CUSUM

    src = str(tmp_path / "src")
    import os

    os.makedirs(src)
    rng = np.random.default_rng(2)
    frames = [
        pd.DataFrame({"grp": "a", "idx": range(0, 60),
                      "value": rng.normal(0, 1, 60)}),
        pd.DataFrame({"grp": "a", "idx": range(60, 120),
                      "value": rng.normal(0, 1, 60)}),
        pd.DataFrame({"grp": "a", "idx": range(120, 180),
                      "value": rng.normal(30, 1, 60)}),
    ]
    for f in frames:
        spark.createDataFrame(f).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("grp string, idx long, value double")
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    out = stateful_detector_stream(
        stream, lambda: CUSUM(burn_in=30), group_col="grp",
        order_col="idx", value_cols=["value"],
    )
    rows = []

    def sink(batch_df, epoch_id):
        rows.extend(batch_df.collect())

    q = (
        out.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    per_batch = {int(r["total_samples"]): r for r in rows}
    # state carried: cumulative totals grow 60 -> 120 -> 180
    assert set(per_batch) == {60, 120, 180}
    assert per_batch[60]["n_drift"] == 0
    assert per_batch[120]["n_drift"] == 0
    assert per_batch[180]["n_drift"] >= 1  # the shifted batch alarms


def test_windowed_profile_watermark_drops_late(spark, tmp_path):
    """Tumbling event-time windows finalize when the watermark passes
    their end (append mode, emitted once); data later than the
    watermark is dropped — the window's final count excludes it."""
    from datetime import datetime

    from menelaus_spark.streaming.windowed import windowed_profile_stream

    src = str(tmp_path / "src")
    import os

    os.makedirs(src)

    def ts(minute):
        return datetime(2026, 1, 1, 0, minute)

    schema = "ts timestamp, v double"
    # file 1: five rows in window [00:00, 00:10) + one in [00:10, 00:20)
    f1 = pd.DataFrame({"ts": [ts(m) for m in (1, 2, 3, 4, 5, 12)],
                       "v": [1.0, 2.0, 3.0, 4.0, 5.0, 10.0]})
    # files 2+3: advance the watermark to 00:25+ with one batch of
    # margin (the late-row input filter applies the watermark with one
    # batch more lag than state eviction)
    f2 = pd.DataFrame({"ts": [ts(30)], "v": [7.0]})
    f3 = pd.DataFrame({"ts": [ts(31)], "v": [8.0]})
    # file 4: a LATE row for window 1 (ts 00:03 << watermark) -> dropped;
    # plus a row pushing the watermark past window [00:30, 00:40)
    f4 = pd.DataFrame({"ts": [ts(3), ts(50)], "v": [99.0, 6.0]})
    # enforce the arrival order: the file source orders by modification
    # time, and append-mode part files get random uuid names — write
    # each frame separately and stage it with an increasing mtime
    import glob
    import shutil

    for i, f in enumerate((f1, f2, f3, f4)):
        tmp = str(tmp_path / f"w{i}")
        spark.createDataFrame(f).coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(src, f"{i:03d}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (1000 + i, 1000 + i))

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    out = windowed_profile_stream(
        stream, "ts", ["v"], window_duration="10 minutes", watermark_delay="5 minutes"
    )
    rows = []

    def sink(batch_df, epoch_id):
        rows.extend(batch_df.collect())

    q = (
        out.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    by_start = {r["window_start"].minute: r for r in rows}
    assert by_start[0]["n"] == 5          # late 99.0 row NOT counted
    assert by_start[0]["max_v"] == 5.0    # and not reflected in stats
    assert by_start[10]["n"] == 1
    assert by_start[30]["n"] == 2         # finalized once watermark passed
    assert 50 not in by_start             # still-open window not emitted


def test_sliding_windowed_profile(spark, tmp_path):
    """Sliding windows (10 min window, 5 min slide): each row lands in
    two overlapping windows; watermark still finalizes each window
    exactly once and drops late rows."""
    from datetime import datetime

    from menelaus_spark.streaming.windowed import windowed_profile_stream

    src = str(tmp_path / "src")
    import glob
    import os
    import shutil

    os.makedirs(src)

    def ts(minute):
        return datetime(2026, 1, 1, 0, minute)

    f1 = pd.DataFrame({"ts": [ts(m) for m in (1, 2, 3, 4, 12)],
                       "v": [1.0, 2.0, 3.0, 4.0, 10.0]})
    f2 = pd.DataFrame({"ts": [ts(30)], "v": [7.0]})
    f3 = pd.DataFrame({"ts": [ts(31)], "v": [8.0]})
    f4 = pd.DataFrame({"ts": [ts(3), ts(50)], "v": [99.0, 6.0]})
    for i, f in enumerate((f1, f2, f3, f4)):
        tmp = str(tmp_path / f"w{i}")
        spark.createDataFrame(f).coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(src, f"{i:03d}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (1000 + i, 1000 + i))

    stream = (
        spark.readStream.schema("ts timestamp, v double")
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    out = windowed_profile_stream(
        stream, "ts", ["v"], window_duration="10 minutes",
        watermark_delay="5 minutes", slide_duration="5 minutes",
    )
    rows = []

    def sink(batch_df, epoch_id):
        rows.extend(batch_df.collect())

    q = (
        out.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    by_start = {(r["window_start"].hour, r["window_start"].minute): r for r in rows}
    # overlapping membership: minutes 1-4 land in [23:55, 00:05) AND [00:00, 00:10)
    assert by_start[(23, 55)]["n"] == 4
    assert by_start[(0, 0)]["n"] == 4
    # the late 99.0 row was dropped from BOTH of its windows
    assert by_start[(0, 0)]["max_v"] == 4.0
    assert by_start[(23, 55)]["max_v"] == 4.0
    # minute 12 in [00:05, 00:15) and [00:10, 00:20)
    assert by_start[(0, 5)]["n"] == 1 and by_start[(0, 10)]["n"] == 1
    # minutes 30, 31 in [00:25, 00:35) and [00:30, 00:40)
    assert by_start[(0, 25)]["n"] == 2 and by_start[(0, 30)]["n"] == 2
    # windows holding the ts=00:50 row are still open (not emitted)
    assert (0, 45) not in by_start and (0, 50) not in by_start


def test_stateful_streaming_ensemble(spark, tmp_path):
    """A per-key StreamingEnsemble rides applyInPandasWithState exactly
    like a single kernel: state (both members + election) survives
    micro-batches, alarms in the shifted batch with member counts."""
    from menelaus_spark.checks.ensemble import (
        MinimumApprovalElection,
        StreamingEnsemble,
    )
    from menelaus_spark.streaming.detectors import CUSUM, PageHinkley
    from menelaus_spark.streaming.stateful import stateful_detector_stream

    src = str(tmp_path / "src")
    import os

    os.makedirs(src)
    rng = np.random.default_rng(4)
    frames = [
        pd.DataFrame({"grp": "a", "idx": range(0, 60),
                      "value": rng.normal(0, 1, 60)}),
        pd.DataFrame({"grp": "a", "idx": range(60, 120),
                      "value": rng.normal(0, 1, 60)}),
        pd.DataFrame({"grp": "a", "idx": range(120, 180),
                      "value": rng.normal(30, 1, 60)}),
    ]
    for f in frames:
        spark.createDataFrame(f).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("grp string, idx long, value double")
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    # two identical CUSUM members alarm in lockstep, so the 2-approval
    # election fires deterministically at the shifted batch; the PH
    # member exercises the mixed-member classification path
    out = stateful_detector_stream(
        stream,
        lambda: StreamingEnsemble(
            {"c1": CUSUM(burn_in=30), "c2": CUSUM(burn_in=30),
             "ph": PageHinkley(burn_in=30)},
            MinimumApprovalElection(2),
        ),
        group_col="grp", order_col="idx", value_cols=["value"],
    )
    rows = []

    def sink(batch_df, epoch_id):
        rows.extend(batch_df.collect())

    q = (
        out.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    per_batch = {int(r["total_samples"]): r for r in rows}
    # ensemble state (members + counters) carried across micro-batches
    assert set(per_batch) == {60, 120, 180}
    assert per_batch[60]["n_drift"] == 0
    assert per_batch[120]["n_drift"] == 0
    assert per_batch[180]["n_drift"] >= 1  # election fired in the batch
    # snapshot's statistic counts members CURRENTLY alarming — members
    # reset right after the election, so it reads 0.0 at batch end
    assert per_batch[180]["statistic"] == 0.0


def test_streaming_neardup_matches_batch(spark, tmp_path):
    # dedup-at-ingest: the stateful LSH-bucket stream must emit exactly
    # the batch pipeline's verified pair set (same md5-lane minhash,
    # same banding, same exact-Jaccard verify) — with every injected
    # pair arriving CROSS-micro-batch (sources in batch 1, copies in
    # batch 2), so pairing genuinely goes through persisted GroupState
    from menelaus_spark import tables
    from menelaus_spark.operators.audio_dedup import audio_neardup_pairs
    from menelaus_spark.streaming.dedup import stateful_neardup_stream

    df = tables.audio_table(
        spark, n_rows=80, n_parts=2, drift={}, neardup_frac=0.125, null_frac=0.0
    )
    batch = {
        (r.id_a, r.id_b): r.jaccard for r in audio_neardup_pairs(df).collect()
    }
    assert batch  # fixture must produce work

    src = str(tmp_path / "ndstream_src")
    evens = df.filter(F.col("clip_id").substr(-1, 1).isin(*"02468"))
    odds = df.filter(~F.col("clip_id").substr(-1, 1).isin(*"02468"))
    evens.coalesce(1).write.mode("append").parquet(src)
    odds.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        stateful_neardup_stream(stream)
        .writeStream.format("memory").queryName("ndpairs")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "nd_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)

    rows = spark.sql(
        "SELECT DISTINCT id_a, id_b, jaccard FROM ndpairs"
    ).collect()
    got = {(r.id_a, r.id_b): r.jaccard for r in rows}
    assert got == batch


def test_streaming_minhash_family_bit_equal_to_batch(spark):
    # the stream computes band keys in Python (no streaming
    # aggregation); they must be BIT-equal to the JVM banding the batch
    # pipeline uses, or bucket membership silently diverges. The
    # signatures themselves are checked against DuckDB in
    # test_audio_dedup.
    from menelaus_spark.operators.dedup import (
        band_keys,
        lsh_candidate_pairs,
        minhash_from_shingles,
    )

    sets = {
        "a": ["00deadbeef00cafe", "0123456789abcdef", "ffffffffffffffff"],
        "b": ["0123456789abcdef"],
        "c": [f"{i:016x}" for i in range(40)],
        "d": [],
    }
    sdf = spark.createDataFrame(
        [(k, v) for k, v in sets.items()], "id string, shingles array<string>"
    )
    sig_df = minhash_from_shingles(sdf, "id", "shingles", k=16)
    sigs = {r.id: list(r.sig) for r in sig_df.collect()}
    banded = lsh_candidate_pairs(sig_df, "id", bands=8, rows=2)
    # band keys: recompute the JVM banding the way lsh_candidate_pairs
    # does and compare bucket keys per id
    from pyspark.sql import functions as SF

    jvm_banded = (
        sig_df.filter(SF.size("sig") > 0)
        .select(
            "id",
            SF.explode(
                SF.transform(
                    SF.sequence(SF.lit(0), SF.lit(7)),
                    lambda bnd: SF.struct(
                        bnd.alias("band"),
                        SF.md5(SF.concat_ws(",", SF.transform(
                            SF.slice(SF.col("sig"), bnd * 2 + 1, 2),
                            lambda x: x.cast("string"),
                        ))).alias("bhash"),
                    ),
                )
            ).alias("bb"),
        )
        .select("id", "bb.band", "bb.bhash")
        .collect()
    )
    jvm_keys = {}
    for r in jvm_banded:
        jvm_keys.setdefault(r.id, {})[r.band] = r.bhash
    for k, sh in sets.items():
        if not sh:
            continue
        py = band_keys(sigs[k], bands=8, rows=2)
        assert {b: h for b, h in enumerate(py)} == jvm_keys[k], k
    assert banded.count() >= 0  # plan sanity


def test_streaming_neardup_bucket_cap_bounds_state(spark, tmp_path):
    # 12 byte-identical clips all land in the same LSH buckets; with
    # bucket_cap=5 the state stops ADMITTING after 5 members but every
    # arrival still verifies against the retained ones — so pair count
    # is exactly 0+1+2+3+4 + 7*5 = 45 per-pair-distinct (every pair
    # involves at least one of the first 5 admitted clips), not C(12,2)
    from menelaus_spark import tables
    from menelaus_spark.streaming.dedup import stateful_neardup_stream

    base = tables.audio_table(spark, n_rows=1, n_parts=1, drift={}, null_frac=0.0)
    b = base.select("bytes", "sr_hz", "dur_ms", "codec", "transcript").collect()[0]
    rows = [
        (f"clip_{i:012d}", bytes(b.bytes), b.sr_hz, b.dur_ms, b.codec,
         b.transcript, 0)
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, tables.AUDIO_SCHEMA)
    src = str(tmp_path / "cap_src")
    df.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        stateful_neardup_stream(stream, bucket_cap=5)
        .writeStream.format("memory").queryName("cappairs")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "cap_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.id_a, r.id_b)
        for r in spark.sql("SELECT DISTINCT id_a, id_b FROM cappairs").collect()
    }
    admitted = {f"clip_{i:012d}" for i in range(5)}
    assert len(got) == 45
    for a, bb in got:
        assert a in admitted  # pairs always reach back to an admitted member


def test_streaming_neardup_long_keys(spark, tmp_path):
    # the pair ids take the key column's type: two equal payloads keyed
    # 1L and 2L pair up as (1, 2), not a type error in the stateful stage
    from pyspark.sql import types as T

    from menelaus_spark import tables
    from menelaus_spark.streaming.dedup import stateful_neardup_stream

    base = tables.audio_table(spark, n_rows=1, n_parts=1, drift={}, null_frac=0.0)
    b = base.select("bytes", "codec").collect()[0]
    schema = T.StructType([T.StructField("clip_id", T.LongType(), False),
                           T.StructField("bytes", T.BinaryType(), True),
                           T.StructField("codec", T.StringType(), True)])
    df = spark.createDataFrame([(1, bytes(b.bytes), b.codec),
                                (2, bytes(b.bytes), b.codec)], schema)
    src = str(tmp_path / "long_src")
    df.coalesce(1).write.parquet(src)

    pairs = stateful_neardup_stream(spark.readStream.schema(schema).parquet(src))
    assert pairs.schema["id_a"].dataType == T.LongType()
    q = (
        pairs.writeStream.format("memory").queryName("longpairs")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "long_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert q.exception() is None
    got = spark.sql("SELECT DISTINCT id_a, id_b, jaccard FROM longpairs").collect()
    assert [(r.id_a, r.id_b, r.jaccard) for r in got] == [(1, 2, 1.0)]


def test_streaming_neardup_bucket_cap_recall_contract(spark, tmp_path):
    # The complement of the state-bound test: the docstring's recall
    # contract says post-cap arrivals pair only against RETAINED
    # members, so the EXACT missed-pair set on an over-cap fixture is
    # every pair whose BOTH ends arrived after saturation — C(7,2)=21
    # of the C(12,2)=66 true pairs here, no more, no fewer.
    from menelaus_spark import tables
    from menelaus_spark.streaming.dedup import stateful_neardup_stream

    base = tables.audio_table(spark, n_rows=1, n_parts=1, drift={}, null_frac=0.0)
    b = base.select("bytes", "sr_hz", "dur_ms", "codec", "transcript").collect()[0]
    rows = [
        (f"clip_{i:012d}", bytes(b.bytes), b.sr_hz, b.dur_ms, b.codec,
         b.transcript, 0)
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, tables.AUDIO_SCHEMA)
    src = str(tmp_path / "recall_src")
    df.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        stateful_neardup_stream(stream, bucket_cap=5)
        .writeStream.format("memory").queryName("recallpairs")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "recall_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.id_a, r.id_b)
        for r in spark.sql("SELECT DISTINCT id_a, id_b FROM recallpairs").collect()
    }
    ids = [f"clip_{i:012d}" for i in range(12)]
    all_pairs = {(a, bb) for i, a in enumerate(ids) for bb in ids[i + 1:]}
    unadmitted = set(ids[5:])
    missed = all_pairs - got
    assert missed == {(a, bb) for a, bb in all_pairs
                      if a in unadmitted and bb in unadmitted}


def test_session_stats_stream_matches_batch(spark, tmp_path):
    """Differential: the built-in session_window streaming path emits
    the SAME (key, session_start, n_events) set as the batch
    sessionize operator over the same events, including at the
    exact-gap boundary (the gap_ms+1 strict/inclusive bridge)."""
    import os

    from menelaus_spark.operators.relational import session_stats, sessionize
    from menelaus_spark.streaming.windowed import session_stats_stream

    base = pd.Timestamp("2026-01-01")
    rows = []
    eid = 0
    for user in range(20):
        t = base + pd.Timedelta(minutes=user)
        for s in range(3):  # 3 sessions/user
            for e in range(4):  # 4 events/session, incl. one exact-gap pair
                gap = pd.Timedelta(minutes=30) if e == 3 else pd.Timedelta(minutes=3)
                rows.append((user, t, eid)); eid += 1
                t = t + gap
            t = t + pd.Timedelta(minutes=31)  # > gap -> session break
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "event_id"])

    src = str(tmp_path / "sess_src")
    os.makedirs(src)
    # three micro-batch files in EVENT-TIME order (the ingest pattern;
    # arrivals later than the watermark delay would be dropped as late
    # data — that contract is the windowed-profile test's subject)
    pdf_t = pdf.sort_values("ts").reset_index(drop=True)
    for i, chunk in enumerate((pdf_t.iloc[:80], pdf_t.iloc[80:160], pdf_t.iloc[160:])):
        spark.createDataFrame(chunk).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, event_id long")
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    out = session_stats_stream(stream, "user_id", "ts", gap_ms=30 * 60_000)
    q = (
        out.writeStream.format("memory").queryName("sess_out")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    got = {(r["user_id"], r["start_ms"], r["n_events"])
           for r in spark.sql("select * from sess_out").collect()}

    batch = session_stats(
        sessionize(spark.createDataFrame(pdf), "user_id", "ts",
                   gap_ms=30 * 60_000, order_cols=["event_id"]),
        "user_id", "ts",
    )
    want = {(r["user_id"], r["start_ms"], r["n_events"]) for r in batch.collect()}
    assert got == want and len(want) == 60
