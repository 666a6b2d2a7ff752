"""Constraint checks: schema conformance, uniqueness, referential
integrity, null-rate / range rules, decoded-PCM integrity.

Each check returns (list[Verdict-ready dict fields], violations
DataFrame in VIOLATION_SCHEMA shape minus partition/check columns —
the runner stamps those on; a keyed row_key is the key as a string).
Violations are DataFrames: the suite runner collects them only under
its ``suite_rows`` row cap.

These generalize the reference's schema-freeze validation
(/root/reference/menelaus/detector.py:43-124, 221-307): menelaus
validates "same columns as the first batch"; we validate against a
declared StructType, plus the uniqueness / referential / range rules
the north_star adds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def schema_check(df: DataFrame, expected: T.StructType) -> tuple[bool, dict[str, str]]:
    """Declared-schema conformance: exact name->type match (ordering
    ignored; menelaus freezes names on first batch, detector.py:59-67).
    Driver-side metadata only — zero data reads."""
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    exp = {f.name: f.dataType.simpleString() for f in expected.fields}
    problems = {}
    for name, dtype in exp.items():
        if name not in actual:
            problems[name] = f"missing (expected {dtype})"
        elif actual[name] != dtype:
            problems[name] = f"type {actual[name]} != expected {dtype}"
    for name in actual:
        if name not in exp:
            problems[name] = "unexpected column"
    return (not problems), problems


def uniqueness_violations(df: DataFrame, key: str) -> DataFrame:
    """Duplicate-key groups -> violation rows (key, n_dup).

    Exact, fully distributed: groupBy(key).count().filter(n > 1).
    At 10^12 rows this is one shuffle on the key; a cheap
    approx_count_distinct pre-check can skip it when counts already
    match, which the runner exploits.
    """
    return (
        df.groupBy(F.col(key).alias("row_key"))
        .agg(F.count(F.lit(1)).alias("n_dup"))
        .filter(F.col("n_dup") > 1)
    )


def referential_orphans(child: DataFrame, parent: DataFrame, key: str,
                        carry: tuple = ()) -> DataFrame:
    """Child keys with no parent -> left-anti join (the Spark-native
    generalization of menelaus input-conformance, SURVEY.md §2.3).
    Catalyst/AQE picks broadcast-anti when the parent is small.
    ``carry`` names child columns kept beside ``row_key``."""
    return child.join(parent, on=key, how="left_anti").select(
        F.col(key).alias("row_key"), *carry)


def null_rate(df: DataFrame, col: str) -> tuple[float, int]:
    row = df.agg(
        F.avg(F.col(col).isNull().cast("double")).alias("rate"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    return float(row["rate"] or 0.0), int(row["n"])


def range_violations(df: DataFrame, col: str, lo=None, hi=None, key: str = None) -> DataFrame:
    """Rows with col outside [lo, hi] (inclusive bounds)."""
    cond = F.lit(False)
    if lo is not None:
        cond = cond | (F.col(col) < F.lit(lo))
    if hi is not None:
        cond = cond | (F.col(col) > F.lit(hi))
    keyc = (F.col(key) if key else F.monotonically_increasing_id()).cast("string")
    return df.filter(cond).select(
        keyc.alias("row_key"), F.col(col).cast("string").alias("value")
    )


def transcript_rate_expr(transcript_col: str, dur_col: str):
    """Characters-per-second of the transcript against the clip's
    metadata duration — the audio<->transcript consistency signal.
    Pure JVM expression (no decode): rides the fused constraint
    aggregation at zero extra scan cost."""
    return F.length(F.col(transcript_col)).cast("double") / (
        F.col(dur_col).cast("double") / 1000.0
    )


def transcript_rate_cond(transcript_col: str, dur_col: str, lo: float, hi: float):
    """True for rows whose transcript rate is implausible for the
    recorded duration. Null transcripts are excluded (null-rate rules
    own those); non-positive durations are excluded (range rules)."""
    cps = transcript_rate_expr(transcript_col, dur_col)
    return (
        F.col(transcript_col).isNotNull()
        & (F.col(dur_col) > 0)
        & ((cps < F.lit(lo)) | (cps > F.lit(hi)))
    )


def transcript_rate_violations(df: DataFrame, transcript_col: str, dur_col: str,
                               lo: float, hi: float, key: str = None) -> DataFrame:
    keyc = (F.col(key) if key else F.monotonically_increasing_id()).cast("string")
    return df.filter(transcript_rate_cond(transcript_col, dur_col, lo, hi)).select(
        keyc.alias("row_key"),
        F.round(transcript_rate_expr(transcript_col, dur_col), 3)
        .cast("string").alias("value"),
    )


def payload_expected_and_tol(sr_col: str, dur_col: str, tol_frac: float,
                             codec_col: str | None = None,
                             bps_map: dict | None = None):
    """(expected byte length, tolerance) for a WAV payload: expected =
    44-byte header + bytes/sample x round(dur_ms * sr_hz / 1000)
    samples; tolerance absorbs rounding-mode differences (floor 4
    bytes). Bytes/sample defaults to 2 (PCM16); ``bps_map`` makes the
    model codec-aware for genuinely compressed containers (e.g.
    {"ulaw": 1.0} for G.711 mu-law WAVs — codecs absent from the map
    keep the PCM16 default). ONE definition shared by the
    fused-aggregation fallback (length(bytes)) and the decode-pass
    path (q_byte_len) — the statistic-parity contract between the two
    paths depends on it.

    Map values are either a float (bytes/sample for linear codecs,
    e.g. {"ulaw": 1.0}) or a ``(header_bytes, block_bytes,
    samples_per_block)`` triple for BLOCK-quantized codecs (e.g. IMA
    ADPCM's (60, 256, 505): expected = header + block * ceil(n /
    spb) — payload length steps by a whole block, so a linear model
    would false-positive on every off-grid clip)."""
    n = F.round(
        F.col(dur_col).cast("double") * F.col(sr_col).cast("double") / 1000.0
    )
    expected = F.lit(44.0) + F.lit(2.0) * n
    if bps_map and codec_col is not None:
        for c, b in sorted(bps_map.items()):
            if isinstance(b, (tuple, list)):
                hdr, blk, spb = (float(v) for v in b)
                model = F.lit(hdr) + F.lit(blk) * F.ceil(n / F.lit(spb))
            else:
                model = F.lit(44.0) + F.lit(float(b)) * n
            expected = F.when(F.col(codec_col) == c, model).otherwise(expected)
    return expected, F.greatest(F.lit(4.0), F.lit(tol_frac) * expected)


def payload_size_cond(bytes_col: str, sr_col: str, dur_col: str, tol_frac: float,
                      codec_col: str | None = None, bps_map: dict | None = None):
    """True when the binary payload's length is inconsistent with the
    (sr_hz, dur_ms) metadata. Catches truncated/padded/corrupt
    payloads WITHOUT decoding — length(binary) is a JVM-side O(1)
    metadata read per row, so this also rides the fused constraint
    aggregation."""
    expected, tol = payload_expected_and_tol(sr_col, dur_col, tol_frac,
                                             codec_col, bps_map)
    return (
        F.col(bytes_col).isNotNull()
        & (F.abs(F.length(F.col(bytes_col)).cast("double") - expected) > tol)
    )


def payload_size_violations(df: DataFrame, bytes_col: str, sr_col: str, dur_col: str,
                            tol_frac: float, key: str = None) -> DataFrame:
    keyc = (F.col(key) if key else F.monotonically_increasing_id()).cast("string")
    return df.filter(payload_size_cond(bytes_col, sr_col, dur_col, tol_frac)).select(
        keyc.alias("row_key"),
        F.length(F.col(bytes_col)).cast("string").alias("value"),
    )


def accepted_values_violations(df: DataFrame, col: str, allowed: list, key: str = None) -> DataFrame:
    keyc = (F.col(key) if key else F.monotonically_increasing_id()).cast("string")
    return df.filter(~F.col(col).isin(allowed) | F.col(col).isNull()).select(
        keyc.alias("row_key"), F.col(col).cast("string").alias("value")
    )
