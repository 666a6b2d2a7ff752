"""Distributed aligned-bin histogram + category-frequency engine.

This single module powers HDDDM, CDBD, KS, PSI and PCA-CD-style
intersection scores (SURVEY.md §2.4): the reference's per-feature
``np.histogram`` loops (/root/reference/menelaus/data_drift/
histogram_density_method.py:371-398) become ONE Spark aggregation over
all features at once — bin indices for every feature are computed
JVM-side, exploded, and counted in one grouped aggregation. A hot
bin/category (Zipf codecs, spiky dur_ms) cannot pin a reducer: a count
or a sum aggregates partially on the map side, so a hot key reaches the
shuffle as at most one row per map task. (NNDVI's grouped-map kernel
has no partial aggregation, so it salts its hot buckets instead.)

The collected output is tiny — F features x B bins, B = floor(sqrt(n))
— so the sequential drift state machines run on the driver against
these summaries, never against raw rows.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def numpy_range(lo: float, hi: float) -> tuple[float, float]:
    """np.histogram expands a degenerate range (constant column) to
    (lo-0.5, hi+0.5); reference fixtures use constant batches, so we
    reproduce that exactly."""
    if lo == hi:
        return lo - 0.5, hi + 0.5
    return lo, hi


def _range_and_width(lo: float, hi: float, nbins: int) -> tuple[float, float, float]:
    """(lo, hi, bin width) with degenerate spans expanded. Beyond the
    lo == hi constant-column case, a span of a few denormals can make
    (hi - lo) / nbins underflow to EXACTLY 0.0 — Spark ANSI mode then
    raises DIVIDE_BY_ZERO where numpy silently emits inf indices — so
    any zero width gets the same ±0.5 expansion."""
    lo, hi = numpy_range(float(lo), float(hi))
    width = (hi - lo) / nbins
    if width <= 0.0:
        lo, hi = lo - 0.5, hi + 0.5
        width = (hi - lo) / nbins
    return lo, hi, width


def joint_minmax(df: DataFrame, cols: list[str]) -> dict[str, tuple[float, float]]:
    """Per-column (min, max) in one distributed pass.

    For HDM this is called on ``ref.unionByName(test)`` — the joint
    range that aligns reference and test bins
    (histogram_density_method.py:267-276 semantics).
    """
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__min_{c}"), F.max(c).alias(f"__max_{c}")]
    row = df.agg(*aggs).collect()[0]
    return {c: (row[f"__min_{c}"], row[f"__max_{c}"]) for c in cols}


def bin_index_col(col, lo: float, hi: float, nbins: int):
    """np.histogram-compatible bin index expression: values outside
    [lo, hi] -> NULL (excluded); x == hi falls in the last bin."""
    lo, hi, width = _range_and_width(lo, hi, nbins)
    idx = F.floor((col - F.lit(lo)) / F.lit(width)).cast("int")
    return (
        F.when(col.isNull() | F.isnan(col.cast("double")), F.lit(None))
        .when((col < F.lit(lo)) | (col > F.lit(hi)), F.lit(None))
        .when(col == F.lit(hi), F.lit(nbins - 1))
        .otherwise(F.least(idx, F.lit(nbins - 1)))
    )


def sql_double(v: float) -> str:
    """``v`` as an exact SQL double literal."""
    text = {float("inf"): "Infinity", float("-inf"): "-Infinity"}.get(v, repr(v))
    return f"CAST('{'NaN' if v != v else text}' AS DOUBLE)"


def bin_index_sql(x: str, lo: float, hi: float, nbins: int) -> str:
    """:func:`bin_index_col` as SQL text over the double expression
    ``x``: the same expression tree, which ``F.expr`` builds in one
    py4j call where the Column API takes about 80."""
    lo, hi, width = _range_and_width(lo, hi, nbins)
    lo_s, hi_s = sql_double(lo), sql_double(hi)
    return (f"CASE WHEN ({x}) IS NULL OR isnan(CAST(({x}) AS DOUBLE)) THEN NULL"
            f" WHEN ({x}) < {lo_s} OR ({x}) > {hi_s} THEN NULL"
            f" WHEN ({x}) = {hi_s} THEN {nbins - 1}"
            f" ELSE least(CAST(floor((({x}) - {lo_s}) / {sql_double(width)}) AS INT),"
            f" {nbins - 1}) END")


def bin_weighted_driver(
    values: np.ndarray, counts: np.ndarray, lo: float, hi: float, nbins: int
) -> np.ndarray:
    """Driver-side numpy twin of :func:`bin_index_col` over a
    (distinct value, count) summary: same IEEE double arithmetic
    (``floor((v - lo) / width)``, x == hi in the last bin, out-of-range
    dropped), so a histogram computed from a collected summary is
    bit-identical to the distributed one. Counts are integers held in
    float64 (< 2^53), so accumulation order cannot change the result."""
    lo, hi, width = _range_and_width(lo, hi, nbins)
    v = np.asarray(values, dtype=np.float64)
    c = np.asarray(counts, dtype=np.float64)
    keep = ~np.isnan(v) & (v >= lo) & (v <= hi)
    v, c = v[keep], c[keep]
    idx = np.minimum(np.floor((v - lo) / width), nbins - 1).astype(np.int64)
    idx[v == hi] = nbins - 1
    out = np.zeros(nbins, dtype=np.float64)
    np.add.at(out, idx, c)
    return out


def salted_count(df: DataFrame, keys: list[str]) -> DataFrame:
    """(keys, count) in one grouped aggregation. Spark's partial
    aggregation already collapses a hot key to one row per map task
    before the shuffle, so a salt stage would only add an exchange.
    The name is kept: perfbench's tracer wraps it by name."""
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias("count"))


def salted_weighted_count(df: DataFrame, keys: list[str], weight: str) -> DataFrame:
    """(keys, count = SUM(weight)) in one grouped aggregation — the
    weighted twin of :func:`salted_count`, used when rows are already
    (key, n) summaries (e.g. HDM's per-batch distinct-value summaries)
    rather than raw observations. Named as it is for the same tracer."""
    return df.groupBy(*keys).agg(F.sum(weight).alias("count"))


def align_frequencies(ref: dict, test: dict) -> tuple[np.ndarray, np.ndarray, list]:
    """Outer-align two category->count dicts on the category universe."""
    cats = sorted(set(ref) | set(test), key=lambda x: (x is None, str(x)))
    r = np.array([ref.get(c, 0) for c in cats], dtype=np.float64)
    t = np.array([test.get(c, 0) for c in cats], dtype=np.float64)
    return r, t, cats
