"""Per-column statistics profiler — one groupBy-free aggregation pass.

count / null-rate / min / max / mean / stddev / approx-distinct /
quantile sketches for every requested column in a SINGLE ``df.agg``:
Spark computes all of these as partial+final aggregates in one scan
with full column pruning, which is exactly the shape that survives a
100x scale-up (no shuffle at all for global stats; one small shuffle
for grouped stats).

Generalizes the reference's only "profiling" — input-conformance
counters (/root/reference/menelaus/detector.py:126-150, 236-266) — to
the per-column stats the north_star names explicitly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_QUANTILES = (0.25, 0.5, 0.75, 0.95)


def profile_aggs(df: DataFrame, numeric_cols: list[str], all_cols: list[str] | None = None,
                 quantiles=DEFAULT_QUANTILES, exact_quantiles: bool = False) -> list:
    """Build the aggregate-expression list for one profiling pass."""
    all_cols = all_cols if all_cols is not None else numeric_cols
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in all_cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"))
    for c in numeric_cols:
        col = F.col(c).cast("double")
        aggs += [
            F.min(col).alias(f"{c}__min"),
            F.max(col).alias(f"{c}__max"),
            F.avg(col).alias(f"{c}__mean"),
            F.stddev_samp(col).alias(f"{c}__std"),
            F.approx_count_distinct(c).alias(f"{c}__approx_distinct"),
        ]
        for q in quantiles:
            if exact_quantiles:
                agg = F.expr(f"percentile({c}, {q})")
            else:
                agg = F.percentile_approx(col, q, 10000)
            aggs.append(agg.alias(f"{c}__q{int(q * 100)}"))
    return aggs


def profile(df: DataFrame, numeric_cols: list[str], all_cols: list[str] | None = None,
            quantiles=DEFAULT_QUANTILES, exact_quantiles: bool = False) -> dict:
    """Run the single-pass profile; returns a flat stats dict."""
    row = df.agg(*profile_aggs(df, numeric_cols, all_cols, quantiles, exact_quantiles)).collect()[0]
    return row.asDict()
