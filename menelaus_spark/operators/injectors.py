"""Drift injectors as DataFrame transforms — test-fixture generators
mirroring /root/reference/menelaus/injection/*.py, re-expressed as
window-predicated column expressions (SURVEY.md §2.10). The reference
mutates numpy slices ``ret[from:to, col]``; here the window is a
predicate on an explicit row-index column, so the transform is lazy,
distributed, and never materializes a copy.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from menelaus_spark.verdicts import local_frame


def _window_pred(idx_col: str, from_index: int, to_index: int):
    return (F.col(idx_col) >= from_index) & (F.col(idx_col) < to_index)


def feature_shift(df: DataFrame, idx_col: str, from_index: int, to_index: int,
                  col: str, shift_factor: float, alpha: float = 0.001) -> DataFrame:
    """column += shift_factor * (alpha + mean(column over the window))
    (feature_manipulation.py:6-40). The window mean is one distributed agg."""
    mean = df.filter(_window_pred(idx_col, from_index, to_index)).agg(
        F.avg(col)
    ).collect()[0][0]
    delta = (alpha + float(mean)) * shift_factor
    return df.withColumn(
        col,
        F.when(_window_pred(idx_col, from_index, to_index), F.col(col) + F.lit(delta))
        .otherwise(F.col(col)),
    )


def feature_swap(df: DataFrame, idx_col: str, from_index: int, to_index: int,
                 col_1: str, col_2: str) -> DataFrame:
    """Swap two columns inside the window (feature_manipulation.py:43-77)."""
    pred = _window_pred(idx_col, from_index, to_index)
    return df.withColumns(
        {
            col_1: F.when(pred, F.col(col_2)).otherwise(F.col(col_1)),
            col_2: F.when(pred, F.col(col_1)).otherwise(F.col(col_2)),
        }
    )


def label_swap(df: DataFrame, idx_col: str, from_index: int, to_index: int,
               target_col: str, class_1, class_2) -> DataFrame:
    """Swap two class labels inside the window
    (label_manipulation.py LabelSwapInjector semantics)."""
    pred = _window_pred(idx_col, from_index, to_index)
    return df.withColumn(
        target_col,
        F.when(pred & (F.col(target_col) == F.lit(class_1)), F.lit(class_2))
        .when(pred & (F.col(target_col) == F.lit(class_2)), F.lit(class_1))
        .otherwise(F.col(target_col)),
    )


def brownian_noise(df: DataFrame, idx_col: str, from_index: int, to_index: int,
                   col: str, x0: float, seed: int = 0) -> DataFrame:
    """col += Wiener walk over the window (noise.py:6-62). The walk is
    w[0] = x0, w[i] = w[i-1] + choice(±1)/sqrt(steps) — a cumulative sum
    over the window order, realized as a broadcast lookup keyed on the
    row index (the walk itself is O(window) driver-side numpy, seeded).
    """
    steps = to_index - from_index
    rng = np.random.default_rng(seed)
    increments = rng.choice([1.0, -1.0], size=steps) / np.sqrt(steps)
    walk = np.empty(steps)
    walk[0] = x0
    walk[1:] = x0 + np.cumsum(increments[1:])
    walk_df = local_frame(
        df.sparkSession,
        [(int(from_index + i), float(w)) for i, w in enumerate(walk)],
        f"{idx_col} long, __walk double",
    )
    out = df.join(F.broadcast(walk_df), on=idx_col, how="left")
    return out.withColumn(
        col,
        F.when(F.col("__walk").isNotNull(), F.col(col) + F.col("__walk"))
        .otherwise(F.col(col)),
    ).drop("__walk")


def label_probability(df: DataFrame, idx_col: str, from_index: int, to_index: int,
                      target_col: str, class_probs: dict, seed: int = 0) -> DataFrame:
    """Resample labels inside the window with the given per-class
    probabilities (label_manipulation.py LabelProbabilityInjector
    semantics). Deterministic per-row via a hash-seeded uniform."""
    classes = list(class_probs.keys())
    cum = np.cumsum([class_probs[c] for c in classes])
    cum = (cum / cum[-1]).tolist()
    u = (F.pmod(F.xxhash64(F.col(idx_col), F.lit(seed)), F.lit(10**9)) / F.lit(10**9))
    expr = None
    for c, edge in zip(classes, cum):
        cond = u < F.lit(float(edge))
        expr = F.when(cond, F.lit(c)) if expr is None else expr.when(cond, F.lit(c))
    pred = _window_pred(idx_col, from_index, to_index)
    return df.withColumn(
        target_col, F.when(pred, expr).otherwise(F.col(target_col))
    )


def feature_cover(df: DataFrame, col: str, sample_size: int,
                  seed: int = 0) -> DataFrame:
    """Hide column ``col`` (a categorical concept), draw
    ``sample_size // n_groups`` rows uniformly from each group, drop
    the column (feature_manipulation.py:78-114, Souza 2020).

    Distributed realization: per-group exact-n sampling via a hash-
    seeded random order + row_number window — one shuffle, no
    driver-side grouping; deterministic for a given seed."""
    from pyspark.sql import Window

    n_groups = df.select(col).distinct().count()
    n = sample_size // n_groups
    w = Window.partitionBy(col).orderBy(
        F.xxhash64(F.struct(*[F.col(c) for c in df.columns]), F.lit(seed))
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn", col)
    )


def label_dirichlet(df: DataFrame, idx_col: str, from_index: int, to_index: int,
                    target_col: str, alpha: dict, seed: int = 0) -> DataFrame:
    """Resample labels inside the window per a Dirichlet(alpha) draw
    over the classes (label_manipulation.py:189-243): the drawn
    distribution feeds the probability injector. The reference draws
    from the global numpy RNG; here the draw is seeded for
    byte-identical resume."""
    classes = list(alpha.keys())
    rng = np.random.default_rng(seed)
    probs = rng.dirichlet([alpha[c] for c in classes])
    class_probs = {c: float(p) for c, p in zip(classes, probs)}
    return label_probability(
        df, idx_col, from_index, to_index, target_col, class_probs, seed=seed
    )
