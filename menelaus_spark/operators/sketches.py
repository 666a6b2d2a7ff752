"""Mergeable cardinality / frequency sketches — the 10^12-row screen
in front of the exact uniqueness and frequency checks.

At 10^12 clips the exact ``uniqueness on clip_id`` check is a full
shuffle of every key.  The HyperLogLog pass below is the screen you
run FIRST: one scan, a map-side partial ``max`` per register, and a
final aggregate over at most ``2^p`` rows — no key shuffle at all.
Only when the sketch says the key column is plausibly non-unique
(estimate visibly below the row count) do you pay for the exact
groupBy.  Register tables are mergeable by plain ``max``, so
per-Iceberg-partition sketches roll up to the table-level estimate
without rescanning (the same merge shape the HDM summaries use,
checks/hdm.py).

Likewise the count-min sketch bounds frequency estimation to a fixed
``d x w`` counter grid: codec / event-type frequency screens at
10^12 rows without a full-cardinality shuffle, mergeable by plain
``sum``.

Everything is deterministic md5-lane hashing (the repo-wide shared
hash family, operators/dedup.py:minhash_sig_py) so the identical
computation replays verbatim in the DuckDB oracle.  No UDFs anywhere
— pure JVM expressions inside whole-stage codegen.

The reference has no sketches (its uniqueness story is the input
conformance counters, /root/reference/menelaus/detector.py:126-150);
these are north-star additions in the spirit of its batch detectors.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "hll_register_cols",
    "hll_registers",
    "hll_registers_by",
    "hll_merge",
    "hll_estimate",
    "hll_estimate_registers",
    "hll_estimate_df",
    "hll_estimate_by_df",
    "cms_counters",
    "cms_lookup",
]

_HASH_BITS = 60  # one 15-hex-char md5 lane


def _hash60(col: Column, seed: str) -> Column:
    """60-bit deterministic hash: first 15 hex chars of
    md5(seed||'|'||value), base-16 -> long.  Identical expression in
    DuckDB: ('0x' || substring(md5(seed||'|'||v), 1, 15))::BIGINT."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}|"), col.cast("string"))), 1, 15),
        16, 10,
    ).cast("long")


def hll_alpha(m: int) -> float:
    """Flajolet et al. bias-correction constant (m >= 16, i.e. p >= 4
    — below that HLL's estimator assumptions break down)."""
    if m >= 128:
        return 0.7213 / (1 + 1.079 / m)
    try:
        return {16: 0.673, 32: 0.697, 64: 0.709}[m]
    except KeyError:
        raise ValueError(f"HLL needs p >= 4 (m >= 16); got m={m}") from None


def _rho_expr(h: Column, p: int) -> Column:
    """Position of the leftmost 1-bit of the (60-p)-bit suffix, 1-based
    from the MSB; all-zero suffix -> (60-p)+1.  Realized as
    bit-length via length(bin(w)) — the same two functions exist in
    DuckDB with the same bin(0)='0' quirk, which the w=0 branch
    sidesteps."""
    k = _HASH_BITS - p
    w = h.bitwiseAND(F.lit((1 << k) - 1))
    return F.when(w == 0, F.lit(k + 1)).otherwise(
        F.lit(k + 1) - F.length(F.bin(w))
    ).cast("int")


def hll_register_cols(col: str, p: int = 8, seed: str = "hll") -> list[Column]:
    """The per-row ``reg`` and ``rho`` columns of a value: the register
    index is the top ``p`` bits of the hash, rho the leading-zero rank
    of the remaining 60-p bits.  Rows with a null value must be
    filtered out first.  For plans that group registers their own way,
    e.g. a rollup of global and per-group registers in one exchange."""
    h = _hash60(F.col(col), seed)
    return [
        F.shiftright(h, _HASH_BITS - p).cast("int").alias("reg"),
        _rho_expr(h, p).alias("rho"),
    ]


def hll_registers(df: DataFrame, col: str, p: int = 8, seed: str = "hll") -> DataFrame:
    """(reg:int, rho:int) register table — absent registers mean 0.

    One scan (``hll_register_cols``), then groupBy over at most 2^p
    keys -> the shuffle is 2^p rows regardless of input size, with
    map-side partial max doing all the work."""
    return (
        df.filter(F.col(col).isNotNull())
        .select(*hll_register_cols(col, p, seed))
        .groupBy("reg")
        .agg(F.max("rho").alias("rho"))
    )


def hll_registers_by(df: DataFrame, group_col: str, col: str, p: int = 8,
                     seed: str = "hll") -> DataFrame:
    """Per-group register tables: (group, reg, rho) — one shuffle of
    at most n_groups * 2^p rows.  ``hll_merge`` of the groups equals
    the global register table exactly (max is associative), which is
    the per-Iceberg-partition rollup contract."""
    return (
        df.filter(F.col(col).isNotNull())
        .select(F.col(group_col), *hll_register_cols(col, p, seed))
        .groupBy(group_col, "reg")
        .agg(F.max("rho").alias("rho"))
    )


def hll_merge(*register_dfs: DataFrame) -> DataFrame:
    """Merge register tables by plain max — exact, order-free."""
    it = iter(register_dfs)
    out = next(it)
    for r in it:
        out = out.unionByName(r)
    return out.groupBy("reg").agg(F.max("rho").alias("rho"))


def _estimate_from(v_zero: int, s_int: int, p: int) -> float:
    """Shared scalar estimator: S_int = sum over ALL m registers of
    2^(kmax - rho) (zero registers contribute 2^kmax), an exact
    integer <= 2^61 — the float division happens ONCE, so the value
    is bit-reproducible across engines."""
    m = 1 << p
    kmax = _HASH_BITS - p + 1
    sum_inv = s_int / float(1 << kmax)  # = sum 2^-rho, exact rational
    e_raw = hll_alpha(m) * m * m / sum_inv
    if e_raw <= 2.5 * m and v_zero > 0:
        return m * math.log(m / v_zero)
    return e_raw


def hll_estimate_registers(rhos, p: int = 8) -> tuple[float, int, int]:
    """(estimate, v_zero, s_int) from the rho of each non-empty
    register, already on the driver (at most 2^p values) — the
    driver twin of ``hll_estimate_df``."""
    rhos = list(rhos)
    kmax = _HASH_BITS - p + 1
    v_zero = (1 << p) - len(rhos)
    s_int = sum(1 << (kmax - r) for r in rhos) + v_zero * (1 << kmax)
    return _estimate_from(v_zero, s_int, p), v_zero, s_int


def hll_estimate(register_df: DataFrame, p: int = 8) -> tuple[float, int, int]:
    """Driver-side estimate from a register table: (estimate, v_zero,
    s_int).  Collects at most 2^p rows."""
    return hll_estimate_registers((r[0] for r in register_df.select("rho").collect()), p)


def hll_estimate_df(register_df: DataFrame, p: int = 8) -> DataFrame:
    """All-relational single-row estimate (m, v_zero, s_int, est) —
    the no-collect form the driver oracle replays in SQL.  ``est`` is
    rounded to 4 decimals; v_zero/s_int are the exact integer state."""
    m = 1 << p
    kmax = _HASH_BITS - p + 1
    agg = register_df.agg(
        F.count(F.lit(1)).alias("nz"),
        F.coalesce(F.sum(F.expr(f"shiftleft(cast(1 as bigint), {kmax} - rho)")),
                   F.lit(0).cast("long")).alias("s_nz"),
    )
    v_zero = F.lit(m) - F.col("nz")
    s_int = F.col("s_nz") + v_zero.cast("long") * F.lit(1 << kmax)
    sum_inv = s_int.cast("double") / F.lit(float(1 << kmax))
    e_raw = F.lit(hll_alpha(m) * m * m) / sum_inv
    est = F.when((e_raw <= 2.5 * m) & (v_zero > 0),
                 F.lit(float(m)) * F.log(F.lit(float(m)) / v_zero.cast("double"))
                 ).otherwise(e_raw)
    return agg.select(
        F.lit(m).alias("m"),
        v_zero.cast("long").alias("v_zero"),
        s_int.alias("s_int"),
        F.round(est, 4).alias("est_distinct"),
    )


# --------------------------------------------------------------------------
# count-min

def cms_counters(df: DataFrame, col: str, d: int = 4, w: int = 64,
                 seed: str = "cms") -> DataFrame:
    """Count-min counter grid (lane:int, bucket:int, cnt:long) — d
    independent md5 lanes, each hashing the value into w buckets.

    The shuffle is bounded by d*w rows (map-side partial sums first);
    the grid merges across partitions/tables by plain sum.  d scans of
    the projected column are avoided by exploding the d lane/bucket
    pairs from ONE hash projection."""
    pairs = F.array(*[
        F.struct(
            F.lit(j).alias("lane"),
            (_hash60(F.col(col), f"{seed}{j}") % w).cast("int").alias("bucket"),
        )
        for j in range(d)
    ])
    return (
        df.filter(F.col(col).isNotNull())
        .select(F.explode(pairs).alias("lb"))
        .groupBy(F.col("lb.lane").alias("lane"), F.col("lb.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_lookup(counters: DataFrame, probes: DataFrame, col: str, d: int = 4,
               w: int = 64, seed: str = "cms") -> DataFrame:
    """Point-query the grid for every row of ``probes``: est = min
    over lanes of the addressed counter (the classic one-sided
    overestimate).  The counter grid is at most d*w rows, so it
    broadcasts; an absent counter reads as 0 (a never-hit bucket
    proves count 0 on that lane)."""
    from pyspark.sql.functions import broadcast

    pairs = F.array(*[
        F.struct(
            F.lit(j).alias("lane"),
            (_hash60(F.col(col), f"{seed}{j}") % w).cast("int").alias("bucket"),
        )
        for j in range(d)
    ])
    exploded = probes.select(F.col(col), F.explode(pairs).alias("lb")).select(
        F.col(col), F.col("lb.lane").alias("lane"), F.col("lb.bucket").alias("bucket")
    )
    return (
        exploded.join(broadcast(counters), on=["lane", "bucket"], how="left")
        .groupBy(col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("long"))).alias("est_count"))
    )


def hll_estimate_by_df(register_by_df: DataFrame, group_col: str, p: int = 8) -> DataFrame:
    """Grouped relational estimate: one row per group (group, v_zero,
    s_int, est_distinct) from a ``hll_registers_by`` table — the
    per-Iceberg-partition distinct profile in one aggregate over
    n_groups * 2^p register rows."""
    m = 1 << p
    kmax = _HASH_BITS - p + 1
    agg = register_by_df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("nz"),
        F.coalesce(F.sum(F.expr(f"shiftleft(cast(1 as bigint), {kmax} - rho)")),
                   F.lit(0).cast("long")).alias("s_nz"),
    )
    v_zero = F.lit(m) - F.col("nz")
    s_int = F.col("s_nz") + v_zero.cast("long") * F.lit(1 << kmax)
    sum_inv = s_int.cast("double") / F.lit(float(1 << kmax))
    e_raw = F.lit(hll_alpha(m) * m * m) / sum_inv
    est = F.when((e_raw <= 2.5 * m) & (v_zero > 0),
                 F.lit(float(m)) * F.log(F.lit(float(m)) / v_zero.cast("double"))
                 ).otherwise(e_raw)
    return agg.select(
        F.col(group_col),
        v_zero.cast("long").alias("v_zero"),
        s_int.alias("s_int"),
        F.round(est, 4).alias("est_distinct"),
    )
