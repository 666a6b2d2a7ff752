"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's operator surface (SURVEY.md §2 +
the training-data pipeline ops) over the driver testdata tables;
``oracle_sql()`` provides an exact DuckDB oracle for EVERY entry
(r04: 47/47). Column names/rounding are aligned on both sides (the
driver hash-compares values after sorting columns by name).

Oracle families: pure SQL; recursive-CTE state-machine replays
(PH/CUSUM/ensemble/DDM/EDDM/STEPD/HDM-detect_batch-3/kdq tree walk);
independent twins whose deterministic outputs are inlined as VALUES
(ADWIN, LFR, the HDM bootstrap machine, NNDVI, MD3
distributed-vs-sequential, PCA-CD/streaming-kdq sequential replays,
the numpy-regenerated example/audio tables, the end-to-end audio
suite decision flow). Every source of randomness/sampling feeding
these entries is counter-based or histogram-level — deliberately
partitioning-independent — which is what makes driver-side replay
sound at any cluster size.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

import menelaus_spark  # noqa: F401  (ensures PYTHONPATH export for workers)
from menelaus_spark import audio, tables
from menelaus_spark.operators import dedup, similarity
from menelaus_spark.operators import text as T
from menelaus_spark.verdicts import driver_rows, local_frame


_PYFILES_SESSIONS: set = set()
_PYFILES_PREFIX = "menelaus_spark_pyfiles_"
# a worker zip not written or reused for this long is deleted: one is
# left behind for every source state a session ever ran
_PYFILES_MAX_AGE_S = 7 * 24 * 3600
# the fixed name older checkouts wrote before the zips were
# content-addressed (tools/submit_validation.py's menelaus_spark.zip is
# a user's spark-submit artifact, not ours to delete)
_PYFILES_LEGACY = "menelaus_spark_pyfiles.zip"


def _prune_pyfiles_zips(out_dir: str, keep: str) -> None:
    """Delete the legacy zip and every other worker zip in ``out_dir``
    older than _PYFILES_MAX_AGE_S. Spark copies a zip when it is added
    to a session, so deleting one never breaks a running session."""
    cutoff = time.time() - _PYFILES_MAX_AGE_S
    for fn in os.listdir(out_dir):
        path = os.path.join(out_dir, fn)
        if path == keep:
            continue
        try:
            if fn == _PYFILES_LEGACY or (
                fn.startswith(_PYFILES_PREFIX) and fn.endswith(".zip")
                and os.path.getmtime(path) < cutoff
            ):
                os.unlink(path)
        except OSError:
            pass  # gone already, or another user's


def _pyfiles_zip(repo: str) -> str:
    """A zip of ``repo``'s menelaus_spark sources, named by a digest of
    their paths and bytes. Two checkouts on one host get the same zip
    only when their sources are identical, so neither's workers can
    import the other's code. The zip is written to a temporary name and
    renamed into place, so no reader sees a partial one. A reused zip is
    touched, so its age is the time since its last use, and stale zips
    of other source states are pruned (_prune_pyfiles_zips)."""
    import hashlib
    import zipfile

    srcs = {}
    for dirpath, _, files in os.walk(os.path.join(repo, "menelaus_spark")):
        for fn in files:
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                with open(full, "rb") as f:
                    srcs[os.path.relpath(full, repo)] = f.read()
    digest = hashlib.sha256()
    for rel in sorted(srcs):
        digest.update(f"{rel}\0{len(srcs[rel])}\0".encode())
        digest.update(srcs[rel])
    out_dir = tempfile.gettempdir()
    zip_path = os.path.join(out_dir, f"{_PYFILES_PREFIX}{digest.hexdigest()[:16]}.zip")
    if os.path.exists(zip_path):
        try:
            os.utime(zip_path)
        except OSError:
            pass  # another user's zip: its owner's sessions keep it fresh
    else:
        fd, tmp = tempfile.mkstemp(dir=out_dir, suffix=".zip.tmp")
        try:
            with os.fdopen(fd, "wb") as f, zipfile.ZipFile(f, "w", zipfile.ZIP_DEFLATED) as zf:
                for rel in sorted(srcs):
                    zf.writestr(rel, srcs[rel])
            os.chmod(tmp, 0o644)  # mkstemp's 0600 would hide it from other users
            os.replace(tmp, zip_path)
        except BaseException:
            os.unlink(tmp)
            raise
    _prune_pyfiles_zips(out_dir, zip_path)
    return zip_path


def _ensure_workers_can_import(spark: SparkSession) -> None:
    """Ship menelaus_spark to Python workers via addPyFile. Needed when
    the caller built its SparkSession BEFORE importing this module (the
    PYTHONPATH export in menelaus_spark.session happens at import time
    and cannot reach an already-launched JVM's worker daemon)."""
    sc = spark.sparkContext
    key = sc.applicationId
    if key in _PYFILES_SESSIONS:
        return
    zip_path = _pyfiles_zip(os.path.dirname(os.path.abspath(__file__)))
    try:
        sc.addPyFile(zip_path)
    except Exception:
        pass  # already added in this context
    _PYFILES_SESSIONS.add(key)


# path -> (stat signature, the StructType Spark inferred for it)
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _stat_signature(path: str) -> tuple:
    """(file, size, mtime_ns, inode) of every file at or under
    ``path``: a rewrite, an added or a removed file changes it."""
    if os.path.isfile(path):
        files = [path]
    else:
        files = sorted(os.path.join(d, fn) for d, _, fns in os.walk(path) for fn in fns)
    sig = []
    for f in files:
        st = os.stat(f)
        sig.append((f, st.st_size, st.st_mtime_ns, st.st_ino))
    return tuple(sig)


def _t(spark: SparkSession, sf_dir: str, name: str, spread: bool = False) -> DataFrame:
    """Read one testdata table. ``spread=True`` repartitions a
    single-split local file to defaultParallelism — the small parquet
    arrives as ONE input split, which would serialize a string-heavy
    map stage (shingle/minhash/fingerprint hashing) onto one core.
    Only the heavy pipelines opt in: for cheap scans the ~1 s shuffle
    of the text column costs more than it buys (measured r03: it was
    the r02 token_stats/ann regression). At real scale the scan has
    many splits and the branch never fires.

    A read without a schema runs one Spark job to infer it from the
    Parquet footers, even for a single file with mergeSchema off
    (about 0.2 s warm against 0.035 s with the schema given, on 4
    cores). So the schema Spark inferred is kept per path and passed
    back through ``spark.read.schema`` on later reads, which then run
    no job. Each path's entry holds its ``_stat_signature``: when any
    file under the path changes size, mtime or inode, or a file comes
    or goes, the table is inferred again. A path with no local files to
    stat (a URI) is inferred on every read."""
    _ensure_workers_can_import(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    sig = _stat_signature(path)
    known = _SCHEMAS.get(path)
    if sig and known is not None and known[0] == sig:
        df = spark.read.schema(known[1]).parquet(path)
    else:
        df = spark.read.parquet(path)
        _SCHEMAS[path] = (sig, df.schema)
    if spread:
        par = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < par:
            df = df.repartition(par)
    return df


# --------------------------------------------------------------------------
# relational core

def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style aggregation over lineitem."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_profile_lineitem(spark, sf_dir):
    """Single-pass column profile (engine operator profile.profile_aggs
    shape, exact quantiles for oracle comparability)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").isNull().cast("long")).alias("qty_nulls"),
        F.round(F.min("l_extendedprice"), 4).alias("price_min"),
        F.round(F.max("l_extendedprice"), 4).alias("price_max"),
        F.round(F.avg("l_extendedprice"), 4).alias("price_mean"),
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("price_p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias("price_p95"),
        F.round(F.stddev_samp("l_quantity"), 4).alias("qty_std"),
    )


def q_profile_events_by_type(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 4).alias("v_min"),
            F.round(F.max("value"), 4).alias("v_max"),
            F.round(F.avg("value"), 4).alias("v_mean"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


def q_topk_orders_per_customer(spark, sf_dir):
    """Top-3 orders by totalprice per customer (ranking window)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("totalprice"), "rk")
    )


def q_rollup_revenue(spark, sf_dir):
    """GROUPING SETS rollup of revenue."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "revenue",
        )
    )


def q_referential_orphans(spark, sf_dir):
    """Left-anti referential check: lineitem -> orders."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    from menelaus_spark.operators.constraints import referential_orphans

    orphans = referential_orphans(
        li.select(F.col("l_orderkey").alias("key")),
        o.select(F.col("o_orderkey").alias("key")), "key",
    )
    return orphans.groupBy().agg(F.count(F.lit(1)).alias("n_orphans"))


def q_uniqueness_events_user(spark, sf_dir):
    """Duplicate-key groups (uniqueness violations) of events.user_id."""
    ev = _t(spark, sf_dir, "events")
    from menelaus_spark.operators.constraints import uniqueness_violations

    return uniqueness_violations(ev, "user_id").select(
        F.col("row_key").cast("long").alias("user_id"), F.col("n_dup")
    ).orderBy("user_id")


def q_asof_last_view_before_purchase(spark, sf_dir):
    """As-of join: for each purchase event, the most recent prior view
    by the same user.  Realized as ONE union + window pass
    (operators/relational.py): no per-user join product, so a power
    user with many views x many purchases stays linear."""
    ev = _t(spark, sf_dir, "events")
    from menelaus_spark.operators.relational import asof_join_last

    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("v_ts")
    )
    joined = asof_join_last(p, v, on="user_id", left_ts="p_ts", right_ts="v_ts")
    return (
        joined.filter(F.col("asof_v_ts").isNotNull())
        .select(
            "purchase_id",
            # parquet timestamps arrive as TIMESTAMP_NTZ; cast through
            # session-UTC timestamp to epoch seconds (matches DuckDB's
            # naive epoch_ms // 1000)
            F.col("asof_v_ts").cast("timestamp").cast("long").alias("last_view_epoch"),
        )
        .orderBy("purchase_id")
    )


# --------------------------------------------------------------------------
# histogram / divergence operators (engine building blocks, SQL-checkable)

HIST_BINS = 64


def _local_sort(df: DataFrame, *cols: str) -> DataFrame:
    """``df`` sorted on one partition. For a final result bounded by a
    constant (bins, groups) this replaces ``orderBy``'s range-sampling
    job and exchange with an in-task sort."""
    return df.coalesce(1).sortWithinPartitions(*cols)


def _with_totals(df: DataFrame, **totals: str) -> DataFrame:
    """``df`` on one partition, plus each named column total as a
    column (``t0="c0"`` adds ``t0 = sum(c0)``). For a frame bounded by
    a constant (bins, categories) an unpartitioned window sums it in
    the same task, where ``agg`` + a broadcast cross join runs two
    more jobs."""
    whole = Window.partitionBy()
    return df.coalesce(1).select(
        "*", *[F.sum(c).over(whole).alias(t) for t, c in totals.items()]
    )


def q_hist_extendedprice(spark, sf_dir):
    """Aligned-bin histogram of l_extendedprice (the HDM histogram
    kernel) with data-derived range."""
    from menelaus_spark.operators.histograms import bin_index_col, joint_minmax

    li = _t(spark, sf_dir, "lineitem")
    lo, hi = joint_minmax(li, ["l_extendedprice"])["l_extendedprice"]
    binned = li.select(
        bin_index_col(F.col("l_extendedprice").cast("double"), lo, hi, HIST_BINS).alias("bin")
    ).filter(F.col("bin").isNotNull())
    return _local_sort(binned.groupBy("bin").agg(F.count(F.lit(1)).alias("count")), "bin")


def _two_sample_bins(df: DataFrame, label_col: str, a: str, b: str, value_col: str):
    """Aligned-bin histograms of ``value_col`` for the rows labelled
    ``a`` and ``b``: (lo, hi, counts[bin, c1, c2]), the joint range
    from one min/max job and one grouped count with a conditional sum
    per sample. Rows whose value is null or NaN fall in no bin."""
    from menelaus_spark.operators.histograms import bin_index_col, joint_minmax

    df = df.filter(F.col(label_col).isin([a, b]))
    lo, hi = joint_minmax(df, [value_col])[value_col]
    binned = df.select(
        label_col,
        bin_index_col(F.col(value_col).cast("double"), lo, hi, HIST_BINS).alias("bin"),
    ).filter(F.col("bin").isNotNull())
    counts = binned.groupBy("bin").agg(
        F.sum((F.col(label_col) == a).cast("long")).alias("c1"),
        F.sum((F.col(label_col) == b).cast("long")).alias("c2"),
    )
    return lo, hi, counts


def _cumulative(counts: DataFrame) -> DataFrame:
    """``counts`` with the sample totals t1, t2 and the cumulative
    counts cum1, cum2 in bin order, on one partition."""
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    return (
        _with_totals(counts, t1="c1", t2="c2")
        .withColumn("cum1", F.sum("c1").over(w))
        .withColumn("cum2", F.sum("c2").over(w))
    )


def q_hellinger_returnflag(spark, sf_dir):
    """Hellinger distance between l_extendedprice distributions of
    returnflag R vs A over aligned bins — fully as DataFrame aggregation."""
    _, _, counts = _two_sample_bins(
        _t(spark, sf_dir, "lineitem"), "l_returnflag", "R", "A", "l_extendedprice")
    return (
        _with_totals(counts, t1="c1", t2="c2")
        .agg(
            F.round(
                F.sqrt(F.sum(F.pow(F.sqrt(F.col("c1") / F.col("t1"))
                                   - F.sqrt(F.col("c2") / F.col("t2")), 2))),
                6,
            ).alias("hellinger")
        )
    )


def q_psi_event_type_halves(spark, sf_dir):
    """PSI of event_type frequencies: even vs odd event_id halves
    (category-frequency join, eps-floored log-ratio sum)."""
    ev = _t(spark, sf_dir, "events").withColumn("half", F.pmod("event_id", F.lit(2)))
    freqs = ev.groupBy("event_type").agg(
        F.sum((F.col("half") == 0).cast("long")).alias("c0"),
        F.sum((F.col("half") == 1).cast("long")).alias("c1"),
    )
    eps = 1e-4
    return (
        _with_totals(freqs, t0="c0", t1="c1")
        .select(
            F.greatest(F.col("c0") / F.col("t0"), F.lit(eps)).alias("p"),
            F.greatest(F.col("c1") / F.col("t1"), F.lit(eps)).alias("q"),
        )
        .agg(F.round(F.sum((F.col("q") - F.col("p")) * F.log(F.col("q") / F.col("p"))), 6).alias("psi"))
    )


def q_entropy_event_type_quarters(spark, sf_dir):
    """Shannon entropy (nats) of the event_type distribution within
    each event_id % 4 quarter — the deequ-style categorical-collapse
    profile statistic (functions/distances.shannon_entropy is the
    suite-side numpy twin riding the PSI frequency pass). One
    two-stage aggregation: (quarter, type) counts, then
    -sum(p ln p) per quarter."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "quarter", F.pmod("event_id", F.lit(4)))
    counts = ev.groupBy("quarter", "event_type").agg(F.count("*").alias("c"))
    tot = counts.groupBy("quarter").agg(F.sum("c").alias("n"))
    return (
        counts.join(tot, "quarter")
        .groupBy("quarter")
        .agg(F.round(-F.sum((F.col("c") / F.col("n"))
                            * F.log(F.col("c") / F.col("n"))), 6)
             .alias("entropy"))
    )


def q_hotkey_event_type_quarters(spark, sf_dir):
    """Per-quarter heavy-hitter: the mode event_type and its share of
    each event_id % 4 quarter (runner._hotkey_verdicts is the
    suite-side twin over the partition column). Mode selection is the
    deterministic struct max — count first, value string second — so
    ties resolve identically in Spark and the SQL twin's
    ORDER BY c DESC, event_type DESC."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
    counts = (
        ev.withColumn("quarter", F.pmod("event_id", F.lit(4)))
        .groupBy("quarter", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        counts.groupBy("quarter")
        .agg(
            F.max(F.struct(F.col("c"), F.col("event_type").alias("k"))).alias("top"),
            F.sum("c").alias("total"),
        )
        .select(
            "quarter",
            F.col("top.k").alias("top_key"),
            F.round(F.col("top.c") / F.col("total"), 6).alias("share"),
        )
    )


def q_chisq_event_type_halves(spark, sf_dir):
    """Two-sample chi-squared homogeneity statistic of event_type
    frequencies, even vs odd event_id halves — the hypothesis-test
    sibling of PSI over the same category frequencies
    (functions/distances.chi2_homogeneity is the suite-side numpy
    twin). Expected counts from pooled proportions:
    E[s,i] = n_s*(c0_i+c1_i)/(t0+t1); returns the statistic and its
    degrees of freedom (pooled-nonzero categories - 1)."""
    ev = _t(spark, sf_dir, "events").withColumn("half", F.pmod("event_id", F.lit(2)))
    freqs = ev.groupBy("event_type").agg(
        F.sum((F.col("half") == 0).cast("long")).alias("c0"),
        F.sum((F.col("half") == 1).cast("long")).alias("c1"),
    ).filter(F.col("c0") + F.col("c1") > 0)
    e0 = F.col("t0") * (F.col("c0") + F.col("c1")) / (F.col("t0") + F.col("t1"))
    e1 = F.col("t1") * (F.col("c0") + F.col("c1")) / (F.col("t0") + F.col("t1"))
    return (
        _with_totals(freqs, t0="c0", t1="c1")
        .agg(
            F.round(F.sum((F.col("c0") - e0) * (F.col("c0") - e0) / e0
                          + (F.col("c1") - e1) * (F.col("c1") - e1) / e1),
                    6).alias("chisq"),
            (F.count(F.lit(1)) - F.lit(1)).alias("dof"),
        )
    )


def q_ks_value_click_vs_error(spark, sf_dir):
    """Two-sample KS statistic between `value` distributions of click
    vs error events via cumulative aligned histograms + window cumsum."""
    _, _, counts = _two_sample_bins(
        _t(spark, sf_dir, "events"), "event_type", "click", "error", "value")
    return _cumulative(counts).agg(
        F.round(F.max(F.abs(F.col("cum1") / F.col("t1") - F.col("cum2") / F.col("t2"))), 6)
        .alias("ks"))


def q_emd_value_click_vs_error(spark, sf_dir):
    """Earth Mover's (1-Wasserstein) distance between `value`
    distributions of click vs error events, in value units: binwidth *
    sum over bins of |CDF gap| — the same aligned cumulative histograms
    the KS entry uses (functions/distances.emd_1d is the suite-side
    numpy twin). EMD integrates the whole CDF gap, catching thin mean
    shifts KS's single max understates."""
    lo, hi, counts = _two_sample_bins(
        _t(spark, sf_dir, "events"), "event_type", "click", "error", "value")
    bw = (float(hi) - float(lo)) / HIST_BINS
    # unlike KS's max, the EMD sum must count EMPTY bins: the CDF gap
    # after a populated bin persists across every empty bin up to the
    # next populated one, so each row's |gap| is weighted by that span
    # (the last populated bin's gap is 0 — both CDFs reach 1)
    return (
        _cumulative(counts)
        .withColumn("span",
                    F.lead("bin", 1, HIST_BINS).over(Window.orderBy("bin"))
                    - F.col("bin"))
        .agg(F.round(
            F.lit(bw) * F.sum(F.col("span").cast("double")
                              * F.abs(F.col("cum1") / F.col("t1")
                                      - F.col("cum2") / F.col("t2"))),
            6).alias("emd"))
    )


def q_cvm_value_click_vs_error(spark, sf_dir):
    """Two-sample Cramer-von Mises criterion between `value`
    distributions of click vs error events: sum over bins of the POOLED
    empirical mass times the squared CDF gap (Anderson 1962), from the
    same aligned cumulative histograms the KS/EMD entries use
    (functions/distances.cvm_statistic is the suite-side numpy twin).
    Scale-free in [0, 1]; empty bins carry zero pooled mass, so unlike
    EMD no bin-span weighting is needed."""
    _, _, counts = _two_sample_bins(
        _t(spark, sf_dir, "events"), "event_type", "click", "error", "value")
    gap = F.col("cum1") / F.col("t1") - F.col("cum2") / F.col("t2")
    return _cumulative(counts).agg(F.round(
        F.sum((F.col("c1") + F.col("c2")) / (F.col("t1") + F.col("t2")) * gap * gap),
        6).alias("cvm"))


# --------------------------------------------------------------------------
# dedup / similarity / text pipeline ops

MINHASH_K = 8


def q_minhash_documents(spark, sf_dir):
    """MinHash signatures (k=8, md5-prefix hash family) as scalar
    columns for exact oracle comparison."""
    docs = _t(spark, sf_dir, "documents", spread=True)
    sig = dedup.minhash_signatures(docs, "doc_id", "text", n=3, k=MINHASH_K)
    cols = [F.col("doc_id")] + [
        F.element_at("sig", i + 1).alias(f"h{i}") for i in range(MINHASH_K)
    ]
    return sig.filter(F.size("sig") > 0).select(*cols).orderBy("doc_id")


def q_minhash_lsh_pairs(spark, sf_dir):
    """The COMPLETE MinHash+LSH near-dup pipeline (shingle -> minhash
    -> band -> bucket join -> exact-Jaccard verify), exactly
    reproducible in SQL thanks to the md5-prefix hash family:
    k=8 signatures, 4 bands x 2 rows, verify threshold 0.1."""
    docs = _t(spark, sf_dir, "documents", spread=True)
    return dedup.minhash_lsh_dedup(
        docs, "doc_id", "text", n=3, k=MINHASH_K, bands=4, rows=2, threshold=0.1
    ).orderBy("id_a", "id_b")


def q_dedup_exact_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents", spread=True)
    return dedup.exact_duplicates(docs, "doc_id").select(
        "text_hash", "n_dups", "keep_id"
    ).orderBy("text_hash")


def q_dedup_clusters_documents(spark, sf_dir):
    """Duplicate-cluster RESOLUTION — the step after pair detection:
    union the exact-dup star pairs with the MinHash+LSH near-dup
    pairs, run alternating large-star/small-star connected components
    (O(log^2 n) rounds, diameter-independent), and emit the audit
    frame (id, cluster_id = component-min doc_id, cluster_size,
    is_representative)."""
    from menelaus_spark.operators.clusters import (
        cluster_members,
        connected_components,
    )

    docs = _t(spark, sf_dir, "documents", spread=True)
    ex = dedup.exact_duplicates(docs, "doc_id")
    exact_pairs = (
        ex.select(F.col("keep_id").alias("id_a"), F.explode("dup_ids").alias("id_b"))
        .filter(F.col("id_a") != F.col("id_b"))
    )
    lsh_pairs = dedup.minhash_lsh_dedup(
        docs, "doc_id", "text", n=3, k=MINHASH_K, bands=4, rows=2, threshold=0.1
    ).select("id_a", "id_b")
    cc = connected_components(exact_pairs.union(lsh_pairs))
    return cluster_members(cc).orderBy("id")


def q_repeated_ngram_documents(spark, sf_dir):
    """Exact repeated-substring pairs: documents sharing >= 1 verbatim
    8-token span (Lee et al. 2022 exact-dup signal; catches shared
    passages document-level Jaccard misses). md5-prefix span keys make
    the whole pipeline — span extraction, 60-bit keying, hot-span cap
    at document frequency 64, inverted-index self-join, shared-span
    count — bit-reproducible in the DuckDB oracle."""
    docs = _t(spark, sf_dir, "documents", spread=True)
    return dedup.repeated_ngram_pairs(
        docs, "doc_id", "text", n=8, hot_cap=64
    ).orderBy("id_a", "id_b")


def q_ngram_jaccard_documents(spark, sf_dir):
    """Blocked n-gram Jaccard near-dup pairs. Block = (lang, length
    bucket): near-duplicates have near-equal lengths, so the classic
    length-bucket block keeps the pair count linear-ish while lang
    partitions the vocabulary."""
    docs = _t(spark, sf_dir, "documents", spread=True).withColumn(
        "__blk", F.concat_ws("|", F.col("lang"), F.floor(F.col("n_chars") / 64))
    )
    return dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=2, threshold=0.12, block_col="__blk"
    ).orderBy("id_a", "id_b")


def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs blocked by label."""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = dedup.embedding_neardup_pairs(emb, "vec_id", "embedding",
                                          threshold=0.35, block_col="label")
    # tie-stable round-4 (same round(x*1e4)/1e4 idiom as the oracle)
    cos4 = F.round(F.col("cosine") * F.lit(10000.0)) / F.lit(10000.0)
    return pairs.select(
        "id_a", "id_b", cos4.alias("cos4")
    ).orderBy("id_a", "id_b")


def q_embedding_neardup_kmeans(spark, sf_dir):
    """Embedding-cosine near-dup pairs blocked by LEARNED k-means
    cells (dedup.kmeans_blocks) instead of a caller-supplied label —
    the SemDeDup production path for unlabeled embeddings. The oracle
    regenerates the identical centroids from the same rows (the
    driver sample admits the full table at oracle scale and Lloyd's
    sorts its input, so centroids depend only on the row SET) and
    inlines them as SQL literals; assignment is the same quantized
    argmax on both sides."""
    emb = _t(spark, sf_dir, "embeddings")
    blocked = dedup.kmeans_blocks(emb, "vec_id", "embedding",
                                  n_blocks=8, n_iters=20, seed=42)
    pairs = dedup.embedding_neardup_pairs(blocked, "vec_id", "embedding",
                                          threshold=0.35, block_col="block")
    cos4 = F.round(F.col("cosine") * F.lit(10000.0)) / F.lit(10000.0)
    return pairs.select(
        "id_a", "id_b", cos4.alias("cos4")
    ).orderBy("id_a", "id_b")


def _kdq_oracle_sql() -> str | None:
    """kdq_lineitem oracle: the tree builds and bootstrap criticals
    are driver-side deterministic (the build is multiset-invariant
    over the full under-cap reference year; the criticals are seeded
    multinomial draws, not SQL-expressible) and are inlined as
    literals; the DISTRIBUTED work the Spark side does — per-year leaf
    counts via the broadcast-tree pandas UDF + grouped count, and
    the Dasu-smoothed KL — is recomputed independently in pure SQL via
    a recursive tree walk over the same parquet. Same inlined-constant
    precedent as the k-means centroids / LSH hyperplanes."""
    import numpy as np

    try:
        import duckdb

        sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
        con = duckdb.connect()
        pdf = con.execute(
            f"""SELECT year(l_shipdate) AS yr,
                       l_quantity AS x0, l_extendedprice AS x1, l_discount AS x2
                FROM '{sf_dir}/lineitem.parquet'"""
        ).fetch_df()
        con.close()
    except Exception:
        return None
    from menelaus_spark.checks.kdqtree import (
        KDQTreePartitioner,
        bootstrap_critical_kld,
    )

    years = sorted(int(y) for y in pdf["yr"].unique())
    by_year = {
        yr: pdf.loc[pdf["yr"] == yr, ["x0", "x1", "x2"]].to_numpy(dtype=np.float64)
        for yr in years
    }

    # twin of q_kdq_lineitem's state machine, with numpy leaf counts
    # standing in for the distributed fill (which the SQL re-verifies)
    def build_epoch(ref_year):
        # mirror KdqTreeBatch defaults exactly (alpha=0.01, lbound=2e-10)
        tree = KDQTreePartitioner(count_ubound=100, cutpoint_proportion_lbound=2e-10)
        tree.build(by_year[ref_year])
        counts = tree.fill_counts(by_year[ref_year])
        crit = bootstrap_critical_kld(counts, int(counts.sum()), 0.01, 100, 42)
        return tree, counts, crit

    from menelaus_spark.functions.distances import dasu_smooth, kl_divergence

    epochs = []  # (eid, ref_year, tree, critical, [test_years])
    tree, ref_counts, crit = build_epoch(years[0])
    epochs.append([0, years[0], tree, crit, []])
    drift_pending = None
    for yr in years[1:]:
        if drift_pending is not None:
            tree, ref_counts, crit = build_epoch(drift_pending)
            epochs.append([len(epochs), drift_pending, tree, crit, []])
            drift_pending = None
        epochs[-1][4].append(yr)
        kl = kl_divergence(
            dasu_smooth(ref_counts), dasu_smooth(tree.fill_counts(by_year[yr]))
        )
        if kl > epochs[-1][3]:
            drift_pending = yr

    node_rows, map_rows, epoch_rows = [], [], []
    for eid, ref_year, tree, critical, test_years in epochs:
        ax, mid, lc, rc, leaf = tree.tree_arrays()
        for nid in range(len(ax)):
            node_rows.append(
                f"({eid}, {nid}, {int(ax[nid])}, {float(mid[nid])!r}, "
                f"{int(lc[nid])}, {int(rc[nid])}, {int(leaf[nid])})"
            )
        map_rows.append(f"({ref_year}, {eid}, 'ref')")
        for yr in test_years:
            map_rows.append(f"({yr}, {eid}, 'test')")
        epoch_rows.append(f"({eid}, {critical!r}, {tree.n_leaves})")

    return f"""
        WITH RECURSIVE
        nodes(eid, nid, axis, mid, lc, rc, leaf) AS (VALUES {", ".join(node_rows)}),
        ymap(yr, eid, role) AS (VALUES {", ".join(map_rows)}),
        epochs(eid, critical, n_leaves) AS (VALUES {", ".join(epoch_rows)}),
        rows_ AS (
          SELECT year(l_shipdate) AS yr, l_quantity AS x0,
                 l_extendedprice AS x1, l_discount AS x2 FROM lineitem),
        walk(yr, eid, role, x0, x1, x2, node) AS (
          SELECT r.yr, m.eid, m.role, r.x0, r.x1, r.x2, 0::BIGINT
          FROM rows_ r JOIN ymap m ON r.yr = m.yr
          UNION ALL
          SELECT w.yr, w.eid, w.role, w.x0, w.x1, w.x2,
                 CASE WHEN (CASE n.axis WHEN 0 THEN w.x0 WHEN 1 THEN w.x1
                            ELSE w.x2 END) > n.mid
                      THEN n.rc ELSE n.lc END
          FROM walk w JOIN nodes n ON n.eid = w.eid AND n.nid = w.node
          WHERE n.axis >= 0),
        landed AS (
          SELECT w.yr, w.eid, w.role, n.leaf
          FROM walk w JOIN nodes n ON n.eid = w.eid AND n.nid = w.node
          WHERE n.axis = -1),
        leaves AS (SELECT eid, leaf FROM nodes WHERE axis = -1),
        refc AS (
          SELECT l.eid, l.leaf, count(d.leaf) AS c
          FROM leaves l LEFT JOIN landed d
            ON d.eid = l.eid AND d.leaf = l.leaf AND d.role = 'ref'
          GROUP BY l.eid, l.leaf),
        refn AS (SELECT eid, sum(c) AS n FROM refc GROUP BY eid),
        testc AS (
          SELECT m.yr, l.eid, l.leaf, count(d.leaf) AS c
          FROM ymap m JOIN leaves l ON l.eid = m.eid
          LEFT JOIN landed d
            ON d.eid = l.eid AND d.leaf = l.leaf
           AND d.role = 'test' AND d.yr = m.yr
          WHERE m.role = 'test'
          GROUP BY m.yr, l.eid, l.leaf),
        testn AS (SELECT yr, eid, sum(c) AS n FROM testc GROUP BY yr, eid),
        kls AS (
          SELECT t.yr, t.eid,
                 sum(((r.c + 0.5) / (rn.n + e.n_leaves / 2.0))
                     * ln(((r.c + 0.5) / (rn.n + e.n_leaves / 2.0))
                          / ((t.c + 0.5) / (tn.n + e.n_leaves / 2.0)))) AS kl
          FROM testc t
          JOIN refc r ON r.eid = t.eid AND r.leaf = t.leaf
          JOIN refn rn ON rn.eid = t.eid
          JOIN testn tn ON tn.yr = t.yr AND tn.eid = t.eid
          JOIN epochs e ON e.eid = t.eid
          GROUP BY t.yr, t.eid)
        SELECT {years[0]}::VARCHAR AS year, 'reference' AS state,
               NULL::DOUBLE AS kl, NULL::DOUBLE AS critical
        UNION ALL
        SELECT k.yr::VARCHAR, CASE WHEN k.kl > e.critical THEN 'drift' ELSE 'pass' END,
               round(k.kl, 6), round(e.critical, 6)
        FROM kls k JOIN epochs e ON e.eid = k.eid
        ORDER BY year
    """


_ORACLE_VALS_CTE = """
        vals AS (
          SELECT (user_id % 8)::VARCHAR AS grp, value::DOUBLE AS v,
                 row_number() OVER (PARTITION BY user_id % 8
                                    ORDER BY event_id) AS rn
          FROM events),
        cnts AS (SELECT grp, max(rn) AS mx FROM vals GROUP BY grp)"""

_Z = "CAST(0.0 AS DOUBLE)"


def _ph_fragments(x: str):
    """Page-Hinkley recurrence as recursive-CTE fragments (init column
    list + LATERAL let-chain), alias-prefixed by ``x`` so the
    standalone and ensemble oracles share ONE copy of the kernel's
    exact float expression order (expanding mean, s += v - mean -
    delta, running min, theta = threshold * mean, burn-in gate, full
    reset after an alarm row). State columns: {x}n, {x}mean, {x}s,
    {x}mn, {x}alarm."""
    z, d = _Z, "CAST(0.01 AS DOUBLE)"
    init = (f"CAST(1 AS BIGINT) AS {x}n, v AS {x}mean, (v - v - {d}) AS {x}s, "
            f"least({z}, v - v - {d}) AS {x}mn, false AS {x}alarm")
    step_cols = (f"CAST({x}1.n2 AS BIGINT), {x}2.mean2, {x}3.s2, {x}4.mn2, "
                 f"{x}5.alarm2")
    lateral = f"""
          LATERAL (SELECT CASE WHEN r.{x}alarm THEN 1 ELSE r.{x}n + 1 END AS n2) {x}1,
          LATERAL (SELECT (CASE WHEN r.{x}alarm THEN {z} ELSE r.{x}mean END)
                          + (v.v - (CASE WHEN r.{x}alarm THEN {z} ELSE r.{x}mean END))
                            / {x}1.n2 AS mean2) {x}2,
          LATERAL (SELECT (CASE WHEN r.{x}alarm THEN {z} ELSE r.{x}s END)
                          + (v.v - {x}2.mean2 - {d}) AS s2) {x}3,
          LATERAL (SELECT least(CASE WHEN r.{x}alarm THEN {z} ELSE r.{x}mn END,
                                {x}3.s2) AS mn2) {x}4,
          LATERAL (SELECT (({x}3.s2 - {x}4.mn2) > (20 * {x}2.mean2)
                           AND {x}1.n2 > 30) AS alarm2) {x}5"""
    return init, step_cols, lateral, f"{x}5.alarm2"


def _cusum_fragments(x: str):
    """CUSUM recurrence fragments (same sharing contract as
    :func:`_ph_fragments`), reproducing the reference's stream-indexed
    numerator quirk (after a member reset the z-score numerator indexes
    the GLOBAL stream at samples_since_reset - 1), the
    trailing-burn_in target/sd re-estimation, and the burn-in gates.
    Mean/std windows use SQL aggregation order (numpy uses pairwise
    summation) — a ~1e-16 relative difference that cannot move the
    integer outputs except on exact threshold ties. State columns:
    {x}n, {x}tgt, {x}sd, {x}up, {x}lo, {x}alarm."""
    z, cd = _Z, "CAST(0.005 AS DOUBLE)"
    init = (f"CAST(1 AS BIGINT) AS {x}n, CAST(NULL AS DOUBLE) AS {x}tgt, "
            f"CAST(NULL AS DOUBLE) AS {x}sd, {z} AS {x}up, {z} AS {x}lo, "
            f"false AS {x}alarm")
    step_cols = (f"CAST({x}1.cn2 AS BIGINT), {x}2.tgt2, {x}2.sd2, {x}3.up2, "
                 f"{x}3.lo2, {x}4.calarm2")
    win30 = f"w.grp = r.grp AND w.rn BETWEEN r.rn - 29 AND r.rn"
    win30i = f"w2.grp = r.grp AND w2.rn BETWEEN r.rn - 29 AND r.rn"
    lateral = f"""
          LATERAL (SELECT CASE WHEN r.{x}alarm THEN 1 ELSE r.{x}n + 1 END AS cn2) {x}1,
          LATERAL (
            SELECT
              CASE WHEN r.{x}alarm THEN
                     (SELECT avg(w.v) FROM vals w WHERE {win30})
                   WHEN r.{x}tgt IS NULL AND {x}1.cn2 = 30 THEN
                     (SELECT avg(w.v) FROM vals w
                      WHERE w.grp = r.grp AND w.rn <= 30)
                   ELSE r.{x}tgt END AS tgt2,
              CASE WHEN r.{x}alarm THEN
                     (SELECT sqrt(avg((w.v - (SELECT avg(w2.v) FROM vals w2
                        WHERE {win30i}))
                        * (w.v - (SELECT avg(w2.v) FROM vals w2
                        WHERE {win30i}))))
                      FROM vals w WHERE {win30})
                   WHEN r.{x}tgt IS NULL AND {x}1.cn2 = 30 THEN
                     (SELECT sqrt(avg((w.v - (SELECT avg(w2.v) FROM vals w2
                        WHERE w2.grp = r.grp AND w2.rn <= 30))
                        * (w.v - (SELECT avg(w2.v) FROM vals w2
                        WHERE w2.grp = r.grp AND w2.rn <= 30))))
                      FROM vals w WHERE w.grp = r.grp AND w.rn <= 30)
                   ELSE r.{x}sd END AS sd2) {x}2,
          LATERAL (
            SELECT
              CASE WHEN {x}2.tgt2 IS NULL THEN {z}
                   ELSE greatest({z},
                     (CASE WHEN r.{x}alarm THEN {z} ELSE r.{x}up END)
                     + (((SELECT w.v FROM vals w
                          WHERE w.grp = r.grp AND w.rn = {x}1.cn2) - {x}2.tgt2)
                        / {x}2.sd2) - {cd}) END AS up2,
              CASE WHEN {x}2.tgt2 IS NULL THEN {z}
                   ELSE greatest({z},
                     (CASE WHEN r.{x}alarm THEN {z} ELSE r.{x}lo END)
                     - {cd}
                     - (((SELECT w.v FROM vals w
                          WHERE w.grp = r.grp AND w.rn = {x}1.cn2) - {x}2.tgt2)
                        / {x}2.sd2)) END AS lo2) {x}3,
          LATERAL (SELECT ({x}1.cn2 > 30
                           AND ({x}3.up2 > 50 OR {x}3.lo2 > 50)) AS calarm2) {x}4"""
    return init, step_cols, lateral, f"{x}4.calarm2"


def _trace_oracle_sql(kernels: list[str]) -> str:
    """Assemble a per-group streaming-trace oracle from the shared
    recurrence fragments. ``kernels``: ["ph"], ["cusum"], or both
    (both => MinimumApprovalElection(2): a drift row needs EVERY
    member alarming, and max_members_alarming is tracked)."""
    frs = [(_ph_fragments if k == "ph" else _cusum_fragments)(k[0]) for k in kernels]
    init_cols = ", ".join(f[0] for f in frs)
    step_cols = ", ".join(f[1] for f in frs)
    laterals = ",".join(f[2] for f in frs)
    alarms = [f[3] for f in frs]
    fired = " AND ".join(alarms)
    members = " + ".join(f"(CASE WHEN {a} THEN 1 ELSE 0 END)" for a in alarms)
    ens = len(kernels) > 1
    mm_init = ", CAST(0 AS BIGINT) AS mm" if ens else ""
    mm_step = f", greatest(r.mm, {members})" if ens else ""
    mm_sel = ", CAST(r.mm AS DOUBLE) AS max_members_alarming" if ens else ""
    return f"""
        WITH RECURSIVE
        {_ORACLE_VALS_CTE.strip()},
        rec AS (
          SELECT grp, 1 AS rn, {init_cols},
                 CAST(0 AS BIGINT) AS nd{mm_init}
          FROM vals WHERE rn = 1
          UNION ALL
          SELECT r.grp, r.rn + 1, {step_cols},
                 r.nd + (CASE WHEN {fired} THEN 1 ELSE 0 END){mm_step}
          FROM rec r
          JOIN vals v ON v.grp = r.grp AND v.rn = r.rn + 1,{laterals})
        SELECT r.grp AS "group", c.mx AS n, r.nd AS n_drift{mm_sel}
        FROM rec r JOIN cnts c ON c.grp = r.grp AND r.rn = c.mx
        ORDER BY "group"
    """


def _ph_oracle_sql() -> str:
    """streaming_traces oracle: Page-Hinkley replayed step-per-row in
    a recursive CTE (see _ph_fragments) — bit-identical doubles, exact
    per-group (n, n_drift)."""
    return _trace_oracle_sql(["ph"])


def _cusum_oracle_sql() -> str:
    """streaming_cusum_traces oracle (see _cusum_fragments)."""
    return _trace_oracle_sql(["cusum"])


def _ensemble_oracle_sql() -> str:
    """streaming_ensemble_events oracle: joint CUSUM + PH replay
    reduced per row by MinimumApprovalElection(2) — both members in
    drift state (see _ph_fragments / _cusum_fragments)."""
    return _trace_oracle_sql(["cusum", "ph"])


# --------------------------------------------------------------------------
# r04 detector oracles

# the labeled stream _labeled_events builds, re-derived in pure SQL
_LVALS_SQL = """
        lvals AS (
          SELECT grp, rn, mx, err, 1 - err AS correct
          FROM (SELECT grp, rn, mx,
                       CASE WHEN (eid * 1000003) % 100 <
                            (CASE WHEN 2 * rn <= mx THEN 10 ELSE 35 END)
                            THEN 1 ELSE 0 END AS err
                FROM (SELECT (user_id % 8)::VARCHAR AS grp, event_id AS eid,
                             row_number() OVER (PARTITION BY user_id % 8
                                                ORDER BY event_id) AS rn,
                             count(*) OVER (PARTITION BY user_id % 8) AS mx
                      FROM events))),
        cnts AS (SELECT grp, max(rn) AS mx FROM lvals GROUP BY grp)"""

_INF = "CAST('infinity' AS DOUBLE)"


def _ddm_oracle_sql() -> str:
    """DDM recurrence as a recursive CTE: expanding error rate,
    sqrt-reused std accumulator, joint (rate_min, std_min) tracking,
    warn/drift scales over the current std — exactly the engine
    kernel's float expression order (detectors.py DDM / reference
    ddm.py:84-117)."""
    z = _Z
    return f"""
        WITH RECURSIVE
        {_LVALS_SQL.strip()},
        rec AS (
          SELECT grp, 0 AS rn, CAST(0 AS BIGINT) AS n, {z} AS rate, {z} AS std,
                 {_INF} AS rmin, {_INF} AS smin, 'none' AS state,
                 CAST(0 AS BIGINT) AS nd, CAST(0 AS BIGINT) AS nw
          FROM cnts
          UNION ALL
          SELECT r.grp, r.rn + 1, CAST(a.n2 AS BIGINT), b.rate2, c.std2,
                 d.rmin2, d.smin2, e.state2,
                 r.nd + (CASE WHEN e.state2 = 'drift' THEN 1 ELSE 0 END),
                 r.nw + (CASE WHEN e.state2 = 'warning' THEN 1 ELSE 0 END)
          FROM rec r
          JOIN lvals v ON v.grp = r.grp AND v.rn = r.rn + 1,
          LATERAL (SELECT CASE WHEN r.state = 'drift' THEN 1 ELSE r.n + 1 END AS n2,
                          CASE WHEN r.state = 'drift' THEN {z} ELSE r.rate END AS rate0,
                          CASE WHEN r.state = 'drift' THEN {z} ELSE r.std END AS std0,
                          CASE WHEN r.state = 'drift' THEN {_INF} ELSE r.rmin END AS rmin0,
                          CASE WHEN r.state = 'drift' THEN {_INF} ELSE r.smin END AS smin0) a,
          LATERAL (SELECT a.rate0 + (v.err - a.rate0) / a.n2 AS rate2) b,
          LATERAL (SELECT sqrt((a.std0 + (v.err - b.rate2) * (v.err - a.rate0)) / a.n2) AS std2) c,
          LATERAL (SELECT CASE WHEN a.n2 >= 30 AND b.rate2 + c.std2 <= a.rmin0 + a.smin0
                               THEN b.rate2 ELSE a.rmin0 END AS rmin2,
                          CASE WHEN a.n2 >= 30 AND b.rate2 + c.std2 <= a.rmin0 + a.smin0
                               THEN c.std2 ELSE a.smin0 END AS smin2) d,
          LATERAL (SELECT CASE WHEN a.n2 < 30 THEN 'none'
                               WHEN b.rate2 + c.std2 >= d.rmin2 + 3 * c.std2 THEN 'drift'
                               WHEN b.rate2 + c.std2 >= d.rmin2 + 2 * c.std2 THEN 'warning'
                               ELSE 'none' END AS state2) e
          WHERE r.rn + 1 <= (SELECT mx FROM cnts c2 WHERE c2.grp = r.grp))
        SELECT r.grp AS "group", c.mx AS n, r.nd AS n_drift, r.nw AS n_warn
        FROM rec r JOIN cnts c ON c.grp = r.grp AND r.rn = c.mx
        ORDER BY "group"
    """


def _eddm_oracle_sql() -> str:
    """EDDM recurrence (distance-between-errors): state advances only
    on error rows, warning persists across correct rows, max-numerator
    ratio thresholds (engine EDDM / reference eddm.py:89-133)."""
    z = _Z
    return f"""
        WITH RECURSIVE
        {_LVALS_SQL.strip()},
        rec AS (
          SELECT grp, 0 AS rn, CAST(0 AS BIGINT) AS ssr, CAST(0 AS BIGINT) AS ne,
                 CAST(0 AS BIGINT) AS ic, {z} AS dm, {z} AS ds, {z} AS mxn,
                 'none' AS state, CAST(0 AS BIGINT) AS nd, CAST(0 AS BIGINT) AS nw
          FROM cnts
          UNION ALL
          SELECT r.grp, r.rn + 1, CAST(a.ssr2 AS BIGINT), CAST(b.ne2 AS BIGINT),
                 CAST(b.ic2 AS BIGINT), b.dm2, b.ds2, c.mx2, c.state2,
                 r.nd + (CASE WHEN c.state2 = 'drift' THEN 1 ELSE 0 END),
                 r.nw + (CASE WHEN c.state2 = 'warning' THEN 1 ELSE 0 END)
          FROM rec r
          JOIN lvals v ON v.grp = r.grp AND v.rn = r.rn + 1,
          LATERAL (SELECT CASE WHEN r.state = 'drift' THEN 1 ELSE r.ssr + 1 END AS ssr2,
                          CASE WHEN r.state = 'drift' THEN 0 ELSE r.ne END AS ne0,
                          CASE WHEN r.state = 'drift' THEN 0 ELSE r.ic END AS ic0,
                          CASE WHEN r.state = 'drift' THEN {z} ELSE r.dm END AS dm0,
                          CASE WHEN r.state = 'drift' THEN {z} ELSE r.ds END AS ds0,
                          CASE WHEN r.state = 'drift' THEN {z} ELSE r.mxn END AS mx0,
                          CASE WHEN r.state = 'drift' THEN 'none' ELSE r.state END AS st0) a,
          LATERAL (
            SELECT CASE WHEN v.err = 1 THEN a.ne0 + 1 ELSE a.ne0 END AS ne2,
                   CASE WHEN v.err = 1 THEN a.ssr2 - 1 ELSE a.ic0 END AS ic2,
                   CASE WHEN v.err = 1
                        THEN a.dm0 + ((a.ssr2 - 1 - a.ic0) - a.dm0) / (a.ne0 + 1)
                        ELSE a.dm0 END AS dm2,
                   CASE WHEN v.err = 1
                        THEN sqrt((a.ds0
                              + ((a.ssr2 - 1 - a.ic0)
                                 - (a.dm0 + ((a.ssr2 - 1 - a.ic0) - a.dm0) / (a.ne0 + 1)))
                                * ((a.ssr2 - 1 - a.ic0) - a.dm0)) / (a.ne0 + 1))
                        ELSE a.ds0 END AS ds2) b,
          LATERAL (
            SELECT CASE WHEN v.err = 1 AND b.ne2 >= 30
                             AND a.mx0 < b.dm2 + 2 * b.ds2
                        THEN b.dm2 + 2 * b.ds2 ELSE a.mx0 END AS mx2,
                   CASE WHEN v.err = 1 AND b.ne2 >= 30 THEN
                          CASE WHEN (b.dm2 + 2 * b.ds2)
                                    / (CASE WHEN a.mx0 < b.dm2 + 2 * b.ds2
                                            THEN b.dm2 + 2 * b.ds2 ELSE a.mx0 END)
                                    <= 0.9 THEN 'drift'
                               WHEN (b.dm2 + 2 * b.ds2)
                                    / (CASE WHEN a.mx0 < b.dm2 + 2 * b.ds2
                                            THEN b.dm2 + 2 * b.ds2 ELSE a.mx0 END)
                                    <= 0.95 THEN 'warning'
                               ELSE 'none' END
                        ELSE a.st0 END AS state2) c
          WHERE r.rn + 1 <= (SELECT mx FROM cnts c2 WHERE c2.grp = r.grp))
        SELECT r.grp AS "group", c.mx AS n, r.nd AS n_drift, r.nw AS n_warn
        FROM rec r JOIN cnts c ON c.grp = r.grp AND r.rn = c.mx
        ORDER BY "group"
    """


def _strict_upper_z(alpha: float) -> float:
    """Largest double z with 1 - norm_cdf(z) >= alpha, bisected against
    the engine's own norm_cdf, so `T > z` in SQL is exactly the
    kernel's `1 - norm_cdf(T) < alpha` (off the measure-zero boundary
    of an erf double-plateau)."""
    from menelaus_spark.functions.stats import norm_cdf

    lo, hi = 0.0, 16.0
    for _ in range(200):
        mid = 0.5 * (lo + hi)
        if 1.0 - float(norm_cdf(mid)) >= alpha:
            lo = mid
        else:
            hi = mid
    return lo


def _stepd_oracle_sql() -> str:
    """STEPD recurrence: the recursion carries only (segment start,
    state); window/past accuracy sums are correlated subqueries over
    the segment's rows, mirroring stepd.py:85-130 exactly (continuity
    correction, pooled variance, one-sided test on decreased
    accuracy)."""
    zd, zw = _strict_upper_z(0.003), _strict_upper_z(0.05)
    return f"""
        WITH RECURSIVE
        {_LVALS_SQL.strip()},
        rec AS (
          SELECT grp, 0 AS rn, CAST(1 AS BIGINT) AS rs, 'none' AS state,
                 CAST(0 AS BIGINT) AS nd, CAST(0 AS BIGINT) AS nw
          FROM cnts
          UNION ALL
          SELECT r.grp, r.rn + 1, CAST(a.rs2 AS BIGINT), d.state2,
                 r.nd + (CASE WHEN d.state2 = 'drift' THEN 1 ELSE 0 END),
                 r.nw + (CASE WHEN d.state2 = 'warning' THEN 1 ELSE 0 END)
          FROM rec r
          JOIN lvals v ON v.grp = r.grp AND v.rn = r.rn + 1,
          LATERAL (SELECT CASE WHEN r.state = 'drift' THEN r.rn + 1 ELSE r.rs END AS rs2,
                          r.rn + 1 - (CASE WHEN r.state = 'drift' THEN r.rn + 1
                                           ELSE r.rs END) + 1 AS ssr2) a,
          LATERAL (
            SELECT (SELECT sum(w.correct) FROM lvals w
                    WHERE w.grp = r.grp
                      AND w.rn BETWEEN r.rn + 1 - least(30, a.ssr2) + 1 AND r.rn + 1
                   ) AS s,
                   CASE WHEN a.ssr2 > 30 THEN
                     (SELECT sum(w.correct) FROM lvals w
                      WHERE w.grp = r.grp AND w.rn BETWEEN a.rs2 AND r.rn + 1 - 30)
                   ELSE 0 END AS rr) b,
          LATERAL (
            SELECT CAST(b.s AS DOUBLE) / 30 AS recent,
                   CAST(b.rr AS DOUBLE) / (a.ssr2 - 30) AS past,
                   CAST(b.rr + b.s AS DOUBLE) / a.ssr2 AS overall,
                   1.0 / (a.ssr2 - 30) + 1.0 / 30 AS inv) c,
          LATERAL (
            SELECT CASE WHEN a.ssr2 < 60 THEN 'none'
                        WHEN c.overall = 0.0 OR c.overall = 1.0 THEN 'none'
                        WHEN c.past > c.recent
                             AND (abs(c.past - c.recent) - 0.5 * c.inv)
                                 / sqrt(c.overall * (1 - c.overall) * c.inv)
                                 > {zd!r} THEN 'drift'
                        WHEN c.past > c.recent
                             AND (abs(c.past - c.recent) - 0.5 * c.inv)
                                 / sqrt(c.overall * (1 - c.overall) * c.inv)
                                 > {zw!r} THEN 'warning'
                        ELSE 'none' END AS state2) d
          WHERE r.rn + 1 <= (SELECT mx FROM cnts c2 WHERE c2.grp = r.grp))
        SELECT r.grp AS "group", c.mx AS n, r.nd AS n_drift, r.nw AS n_warn
        FROM rec r JOIN cnts c ON c.grp = r.grp AND r.rn = c.mx
        ORDER BY "group"
    """


def _kmeans_neardup_oracle() -> str | None:
    """Build the embedding_neardup_kmeans oracle: recompute the
    centroids dedup.kmeans_blocks learns at oracle scale (full-table
    sample, sorted, seeded Lloyd's) and inline them as DOUBLE[]
    literals — same precedent as the inlined LSH hyperplanes."""
    import numpy as np

    try:
        import duckdb

        sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
        con = duckdb.connect()
        rows = con.execute(
            f"SELECT embedding FROM '{sf_dir}/embeddings.parquet'"
        ).fetchall()
        con.close()
    except Exception:
        return None
    X = np.asarray([r[0] for r in rows], dtype=np.float64)
    C = dedup._lloyd(X, 8, 20, 42)
    vals = ", ".join(
        "(" + str(i) + ", [" + ", ".join(repr(float(x)) for x in c) + "]::DOUBLE[])"
        for i, c in enumerate(C)
    )
    return f"""
        WITH C(ci, cv) AS (VALUES {vals}),
        dots AS (
          SELECT e.vec_id, c.ci,
                 round(list_inner_product(e.embedding::DOUBLE[], c.cv)
                       * 1000000.0) AS d6
          FROM embeddings e CROSS JOIN C c),
        blk AS (
          SELECT vec_id, ci AS block FROM (
            SELECT vec_id, ci,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d6 DESC, ci) AS rn
            FROM dots) WHERE rn = 1),
        scored AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                              eb.embedding::DOUBLE[])
                       * 1000000.0) / 1000000.0 AS cos6
          FROM blk a JOIN blk b ON a.block = b.block AND a.vec_id < b.vec_id
          JOIN embeddings ea ON ea.vec_id = a.vec_id
          JOIN embeddings eb ON eb.vec_id = b.vec_id)
        SELECT id_a, id_b, round(cos6 * 10000.0) / 10000.0 AS cos4
        FROM scored WHERE cos6 >= 0.35 ORDER BY id_a, id_b
    """


def q_ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 for three corpus query vectors."""
    emb = _t(spark, sf_dir, "embeddings")
    qrows = emb.filter(F.col("vec_id").isin([0, 1, 2])).collect()
    queries = [(str(r["vec_id"]), list(r["embedding"])) for r in qrows]
    out = similarity.cosine_topk(emb, "vec_id", "embedding", queries, k=5)
    return out.select(
        F.col("query_id"), F.col("vec_id"), F.round("cosine", 4).alias("cos4"), "rank"
    ).orderBy("query_id", "rank")


def q_ivf_ann_topk(spark, sf_dir):
    """IVF ANN top-5: seeded k-means coarse quantizer (8 inverted
    lists), nprobe=2 probed lists per query, exact cosine rerank of
    probed members only — the cluster-pruned scale path alongside the
    hyperplane-LSH one."""
    emb = _t(spark, sf_dir, "embeddings")
    qrows = emb.filter(F.col("vec_id").isin([0, 1, 2])).collect()
    queries = [(str(r["vec_id"]), list(r["embedding"])) for r in qrows]
    out = similarity.ivf_ann_topk(
        emb, "vec_id", "embedding", queries, k=5, n_lists=8, nprobe=2
    )
    return out.select(
        "query_id", "vec_id", F.round("cosine", 4).alias("cos4"), "rank"
    ).orderBy("query_id", "rank")


def _ivf_ann_oracle() -> str | None:
    """DuckDB twin of q_ivf_ann_topk: centroids regenerated from the
    same id-sorted sample with the same seeded Lloyd kernel and
    inlined as DOUBLE[] literals (the k-means block oracle precedent);
    list assignment, query probing, and the probed-only rerank all
    recomputed in SQL with the shared 1e-6-rounded-dot tie rule."""
    import numpy as np

    try:
        import duckdb

        sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
        con = duckdb.connect()
        rows = con.execute(
            f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
            f"ORDER BY vec_id LIMIT 100000"
        ).fetchall()
        con.close()
    except Exception:
        return None
    X = np.asarray([r[0] for r in rows], dtype=np.float64)
    C = dedup._lloyd(X, 8, 20, 42)
    vals = ", ".join(
        "(" + str(i) + ", [" + ", ".join(repr(float(x)) for x in c) + "]::DOUBLE[])"
        for i, c in enumerate(C)
    )
    return f"""
        WITH C(ci, cv) AS (VALUES {vals}),
        dots AS (
          SELECT e.vec_id, c.ci,
                 round(list_inner_product(e.embedding::DOUBLE[], c.cv)
                       * 1000000.0) AS d6
          FROM embeddings e CROSS JOIN C c),
        blk AS (
          SELECT vec_id, ci AS list_id FROM (
            SELECT vec_id, ci,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d6 DESC, ci) AS rn
            FROM dots) WHERE rn = 1),
        q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings
              WHERE vec_id IN (0, 1, 2)),
        qdots AS (
          SELECT q.qid, c.ci,
                 round(list_inner_product(q.qvec::DOUBLE[], c.cv)
                       * 1000000.0) AS d6
          FROM q CROSS JOIN C c),
        probes AS (
          SELECT qid, ci AS list_id FROM (
            SELECT qid, ci,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY d6 DESC, ci) AS rn
            FROM qdots) WHERE rn <= 2),
        scored AS (
          SELECT q.qid::VARCHAR AS query_id, b.vec_id,
                 round(list_cosine_similarity(e.embedding::DOUBLE[],
                                              q.qvec::DOUBLE[]), 6) AS cosine
          FROM probes p
          JOIN q ON q.qid = p.qid
          JOIN blk b ON b.list_id = p.list_id
          JOIN embeddings e ON e.vec_id = b.vec_id),
        ranked AS (
          SELECT query_id, vec_id, round(cosine, 4) AS cos4,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, vec_id) AS rank
          FROM scored)
        SELECT query_id, vec_id, cos4, rank FROM ranked WHERE rank <= 5
        ORDER BY query_id, rank
    """


def q_pq_ann_topk(spark, sf_dir):
    """Product-quantization ANN top-5: 8 sub-quantizers x 16 codes
    (8 bytes/vector vs 512 raw — the memory-bound scale path), ADC
    shortlist of 50 via per-query lookup tables, exact cosine rerank
    of the shortlist only."""
    emb = _t(spark, sf_dir, "embeddings")
    qrows = emb.filter(F.col("vec_id").isin([0, 1, 2])).collect()
    queries = [(str(r["vec_id"]), list(r["embedding"])) for r in qrows]
    out = similarity.pq_ann_topk(
        emb, "vec_id", "embedding", queries, k=5, m=8, n_codes=16, rerank=50
    )
    return out.select(
        "query_id", "vec_id", F.round("cosine", 4).alias("cos4"), "rank"
    ).orderBy("query_id", "rank")


def _pq_ann_oracle() -> str | None:
    """DuckDB twin of q_pq_ann_topk: codebooks regenerated with the
    same per-subspace seeded plain-L2 Lloyd kernel and inlined; code
    assignment replayed in SQL over embedding slices with the shared
    1e-6-rounded biased-dot surrogate (lowest code wins ties); the
    per-query ADC lookup tables computed in numpy and inlined so both
    engines gather and sum the IDENTICAL doubles; exact rerank of the
    50-candidate shortlist replayed like the IVF twin."""
    import numpy as np

    from menelaus_spark.operators.similarity import pq_train

    try:
        import duckdb

        sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
        con = duckdb.connect()
        rows = con.execute(
            f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
            f"ORDER BY vec_id LIMIT 100000"
        ).fetchall()
        qrows = con.execute(
            f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' "
            f"WHERE vec_id IN (0, 1, 2)"
        ).fetchall()
        con.close()
    except Exception:
        return None
    X = np.asarray([r[0] for r in rows], dtype=np.float64)
    m, n_codes = 8, 16
    d = X.shape[1]
    ds = d // m
    from menelaus_spark.operators.similarity import _lloyd_l2

    CB = np.stack([
        _lloyd_l2(X[:, j * ds:(j + 1) * ds], n_codes, 20, 42 + j)
        for j in range(m)
    ])
    bias = 0.5 * np.einsum("mcd,mcd->mc", CB, CB)
    # (j, code, biased-bias literal, subvector literal) rows
    cb_vals = ", ".join(
        f"({j}, {c}, {bias[j, c]!r}, ["
        + ", ".join(repr(float(x)) for x in CB[j, c]) + "]::DOUBLE[])"
        for j in range(m) for c in range(n_codes)
    )
    lut_vals = []
    for qid, qv in qrows:
        q = np.asarray(qv, dtype=np.float64)
        qn = float(np.sqrt(q @ q))
        for j in range(m):
            for c in range(n_codes):
                lut_vals.append(
                    f"('{qid}', {j}, {c}, "
                    f"{float(q[j * ds:(j + 1) * ds] @ CB[j, c])!r}, {qn!r})"
                )
    luts = ", ".join(lut_vals)
    return f"""
        WITH CB(j, c, bias, cv) AS (VALUES {cb_vals}),
        LUT(qid, j, c, val, qnorm) AS (VALUES {luts}),
        surr AS (
          SELECT e.vec_id, cb.j, cb.c,
                 round((list_inner_product(
                          e.embedding[cb.j * {ds} + 1 : cb.j * {ds} + {ds}]::DOUBLE[],
                          cb.cv) - cb.bias) * 1000000.0) AS d6
          FROM embeddings e CROSS JOIN CB cb),
        codes AS (
          SELECT vec_id, j, c AS code FROM (
            SELECT vec_id, j, c,
                   row_number() OVER (PARTITION BY vec_id, j
                                      ORDER BY d6 DESC, c) AS rn
            FROM surr) WHERE rn = 1),
        norms AS (
          SELECT vec_id,
                 sqrt(list_inner_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[])) AS vnorm
          FROM embeddings),
        adc AS (
          SELECT l.qid, k.vec_id,
                 round(sum(l.val)
                       / (CASE WHEN n.vnorm * any_value(l.qnorm) > 0
                               THEN n.vnorm * any_value(l.qnorm)
                               ELSE 1.0 END), 6) AS approx_cosine
          FROM codes k
          JOIN LUT l ON l.j = k.j AND l.c = k.code
          JOIN norms n ON n.vec_id = k.vec_id
          GROUP BY l.qid, k.vec_id, n.vnorm),
        short AS (
          SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY approx_cosine DESC, vec_id) AS rn
            FROM adc) WHERE rn <= 50),
        q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings
              WHERE vec_id IN (0, 1, 2)),
        rer AS (
          SELECT s.qid::VARCHAR AS query_id, s.vec_id,
                 round(list_cosine_similarity(e.embedding::DOUBLE[],
                                              q.qvec::DOUBLE[]), 6) AS cosine
          FROM short s
          JOIN q ON q.qid::VARCHAR = s.qid
          JOIN embeddings e ON e.vec_id = s.vec_id),
        ranked AS (
          SELECT query_id, vec_id, round(cosine, 4) AS cos4,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, vec_id) AS rank
          FROM rer)
        SELECT query_id, vec_id, cos4, rank FROM ranked WHERE rank <= 5
        ORDER BY query_id, rank
    """


def q_ivfpq_ann_topk(spark, sf_dir):
    """IVF x PQ ANN top-5 — the production composition: coarse
    quantizer prunes to nprobe=2 of 8 inverted lists, PQ codes (8x16)
    score the probed members in compressed domain, exact rerank of
    the 50-candidate shortlist."""
    emb = _t(spark, sf_dir, "embeddings")
    qrows = emb.filter(F.col("vec_id").isin([0, 1, 2])).collect()
    queries = [(str(r["vec_id"]), list(r["embedding"])) for r in qrows]
    out = similarity.ivfpq_ann_topk(
        emb, "vec_id", "embedding", queries, k=5, n_lists=8, nprobe=2,
        m=8, n_codes=16, rerank=50,
    )
    return out.select(
        "query_id", "vec_id", F.round("cosine", 4).alias("cos4"), "rank"
    ).orderBy("query_id", "rank")


def _ivfpq_ann_oracle() -> str | None:
    """DuckDB twin of q_ivfpq_ann_topk: the IVF twin's coarse
    assignment + probe CTEs composed with the PQ twin's code
    assignment + ADC + rerank CTEs — every quantizer regenerated from
    the same id-sorted sample and inlined, every argmax on the shared
    1e-6-rounded surrogate."""
    import numpy as np

    from menelaus_spark.operators.similarity import _lloyd_l2

    try:
        import duckdb

        sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
        con = duckdb.connect()
        rows = con.execute(
            f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
            f"ORDER BY vec_id LIMIT 100000"
        ).fetchall()
        qrows = con.execute(
            f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' "
            f"WHERE vec_id IN (0, 1, 2)"
        ).fetchall()
        con.close()
    except Exception:
        return None
    X = np.asarray([r[0] for r in rows], dtype=np.float64)
    m, n_codes, n_lists, nprobe = 8, 16, 8, 2
    d = X.shape[1]
    ds = d // m
    coarse = dedup._lloyd(X, n_lists, 20, 42)
    CB = np.stack([
        _lloyd_l2(X[:, j * ds:(j + 1) * ds], n_codes, 20, 42 + j)
        for j in range(m)
    ])
    bias = 0.5 * np.einsum("mcd,mcd->mc", CB, CB)
    coarse_vals = ", ".join(
        "(" + str(i) + ", [" + ", ".join(repr(float(x)) for x in c) + "]::DOUBLE[])"
        for i, c in enumerate(coarse)
    )
    cb_vals = ", ".join(
        f"({j}, {c}, {bias[j, c]!r}, ["
        + ", ".join(repr(float(x)) for x in CB[j, c]) + "]::DOUBLE[])"
        for j in range(m) for c in range(n_codes)
    )
    lut_vals, probe_vals = [], []
    for qid, qv in qrows:
        q = np.asarray(qv, dtype=np.float64)
        qn = float(np.sqrt(q @ q))
        qd = np.round(coarse @ q * 1e6)
        order = sorted(range(len(coarse)),
                       key=lambda i: (-qd[i], i))[:nprobe]
        for li in order:
            probe_vals.append(f"('{qid}', {li})")
        for j in range(m):
            for c in range(n_codes):
                lut_vals.append(
                    f"('{qid}', {j}, {c}, "
                    f"{float(q[j * ds:(j + 1) * ds] @ CB[j, c])!r}, {qn!r})"
                )
    lut_vals_sql = ", ".join(lut_vals)
    probe_vals_sql = ", ".join(probe_vals)
    return f"""
        WITH C(ci, cv) AS (VALUES {coarse_vals}),
        CB(j, c, bias, cv) AS (VALUES {cb_vals}),
        LUT(qid, j, c, val, qnorm) AS (VALUES {lut_vals_sql}),
        PROBES(qid, list_id) AS (VALUES {probe_vals_sql}),
        cdots AS (
          SELECT e.vec_id, c.ci,
                 round(list_inner_product(e.embedding::DOUBLE[], c.cv)
                       * 1000000.0) AS d6
          FROM embeddings e CROSS JOIN C c),
        blk AS (
          SELECT vec_id, ci AS list_id FROM (
            SELECT vec_id, ci,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d6 DESC, ci) AS rn
            FROM cdots) WHERE rn = 1),
        surr AS (
          SELECT e.vec_id, cb.j, cb.c,
                 round((list_inner_product(
                          e.embedding[cb.j * {ds} + 1 : cb.j * {ds} + {ds}]::DOUBLE[],
                          cb.cv) - cb.bias) * 1000000.0) AS d6
          FROM embeddings e CROSS JOIN CB cb),
        codes AS (
          SELECT vec_id, j, c AS code FROM (
            SELECT vec_id, j, c,
                   row_number() OVER (PARTITION BY vec_id, j
                                      ORDER BY d6 DESC, c) AS rn
            FROM surr) WHERE rn = 1),
        norms AS (
          SELECT vec_id,
                 sqrt(list_inner_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[])) AS vnorm
          FROM embeddings),
        adc AS (
          SELECT l.qid, k.vec_id,
                 round(sum(l.val)
                       / (CASE WHEN n.vnorm * any_value(l.qnorm) > 0
                               THEN n.vnorm * any_value(l.qnorm)
                               ELSE 1.0 END), 6) AS approx_cosine
          FROM PROBES p
          JOIN blk b ON b.list_id = p.list_id
          JOIN codes k ON k.vec_id = b.vec_id
          JOIN LUT l ON l.qid = p.qid AND l.j = k.j AND l.c = k.code
          JOIN norms n ON n.vec_id = k.vec_id
          GROUP BY l.qid, k.vec_id, n.vnorm),
        short AS (
          SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY approx_cosine DESC, vec_id) AS rn
            FROM adc) WHERE rn <= 50),
        q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings
              WHERE vec_id IN (0, 1, 2)),
        rer AS (
          SELECT s.qid::VARCHAR AS query_id, s.vec_id,
                 round(list_cosine_similarity(e.embedding::DOUBLE[],
                                              q.qvec::DOUBLE[]), 6) AS cosine
          FROM short s
          JOIN q ON q.qid::VARCHAR = s.qid
          JOIN embeddings e ON e.vec_id = s.vec_id),
        ranked AS (
          SELECT query_id, vec_id, round(cosine, 4) AS cos4,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, vec_id) AS rank
          FROM rer)
        SELECT query_id, vec_id, cos4, rank FROM ranked WHERE rank <= 5
        ORDER BY query_id, rank
    """


def q_token_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_tokens"),
        T.bpe_ish_token_count("text").alias("n_bpe_tokens"),
    ).orderBy("doc_id")


def q_repetition_stats(spark, sf_dir):
    """Gopher-style repeated-token / repeated-3-gram fractions per
    document — pure JVM higher-order array expressions."""
    docs = _t(spark, sf_dir, "documents")
    return T.repetition_stats(docs, "doc_id").orderBy("doc_id")


def q_text_quality(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return T.quality_features(docs).select(
        "doc_id", "n_chars", "n_tokens", "alpha_ratio", "punct_ratio",
        "stopword_ratio", "quality_score",
    ).orderBy("doc_id")


def q_lang_id(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return T.lang_id(docs).select("doc_id", "lang_pred").orderBy("doc_id")


# --------------------------------------------------------------------------
# rows-only (non-SQL-expressible) entries

def q_doc_fingerprints(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents", spread=True)
    return T.doc_fingerprint(docs, "doc_id").select("doc_id", "fingerprint").orderBy("doc_id")


def q_simhash_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents", spread=True)
    return dedup.simhash64(docs, "doc_id").select("doc_id", "simhash").orderBy("doc_id")


def q_lsh_ann_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    qrows = emb.filter(F.col("vec_id").isin([0, 1, 2])).collect()
    queries = [(str(r["vec_id"]), list(r["embedding"])) for r in qrows]
    out = similarity.lsh_ann_topk(emb, "vec_id", "embedding", queries, k=5,
                                  n_planes=4, multiprobe_hamming=2)
    return out.select("query_id", "vec_id", F.round("cosine", 4).alias("cos4"), "rank")


def _distinct_values(df: DataFrame, col: str) -> list:
    """The sorted distinct non-null ``col`` values of ``df``: one
    distinct job. Entries that collect every batch's rows anyway take
    the batch values from that collect instead."""
    return sorted(v for (v,) in df.select(col).distinct().collect() if v is not None)


_LI_DRIFT_COLS = ["l_quantity", "l_extendedprice", "l_discount"]


def _small_proj_partitions(spark) -> int:
    """Partition bound for pinned tiny (~20 MB) projections. r04 set
    this to defaultParallelism, which at local[32] runs every per-year
    filter/aggregate of the drift sequences as 32 tasks over a few
    hundred KB each — and this VM demonstrably anti-scales beyond
    ~8-16 busy threads (BENCH/BASELINE.md). A measured sweep of
    kdq_lineitem at sf0.1 (warm, 3 trials per config) put 32
    partitions at min 16.6 s vs 6.3-6.7 s for 4-16; the r04 "noise"
    drift of kdq_lineitem (3.99 -> 6.37 s) was partly THIS change.
    Cap at 16: enough tasks to keep 4N-core runs busy on a frame this
    size, below the VM's thread-thrash knee. A genuinely large
    projection should size by bytes, not by machine parallelism — but
    these helpers are exclusively for the pinned drift projections,
    which are tiny by construction."""
    return max(2, min(spark.sparkContext.defaultParallelism, 16))


def _pinned(spark, df: DataFrame) -> DataFrame:
    """``df`` on at most _small_proj_partitions partitions, persisted
    once: a fresh DataFrame over an already cached plan reports that
    plan's storage level (the CacheManager answers ``storageLevel``),
    so a warm call reuses the pinned projection and does not ask Spark
    to cache it again."""
    df = df.coalesce(_small_proj_partitions(spark))
    if df.storageLevel == StorageLevel.NONE:
        df.persist()
    return df


def _lineitem_year_proj(spark, sf_dir):
    """Pinned (yr, 3 numeric cols) projection: the per-year batch
    filters of the drift-sequence queries must not each re-scan the
    full table (the projection is ~20 MB at sf0.1)."""
    li = _t(spark, sf_dir, "lineitem")
    return _pinned(spark, li.select(
        F.year("l_shipdate").alias("yr"),
        *[F.col(c).cast("double").alias(c) for c in _LI_DRIFT_COLS],
    ))


def _batch_summaries(df, batch_col: str, cols: list[str]) -> dict:
    """ALL per-batch (value, count) summaries in ONE pass ->
    {batch_value: {col: (values, counts)}} — the same feed the
    ValidationSuite gives HDM, so a drift sequence over k batches costs
    one Spark job instead of one summary job per batch.

    Under the ``batch_summaries`` row cap this is ONE bounded Arrow
    collect of the raw projection (driver_rows), and np.unique does the
    (value -> count) grouping driver-side. Null/NaN rows consolidate
    into one NaN entry (Spark's summary keeps null and NaN apart; both
    arrive driver-side as NaN anyway), which every consumer treats
    identically: n sums counts, min/max/histogram binning filter NaN
    (hdm._minmax_count_from_summary, histograms.bin_weighted_driver).
    Over the cap it names the batches only, {batch_value: None} from
    one distinct job: each HDM update then builds its own summary,
    bounded by the ``hdm_values`` cap and kept in the cluster above it
    (hdm._summarize), so no driver collect here grows with the data."""
    import numpy as np

    pdf = driver_rows(df.select(
        F.col(batch_col).alias("__b"),
        *[F.col(c).cast("double").alias(c) for c in cols],
    ), "batch_summaries")
    if pdf is None:
        return {b: None for b in _distinct_values(df, batch_col)}
    out: dict = {}
    for b, g in pdf.groupby("__b"):
        d = {}
        for c in cols:
            a = g[c].to_numpy(np.float64)
            nan_n = int(np.isnan(a).sum())
            vals, cnts = np.unique(a[~np.isnan(a)], return_counts=True)
            if nan_n:
                vals = np.append(vals, np.nan)
                cnts = np.append(cnts, nan_n)
            d[c] = (vals.astype(np.float64), cnts.astype(np.float64))
        out[b] = d
    return out


def q_hdddm_lineitem(spark, sf_dir):
    """HDDDM drift sequence over lineitem year-batches (quantity,
    extendedprice, discount) — the reference flagship state machine,
    in its detect_batch=2 BOOTSTRAP configuration. Hash-checked since
    r04: the bootstrap is a driver-side Poissonized histogram resample
    (partitioning-independent), so an independent numpy twin replays
    the entire machine bit-exactly (_hdddm_lineitem_oracle)."""
    from menelaus_spark.checks.hdm import HDDDM

    proj = _lineitem_year_proj(spark, sf_dir)
    det = HDDDM(detect_batch=2, seed=42)
    # every per-year summary in ONE pass, which also names the years;
    # the state machine then runs driver-side
    sums = _batch_summaries(proj, "yr", _LI_DRIFT_COLS)
    years = sorted(int(y) for y in sums)
    return _hdm_sequence_frame(spark, det, [
        (str(yr), proj.filter(F.col("yr") == yr).drop("yr"), sums[yr])
        for yr in years
    ], _epsilon_beta, "epsilon double, beta double")


def _hdm_sequence_frame(spark, det, batches, stats, ddl: str):
    """One (year, state, *ddl) row per (label, DataFrame, summary)
    batch of an HDM detector: ``stats(det)`` names each update's
    diagnostics. A None summary (``_batch_summaries`` over its cap)
    makes the detector summarize the batch itself. The batch frames
    the detector cached are released."""
    rows = []
    try:
        for i, (lbl, batch, sv) in enumerate(batches):
            if i == 0:
                det.set_reference(batch, batch_id=lbl, summary_values=sv)
                rows.append({"year": lbl, "state": "reference"})
            else:
                state = det.update(batch, batch_id=lbl, summary_values=sv)
                rows.append({"year": lbl, "state": state or "pass", **stats(det)})
    finally:
        det._release_owned()
    return local_frame(spark, rows, "year string, state string, " + ddl)


def _epsilon_beta(det) -> dict:
    return {"epsilon": det.epsilon[-1] if det.epsilon else None, "beta": det.beta}


def q_kdq_lineitem(spark, sf_dir):
    """kdq-tree drift over lineitem year-batches.

    Vectorized-over-batches (r06): the sequential protocol's per-year
    distributed fill jobs collapse into ONE grouped leaf-count pass per
    tree (kdqtree.distributed_leaf_counts_by_group, which the
    ValidationSuite runs too) — a fresh fill pass is needed only when
    a drift event installs a new reference tree, and it recounts only
    the not-yet-decided years.
    Leaf counts are exact integers and the tree build is row-order
    independent (min/ptp/np.unique), so every (kl, critical) value is
    bit-identical to the r05 per-batch loop — same oracle hash."""
    from menelaus_spark.checks.kdqtree import KdqTreeBatch

    proj = _lineitem_year_proj(spark, sf_dir)
    det = KdqTreeBatch(count_ubound=100, bootstrap_samples=100, seed=42)

    from menelaus_spark.checks.kdqtree import (
        collect_group_features,
        distributed_leaf_counts_by_group,
    )

    # driver fast path (r06): every year batch is far under the
    # build-sample cap at test scale, so ONE bounded Arrow collect
    # feeds every tree build AND every leaf count driver-side — zero
    # Spark jobs per drift event, bit-identical trees/counts (the
    # build is row-order independent and fill_counts is the same
    # kernel the distributed fill broadcasts). The collect also names
    # the years. Above the caps the grouped distributed pass runs as
    # before, after a distinct job for the years.
    groups_nd = collect_group_features(
        proj, "yr", list(_LI_DRIFT_COLS), det.build_sample_cap
    )
    if groups_nd is not None:
        years = sorted(int(y) for y in groups_nd)

        def counts_for(tree, scope_years):
            return {y: tree.fill_counts(groups_nd[y]) for y in scope_years}

        def build_from(yr):
            return det.build_tree_from_sample(groups_nd[yr])
    else:
        years = _distinct_values(proj, "yr")

        def counts_for(tree, scope_years):
            return distributed_leaf_counts_by_group(
                proj, "yr", list(_LI_DRIFT_COLS), tree, scope_years
            )

        def build_from(yr):
            ary, _n = det._collect_build_sample(
                proj.filter(F.col("yr") == yr).drop("yr"))
            return det.build_tree_from_sample(ary)

    det._input_cols = list(_LI_DRIFT_COLS)
    tree = build_from(years[0])
    counts = counts_for(tree, years)
    det.install_reference(tree, counts[years[0]])
    rows = [(str(years[0]), "reference", None, None)]
    ref_yr = years[0]
    for i, yr in enumerate(years[1:], start=1):
        if det.drift_state == "drift":
            # the sequential protocol rebuilds from the drifted batch
            # (set_reference(ref_data)) before scoring the next one
            tree = build_from(ref_yr)
            scope = [ref_yr] + years[i:]
            counts.update(counts_for(tree, scope))
            det.install_reference(tree, counts[ref_yr])
        state = det.observe_counts(counts[yr])
        if state == "drift":
            ref_yr = yr
        # 6-dp rounding on both engines: cross-engine float-sum
        # order differs at ~1e-13 relative, far under this grain
        rows.append((str(yr), state or "pass",
                     round(det.test_dist, 6), round(det._critical_dist, 6)))
    return local_frame(
        spark, rows, "year string, state string, kl double, critical double"
    )


def q_streaming_traces(spark, sf_dir):
    """Page-Hinkley + CUSUM traces over per-user-bucket ordered event
    values (applyInPandas per group)."""
    from menelaus_spark.streaming.detectors import PageHinkley, apply_streaming_detector

    ev = _t(spark, sf_dir, "events").withColumn(
        "grp", F.pmod("user_id", F.lit(8)).cast("string")
    )
    trace = apply_streaming_detector(
        ev, lambda: PageHinkley(burn_in=30), group_col="grp",
        order_col="event_id", value_cols=["value"],
    )
    # when/otherwise: zero-drift groups must aggregate to 0, not NULL
    return _local_sort(trace.groupBy("group").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("state") == "drift", 1).otherwise(0)).alias("n_drift"),
    ), "group")


def q_streaming_cusum_traces(spark, sf_dir):
    """Standalone CUSUM traces per user bucket (the two-sided z-score
    cumulative-sum kernel incl. the reference's stream-indexed
    recurrence) — same distributed trace machinery, own recursive-CTE
    oracle."""
    from menelaus_spark.streaming.detectors import CUSUM, apply_streaming_detector

    ev = _t(spark, sf_dir, "events").withColumn(
        "grp", F.pmod("user_id", F.lit(8)).cast("string")
    )
    trace = apply_streaming_detector(
        ev, lambda: CUSUM(burn_in=30), group_col="grp",
        order_col="event_id", value_cols=["value"],
    )
    # when/otherwise (not a null-propagating comparison cast): a group
    # with zero drift rows must aggregate to 0, not NULL
    return _local_sort(trace.groupBy("group").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("state") == "drift", 1).otherwise(0)).alias("n_drift"),
    ), "group")


def q_streaming_ensemble_events(spark, sf_dir):
    """StreamingEnsemble (CUSUM + PageHinkley under minimum-approval)
    per user bucket — each group runs one independent ensemble via the
    same distributed trace machinery as single kernels."""
    from menelaus_spark.checks.ensemble import (
        MinimumApprovalElection,
        StreamingEnsemble,
    )
    from menelaus_spark.streaming.detectors import (
        CUSUM,
        PageHinkley,
        apply_streaming_detector,
    )

    ev = _t(spark, sf_dir, "events").withColumn(
        "grp", F.pmod("user_id", F.lit(8)).cast("string")
    )
    trace = apply_streaming_detector(
        ev,
        lambda: StreamingEnsemble(
            {"cusum": CUSUM(burn_in=30), "ph": PageHinkley(burn_in=30)},
            MinimumApprovalElection(2),
        ),
        group_col="grp",
        order_col="event_id",
        value_cols=["value"],
    )
    return _local_sort(trace.groupBy("group").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("state") == "drift", 1).otherwise(0)).alias("n_drift"),
        F.max("statistic").alias("max_members_alarming"),
    ), "group")


def q_cdbd_example_confidence(spark, sf_dir):
    """CDBD over the example dataset's classifier-confidence column,
    batched by year — the reference's canonical CDBD scenario
    (confidence regime change in 2019 must alarm). Hash-checked since
    r04 via the numpy generator twin + the independent HDM state
    machine replay (_cdbd_example_oracle)."""
    from menelaus_spark.checks.hdm import CDBD

    _ensure_workers_can_import(spark)
    # pin the 2-column projection: the synthetic generator is a full
    # mapInPandas pass, so per-year filters must not re-generate it
    df = _pinned(spark, tables.make_example_batch_data(spark, year_size=1500).select(
        "year", "confidence"))
    sums = _batch_summaries(df, "year", ["confidence"])
    years = sorted(sums)
    det = CDBD(detect_batch=2, seed=42)
    return _hdm_sequence_frame(spark, det, [
        (str(yr), df.filter(F.col("year") == yr).select("confidence"), sums[yr])
        for yr in years
    ], _epsilon_beta, "epsilon double, beta double")


def _drift_sequence_rows(spark, det, batches):
    """Drive an HDM detector over (label, DataFrame, summary) batches
    (summaries from the one-pass `_batch_summaries` feed — under its
    cap, detect_batch 3 sequences then run entirely driver-side after
    that single job);
    report via the detector's own diagnostic dicts so post-drift rows
    never show a stale beta."""
    out = _hdm_sequence_frame(spark, det, batches, lambda d: {
        "dist": d.distances.get(d.total_batches),
        "eps": d.epsilon_values.get(d.total_batches),
        "beta": d.thresholds.get(d.total_batches),
    }, "dist double, eps double, beta double")
    r6 = lambda c: F.round(F.col(c) * F.lit(1000000.0)) / F.lit(1000000.0)  # noqa: E731
    return out.select(
        "year", "state", r6("dist").alias("dist6"),
        r6("eps").alias("eps6"), r6("beta").alias("beta6")
    ).orderBy("year")


def q_hdddm_lineitem_cumulative(spark, sf_dir):
    """HDDDM over lineitem year-batches with detect_batch=3 and the
    stdev threshold — the bootstrap-free configuration, so the ENTIRE
    state machine (growing reference summaries, floor(sqrt(n)) bins,
    joint ranges, Hellinger, epsilon/beta recurrence, drift resets) is
    reproduced by a recursive-CTE DuckDB oracle and hash-checked."""
    from menelaus_spark.checks.hdm import HDDDM

    proj = _lineitem_year_proj(spark, sf_dir)
    det = HDDDM(detect_batch=3, statistic="stdev", seed=42)
    sums = _batch_summaries(proj, "yr", _LI_DRIFT_COLS)
    years = sorted(int(y) for y in sums)
    batches = [
        (str(yr), proj.filter(F.col("yr") == yr).drop("yr"), sums[yr])
        for yr in years
    ]
    return _drift_sequence_rows(spark, det, batches)


def q_cdbd_events_value(spark, sf_dir):
    """CDBD (Jensen-Shannon, detect_batch=3, stdev threshold) over the
    events value column in 3-day batches — same recursive-CTE oracle
    family as q_hdddm_lineitem_cumulative."""
    from menelaus_spark.checks.hdm import CDBD

    ev = _pinned(spark, _t(spark, sf_dir, "events").select(
        F.floor((F.dayofmonth("ts") - 1) / 3).cast("int").alias("bkt"),
        F.col("value").cast("double").alias("value"),
    ))
    sums = _batch_summaries(ev, "bkt", ["value"])
    bkts = sorted(sums)
    det = CDBD(detect_batch=3, statistic="stdev", seed=42)
    batches = [
        (str(b), ev.filter(F.col("bkt") == b).drop("bkt"), sums[b])
        for b in bkts
    ]
    return _drift_sequence_rows(spark, det, batches)


_HELLINGER_EXPR = (
    "sqrt(sum((sqrt(h.tc / o.tsum) - sqrt(h.rc / o.rsum)) "
    "* (sqrt(h.tc / o.tsum) - sqrt(h.rc / o.rsum))))"
)
# Jensen-Shannon DISTANCE (sqrt of divergence), rel_entr terms only
# where the numerator mass is positive, mirroring
# menelaus_spark.functions.distances.jensen_shannon
_JS_EXPR = (
    "sqrt(greatest(0.5 * ("
    "sum(CASE WHEN h.rc > 0 THEN (h.rc / o.rsum) "
    "* ln((h.rc / o.rsum) / (0.5 * (h.rc / o.rsum + h.tc / o.tsum))) ELSE 0 END)"
    " + "
    "sum(CASE WHEN h.tc > 0 THEN (h.tc / o.tsum) "
    "* ln((h.tc / o.tsum) / (0.5 * (h.rc / o.rsum + h.tc / o.tsum))) ELSE 0 END)"
    "), 0.0))"
)


def _drift_recurrence_sql(vals_sql: str, n_features: int, dist_expr: str) -> str:
    """Recursive-CTE twin of the HDM detect_batch=3 / stdev state
    machine over per-batch histograms. ``vals_sql`` must yield
    (i BIGINT contiguous batch index, lbl VARCHAR, f INT feature id,
    v DOUBLE). The reference after any drift is the contiguous batch
    range [start, t-1], so every (start, t) distance is precomputable
    as a plain aggregation; the recursion is a 1-row-per-step scan
    carrying the epsilon list (a DOUBLE[] — summed in list order,
    like the driver numpy)."""
    return f"""
        WITH RECURSIVE
        vals AS ({vals_sql}),
        years AS (SELECT DISTINCT i, lbl FROM vals),
        counts AS (SELECT i, count(*) AS n FROM vals WHERE f = 0 GROUP BY i),
        combos AS (SELECT s.i AS s, t.i AS t FROM years s JOIN years t ON s.i < t.i),
        nb AS (
          SELECT c.s, c.t, CAST(floor(sqrt(sum(k.n))) AS BIGINT) AS nb
          FROM combos c JOIN counts k ON k.i >= c.s AND k.i < c.t
          GROUP BY c.s, c.t),
        rng AS (
          SELECT c.s, c.t, v.f,
                 CASE WHEN min(v.v) = max(v.v) THEN min(v.v) - 0.5 ELSE min(v.v) END AS lo,
                 CASE WHEN min(v.v) = max(v.v) THEN max(v.v) + 0.5 ELSE max(v.v) END AS hi
          FROM combos c JOIN vals v ON v.i >= c.s AND v.i <= c.t
          WHERE v.v IS NOT NULL AND NOT isnan(v.v)
          GROUP BY c.s, c.t, v.f),
        binned AS (
          SELECT c.s, c.t, v.f, CASE WHEN v.i = c.t THEN 1 ELSE 0 END AS side,
                 CASE WHEN v.v = r.hi THEN b.nb - 1
                      ELSE least(CAST(floor((v.v - r.lo) / ((r.hi - r.lo) / b.nb)) AS BIGINT),
                                 b.nb - 1) END AS bin
          FROM combos c
          JOIN nb b ON b.s = c.s AND b.t = c.t
          JOIN rng r ON r.s = c.s AND r.t = c.t
          JOIN vals v ON v.f = r.f AND v.i >= c.s AND v.i <= c.t
          WHERE v.v IS NOT NULL AND NOT isnan(v.v)),
        hist AS (
          SELECT s, t, f, bin, CAST(sum(1 - side) AS DOUBLE) AS rc,
                 CAST(sum(side) AS DOUBLE) AS tc
          FROM binned GROUP BY s, t, f, bin),
        tot AS (SELECT s, t, f, sum(rc) AS rsum, sum(tc) AS tsum FROM hist GROUP BY s, t, f),
        fd AS (
          SELECT h.s, h.t, h.f, {dist_expr} AS d
          FROM hist h JOIN tot o ON o.s = h.s AND o.t = h.t AND o.f = h.f
          GROUP BY h.s, h.t, h.f),
        dist AS (SELECT s, t, sum(d) / {n_features}.0 AS d FROM fd GROUP BY s, t),
        rec AS (
          SELECT 1 AS idx, 0 AS st,
                 (SELECT d FROM dist WHERE s = 0 AND t = 1) AS dcur,
                 (SELECT d FROM dist WHERE s = 0 AND t = 1) AS prevd,
                 0 AS lam, 1 AS bsr,
                 CAST(NULL AS DOUBLE) AS eps, CAST(NULL AS DOUBLE) AS beta,
                 'pass' AS state, CAST(0.0 AS DOUBLE) AS tot_eps,
                 CAST([] AS DOUBLE[]) AS eps_list
          UNION ALL
          SELECT r.idx + 1, a.st2, b.dcur,
                 CASE WHEN e.state2 = 'drift' THEN r.prevd ELSE b.dcur END,
                 CASE WHEN e.state2 = 'drift' THEN r.idx + 1 ELSE r.lam END,
                 a.bsr2, c.eps2, d.beta2, e.state2, d.tot2,
                 CASE WHEN c.eps2 IS NULL THEN a.el0
                      ELSE list_append(a.el0, c.eps2) END
          FROM rec r,
          LATERAL (
            SELECT CASE WHEN r.state = 'drift' THEN 1 ELSE r.bsr + 1 END AS bsr2,
                   CASE WHEN r.state = 'drift' THEN r.idx ELSE r.st END AS st2,
                   CASE WHEN r.state = 'drift' THEN CAST(0.0 AS DOUBLE) ELSE r.tot_eps END AS tot0,
                   CASE WHEN r.state = 'drift' THEN CAST([] AS DOUBLE[])
                        ELSE r.eps_list END AS el0) a,
          LATERAL (SELECT (SELECT d FROM dist
                           WHERE s = a.st2 AND t = r.idx + 1) AS dcur) b,
          LATERAL (SELECT CASE WHEN a.bsr2 >= 2
                               THEN abs(b.dcur - r.prevd) END AS eps2) c,
          LATERAL (
            SELECT CASE WHEN a.bsr2 >= 3 THEN a.tot0 + a.el0[-1] ELSE a.tot0 END AS tot2,
                   CASE WHEN a.bsr2 >= 3 THEN
                     (a.tot0 + a.el0[-1]) / (r.idx + 1 - r.lam - 1)
                     + 0.05 * sqrt(
                         list_sum(list_transform(a.el0,
                           e -> (e - (a.tot0 + a.el0[-1]) / (r.idx + 1 - r.lam - 1))
                                * (e - (a.tot0 + a.el0[-1]) / (r.idx + 1 - r.lam - 1))))
                         / (r.idx + 1 - r.lam - 1))
                   END AS beta2) d,
          LATERAL (
            SELECT CASE WHEN c.eps2 IS NOT NULL AND d.beta2 IS NOT NULL
                             AND c.eps2 > d.beta2
                        THEN 'drift' ELSE 'pass' END AS state2) e
          WHERE r.idx + 1 <= (SELECT max(i) FROM years))
        SELECT * FROM (
          SELECT y.lbl AS year, 'reference' AS state,
                 CAST(NULL AS DOUBLE) AS dist6, CAST(NULL AS DOUBLE) AS eps6,
                 CAST(NULL AS DOUBLE) AS beta6
          FROM years y WHERE y.i = 0
          UNION ALL
          SELECT y.lbl, rec.state,
                 round(rec.dcur * 1000000.0) / 1000000.0,
                 round(rec.eps * 1000000.0) / 1000000.0,
                 round(rec.beta * 1000000.0) / 1000000.0
          FROM rec JOIN years y ON y.i = rec.idx)
        ORDER BY year
    """


_HDDDM_LI_VALS = """
          SELECT y.i, CAST(l.yr AS VARCHAR) AS lbl, u.f,
                 CASE u.f WHEN 0 THEN l.f0 WHEN 1 THEN l.f1 ELSE l.f2 END AS v
          FROM (SELECT year(l_shipdate) AS yr, l_quantity::DOUBLE AS f0,
                       l_extendedprice::DOUBLE AS f1, l_discount::DOUBLE AS f2
                FROM lineitem) l
          JOIN (SELECT yr, row_number() OVER (ORDER BY yr) - 1 AS i
                FROM (SELECT DISTINCT year(l_shipdate) AS yr FROM lineitem)) y
            ON y.yr = l.yr
          CROSS JOIN (VALUES (0), (1), (2)) u(f)
"""

_CDBD_EV_VALS = """
          SELECT e.i, CAST(e.i AS VARCHAR) AS lbl, 0 AS f, e.v
          FROM (SELECT CAST(floor((dayofmonth(ts) - 1) / 3) AS BIGINT) AS i,
                       value::DOUBLE AS v FROM events) e
"""



def _round_half_up6(x: float) -> float:
    """round(x*1e6)/1e6 with HALF-AWAY ties — the Spark
    F.round(col * 1e6) / 1e6 idiom applied to the same double."""
    import math

    v = float(x) * 1e6
    return (math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)) / 1e6


def _oracle_stream_pdf():
    """Twin of _labeled_events / _shifted_value_events /
    _multivariate_events over the oracle-scale parquet (duckdb read,
    numpy derivations — identical doubles)."""
    import duckdb
    import numpy as np

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    con = duckdb.connect()
    pdf = con.execute(
        f"""SELECT (user_id % 8)::VARCHAR AS grp, event_id,
                   value::DOUBLE AS value,
                   row_number() OVER (PARTITION BY user_id % 8
                                      ORDER BY event_id) AS rn,
                   count(*) OVER (PARTITION BY user_id % 8) AS mx
            FROM '{sf_dir}/events.parquet'
            ORDER BY grp, event_id"""
    ).fetch_df()
    con.close()
    eid = pdf["event_id"].to_numpy(np.int64)
    rn = pdf["rn"].to_numpy(np.int64)
    mx = pdf["mx"].to_numpy(np.int64)
    second = 2 * rn > mx
    err = ((eid * 1000003) % 100 < np.where(second, 35, 10)).astype(np.int64)
    pdf["err"] = err
    pdf["y_true"] = eid % 2
    pdf["y_pred"] = (pdf["y_true"].to_numpy() + err) % 2
    pdf["correct"] = (1 - err).astype(np.float64)
    val = pdf["value"].to_numpy(np.float64)
    pdf["x_shift"] = val / 50.0 + np.where(second, 2.5, 0.0)
    pdf["x1"] = val / 50.0 + np.where(second, 3.0, 0.0)
    pdf["x2"] = ((eid * 1000003) % 1000) / 1000.0
    return pdf


def _adwin_twin(xs, delta=0.002, max_buckets=5, new_sample_thresh=32,
                window_size_thresh=10, subwindow_size_thresh=5):
    """Independent ADWIN re-implementation for the oracle: flat
    level->deque bucket store (engine uses parallel total/variance row
    lists), written from Bifet & Gavaldà 2007 semantics. Returns
    (n_samples, n_drift_rows, final window mean)."""
    import collections
    import math

    rows = [collections.deque()]  # rows[i]: (total, var) of 2^i elems, left = oldest
    n = 0
    total = 0.0
    var_sum = 0.0
    total_samples = 0
    n_drift = 0
    drift = False

    def check_eps(n0, t0, n1, t1):
        diff = t0 / n0 - t1 / n1
        v = var_sum / n if n else 0.0
        nh = (1 / (n0 - subwindow_size_thresh + 1)
              + 1 / (n1 - subwindow_size_thresh + 1))
        dpd = math.log(2 * math.log(n) / delta)
        eps = math.sqrt(2 * nh * v * dpd) + (2 / 3) * nh * dpd
        return abs(diff) > eps

    def remove_last():
        nonlocal n, total, var_sum
        tail = len(rows) - 1
        n_curr = 2 ** tail
        bt, bv = rows[tail][0]
        n -= n_curr
        total -= bt
        mean_curr = bt / n_curr
        if n > 0:
            new_mean = total / n
            var_sum -= bv + n_curr * n * (mean_curr - new_mean) ** 2 / (n_curr + n)
        else:
            var_sum = 0.0
        rows[tail].popleft()
        if not rows[tail] and tail > 0:
            rows.pop()
        return n_curr

    for x in xs:
        x = float(x)
        drift = False
        total_samples += 1
        n += 1
        rows[0].append((x, 0.0))
        if n > 1:
            prev_mean = total / (n - 1)
            var_sum += (n - 1) * (x - prev_mean) ** 2 / n
        total += x
        i = 0
        while i < len(rows):
            if len(rows[i]) == max_buckets + 1:
                if i + 1 >= len(rows):
                    rows.append(collections.deque())
                n_el = 2 ** i
                t1, v1 = rows[i].popleft()
                t2, v2 = rows[i].popleft()
                m1, m2 = t1 / n_el, t2 / n_el
                rows[i + 1].append((t1 + t2, v1 + v2 + n_el * (m1 - m2) ** 2 / 2))
                if len(rows[i + 1]) <= max_buckets:
                    break
            else:
                break
            i += 1
        if total_samples % new_sample_thresh == 0 and n > window_size_thresh:
            restart = True
            while restart:
                restart = False
                exit_shrink = False
                n0, n1, t0, t1 = 0, n, 0.0, total
                pos = len(rows) - 1
                while not exit_shrink and pos >= 0:
                    n_inc = 2 ** pos
                    bucket_totals = [b[0] for b in rows[pos]]
                    for bi, bt in enumerate(bucket_totals):
                        n0 += n_inc
                        n1 -= n_inc
                        t0 += bt
                        t1 -= bt
                        if pos == 0 and bi == len(bucket_totals) - 1:
                            exit_shrink = True
                            break
                        if (n0 >= subwindow_size_thresh
                                and n1 >= subwindow_size_thresh
                                and check_eps(n0, t0, n1, t1)):
                            restart = True
                            drift = True
                            if n > 0:
                                n0 -= remove_last()
                                exit_shrink = True
                                break
                    pos -= 1
        if drift:
            n_drift += 1
    return total_samples, n_drift, (total / n if n else 0.0)


def _adwin_values_oracle(col: str) -> str | None:
    try:
        pdf = _oracle_stream_pdf()
    except Exception:
        return None
    rows = []
    for g, gd in pdf.groupby("grp"):
        n, nd, mean = _adwin_twin(gd[col].to_numpy())
        rows.append(f"('{g}', {n}, {nd}, {_round_half_up6(mean)!r}::DOUBLE)")
    return (
        "SELECT * FROM (VALUES " + ", ".join(rows)
        + ') t("group", n, n_drift, final_mean6) ORDER BY "group"'
    )


def _lfr_twin(yt, yp, eta=0.9, warning_level=0.05, detect_level=0.05,
              burn_in=50, num_mc=1000, subsample=100,
              rates=("tpr", "tnr"), seed=42):
    """Independent LFR twin: same seeded MC bounds (part of the
    algorithm spec, like the kdq bootstrap criticals), recurrence
    re-coded directly from Wang & Abraham 2015 / the engine's cited
    semantics. Returns (n, n_drift_rows, n_warning_rows)."""
    import numpy as np

    def four(c):
        tn, fn, fp, tp = c.ravel()
        return {"tpr": tp / (tp + fn), "tnr": tn / (tn + fp),
                "ppv": tp / (fp + tp), "npv": tn / (tn + fn)}

    def denoms(c):
        tn, fn, fp, tp = c.ravel()
        return {"tpr": tp + fn, "tnr": tn + fp, "ppv": fp + tp, "npv": tn + fn}

    def sim(est, denom):
        rng = np.random.default_rng([seed, int(denom), int(est * 10 ** 6)])
        prods = eta ** np.arange(denom - 1, -1, -1, dtype=np.float64)
        draws = rng.binomial(1, est, size=(num_mc, int(denom)))
        stats = (1 - eta) * (draws @ prods)
        return (float(np.percentile(stats, warning_level * 100)),
                float(np.percentile(stats, 100 - warning_level * 100)),
                float(np.percentile(stats, detect_level * 100)),
                float(np.percentile(stats, 100 - detect_level * 100)))

    bounds: dict = {}
    conf = np.array([[1, 1], [1, 1]], dtype=np.int64)
    rstat = {r: 0.5 for r in ("tpr", "tnr", "ppv", "npv")}
    state = None
    ssr = 0
    n = nd = nw = 0
    for y_t, y_p in zip(yt, yp):
        y_t, y_p = int(y_t), int(y_p)
        if state == "drift":
            conf = np.array([[1, 1], [1, 1]], dtype=np.int64)
            rstat = {r: 0.5 for r in rstat}
            ssr = 0
            state = None
        n += 1
        ssr += 1
        old = four(conf)
        conf[y_p][y_t] += 1
        new = four(conf)
        den = denoms(conf)
        any_warn = any_alarm = False
        for rate in rates:
            if new[rate] != old[rate]:
                rstat[rate] = eta * rstat[rate] + (1 - eta) * (y_t == y_p)
            if ssr > burn_in and ssr % subsample == 0:
                key = (round(new[rate], 4), round(den[rate], 4))
                if key not in bounds:
                    bounds[key] = sim(new[rate], den[rate])
                lw, uw, ld, ud = bounds[key]
                r = rstat[rate]
                any_warn = any_warn or (r < lw) or (r > uw)
                any_alarm = any_alarm or (r < ld) or (r > ud)
        state = "drift" if any_alarm else ("warning" if any_warn else None)
        nd += state == "drift"
        nw += state == "warning"
    return n, nd, nw


def _lfr_oracle_sql() -> str | None:
    try:
        pdf = _oracle_stream_pdf()
    except Exception:
        return None
    p = LFR_PARAMS
    rows = []
    for g, gd in pdf.groupby("grp"):
        n, nd, nw = _lfr_twin(
            gd["y_true"].to_numpy(), gd["y_pred"].to_numpy(),
            burn_in=p["burn_in"], num_mc=p["num_mc"], subsample=p["subsample"],
            rates=p["rates_tracked"], seed=p["seed"],
        )
        rows.append(f"('{g}', {n}, {nd}, {nw})")
    return (
        "SELECT * FROM (VALUES " + ", ".join(rows)
        + ') t("group", n, n_drift, n_warn) ORDER BY "group"'
    )


def _md3_oracle_sql() -> str | None:
    """Sequential per-sample MD3 replay on the identical stream — the
    oracle half of the distributed(update_batch) == sequential(update)
    parity claim."""
    import duckdb
    import numpy as np
    import pandas as pd

    from menelaus_spark.checks.md3 import MD3

    try:
        sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
        con = duckdb.connect()
        pdf = con.execute(
            f"""SELECT event_id, value::DOUBLE AS value
                FROM '{sf_dir}/events.parquet' ORDER BY event_id"""
        ).fetch_df()
        con.close()
    except Exception:
        return None
    eid = pdf["event_id"].to_numpy(np.int64)
    mid = int(eid.max()) // 2
    x1 = (pdf["value"].to_numpy(np.float64) - 34.0) / 30.0 + np.where(eid >= mid, 1.5, 0.0)
    x2 = ((eid * 2654435761) % 1000) / 500.0 - 1.0
    ref = pd.DataFrame({"x1": x1[:200], "x2": x2[:200]})
    ref["y"] = (ref["x1"] + ref["x2"] > 0).astype(int)
    det = MD3(sensitivity=1.5)
    det.set_reference(ref, target_name="y")
    state, n_proc = None, 0
    for i in range(200, len(eid)):
        state = det.update(pd.DataFrame({"x1": [x1[i]], "x2": [x2[i]]}))
        n_proc += 1
        if state == "warning":
            break
    return (
        f"SELECT * FROM (VALUES ('{state or 'none'}', {n_proc})) "
        't(state, n_processed)'
    )


def _replay_trace_oracle(make_det) -> str | None:
    """Sequential replay of a multivariate streaming kernel over the
    duckdb-read (x1, x2) stream; per-group (n, n_drift) constants."""
    import numpy as np

    try:
        pdf = _oracle_stream_pdf()
    except Exception:
        return None
    rows = []
    for g, gd in pdf.groupby("grp"):
        det = make_det()
        x1 = gd["x1"].to_numpy(np.float64)
        x2 = gd["x2"].to_numpy(np.float64)
        n = nd = 0
        for i in range(len(x1)):
            state = det.update(np.array([x1[i], x2[i]], dtype=np.float64))
            n += 1
            nd += state == "drift"
        rows.append(f"('{g}', {n}, {nd})")
    return (
        "SELECT * FROM (VALUES " + ", ".join(rows)
        + ') t("group", n, n_drift) ORDER BY "group"'
    )


def _pcacd_oracle_sql() -> str | None:
    from menelaus_spark.streaming.detectors import PCACD

    return _replay_trace_oracle(
        lambda: PCACD(window_size=100, divergence_metric="intersection")
    )


def _kdqstream_oracle_sql() -> str | None:
    from menelaus_spark.streaming.detectors import KdqTreeStreaming

    return _replay_trace_oracle(
        lambda: KdqTreeStreaming(window_size=200, persistence=0.05,
                                 bootstrap_samples=100, count_ubound=50, seed=42)
    )


def _hdm_twin_rows(batches, cols, dfun, detect_batch=2, statistic="tstat",
                   significance=0.05, subsets=5, seed=42):
    """Independent numpy re-implementation of the HDM detect_batch=2
    drift state machine (growing mergeable reference summary, joint
    ranges, floor(sqrt(n)) bins, per-feature divergences, the
    Poissonized bootstrap initial epsilon, the epsilon/threshold
    recurrence incl. the batch-3 bootstrap-epsilon removal and the
    epsilon[-2] quirk, drift resets). ``batches`` = [(label,
    {col: (values, counts)})]; returns [(label, state, eps_last,
    beta)] — the exact q_hdddm_lineitem / q_cdbd_example_confidence
    row shape. Shares only the leaf kernels (bin_weighted_driver,
    distance fns, t_ppf) with the engine — the kdq-twin precedent."""
    import math

    import numpy as np

    from menelaus_spark.functions import stats as S
    from menelaus_spark.operators import histograms as H

    def mm_n(s):
        n = 0
        mm = {}
        for c in cols:
            vals, cnts = s[c]
            n = max(n, int(cnts.sum()))
            clean = vals[~np.isnan(vals)]
            mm[c] = ((float(clean.min()), float(clean.max()))
                     if len(clean) else (None, None))
        return n, mm

    def merge_ranges(a, b):
        out = {}
        for c in cols:
            lo = min(x for x in (a[c][0], b[c][0]) if x is not None)
            hi = max(x for x in (a[c][1], b[c][1]) if x is not None)
            out[c] = (lo, hi)
        return out

    def merge_sum(a, b):
        out = {}
        for c in cols:
            v = np.concatenate([a[c][0], b[c][0]])
            n = np.concatenate([a[c][1], b[c][1]])
            uv, inv = np.unique(v, return_inverse=True)
            un = np.zeros(len(uv), dtype=np.float64)
            np.add.at(un, inv, n)
            out[c] = (uv, un)
        return out

    def hist(s, ranges, nbins):
        m = np.zeros((len(cols), nbins), dtype=np.float64)
        for i, c in enumerate(cols):
            vals, cnts = s[c]
            lo, hi = ranges[c]
            m[i] = H.bin_weighted_driver(vals, cnts, lo, hi, nbins)
        return m

    def bootstrap_eps(ref_mat, total_batches):
        fraction = 1.0 - 1.0 / subsets
        rng = np.random.default_rng([seed, 104729, total_batches])
        boot = rng.poisson(fraction * ref_mat,
                           size=(subsets,) + ref_mat.shape).astype(np.float64)
        dists = []
        for i in range(len(boot)):
            for j in range(i + 1, len(boot)):
                dists.append(sum(float(dfun(boot[i][f], boot[j][f]))
                                 for f in range(len(cols))))
        eps = 0.0
        for i in range(len(dists)):
            for j in range(i + 1, len(dists)):
                eps += abs(dists[i] - dists[j])
        return eps / subsets

    lbl0, s0 = batches[0]
    ref_sum = {c: s0[c] for c in cols}
    n0, ref_mm = mm_n(s0)
    ref_counts = [n0]
    ref_n = n0
    bins = int(np.floor(np.sqrt(ref_n)))
    eps: list[float] = []
    total_eps = 0.0
    total_batches = 0
    bsr = 0
    lam = 0
    prev_dist = None
    beta = None
    drift = False
    rows = [(lbl0, "reference", None, None)]

    for lbl, s in batches[1:]:
        if drift:
            bsr = 0
            drift = False
            ref_n = sum(ref_counts)
            bins = int(np.floor(np.sqrt(ref_n)))
            eps = []
            total_eps = 0.0
        total_batches += 1
        bsr += 1
        test_n, test_mm = mm_n(s)
        ranges = merge_ranges(ref_mm, test_mm)
        ref_mat = hist(ref_sum, ranges, bins)
        test_mat = hist(s, ranges, bins)
        fdists = [float(dfun(ref_mat[f], test_mat[f])) for f in range(len(cols))]
        cur = float(np.mean(fdists))
        if bsr >= 2:
            if bsr == 2 and detect_batch != 3:
                eps.append(bootstrap_eps(ref_mat, total_batches))
            ceps = abs(cur - prev_dist)
            eps.append(ceps)
            # adaptive threshold (engine _adaptive_threshold semantics)
            if bsr == 3 and detect_batch != 3:
                total_eps -= eps[0]
                eps = eps[1:]
            d_scale = (1.0 if (bsr == 2 and detect_batch != 3)
                       else float(total_batches - lam - 1))
            total_eps += eps[-2]
            eps_hat = total_eps / d_scale
            total_stdev = sum((e - eps_hat) ** 2 for e in eps[:-1])
            stdev = float(np.sqrt(total_stdev / d_scale))
            if statistic == "tstat":
                t = S.t_ppf(1 - significance / 2, ref_n + test_n - 2)
                beta = float(eps_hat + t * (stdev / math.sqrt(d_scale)))
            else:
                beta = float(eps_hat + significance * stdev)
            if ceps > beta:
                drift = True
                ref_sum = {c: s[c] for c in cols}
                ref_mm = test_mm
                ref_counts = [test_n]
                lam = total_batches
        if not drift:
            prev_dist = cur
            ref_sum = merge_sum(ref_sum, s)
            ref_mm = ranges
            ref_counts.append(test_n)
            ref_n += test_n
            bins = int(np.floor(np.sqrt(ref_n)))
        rows.append((lbl, "drift" if drift else "pass",
                     eps[-1] if eps else None, beta))
    return rows


def _hdm_rows_to_values(rows, label_col: str = "year") -> str:
    def lit(x):
        return "CAST(NULL AS DOUBLE)" if x is None else f"{x!r}::DOUBLE"

    vals = ", ".join(
        f"('{lbl}', '{st}', {lit(e)}, {lit(b)})" for lbl, st, e, b in rows
    )
    return (
        "SELECT * FROM (VALUES " + vals
        + f") t({label_col}, state, epsilon, beta) ORDER BY {label_col}"
    )


def _hdddm_lineitem_oracle() -> str | None:
    """hdddm_lineitem (detect_batch=2 bootstrap config) twin: per-year
    (value, count) summaries straight from the parquet, replayed
    through the independent numpy state machine. Hash-green became
    possible in r04 because the bootstrap is now a driver-side
    Poissonized histogram resample (partitioning-independent) instead
    of Spark's per-partition DataFrame.sample."""
    import duckdb
    import numpy as np

    from menelaus_spark.functions import distances as dist

    try:
        sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
        con = duckdb.connect()
        pdf = con.execute(
            f"""SELECT year(l_shipdate) AS yr, l_quantity::DOUBLE AS f0,
                       l_extendedprice::DOUBLE AS f1, l_discount::DOUBLE AS f2
                FROM '{sf_dir}/lineitem.parquet'"""
        ).fetch_df()
        con.close()
    except Exception:
        return None
    cols = list(_LI_DRIFT_COLS)
    batches = []
    for yr in sorted(pdf["yr"].unique()):
        g = pdf[pdf["yr"] == yr]
        s = {}
        for c, src in zip(cols, ("f0", "f1", "f2")):
            uv, un = np.unique(g[src].to_numpy(np.float64), return_counts=True)
            s[c] = (uv, un.astype(np.float64))
        batches.append((str(int(yr)), s))
    rows = _hdm_twin_rows(batches, cols, dist.hellinger, detect_batch=2, seed=42)
    return _hdm_rows_to_values(rows)


def _nndvi_lineitem_oracle() -> str | None:
    """nndvi_lineitem twin: the exact path's batch admission is a
    strided order-statistic sample since r04 (deterministic,
    partitioning-independent — DataFrame.sample was not), so the whole
    per-year drift sequence replays driver-side: same strided
    selection in numpy, same NNSpacePartitioner adjacency, same seeded
    permutation threshold."""
    import duckdb
    import numpy as np

    from menelaus_spark.checks.nndvi import NNSpacePartitioner
    from menelaus_spark.functions.stats import norm_ppf

    try:
        sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
        con = duckdb.connect()
        pdf = con.execute(
            f"""SELECT year(l_shipdate) AS yr, l_quantity::DOUBLE AS f0,
                       l_extendedprice::DOUBLE AS f1, l_discount::DOUBLE AS f2
                FROM '{sf_dir}/lineitem.parquet'"""
        ).fetch_df()
        con.close()
    except Exception:
        return None
    k_nn, sampling_times, cap, seed, alpha = 20, 100, 300, 42, 0.01

    def strided(g):
        X = g[["f0", "f1", "f2"]].to_numpy(np.float64)
        X = X[np.lexsort(X.T[::-1])]
        if len(X) > cap:
            stride = int(np.ceil(len(X) / cap))
            X = X[::stride]
        return X

    years = sorted(int(y) for y in pdf["yr"].unique())
    ref = strided(pdf[pdf["yr"] == years[0]])
    rows = [(str(years[0]), "reference", None, None)]
    total_batches = 0
    for yr in years[1:]:
        test = strided(pdf[pdf["yr"] == yr])
        total_batches += 1
        nnsp = NNSpacePartitioner(k_nn)
        nnsp.build(ref, test)
        d_act = NNSpacePartitioner.compute_nnps_distance(
            nnsp.nnps_matrix, nnsp.v1, nnsp.v2
        )
        dists = np.empty(sampling_times)
        for i in range(sampling_times):
            rng = np.random.default_rng([seed, total_batches, i])
            v1 = rng.permutation(nnsp.v1)
            dists[i] = NNSpacePartitioner.compute_nnps_distance(
                nnsp.nnps_matrix, v1, 1 - v1
            )
        thr = float(np.mean(dists)) + norm_ppf(1 - alpha) * float(np.std(dists))
        drift = d_act > thr
        rows.append((str(yr), "drift" if drift else "pass", d_act, thr))
        if drift:
            ref = test

    def lit(x):
        return "CAST(NULL AS DOUBLE)" if x is None else f"{x!r}::DOUBLE"

    vals = ", ".join(
        f"('{y}', '{st}', {lit(d)}, {lit(t)})" for y, st, d, t in rows
    )
    return ("SELECT * FROM (VALUES " + vals
            + ") t(year, state, d_act, threshold) ORDER BY year")


def _cdbd_example_oracle() -> str | None:
    """cdbd_example_confidence twin: the example table regenerated by
    the numpy generator twin, per-year confidence summaries replayed
    through the same independent state machine (CDBD = univariate HDM
    with the Jensen-Shannon distance)."""
    import numpy as np

    from menelaus_spark.functions import distances as dist

    try:
        df = _example_numpy_df()
    except Exception:
        return None
    batches = []
    for yr in sorted(df["year"].unique()):
        g = df[df["year"] == yr]
        uv, un = np.unique(g["confidence"].to_numpy(np.float64), return_counts=True)
        batches.append((str(int(yr)), {"confidence": (uv, un.astype(np.float64))}))
    rows = _hdm_twin_rows(batches, ["confidence"], dist.jensen_shannon,
                          detect_batch=2, seed=42)
    return _hdm_rows_to_values(rows)


def q_nndvi_lineitem(spark, sf_dir):
    """NN-DVI drift sequence over lineitem year-batches (bounded
    strided order-statistic samples; permutation-threshold Gaussian
    fit). Hash-checked since r04: the deterministic admission makes
    the whole sequence replayable driver-side
    (_nndvi_lineitem_oracle)."""
    from menelaus_spark.checks.nndvi import NNDVI

    proj = _lineitem_year_proj(spark, sf_dir)
    years = _distinct_values(proj, "yr")
    det = NNDVI(k_nn=20, sampling_times=100, batch_sample_cap=300, seed=42)
    rows = []
    for i, yr in enumerate(years):
        batch = proj.filter(F.col("yr") == yr).drop("yr")
        if i == 0:
            det.set_reference(batch)
            rows.append((str(yr), "reference", None, None))
        else:
            state = det.update(batch)
            rows.append((str(yr), state or "pass", det.d_act, det.threshold))
    return local_frame(
        spark, rows, "year string, state string, d_act double, threshold double"
    )


def q_example_data_profile(spark, sf_dir):
    """Per-year profile of the Spark-native example dataset (evidences
    the distributed generator + its five injected drifts)."""
    _ensure_workers_can_import(spark)
    df = tables.make_example_batch_data(spark, year_size=1500)
    return (
        df.groupBy("year")
        .agg(
            F.round(F.avg("b"), 1).alias("b_mean"),
            F.round(F.stddev_samp("d"), 0).alias("d_std"),
            F.round(F.corr("e", "f"), 3).alias("ef_corr"),
            F.round(F.avg("h"), 0).alias("h_mean"),
            F.round(F.avg("confidence"), 3).alias("conf_mean"),
            F.max(F.col("drift").cast("int")).alias("drift_flag"),
        )
        .orderBy("year")
    )


def _example_numpy_df(year_size: int = 1500, seed: int = 123, n_parts: int = 30):
    """Numpy twin of tables.make_example_batch_data: counter-based RNG
    over fixed contiguous id ranges reproduces the distributed
    generator bit-exactly without Spark (established hash-green by
    example_data_profile)."""
    import numpy as np
    import pandas as pd
    n = year_size * 15
    per = n // n_parts
    frames = []
    mu_c, mu_d = 7000.0, 100000.0
    for p in range(n_parts):
        idx = np.arange(p * per, (p + 1) * per)
        m = len(idx)
        rng = np.random.default_rng([seed, int(idx[0])])
        year = (2007 + idx // year_size).astype("int32")
        out = pd.DataFrame({"year": year})
        out["a"] = rng.gamma(shape=8.0, size=m) * 1000
        out["b"] = rng.normal(200.0, 10.0, m)
        out["c"] = rng.gamma(shape=7.0, size=m) * 1000
        out["d"] = rng.gamma(shape=10.0, size=m) * 10000
        ef = rng.multivariate_normal((0, 0), np.array([[2.0, 0.0], [0.0, 2.0]]), m)
        out["e"], out["f"] = ef[:, 0], ef[:, 1]
        out["g"] = rng.gamma(shape=11.0, size=m) * 10000
        out["h"] = rng.gamma(shape=12.0, size=m) * 1000
        out["i"] = rng.gamma(shape=9.0, size=m) * 1000
        out["j"] = rng.gamma(shape=10.0, size=m) * 100
        out["cat"] = rng.choice(
            np.arange(7), size=m, p=(0.3, 0.3, 0.2, 0.1, 0.05, 0.04, 0.01)
        ).astype("int32")
        out["confidence"] = rng.uniform(0.0, 0.6, m)
        mask = year == 2009
        out.loc[mask, "b"] = rng.normal(500.0, 10.0, int(mask.sum()))
        mask = (year == 2012) & (idx % 10 == 0)
        out.loc[mask, "c"] = mu_c + rng.normal(0, 10, int(mask.sum()))
        mask = (year == 2012) & (idx % 2 == 0)
        out.loc[mask, "d"] = mu_d + rng.normal(0, 10, int(mask.sum()))
        mask = year == 2015
        k = int(mask.sum())
        if k:
            ef2 = rng.multivariate_normal((0, 0), np.array([[2.0, 1.0], [1.0, 2.0]]), k)
            out.loc[mask, "e"] = ef2[:, 0]
            out.loc[mask, "f"] = ef2[:, 1]
        mask = year > 2018
        k = int(mask.sum())
        if k:
            out.loc[mask, "h"] = rng.gamma(shape=1.0, scale=1.0, size=k) * 1000
            out.loc[mask, "confidence"] = rng.uniform(0.4, 1.0, k)
        mask = year == 2021
        k = int(mask.sum())
        if k:
            out.loc[mask, "j"] = rng.gamma(shape=10.0, size=k) * 10
        frames.append(out)
    return pd.concat(frames, ignore_index=True)


def _example_profile_oracle() -> str:
    """Constant-table oracle for example_data_profile: re-derive the
    dataset via the numpy generator twin, aggregate, inline the
    expected rows. Rounding uses Decimal HALF_UP, the same decision
    Spark's round() applies to the exact double."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    df = _example_numpy_df()

    def r(x, nd):
        q = Decimal(1).scaleb(-nd)
        return float(Decimal(float(x)).quantize(q, rounding=ROUND_HALF_UP))

    rows = []
    for yr, g in df.groupby("year"):
        rows.append((
            int(yr), r(g["b"].mean(), 1), r(g["d"].std(ddof=1), 0),
            r(np.corrcoef(g["e"], g["f"])[0, 1], 3), r(g["h"].mean(), 0),
            r(g["confidence"].mean(), 3),
            int(yr in (2009, 2012, 2015, 2018, 2021)),
        ))
    vals = ", ".join(
        f"({y}, {bm!r}::DOUBLE, {ds!r}::DOUBLE, {ec!r}::DOUBLE, "
        f"{hm!r}::DOUBLE, {cm!r}::DOUBLE, {dr})"
        for (y, bm, ds, ec, hm, cm, dr) in rows
    )
    return (
        "SELECT * FROM (VALUES " + vals + ") "
        "t(year, b_mean, d_std, ef_corr, h_mean, conf_mean, drift_flag) "
        "ORDER BY year"
    )


# --------------------------------------------------------------------------
# concept-drift / windowed / multivariate streaming detectors (r04:
# every detector in SURVEY.md §2.11 now has a driver-harness entry)

def _labeled_events(spark, sf_dir):
    """Deterministic labeled classification stream over events: per
    user-bucket group ordered by event_id, the error indicator flips
    from 10% to 35% at each group's midpoint (a real concept drift),
    derived purely from (event_id, rn, mx) so the DuckDB oracle
    rebuilds the identical stream. y_pred = y_true XOR err."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "grp", F.pmod("user_id", F.lit(8)).cast("string")
    )
    w = Window.partitionBy("grp").orderBy("event_id")
    wc = Window.partitionBy("grp")
    ev = ev.withColumn("rn", F.row_number().over(w)).withColumn(
        "mx", F.count(F.lit(1)).over(wc)
    )
    err_pct = F.when(F.col("rn") * 2 <= F.col("mx"), F.lit(10)).otherwise(F.lit(35))
    err = (F.pmod(F.col("event_id") * F.lit(1000003), F.lit(100)) < err_pct).cast("int")
    y_true = F.pmod("event_id", F.lit(2)).cast("int")
    return ev.select(
        "grp", "event_id", "rn", "mx",
        F.col("value").cast("double").alias("value"),
        err.alias("err"), y_true.alias("y_true"),
        F.pmod(y_true + err, F.lit(2)).alias("y_pred"),
    )


def _state_count_trace(trace):
    """Per-group (n, n_drift, n_warn) from a detector trace."""
    return trace.groupBy("group").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("state") == "drift", 1).otherwise(0)).alias("n_drift"),
        F.sum(F.when(F.col("state") == "warning", 1).otherwise(0)).alias("n_warn"),
    ).orderBy("group")


def _concept_trace(spark, sf_dir, factory):
    from menelaus_spark.streaming.detectors import apply_streaming_detector

    lab = _labeled_events(spark, sf_dir)
    trace = apply_streaming_detector(
        lab, factory, group_col="grp", order_col="event_id",
        value_cols=["y_true", "y_pred"],
    )
    return _state_count_trace(trace)


def q_ddm_events(spark, sf_dir):
    """DDM per user bucket over the labeled stream — full recursive-CTE
    DuckDB oracle replays the rate/std recurrence (incl. the
    reference's sqrt-reused std accumulator, ddm.py:84-117)."""
    from menelaus_spark.streaming.detectors import DDM

    return _concept_trace(spark, sf_dir, lambda: DDM())


def q_eddm_events(spark, sf_dir):
    """EDDM per user bucket — recursive-CTE oracle replays the
    distance-between-errors statistic (eddm.py:89-133 semantics:
    warning state persists across correct rows, max-numerator ratio)."""
    from menelaus_spark.streaming.detectors import EDDM

    return _concept_trace(spark, sf_dir, lambda: EDDM())


def q_stepd_events(spark, sf_dir):
    """STEPD per user bucket — recursive-CTE oracle recomputes the
    two-proportion z-test over the reset-segment windows; the p < alpha
    decisions are encoded as T > z* literals where z* is bisected
    against the engine's own norm_cdf (exact equivalence off the
    measure-zero boundary)."""
    from menelaus_spark.streaming.detectors import STEPD

    return _concept_trace(spark, sf_dir, lambda: STEPD())


def _shifted_value_events(spark, sf_dir):
    """Univariate stream with an injected level shift (+2.5 in each
    group's second half) — ADWIN fodder, reproducible in the twin."""
    lab = _labeled_events(spark, sf_dir)
    # value/50 normalizes the stream's sigma to ~1 so the +2.5 level
    # shift is a detectable (not variance-swamped) change
    return lab.withColumn(
        "x", F.col("value") / F.lit(50.0)
        + F.when(F.col("rn") * 2 > F.col("mx"), F.lit(2.5)).otherwise(F.lit(0.0))
    )


def q_adwin_events(spark, sf_dir):
    """ADWIN over the shifted value stream. Oracle: an INDEPENDENT
    flat-bucket ADWIN twin (deque levels instead of the engine's row
    lists) replays the same stream at oracle-build time; expected
    per-group (n, n_drift, final window mean) inlined as constants —
    the kdq-criticals precedent for non-SQL state machines."""
    from menelaus_spark.streaming.detectors import ADWIN, apply_streaming_detector

    sv = _shifted_value_events(spark, sf_dir)
    trace = apply_streaming_detector(
        sv, lambda: ADWIN(), group_col="grp", order_col="event_id",
        value_cols=["x"],
    )
    r6 = F.round(F.expr("max_by(statistic, ord)") * F.lit(1e6)) / F.lit(1e6)
    return trace.groupBy("group").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("state") == "drift", 1).otherwise(0)).alias("n_drift"),
        r6.alias("final_mean6"),
    ).orderBy("group")


def q_adwin_accuracy_events(spark, sf_dir):
    """ADWINAccuracy over the labeled stream (indicator 1[y==yhat]
    drops 0.90 -> 0.65 at the midpoint) — same independent twin oracle
    as q_adwin_events."""
    from menelaus_spark.streaming.detectors import (
        ADWINAccuracy,
        apply_streaming_detector,
    )

    lab = _labeled_events(spark, sf_dir)
    trace = apply_streaming_detector(
        lab, lambda: ADWINAccuracy(), group_col="grp", order_col="event_id",
        value_cols=["y_true", "y_pred"],
    )
    r6 = F.round(F.expr("max_by(statistic, ord)") * F.lit(1e6)) / F.lit(1e6)
    return trace.groupBy("group").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("state") == "drift", 1).otherwise(0)).alias("n_drift"),
        r6.alias("final_mean6"),
    ).orderBy("group")


LFR_PARAMS = dict(burn_in=50, num_mc=1000, subsample=100,
                  rates_tracked=("tpr", "tnr"), seed=42)


def q_lfr_events(spark, sf_dir):
    """LinearFourRates per user bucket (decayed-rate statistic vs
    seeded Monte-Carlo bounds, lfr.py:197-242 semantics). Oracle: a
    compact independent twin re-derives the confusion/rate/bound
    recurrence with the same seeded draws (the MC bounds are part of
    the algorithm spec, like the kdq bootstrap criticals) — expected
    per-group counts inlined as constants."""
    from menelaus_spark.streaming.detectors import LinearFourRates

    return _concept_trace(spark, sf_dir, lambda: LinearFourRates(**LFR_PARAMS))


def _md3_frames(spark, sf_dir):
    """(reference pandas frame, stream DataFrame) for MD3: 2-feature
    stream from events with a +1.5 x1 shift in the second half of the
    stream; labels on the reference rows follow the x1 + x2 > 0 rule."""
    ev = _t(spark, sf_dir, "events")
    n_ref = 200
    mid = int(ev.agg(F.max("event_id")).collect()[0][0]) // 2
    feat = ev.select(
        "event_id",
        ((F.col("value").cast("double") - F.lit(34.0)) / F.lit(30.0)
         + F.when(F.col("event_id") >= mid, F.lit(1.5)).otherwise(F.lit(0.0))
         ).alias("x1"),
        ((F.pmod(F.col("event_id") * F.lit(2654435761), F.lit(1000)) / F.lit(500.0))
         - F.lit(1.0)).alias("x2"),
    )
    ref = feat.orderBy("event_id").limit(n_ref).toPandas()
    ref["y"] = (ref["x1"] + ref["x2"] > 0).astype(int)
    ref_ids = set(ref["event_id"].tolist())
    stream = feat.filter(~F.col("event_id").isin(list(ref_ids)))
    return ref[["x1", "x2", "y"]], stream.select("event_id", "x1", "x2")


def q_md3_events(spark, sf_dir):
    """MD3 through the DISTRIBUTED update_batch path (two mapInPandas
    passes over range-partitioned data, md3.py:188-335). Oracle: the
    sequential per-sample update() replayed at oracle-build time on the
    identical stream — the driver hash-check IS the distributed ==
    sequential parity claim."""
    from menelaus_spark.checks.md3 import MD3

    ref_pdf, stream = _md3_frames(spark, sf_dir)
    det = MD3(sensitivity=1.5)
    det.set_reference(ref_pdf, target_name="y")
    state, n_proc = det.update_batch(stream, order_col="event_id")
    return local_frame(
        spark, [(state or "none", int(n_proc))], "state string, n_processed long"
    )


def _multivariate_events(spark, sf_dir):
    """2-feature per-group stream with a +3.0 x1 shift in each group's
    second half — PCA-CD / streaming-kdq fodder."""
    lab = _labeled_events(spark, sf_dir)
    return lab.select(
        "grp", "event_id",
        (F.col("value") / F.lit(50.0)
         + F.when(F.col("rn") * 2 > F.col("mx"), F.lit(3.0)).otherwise(F.lit(0.0))
         ).alias("x1"),
        (F.pmod(F.col("event_id") * F.lit(1000003), F.lit(1000)) / F.lit(1000.0))
        .alias("x2"),
    )


def q_pcacd_events(spark, sf_dir):
    """PCA-CD per user bucket (intersection divergence). Oracle:
    sequential replay of the kernel over the duckdb-read stream at
    oracle-build time, inlined as constants — validates the
    distributed group/order/trace machinery end-to-end (kernel math is
    covered by the pca_cd differential tests)."""
    from menelaus_spark.streaming.detectors import PCACD, apply_streaming_detector

    mv = _multivariate_events(spark, sf_dir)
    trace = apply_streaming_detector(
        mv, lambda: PCACD(window_size=100, divergence_metric="intersection"),
        group_col="grp", order_col="event_id", value_cols=["x1", "x2"],
        multivariate=True,
    )
    return _state_count_trace(trace).drop("n_warn")


def q_kdqstream_events(spark, sf_dir):
    """Streaming kdq-tree per user bucket. Oracle: sequential replay
    twin (same precedent as q_pcacd_events; the tree build + bootstrap
    criticals are seeded driver-side constants exactly as in the
    hash-green kdq_lineitem oracle)."""
    from menelaus_spark.streaming.detectors import (
        KdqTreeStreaming,
        apply_streaming_detector,
    )

    mv = _multivariate_events(spark, sf_dir)
    trace = apply_streaming_detector(
        mv,
        lambda: KdqTreeStreaming(window_size=200, persistence=0.05,
                                 bootstrap_samples=100, count_ubound=50, seed=42),
        group_col="grp", order_col="event_id", value_cols=["x1", "x2"],
        multivariate=True,
    )
    return _state_count_trace(trace).drop("n_warn")


AUDIO_SUITE_DRIFT = {
    3: {"dur_mu_shift": 0.8},
    4: {"codec_probs": [0.1, 0.1, 0.15, 0.35, 0.3]},
    # audio-depth faults: clipping + overdense transcripts + padded payloads
    5: {"gain": 8.0, "words_per_s": 40.0, "pad_bytes": 4096},
    # bandwidth fault: claims sr_hz but the spectrum is empty above 1 kHz
    6: {"upsample_from": 2000},
}

# the corrupt-payload scenario: same drift spec plus one partition of
# damaged payloads with claimed-good metadata (all three damage kinds:
# truncated data, severed header, smashed magic)
AUDIO_SUITE_DRIFT_CORRUPT = dict(AUDIO_SUITE_DRIFT)
AUDIO_SUITE_DRIFT_CORRUPT[7] = {"corrupt_frac": 0.25}

# the QC scenario: one partition of DC-biased clips (broken-ADC fault —
# no clipping at 0.6 FS, frames not silent, caught only by the signed
# mean); the gain-saturated part 5 additionally fails the crest check
AUDIO_SUITE_DRIFT_QC = dict(AUDIO_SUITE_DRIFT)
AUDIO_SUITE_DRIFT_QC[7] = {"dc_offset": 0.2}

# the metadata-lies scenario: one partition of intact, decodable
# payloads whose CLAIMED columns lie (rate doubled + duration halved /
# the inverse / G.711 label swapped) — invisible to the O(length)
# payload model, caught only by the header-vs-claim check
AUDIO_SUITE_DRIFT_METALIES = dict(AUDIO_SUITE_DRIFT)
AUDIO_SUITE_DRIFT_METALIES[7] = {"meta_lie_frac": 0.3}

# claimed-codec -> WAV fmt tag for the metadata check ("flac" labels
# deliberately unmapped: the synthetic tables park them over PCM16)
AUDIO_CODEC_TAGS = {"pcm": 1, "ulaw": 7, "alaw": 6, "adpcm": 17}
AUDIO_META_RULES = {"sr": True, "dur_tol_ms": 5.0,
                    "codec_tags": AUDIO_CODEC_TAGS}


def q_audio_suite_relational(spark, sf_dir):
    """The audio suite's RELATIONAL verdict families (constraint
    counts, KS, PSI, cumulative HDDDM over dur_ms/sr_hz, uniqueness),
    hash-checked: kdq/quality (PCM-dependent) families are excluded
    and HDM runs its bootstrap-free detect_batch=3 + stdev config, so
    EVERY emitted verdict is recomputable in pure SQL over the
    relational columns of the same deterministic table (inlined by the
    oracle via the numpy generator twin — the input table is data, the
    verdict logic is what the oracle independently recomputes)."""
    from menelaus_spark.runner import ValidationSuite

    _ensure_workers_can_import(spark)
    ckpt = tempfile.mkdtemp(prefix="menelaus_ckpt_rel_")
    try:
        df = tables.audio_table(spark, n_rows=800, n_parts=8,
                                drift=AUDIO_SUITE_DRIFT)
        path = os.path.join(ckpt, "table")
        tables.write_audio_table(df, path)
        suite = ValidationSuite(
            spark, os.path.join(ckpt, "state"),
            expected_schema=None,
            null_rate_max={"transcript": 0.2},
            ranges={"dur_ms": (200, 3000)},
            kdq_features=False,
            hdm_params={"detect_batch": 3, "statistic": "stdev"},
            cps_bounds=(1.0, 60.0),
            payload_tol=0.02,
        )
        verdicts, _ = suite.run(spark.read.parquet(path))
        return verdicts.select("partition_key", "check_name", "state").orderBy(
            "partition_key", "check_name"
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def _audio_relational_oracle() -> str | None:
    """Oracle for q_audio_suite_relational: the relational columns of
    the deterministic audio table are regenerated by the numpy
    generator twin (tables._gen_rows is counter-based per clip, so the
    same call reproduces the distributed table bit-exactly) and
    inlined as a VALUES table; every verdict family — null rate, range,
    transcript rate, payload size, uniqueness (per-partition +
    global), KS vs the part-0 reference histograms, PSI on codec
    frequencies, and the full HDDDM detect_batch=3/stdev recurrence —
    is then recomputed INDEPENDENTLY in SQL."""
    import numpy as np

    from menelaus_spark import tables as _tables

    try:
        pdf = _tables._gen_rows(
            np.arange(800), 42, 8, 100, AUDIO_SUITE_DRIFT,
            0.02, 0.0, 6.6, 0.5, (200, 3000), True,
        )
    except Exception:
        return None
    rows = []
    for r in pdf.itertuples(index=False):
        tlen = "NULL" if r.transcript is None else str(len(r.transcript))
        rows.append(
            f"('{r.clip_id}', {len(r.bytes)}, {int(r.sr_hz)}, {int(r.dur_ms)}, "
            f"'{r.codec}', {tlen}, {int(r.part)})"
        )
    c_ks = float(np.sqrt(-np.log(0.05 / 2.0) / 2.0))
    hd_vals = """SELECT part AS i, part::VARCHAR AS lbl, u.f,
                        CASE u.f WHEN 0 THEN dur_ms::DOUBLE
                                 ELSE sr_hz::DOUBLE END AS v
                 FROM t CROSS JOIN (VALUES (0), (1)) u(f)"""
    hd_sql = _drift_recurrence_sql(hd_vals, 2, _HELLINGER_EXPR)
    return f"""
        WITH t(clip_id, byte_len, sr_hz, dur_ms, codec, tlen, part) AS (
          VALUES {", ".join(rows)}),
        hd AS ({hd_sql}),
        parts AS (SELECT DISTINCT part FROM t),
        nullrate AS (
          SELECT part,
                 CASE WHEN avg(CASE WHEN tlen IS NULL THEN 1.0 ELSE 0.0 END) <= 0.2
                      THEN 'pass' ELSE 'fail' END AS st
          FROM t GROUP BY part),
        rngv AS (
          SELECT part,
                 CASE WHEN sum(CASE WHEN dur_ms < 200 OR dur_ms > 3000
                               THEN 1 ELSE 0 END) = 0
                      THEN 'pass' ELSE 'fail' END AS st
          FROM t GROUP BY part),
        cpsv AS (
          SELECT part,
                 CASE WHEN sum(CASE WHEN tlen IS NOT NULL AND dur_ms > 0
                                    AND (tlen::DOUBLE / (dur_ms::DOUBLE / 1000.0) < 1.0
                                         OR tlen::DOUBLE / (dur_ms::DOUBLE / 1000.0) > 60.0)
                               THEN 1 ELSE 0 END) = 0
                      THEN 'pass' ELSE 'fail' END AS st
          FROM t GROUP BY part),
        payv AS (
          SELECT part,
                 CASE WHEN sum(CASE WHEN
                        abs(byte_len::DOUBLE
                            - (44.0 + 2.0 * round(dur_ms::DOUBLE * sr_hz::DOUBLE / 1000.0)))
                        > greatest(4.0, 0.02 * (44.0 + 2.0 * round(dur_ms::DOUBLE * sr_hz::DOUBLE / 1000.0)))
                               THEN 1 ELSE 0 END) = 0
                      THEN 'pass' ELSE 'fail' END AS st
          FROM t GROUP BY part),
        uniqv AS (
          SELECT part, CASE WHEN count(*) = count(DISTINCT clip_id)
                            THEN 'pass' ELSE 'fail' END AS st
          FROM t GROUP BY part),
        guniq AS (
          SELECT CASE WHEN count(*) = count(DISTINCT clip_id)
                      THEN 'pass' ELSE 'fail' END AS st
          FROM t),
        tv AS (SELECT part, u.f,
                      CASE u.f WHEN 0 THEN dur_ms::DOUBLE ELSE sr_hz::DOUBLE END AS v
               FROM t CROSS JOIN (VALUES (0), (1)) u(f)),
        ksrng AS (SELECT f, min(v) AS lo, max(v) AS hi FROM tv WHERE part = 0 GROUP BY f),
        ksb AS (
          SELECT tv.part, tv.f,
                 CASE WHEN least(greatest(tv.v, r.lo), r.hi) = r.hi THEN 1023
                      ELSE least(CAST(floor((least(greatest(tv.v, r.lo), r.hi) - r.lo)
                                           / ((r.hi - r.lo) / 1024)) AS BIGINT),
                                 1023) END AS bin,
                 count(*)::DOUBLE AS c
          FROM tv JOIN ksrng r ON r.f = tv.f
          GROUP BY 1, 2, 3),
        ksuni AS (SELECT DISTINCT f, bin FROM ksb),
        kspairs AS (
          SELECT p.part, u.f, u.bin,
                 coalesce(r.c, 0) AS rc, coalesce(x.c, 0) AS tc
          FROM (SELECT part FROM parts WHERE part <> 0) p
          CROSS JOIN ksuni u
          LEFT JOIN ksb r ON r.part = 0 AND r.f = u.f AND r.bin = u.bin
          LEFT JOIN ksb x ON x.part = p.part AND x.f = u.f AND x.bin = u.bin),
        kscum AS (
          SELECT part, f, bin,
                 sum(rc) OVER (PARTITION BY part, f ORDER BY bin) AS cr,
                 sum(tc) OVER (PARTITION BY part, f ORDER BY bin) AS ct,
                 sum(rc) OVER (PARTITION BY part, f) AS rt,
                 sum(tc) OVER (PARTITION BY part, f) AS tt
          FROM kspairs),
        ksstat AS (
          SELECT part, f, max(abs(cr / rt - ct / tt)) AS stat,
                 max(rt) AS rt, max(tt) AS tt
          FROM kscum GROUP BY part, f),
        ksv AS (
          SELECT part, f,
                 CASE WHEN stat > {c_ks!r} * sqrt((rt + tt) / (rt * tt))
                      THEN 'drift' ELSE 'pass' END AS st
          FROM ksstat),
        pf AS (SELECT part, codec, count(*)::DOUBLE AS c FROM t GROUP BY part, codec),
        ptot AS (SELECT part, sum(c) AS n FROM pf GROUP BY part),
        cats AS (SELECT DISTINCT codec FROM t),
        psiterms AS (
          SELECT p.part,
                 greatest(coalesce(r.c, 0) / rt.n, 1e-4) AS pp,
                 greatest(coalesce(x.c, 0) / tt.n, 1e-4) AS qq
          FROM (SELECT part FROM parts WHERE part <> 0) p
          CROSS JOIN cats cc
          LEFT JOIN pf r ON r.part = 0 AND r.codec = cc.codec
          LEFT JOIN pf x ON x.part = p.part AND x.codec = cc.codec
          JOIN ptot rt ON rt.part = 0
          JOIN ptot tt ON tt.part = p.part),
        psiv AS (
          SELECT part, CASE WHEN sum((qq - pp) * ln(qq / pp)) > 0.2
                            THEN 'drift' ELSE 'pass' END AS st
          FROM psiterms GROUP BY part)
        SELECT * FROM (
          SELECT part::VARCHAR AS partition_key,
                 'null_rate:transcript' AS check_name, st AS state FROM nullrate
          UNION ALL SELECT part::VARCHAR, 'range:dur_ms', st FROM rngv
          UNION ALL SELECT part::VARCHAR, 'transcript_rate', st FROM cpsv
          UNION ALL SELECT part::VARCHAR, 'payload_size', st FROM payv
          UNION ALL SELECT part::VARCHAR, 'unique:clip_id', st FROM uniqv
          UNION ALL SELECT '__global__', 'unique:clip_id', st FROM guniq
          UNION ALL SELECT year, 'hdddm',
                 CASE WHEN state = 'drift' THEN 'drift' ELSE 'pass' END FROM hd
          UNION ALL SELECT part::VARCHAR,
                 CASE f WHEN 0 THEN 'ks:dur_ms' ELSE 'ks:sr_hz' END, st FROM ksv
          UNION ALL SELECT '0', 'ks:dur_ms', 'pass'
          UNION ALL SELECT '0', 'ks:sr_hz', 'pass'
          UNION ALL SELECT part::VARCHAR, 'psi:codec', st FROM psiv
          UNION ALL SELECT '0', 'psi:codec', 'pass')
        ORDER BY partition_key, check_name
    """


def _audio_suite_oracle(real_codecs=False, drift=None,
                        meta_rules=None, extra_rows=None,
                        qc_rules=False, drift2=None) -> str | None:
    """Full-suite twin for q_audio_suite: regenerate the table with the
    numpy generator twin, DECODE the payloads with the same importable
    numpy kernels the Arrow UDF runs (features_for_batch), and replay
    the vectorized runner's entire decision flow driver-side —
    constraints, HDM (detect_batch=2 with the r04 Poissonized
    bootstrap), kdq tree build/fill/drift-rebuild, decode integrity,
    the audio-depth quality checks, KS/PSI. Replayability became
    possible in r04: nothing left in this configuration touches
    Spark's partition-dependent DataFrame.sample (the kdq build sample
    is the full under-cap reference, the tree build is
    multiset-invariant, the HDM bootstrap resamples the collected
    histogram). Only verdict STATES are emitted/compared — exactly the
    (partition_key, check_name, state) projection the entry returns."""
    import numpy as np

    from menelaus_spark import audio as A
    from menelaus_spark import tables as _tables
    from menelaus_spark.checks.kdqtree import (
        KDQTreePartitioner,
        bootstrap_critical_kld,
    )
    from menelaus_spark.functions import distances as dist

    try:
        pdf = _tables._gen_rows(
            np.arange(800), 42, 8, 100,
            AUDIO_SUITE_DRIFT if drift is None else drift,
            0.02, 0.0, 6.6, 0.5, (200, 3000), True,
            0.0, ("gain", "resample"), real_codecs,
        )
    except Exception:
        return None
    parts = sorted(pdf["part"].unique())
    pks = [str(int(p)) for p in parts]
    # the Arrow UDF computes float32 then casts to float64 — same here
    feats = A.features_for_batch(
        pdf["bytes"].tolist(), pdf["codec"].tolist(), quality=True,
        header=meta_rules is not None,
    ).astype(np.float64)
    F0 = feats[:, 0]
    clean = ~np.isnan(F0)
    part_arr = pdf["part"].to_numpy()
    dur = pdf["dur_ms"].to_numpy(np.float64)
    sr = pdf["sr_hz"].to_numpy(np.float64)
    tlen = pdf["transcript"].map(lambda t: None if t is None else len(t))
    codec = pdf["codec"].to_numpy()
    clip_ids = pdf["clip_id"].to_numpy()

    verdicts = []  # (pk, check, state)

    def half_away(x):
        return np.where(x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5))

    # ---- per-part constraint states
    for p, pk in zip(parts, pks):
        m = part_arr == p
        verdicts.append((pk, "schema", "pass"))  # metadata-only check
        null_rate = np.mean([t is None for t in tlen[m]])
        verdicts.append((pk, "null_rate:transcript",
                         "pass" if null_rate <= 0.2 else "fail"))
        n_bad = int(((dur[m] < 200) | (dur[m] > 3000)).sum())
        verdicts.append((pk, "range:dur_ms", "pass" if n_bad == 0 else "fail"))
        tl = np.array([np.nan if t is None else float(t) for t in tlen[m]])
        cps = tl / (dur[m] / 1000.0)
        n_cps = int((~np.isnan(cps) & (dur[m] > 0)
                     & ((cps < 1.0) | (cps > 60.0))).sum())
        verdicts.append((pk, "transcript_rate", "pass" if n_cps == 0 else "fail"))
        n_dup = len(clip_ids[m]) - len(set(clip_ids[m]))
        verdicts.append((pk, "unique:clip_id", "pass" if n_dup == 0 else "fail"))
    verdicts.append(("__global__", "unique:clip_id",
                     "pass" if len(set(clip_ids)) == len(clip_ids) else "fail"))

    # ---- HDM over (dur_ms, sr_hz), detect_batch=2, tstat, seed 42
    hdm_batches = []
    for p, pk in zip(parts, pks):
        m = part_arr == p
        s = {}
        for c, arr in (("dur_ms", dur[m]), ("sr_hz", sr[m])):
            uv, un = np.unique(arr, return_counts=True)
            s[c] = (uv, un.astype(np.float64))
        hdm_batches.append((pk, s))
    for lbl, st, _, _ in _hdm_twin_rows(hdm_batches, ["dur_ms", "sr_hz"],
                                        dist.hellinger, detect_batch=2, seed=42):
        verdicts.append((lbl, "hdddm", "drift" if st == "drift" else "pass"))

    # ---- kdq + decode integrity (the vectorized runner's flow)
    kdq_params = {"count_ubound": 20, "bootstrap_samples": 50}
    fcols = feats[:, :A.N_FEATURES]
    counts_by = {}
    tree = KDQTreePartitioner(kdq_params["count_ubound"], 2e-10)
    tree.build(fcols[clean & (part_arr == parts[0])])
    for p, pk in zip(parts, pks):
        counts_by[pk] = tree.fill_counts(fcols[clean & (part_arr == p)])
    ref_counts = counts_by[pks[0]]
    critical = bootstrap_critical_kld(ref_counts, int(ref_counts.sum()),
                                      0.01, kdq_params["bootstrap_samples"], 42)
    ref_pk = pks[0]
    drift_state = None
    for i, (p, pk) in enumerate(zip(parts, pks)):
        if i == 0:
            verdicts.append((pk, "kdq_tree", "pass"))
        else:
            if drift_state == "drift":
                rp = int(ref_pk)
                tree = KDQTreePartitioner(kdq_params["count_ubound"], 2e-10)
                tree.build(fcols[clean & (part_arr == rp)])
                for q, qk in zip(parts, pks):
                    if qk == ref_pk or int(qk) >= p:
                        counts_by[qk] = tree.fill_counts(fcols[clean & (part_arr == q)])
                ref_counts = counts_by[ref_pk]
                critical = bootstrap_critical_kld(
                    ref_counts, int(ref_counts.sum()), 0.01,
                    kdq_params["bootstrap_samples"], 42)
            kl = dist.kl_divergence(dist.dasu_smooth(ref_counts),
                                    dist.dasu_smooth(counts_by[pk]))
            drift_state = "drift" if kl > critical else None
            if drift_state == "drift":
                ref_pk = pk
            verdicts.append((pk, "kdq_tree", "drift" if drift_state else "pass"))
        n_nan = int((part_arr == p).sum()) - int((clean & (part_arr == p)).sum())
        verdicts.append((pk, "decode_integrity", "pass" if n_nan == 0 else "fail"))

    # ---- audio-depth quality checks from the decode-pass columns
    q_clip = feats[:, A.N_FEATURES + 0]
    q_sil = feats[:, A.N_FEATURES + 1]
    q_blen = feats[:, A.N_FEATURES + A.N_QUALITY - 1]  # q_byte_len is last
    hi_band = np.expm1(feats[:, 8:12]).sum(axis=1)
    tot_band = np.expm1(feats[:, 4:12]).sum(axis=1)
    n_samp = half_away(dur * sr / 1000.0)
    bps = np.where((codec == "ulaw") | (codec == "alaw"), 1.0, 2.0)
    expected = 44.0 + bps * n_samp
    # IMA ADPCM: block-quantized model (60-byte header + whole
    # 256-byte blocks of 505 samples) — mirrors the engine's
    # (header, block, spb) triple in payload_expected_and_tol
    expected = np.where(codec == "adpcm",
                        60.0 + 256.0 * np.ceil(n_samp / 505.0), expected)
    tol = np.maximum(4.0, 0.02 * expected)
    conds = [
        ("audio_clipping", clean & (q_clip > 0.05)),
        ("audio_silence", clean & (q_sil > 0.9)),
        ("audio_bandwidth", clean & (tot_band > 0.0)
         & ((hi_band / np.where(tot_band == 0, 1.0, tot_band)) < 0.01)),
        ("payload_size", ~np.isnan(q_blen) & (np.abs(q_blen - expected) > tol)),
    ]
    if qc_rules:
        # r05 QC metrics: same fixed emission order as _quality_conds
        # (dc_offset then crest, silence-guarded), thresholds mirroring
        # q_audio_suite_qc's dc_offset_max=0.05 / crest_min_db=1.5
        q_dc = feats[:, A.N_FEATURES + 4]
        q_crest = feats[:, A.N_FEATURES + 5]
        conds.insert(2, ("audio_dc_offset", clean & (np.abs(q_dc) > 0.05)))
        conds.insert(3, ("audio_crest",
                         clean & (q_sil < 1.0) & (q_crest < 1.5)))
    if meta_rules is not None:
        # metadata-consistency twin: header facts from the SAME numpy
        # kernel (features_for_batch header cols) vs the claimed columns
        hdr0 = A.N_FEATURES + A.N_QUALITY
        hdr_sr, hdr_ms, hdr_tag = feats[:, hdr0], feats[:, hdr0 + 1], feats[:, hdr0 + 2]
        hdr_ok = ~np.isnan(hdr_sr)
        lies = np.zeros(len(pdf), dtype=bool)
        if meta_rules.get("sr", True):
            lies |= hdr_ok & (hdr_sr != sr)
        m_tol = meta_rules.get("dur_tol_ms")
        if m_tol is not None:
            lies |= hdr_ok & (np.abs(hdr_ms - dur) > float(m_tol))
        tags = meta_rules.get("codec_tags") or {}
        if tags:
            exp_tag = np.array([float(tags.get(c, np.nan)) for c in codec])
            lies |= hdr_ok & ~np.isnan(exp_tag) & (hdr_tag != exp_tag)
        conds.append(("metadata_consistency", hdr_ok & lies))
    for p, pk in zip(parts, pks):
        m = part_arr == p
        for name, cond in conds:
            verdicts.append((pk, name, "pass" if int(cond[m].sum()) == 0 else "fail"))

    # ---- KS (dur_ms, sr_hz) + PSI (codec) vs part 0
    KSB = 1024
    ranges = {}
    m0 = part_arr == parts[0]
    for c, arr in (("dur_ms", dur), ("sr_hz", sr)):
        ranges[c] = (float(arr[m0].min()), float(arr[m0].max()))
    c_ks = float(np.sqrt(-np.log(0.05 / 2.0) / 2.0))

    def ks_hist(arr):
        lo, hi = ranges_c
        x = np.minimum(np.maximum(arr, lo), hi)
        width = (hi - lo) / KSB
        idx = np.minimum(np.floor((x - lo) / width), KSB - 1).astype(np.int64)
        idx[x == hi] = KSB - 1
        return np.bincount(idx, minlength=KSB).astype(np.float64)

    for c, arr in (("dur_ms", dur), ("sr_hz", sr)):
        ranges_c = ranges[c]
        ref_h = ks_hist(arr[m0])
        verdicts.append((pks[0], f"ks:{c}", "pass"))
        if drift2 and c in drift2.get("emd", {}):
            verdicts.append((pks[0], f"emd:{c}", "pass"))
        if drift2 and c in drift2.get("cvm", {}):
            verdicts.append((pks[0], f"cvm:{c}", "pass"))
        for p, pk in zip(parts[1:], pks[1:]):
            th = ks_hist(arr[part_arr == p])
            gap = np.cumsum(ref_h) / ref_h.sum() - np.cumsum(th) / th.sum()
            stat = float(np.max(np.abs(gap)))
            n, mm = ref_h.sum(), th.sum()
            thr = c_ks * float(np.sqrt((n + mm) / (n * mm)))
            verdicts.append((pk, f"ks:{c}", "drift" if stat > thr else "pass"))
            if drift2 and c in drift2.get("emd", {}):
                lo, hi = ranges_c
                bw = (hi - lo) / KSB
                e = float(bw * np.sum(np.abs(gap)))
                verdicts.append((pk, f"emd:{c}",
                                 "drift" if e > drift2["emd"][c] else "pass"))
            if drift2 and c in drift2.get("cvm", {}):
                w = (ref_h + th) / (ref_h.sum() + th.sum())
                v = float(np.sum(w * gap * gap))
                verdicts.append((pk, f"cvm:{c}",
                                 "drift" if v > drift2["cvm"][c] else "pass"))
    verdicts.append((pks[0], "psi:codec", "pass"))
    if drift2 and "chisq_alpha" in drift2:
        verdicts.append((pks[0], "chisq:codec", "pass"))
    cats = sorted(set(codec))
    ref_f = np.array([(codec[m0] == cc).sum() for cc in cats], dtype=np.float64)
    if drift2 and "entropy_min" in drift2:
        for p, pk in zip(parts, pks):
            f = np.array([(codec[part_arr == p] == cc).sum() for cc in cats],
                         dtype=np.float64)
            ent = dist.shannon_entropy(f)
            verdicts.append((pk, "entropy:codec",
                             "pass" if ent >= drift2["entropy_min"] else "fail"))
    for p, pk in zip(parts[1:], pks[1:]):
        mt = part_arr == p
        tf = np.array([(codec[mt] == cc).sum() for cc in cats], dtype=np.float64)
        pp = np.maximum(ref_f / ref_f.sum(), 1e-4)
        qq = np.maximum(tf / tf.sum(), 1e-4)
        stat = float(np.sum((qq - pp) * np.log(qq / pp)))
        verdicts.append((pk, "psi:codec", "drift" if stat > 0.2 else "pass"))
        if drift2 and "chisq_alpha" in drift2:
            from menelaus_spark.functions import stats as _S
            cs, dof = dist.chi2_homogeneity(ref_f, tf)
            thr = (_S.chi2_critical(dof, drift2["chisq_alpha"])
                   if dof > 0 else float("inf"))
            verdicts.append((pk, "chisq:codec",
                             "drift" if cs > thr else "pass"))

    verdicts.extend(extra_rows or [])
    vals = ", ".join(f"('{pk}', '{ck}', '{st}')" for pk, ck, st in verdicts)
    return ("SELECT * FROM (VALUES " + vals
            + ") t(partition_key, check_name, state) "
              "ORDER BY partition_key, check_name")


def q_audio_suite(spark, sf_dir):
    """Flagship: full constraint + drift validation of the synthetic
    audio table (deterministic seed 42, injected drift partitions),
    fresh checkpoint each call. Hash-checked since r04 by
    _audio_suite_oracle — a driver-side twin that regenerates the
    table, decodes with the same numpy kernels, and replays the
    vectorized runner's whole decision flow."""
    from menelaus_spark.runner import ValidationSuite

    _ensure_workers_can_import(spark)
    ckpt = tempfile.mkdtemp(prefix="menelaus_ckpt_")
    try:
        df = tables.audio_table(spark, n_rows=800, n_parts=8,
                                drift=AUDIO_SUITE_DRIFT)
        path = os.path.join(ckpt, "table")
        tables.write_audio_table(df, path)
        suite = ValidationSuite(
            spark, os.path.join(ckpt, "state"),
            expected_schema=tables.AUDIO_SCHEMA,
            null_rate_max={"transcript": 0.2},
            ranges={"dur_ms": (200, 3000)},
            kdq_params={"count_ubound": 20, "bootstrap_samples": 50},
            cps_bounds=(1.0, 60.0),
            payload_tol=0.02,
            quality_rules={"clip_rate_max": 0.05, "silence_ratio_max": 0.9,
                           "min_band_ratio": 0.01},
        )
        verdicts, _ = suite.run(spark.read.parquet(path))
        return verdicts.select("partition_key", "check_name", "state").orderBy(
            "partition_key", "check_name"
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def q_audio_suite_lineage(spark, sf_dir):
    """The flagship suite killed after 3 partitions, then resumed with
    verify_lineage=True over a table whose ALREADY-VALIDATED part 1 had
    keys rewritten underneath the checkpoint (same row count, different
    key set). The resume must (a) reproduce the one-shot verdict table
    byte-identically for every check — the tamper touches only clip_id,
    which no restored detector state consumes — and (b) add `lineage`
    rows for exactly the replayed partitions, failing exactly the
    tampered one. Oracle = the untampered full twin replay + the three
    expected lineage rows."""
    from menelaus_spark.runner import ValidationSuite

    _ensure_workers_can_import(spark)
    ckpt = tempfile.mkdtemp(prefix="menelaus_ckpt_")
    try:
        df = tables.audio_table(spark, n_rows=800, n_parts=8,
                                drift=AUDIO_SUITE_DRIFT)
        path = os.path.join(ckpt, "table")
        tables.write_audio_table(df, path)

        def suite():
            return ValidationSuite(
                spark, os.path.join(ckpt, "state"),
                expected_schema=tables.AUDIO_SCHEMA,
                null_rate_max={"transcript": 0.2},
                ranges={"dur_ms": (200, 3000)},
                kdq_params={"count_ubound": 20, "bootstrap_samples": 50},
                cps_bounds=(1.0, 60.0),
                payload_tol=0.02,
                quality_rules={"clip_rate_max": 0.05, "silence_ratio_max": 0.9,
                               "min_band_ratio": 0.01},
            )

        src = spark.read.parquet(path)
        suite().run(src.filter(F.col("part") < 3))  # "killed"
        tampered = src.withColumn(
            "clip_id",
            F.when((F.col("part") == 1) & F.col("clip_id").endswith("1"),
                   F.concat(F.col("clip_id"), F.lit("_x")))
            .otherwise(F.col("clip_id")))
        verdicts, _ = suite().run(tampered, verify_lineage=True)
        return verdicts.select("partition_key", "check_name", "state").orderBy(
            "partition_key", "check_name"
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def q_audio_suite_corrupt(spark, sf_dir):
    """The flagship suite over a table with a DAMAGED-payload partition
    (corrupt_frac=0.25 in part 7: truncated data chunks, severed
    headers, smashed RIFF magic — all with claimed-good metadata, the
    bit-rot / interrupted-upload fault class of a 10^12-row corpus).
    Damage must surface as decode_integrity + payload_size failures in
    THAT partition only, never as a UDF crash; kind 2 (right length,
    undecodable) proves decode_integrity catches what the O(1)
    length check cannot. Oracle = the same twin replay."""
    from menelaus_spark.runner import ValidationSuite

    _ensure_workers_can_import(spark)
    ckpt = tempfile.mkdtemp(prefix="menelaus_ckpt_")
    try:
        df = tables.audio_table(spark, n_rows=800, n_parts=8,
                                drift=AUDIO_SUITE_DRIFT_CORRUPT)
        path = os.path.join(ckpt, "table")
        tables.write_audio_table(df, path)
        suite = ValidationSuite(
            spark, os.path.join(ckpt, "state"),
            expected_schema=tables.AUDIO_SCHEMA,
            null_rate_max={"transcript": 0.2},
            ranges={"dur_ms": (200, 3000)},
            kdq_params={"count_ubound": 20, "bootstrap_samples": 50},
            cps_bounds=(1.0, 60.0),
            payload_tol=0.02,
            quality_rules={"clip_rate_max": 0.05, "silence_ratio_max": 0.9,
                           "min_band_ratio": 0.01},
        )
        verdicts, _ = suite.run(spark.read.parquet(path))
        return verdicts.select("partition_key", "check_name", "state").orderBy(
            "partition_key", "check_name"
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def q_audio_suite_drift2(spark, sf_dir):
    """The flagship suite with the whole r05 drift family armed beside
    KS/PSI: EMD + CvM on dur_ms (same collected histograms), the
    chi-squared homogeneity test + Shannon-entropy floor on codec (same
    collected frequencies) — zero extra Spark passes vs the flagship
    plan, one new verdict family per check. Oracle = the twin replay
    recomputing every statistic from its own histograms."""
    from menelaus_spark.runner import ValidationSuite

    _ensure_workers_can_import(spark)
    ckpt = tempfile.mkdtemp(prefix="menelaus_ckpt_")
    try:
        df = tables.audio_table(spark, n_rows=800, n_parts=8,
                                drift=AUDIO_SUITE_DRIFT)
        path = os.path.join(ckpt, "table")
        tables.write_audio_table(df, path)
        suite = ValidationSuite(
            spark, os.path.join(ckpt, "state"),
            expected_schema=tables.AUDIO_SCHEMA,
            null_rate_max={"transcript": 0.2},
            ranges={"dur_ms": (200, 3000)},
            kdq_params={"count_ubound": 20, "bootstrap_samples": 50},
            cps_bounds=(1.0, 60.0),
            payload_tol=0.02,
            quality_rules={"clip_rate_max": 0.05, "silence_ratio_max": 0.9,
                           "min_band_ratio": 0.01},
            emd_cols=("dur_ms",), emd_threshold=150.0,
            cvm_cols=("dur_ms",), cvm_threshold=0.01,
            chisq_alpha=0.001, entropy_min=0.5,
        )
        verdicts, _ = suite.run(spark.read.parquet(path))
        return verdicts.select("partition_key", "check_name", "state").orderBy(
            "partition_key", "check_name"
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def q_audio_suite_qc(spark, sf_dir):
    """The flagship suite with the r05 QC rules armed (dc_offset_max
    0.05, crest_min_db 1.5) over a table with a DC-biased partition
    (part 7: broken-ADC fault — 0.2 constant bias, no clipping, frames
    not silent, invisible to every other check) — and the
    gain-saturated part 5 now fails audio_crest BESIDE audio_clipping
    (hard limiting collapses peak/RMS toward 0 dB). Oracle = the twin
    replay with the same two conds appended."""
    from menelaus_spark.runner import ValidationSuite

    _ensure_workers_can_import(spark)
    ckpt = tempfile.mkdtemp(prefix="menelaus_ckpt_")
    try:
        df = tables.audio_table(spark, n_rows=800, n_parts=8,
                                drift=AUDIO_SUITE_DRIFT_QC)
        path = os.path.join(ckpt, "table")
        tables.write_audio_table(df, path)
        suite = ValidationSuite(
            spark, os.path.join(ckpt, "state"),
            expected_schema=tables.AUDIO_SCHEMA,
            null_rate_max={"transcript": 0.2},
            ranges={"dur_ms": (200, 3000)},
            kdq_params={"count_ubound": 20, "bootstrap_samples": 50},
            cps_bounds=(1.0, 60.0),
            payload_tol=0.02,
            quality_rules={"clip_rate_max": 0.05, "silence_ratio_max": 0.9,
                           "min_band_ratio": 0.01, "dc_offset_max": 0.05,
                           "crest_min_db": 1.5},
        )
        verdicts, _ = suite.run(spark.read.parquet(path))
        return verdicts.select("partition_key", "check_name", "state").orderBy(
            "partition_key", "check_name"
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def q_audio_suite_ulaw(spark, sf_dir):
    """The flagship suite over a codec-MIXED table (real_codecs=True:
    every "opus" draw is an honest G.711 mu-law clip — 1 byte/sample,
    WAV fmt tag 7). Exercises tag-dispatch decode inside the Arrow
    feature pass and the codec-aware payload model (payload_bps); the
    oracle is the same full driver-side twin replay over the mu-law
    table."""
    from menelaus_spark.runner import ValidationSuite

    _ensure_workers_can_import(spark)
    ckpt = tempfile.mkdtemp(prefix="menelaus_ckpt_")
    try:
        df = tables.audio_table(spark, n_rows=800, n_parts=8,
                                drift=AUDIO_SUITE_DRIFT, real_codecs=True)
        path = os.path.join(ckpt, "table")
        tables.write_audio_table(df, path)
        suite = ValidationSuite(
            spark, os.path.join(ckpt, "state"),
            expected_schema=tables.AUDIO_SCHEMA,
            null_rate_max={"transcript": 0.2},
            ranges={"dur_ms": (200, 3000)},
            kdq_params={"count_ubound": 20, "bootstrap_samples": 50},
            cps_bounds=(1.0, 60.0),
            payload_tol=0.02,
            payload_bps={"ulaw": 1.0},
            quality_rules={"clip_rate_max": 0.05, "silence_ratio_max": 0.9,
                           "min_band_ratio": 0.01},
        )
        verdicts, _ = suite.run(spark.read.parquet(path))
        return verdicts.select("partition_key", "check_name", "state").orderBy(
            "partition_key", "check_name"
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def q_audio_suite_codecs(spark, sf_dir):
    """The flagship suite over the THREE-physical-codec table
    (real_codecs="full": mu-law tag 7, A-law tag 6, IMA ADPCM tag 0x11
    — the last a block-compressed container whose LAYOUT differs from
    the canonical header, exercising the chunk-walk parse and the
    block-quantized payload model inside the fused suite). Oracle =
    the same full driver-side twin replay."""
    from menelaus_spark.audio import ADPCM_PAYLOAD_MODEL
    from menelaus_spark.runner import ValidationSuite

    _ensure_workers_can_import(spark)
    ckpt = tempfile.mkdtemp(prefix="menelaus_ckpt_")
    try:
        df = tables.audio_table(spark, n_rows=800, n_parts=8,
                                drift=AUDIO_SUITE_DRIFT, real_codecs="full")
        path = os.path.join(ckpt, "table")
        tables.write_audio_table(df, path)
        suite = ValidationSuite(
            spark, os.path.join(ckpt, "state"),
            expected_schema=tables.AUDIO_SCHEMA,
            null_rate_max={"transcript": 0.2},
            ranges={"dur_ms": (200, 3000)},
            kdq_params={"count_ubound": 20, "bootstrap_samples": 50},
            cps_bounds=(1.0, 60.0),
            payload_tol=0.02,
            payload_bps={"ulaw": 1.0, "alaw": 1.0,
                         "adpcm": ADPCM_PAYLOAD_MODEL},
            quality_rules={"clip_rate_max": 0.05, "silence_ratio_max": 0.9,
                           "min_band_ratio": 0.01},
        )
        verdicts, _ = suite.run(spark.read.parquet(path))
        return verdicts.select("partition_key", "check_name", "state").orderBy(
            "partition_key", "check_name"
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def q_audio_suite_metalies(spark, sf_dir):
    """The flagship suite over a table with a LYING-metadata partition
    (meta_lie_frac=0.3 in part 7 of the three-physical-codec table):
    payloads intact and decodable, but the claimed (sr_hz, dur_ms,
    codec) columns disagree with the container's own header — rate
    doubled + duration halved (byte count unchanged, so payload_size
    stays green), the inverse, and mu-law<->A-law label swaps (equal
    bytes/sample, so again length-invisible). Only the
    metadata_consistency check (header facts riding the decode pass)
    can catch these. Oracle = the same full twin replay with the
    header-fact conditions added."""
    from menelaus_spark.audio import ADPCM_PAYLOAD_MODEL
    from menelaus_spark.runner import ValidationSuite

    _ensure_workers_can_import(spark)
    ckpt = tempfile.mkdtemp(prefix="menelaus_ckpt_")
    try:
        df = tables.audio_table(spark, n_rows=800, n_parts=8,
                                drift=AUDIO_SUITE_DRIFT_METALIES,
                                real_codecs="full")
        path = os.path.join(ckpt, "table")
        tables.write_audio_table(df, path)
        suite = ValidationSuite(
            spark, os.path.join(ckpt, "state"),
            expected_schema=tables.AUDIO_SCHEMA,
            null_rate_max={"transcript": 0.2},
            ranges={"dur_ms": (200, 3000)},
            kdq_params={"count_ubound": 20, "bootstrap_samples": 50},
            cps_bounds=(1.0, 60.0),
            payload_tol=0.02,
            payload_bps={"ulaw": 1.0, "alaw": 1.0,
                         "adpcm": ADPCM_PAYLOAD_MODEL},
            quality_rules={"clip_rate_max": 0.05, "silence_ratio_max": 0.9,
                           "min_band_ratio": 0.01},
            meta_rules=AUDIO_META_RULES,
        )
        verdicts, _ = suite.run(spark.read.parquet(path))
        return verdicts.select("partition_key", "check_name", "state").orderBy(
            "partition_key", "check_name"
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def _audio_neardup_table(spark, modes=("gain", "resample"), real_codecs=False):
    """Shared fixture for the audio near-dup entries: deterministic
    320-clip table, every 8th clip a mechanical copy of its
    predecessor (gain-shifted / downsampled-to-half-rate, or a
    frame-aligned truncation when modes=("trim",)). With
    ``real_codecs`` the copies are additionally G.711 mu-law
    TRANSCODES (codec label and byte format change)."""
    return tables.audio_table(spark, n_rows=320, n_parts=4, drift={},
                              neardup_frac=0.125, null_frac=0.0,
                              neardup_modes=modes, real_codecs=real_codecs)


def _audio_neardup_twin(modes=("gain", "resample"), real_codecs=False):
    """Driver-side numpy twin of _audio_neardup_table (same counter-
    based generator, so bit-exact) decoded with the same importable
    kernels — the data the near-dup oracles inline. Returns the
    generator frame plus per-clip fingerprint shingles and code rows."""
    import numpy as np

    from menelaus_spark.operators.audio_dedup import FP_HEADS, shingle_hex

    pdf = tables._gen_rows(
        np.arange(320), 42, 4, 80, {}, 0.0, 0.0, 6.6, 0.5, (200, 3000),
        True, 0.125, modes, real_codecs,
    )
    out = []
    for r in pdf.itertuples(index=False):
        try:
            sr, pcm = audio.decode_clip(bytes(r.bytes), r.codec)
        except Exception:
            out.append((r.clip_id, r.transcript, [], None, [], 0))
            continue
        cm = audio.fingerprint_codes(pcm, sr)
        packed = audio.pack_shingles(cm[0])
        out.append((r.clip_id, r.transcript, shingle_hex(np.unique(packed)),
                    cm, shingle_hex(packed[:FP_HEADS]),
                    audio.fp_sample_count(pcm.size, sr)))
    return out


def q_audio_neardup(spark, sf_dir):
    """Audio near-duplicate pairs via spectral-fingerprint shingles ->
    MinHash(16) -> LSH(8x2) -> exact Jaccard+containment verify (the
    bit-exact copy classes: re-encodes, gain shifts, aligned trims)."""
    from menelaus_spark.operators.audio_dedup import audio_neardup_pairs

    _ensure_workers_can_import(spark)
    df = _audio_neardup_table(spark)
    return audio_neardup_pairs(df).orderBy("id_a", "id_b")


def q_audio_transcript_neardup(spark, sf_dir):
    """Cross-modal near-dup: transcript-equality blocking + masked-BER
    fingerprint verify — catches the interpolation-resampled copies the
    exact-shingle path cannot."""
    from menelaus_spark.operators.audio_dedup import transcript_blocked_neardup

    _ensure_workers_can_import(spark)
    df = _audio_neardup_table(spark)
    return transcript_blocked_neardup(df).orderBy("id_a", "id_b")


def q_audio_transcode_neardup(spark, sf_dir):
    """Lossy re-encode detection on a codec-MIXED table: every injected
    copy is a G.711 mu-law TRANSCODE (WAV format tag 7, 1 byte/sample —
    the byte format genuinely differs from PCM16) of its gain/resample-
    modified source. The transcript-blocked masked-BER path detects
    them through ~38 dB companding noise; the oracle twin decodes the
    same mu-law payloads in numpy and recomputes the full matching
    arithmetic in DuckDB."""
    from menelaus_spark.operators.audio_dedup import transcript_blocked_neardup

    _ensure_workers_can_import(spark)
    df = _audio_neardup_table(spark, real_codecs=True)
    return transcript_blocked_neardup(df).orderBy("id_a", "id_b")


def q_audio_neardup_trim(spark, sf_dir):
    """Trim detection: frame-aligned truncated copies found via
    time-order HEAD-shingle buckets + the containment criterion (half
    trims of short clips sit below any workable Jaccard threshold)."""
    from menelaus_spark.operators.audio_dedup import audio_neardup_pairs

    _ensure_workers_can_import(spark)
    df = _audio_neardup_table(spark, modes=("trim",))
    return audio_neardup_pairs(df, containment_threshold=0.9).orderBy(
        "id_a", "id_b")


def q_audio_neardup_pad(spark, sf_dir):
    """Silence-pad detection: leading-silence copies (frame-grid
    aligned) — silence frames collapse to O(1) distinct shingles, so
    the source's shingle set is contained in the copy's and the
    shingle path's containment criterion fires."""
    from menelaus_spark.operators.audio_dedup import audio_neardup_pairs

    _ensure_workers_can_import(spark)
    df = _audio_neardup_table(spark, modes=("pad",))
    return audio_neardup_pairs(df, containment_threshold=0.9).orderBy(
        "id_a", "id_b")


def q_audio_neardup_speed(spark, sf_dir):
    """Speed-perturbation detection: copies resampled WITHOUT
    relabeling the rate (f in {0.9, 1.1}) break every frame-grid
    fingerprint, but time and pitch scale by the SAME factor —
    observable as the canonical-rate sample-count ratio — so the
    sub-bin peak tracks verify candidates after rescaling."""
    from menelaus_spark.operators.audio_dedup import speed_blocked_neardup

    _ensure_workers_can_import(spark)
    df = _audio_neardup_table(spark, modes=("speed",))
    return speed_blocked_neardup(df).orderBy("id_a", "id_b")


def q_audio_neardup_noise(spark, sf_dir):
    """Noise-contamination detection: additive-noise copies at
    SNR >= 20 dB — code shingles are scrambled (exact-match Jaccard
    ~0), but the transcript-blocked masked-BER path holds: margin-
    cleared bits stay stable under noise (measured wBER 0 at 20 dB vs
    >= 0.21 for distinct recordings)."""
    from menelaus_spark.operators.audio_dedup import transcript_blocked_neardup

    _ensure_workers_can_import(spark)
    df = _audio_neardup_table(spark, modes=("noise",))
    return transcript_blocked_neardup(df).orderBy("id_a", "id_b")


def q_audio_dedup_resolution(spark, sf_dir):
    """The audio-axis flagship pipeline end-to-end: a mixed-taxonomy
    table (every dup's copy class drawn from gain/resample, trim,
    pad, noise, speed), ALL THREE matching paths off one decode pass,
    pair union, alternating-star connected components, and the
    resolution audit frame (id, cluster_id, cluster_size,
    is_representative)."""
    from menelaus_spark.operators.audio_dedup import audio_dedup_resolution

    _ensure_workers_can_import(spark)
    df = _audio_neardup_table(spark, modes=("mixed",))
    return audio_dedup_resolution(df).orderBy("id")


def q_audio_dedup_resolved(spark, sf_dir):
    """The deduplicated corpus itself: mixed-taxonomy table minus
    every non-representative cluster member (keep-one-per-cluster via
    `resolve_representatives`), singletons preserved — what a training
    pipeline actually writes out after resolution."""
    from menelaus_spark.operators.audio_dedup import (
        audio_fingerprints,
        audio_neardup_pairs,
        speed_blocked_neardup,
        transcript_blocked_neardup,
    )
    from menelaus_spark.operators.clusters import (
        connected_components,
        resolve_representatives,
    )

    _ensure_workers_can_import(spark)
    df = _audio_neardup_table(spark, modes=("mixed",))
    fp = audio_fingerprints(df).persist()
    pairs = (
        audio_neardup_pairs(df, fp=fp, containment_threshold=0.9)
        .select("id_a", "id_b")
        .union(transcript_blocked_neardup(df, fp=fp).select("id_a", "id_b"))
        .union(speed_blocked_neardup(df, fp=fp).select("id_a", "id_b"))
    )
    cc = connected_components(pairs)
    out = resolve_representatives(df, cc, "clip_id").select("clip_id").orderBy(
        "clip_id"
    )
    fp.unpersist()
    return out


def _audio_dedup_resolved_oracle() -> str | None:
    """Same SQL program as the resolution oracle, final projection
    swapped: every clip id except the non-representative members."""
    sql = _audio_dedup_resolution_oracle()
    if sql is None:
        return None
    head, _, _tail = sql.rpartition("SELECT cl.id, cl.cluster_id, sz.cluster_size,")
    assert head
    return head + """SELECT m.clip_id FROM meta m
        WHERE m.clip_id NOT IN (SELECT id FROM cl WHERE id <> cluster_id)
        ORDER BY m.clip_id
    """


def q_streaming_neardup(spark, sf_dir):
    """Streaming dedup-at-ingest under the driver harness: the
    320-clip near-dup fixture arrives as TWO micro-batches through a
    file-source stream (even-suffixed clip_ids first, so every
    injected pair crosses a micro-batch boundary and pairing goes
    through persisted GroupState); `stateful_neardup_stream` verifies
    arrivals against LSH-bucket state. The oracle is the BATCH
    pipeline's SQL — the stream uses a bit-equal minhash/banding
    family and the identical exact-Jaccard verify, so the distinct
    pair set must hash-match it."""
    import shutil
    import tempfile
    import uuid

    from menelaus_spark.streaming.dedup import stateful_neardup_stream

    _ensure_workers_can_import(spark)
    df = _audio_neardup_table(spark)
    work = tempfile.mkdtemp(prefix="menelaus_ndstream_")
    src = os.path.join(work, "src")
    try:
        evens = df.filter(F.col("clip_id").substr(-1, 1).isin(*"02468"))
        odds = df.filter(~F.col("clip_id").substr(-1, 1).isin(*"02468"))
        evens.coalesce(1).write.mode("append").parquet(src)
        odds.coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1).parquet(src)
        )
        qname = f"ndpairs_{uuid.uuid4().hex[:8]}"
        q = (
            stateful_neardup_stream(stream)
            .writeStream.format("memory").queryName(qname)
            .outputMode("update")
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        rows = spark.sql(
            f"SELECT DISTINCT id_a, id_b, jaccard FROM {qname}"
        ).collect()
        return local_frame(
            spark, rows, "id_a string, id_b string, jaccard double"
        ).orderBy("id_a", "id_b")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _streaming_neardup_oracle() -> str | None:
    """The streaming entry must reproduce the batch pipeline's pair
    set exactly (bit-equal hash family + identical verify), so its
    oracle IS the batch oracle minus the containment column the
    stream does not emit."""
    sql = _audio_neardup_oracle()
    if sql is None:
        return None
    return sql.replace(
        "SELECT id_a, id_b, jaccard, containment",
        "SELECT id_a, id_b, jaccard",
    )


def _audio_neardup_oracle() -> str | None:
    """Oracle for q_audio_neardup: shingle SETS come from the numpy
    twin (the decode step has no SQL analog — same precedent as the
    audio_suite twin), but the ENTIRE matching pipeline — md5-lane
    minhash, 8x2 banding, bucket join, Jaccard + containment verify —
    is recomputed independently in DuckDB SQL."""
    try:
        twin = _audio_neardup_twin()
    except Exception:
        return None
    rows = [
        f"('{cid}', '{s}')"
        for cid, _tr, sh, _cm, _hd, _nf in twin
        for s in sh
    ]
    k = 16
    mins = ", ".join(
        f"min(('0x' || substring(md5(concat('{i // 2}|', shingle)), "
        f"{1 if i % 2 == 0 else 17}, 15))::BIGINT) as h{i}"
        for i in range(k)
    )
    band_arms = "\n              UNION ALL\n".join(
        f"              SELECT clip_id, {b} AS band, "
        f"md5(h{2 * b} || ',' || h{2 * b + 1}) AS bhash FROM sig"
        for b in range(8)
    )
    return f"""
        WITH shrows(clip_id, shingle) AS (VALUES {", ".join(rows)}),
        shingles AS (
          SELECT clip_id, list(DISTINCT shingle) AS sh
          FROM shrows GROUP BY clip_id),
        sig AS (
          SELECT clip_id, {mins} FROM shrows GROUP BY clip_id),
        banded AS (
{band_arms}),
        cands AS (
          SELECT DISTINCT a.clip_id AS id_a, b.clip_id AS id_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bhash = b.bhash AND a.clip_id < b.clip_id),
        scored AS (
          SELECT c.id_a, c.id_b,
                 round(len(list_intersect(sa.sh, sb.sh))::DOUBLE
                       / len(list_distinct(sa.sh || sb.sh)), 6) AS jaccard,
                 round(len(list_intersect(sa.sh, sb.sh))::DOUBLE
                       / greatest(least(len(sa.sh), len(sb.sh)), 1), 6) AS containment
          FROM cands c
          JOIN shingles sa ON sa.clip_id = c.id_a
          JOIN shingles sb ON sb.clip_id = c.id_b)
        SELECT id_a, id_b, jaccard, containment
        FROM scored WHERE jaccard >= 0.35
        ORDER BY id_a, id_b
    """


def _audio_neardup_containment_oracle(modes: tuple) -> str | None:
    """Oracle for the containment-path entries (trim / pad): same
    twin-shingle precedent; candidate generation (md5-lane minhash
    banding UNION capped head-shingle buckets) and the
    jaccard-OR-containment verify are recomputed independently in
    DuckDB."""
    try:
        twin = _audio_neardup_twin(modes=modes)
    except Exception:
        return None
    sh_rows = [
        f"('{cid}', '{v}')" for cid, _tr, sh, _cm, _hd, _nf in twin for v in sh
    ]
    hd_rows = [
        f"('{cid}', '{v}')" for cid, _tr, _sh, _cm, hd, _nf in twin for v in hd
    ]
    k = 16
    mins = ", ".join(
        f"min(('0x' || substring(md5(concat('{i // 2}|', shingle)), "
        f"{1 if i % 2 == 0 else 17}, 15))::BIGINT) as h{i}"
        for i in range(k)
    )
    band_arms = "\n              UNION ALL\n".join(
        f"              SELECT clip_id, {b} AS band, "
        f"md5(h{2 * b} || ',' || h{2 * b + 1}) AS bhash FROM sig"
        for b in range(8)
    )
    return f"""
        WITH shrows(clip_id, shingle) AS (VALUES {", ".join(sh_rows)}),
        hdrows(clip_id, head) AS (VALUES {", ".join(hd_rows)}),
        shingles AS (
          SELECT clip_id, list(DISTINCT shingle) AS sh
          FROM shrows GROUP BY clip_id),
        sig AS (
          SELECT clip_id, {mins} FROM shrows GROUP BY clip_id),
        banded AS (
{band_arms}),
        okheads AS (
          SELECT head FROM hdrows GROUP BY head HAVING count(*) <= 200),
        hd AS (SELECT DISTINCT h.clip_id, h.head
               FROM hdrows h JOIN okheads USING (head)),
        cands AS (
          SELECT DISTINCT a.clip_id AS id_a, b.clip_id AS id_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bhash = b.bhash AND a.clip_id < b.clip_id
          UNION
          SELECT DISTINCT a.clip_id, b.clip_id
          FROM hd a JOIN hd b
            ON a.head = b.head AND a.clip_id < b.clip_id),
        scored AS (
          SELECT c.id_a, c.id_b,
                 round(len(list_intersect(sa.sh, sb.sh))::DOUBLE
                       / len(list_distinct(sa.sh || sb.sh)), 6) AS jaccard,
                 round(len(list_intersect(sa.sh, sb.sh))::DOUBLE
                       / greatest(least(len(sa.sh), len(sb.sh)), 1), 6) AS containment
          FROM cands c
          JOIN shingles sa ON sa.clip_id = c.id_a
          JOIN shingles sb ON sb.clip_id = c.id_b)
        SELECT id_a, id_b, jaccard, containment
        FROM scored WHERE jaccard >= 0.35 OR containment >= 0.9
        ORDER BY id_a, id_b
    """


def _audio_neardup_trim_oracle() -> str | None:
    return _audio_neardup_containment_oracle(("trim",))


def _audio_neardup_pad_oracle() -> str | None:
    return _audio_neardup_containment_oracle(("pad",))


def _audio_neardup_noise_oracle() -> str | None:
    return _audio_transcript_neardup_oracle(("noise",))


def _audio_transcript_neardup_oracle(
        modes: tuple = ("gain", "resample"),
        real_codecs: bool = False) -> str | None:
    """Oracle for q_audio_transcript_neardup (and, via ``modes``, the
    noise entry): fingerprint code/mask/peak rows come from the numpy
    twin; the blocking (md5-normalized transcript, block size in
    [2, 50]), the equal-frame-count guard, and the masked-BER /
    raw-BER / peak-agreement arithmetic are all recomputed
    independently in DuckDB (bit_count + xor on the raw words)."""
    try:
        twin = _audio_neardup_twin(modes=modes, real_codecs=real_codecs)
    except Exception:
        return None
    code_rows, meta_rows = [], []
    for cid, tr, _sh, cm, _hd, _nf in twin:
        tr_lit = "NULL" if tr is None else "'" + tr.replace("'", "''") + "'"
        n = 0 if cm is None else int(cm[0].size)
        meta_rows.append(f"('{cid}', {tr_lit}, {n})")
        if cm is None:
            continue
        codes, masks, peaks = cm
        for i in range(n):
            code_rows.append(
                f"('{cid}', {i}, {int(codes[i])}, {int(masks[i])}, "
                f"{float(peaks[i])!r})"
            )
    return f"""
        WITH meta(clip_id, transcript, nframes) AS (VALUES {", ".join(meta_rows)}),
        fp(clip_id, seq, code, mask, peak) AS (VALUES {", ".join(code_rows)}),
        blocks AS (
          SELECT clip_id, nframes,
                 md5(regexp_replace(trim(lower(coalesce(transcript, ''))),
                                    '\\s+', ' ', 'g')) AS blk
          FROM meta WHERE transcript IS NOT NULL
            AND len(regexp_replace(trim(lower(coalesce(transcript, ''))),
                                   '\\s+', ' ', 'g')) > 0),
        sized AS (
          SELECT b.* FROM blocks b
          JOIN (SELECT blk FROM blocks GROUP BY blk
                HAVING count(*) BETWEEN 2 AND 50) ok USING (blk)),
        pairs AS (
          SELECT a.clip_id AS id_a, b.clip_id AS id_b, a.nframes AS n
          FROM sized a JOIN sized b
            ON a.blk = b.blk AND a.clip_id < b.clip_id
               AND a.nframes = b.nframes AND a.nframes > 0),
        scored AS (
          SELECT p.id_a, p.id_b, p.n,
                 sum(bit_count(fa.mask & fb.mask)) AS den,
                 sum(bit_count(xor(fa.code, fb.code) & fa.mask & fb.mask)) AS num,
                 sum(bit_count(xor(fa.code, fb.code))) AS raw,
                 sum(CASE WHEN abs(fa.peak - fb.peak) <= 1 THEN 1 ELSE 0 END) AS pag
          FROM pairs p
          JOIN fp fa ON fa.clip_id = p.id_a
          JOIN fp fb ON fb.clip_id = p.id_b AND fb.seq = fa.seq
          GROUP BY p.id_a, p.id_b, p.n)
        SELECT id_a, id_b,
               round(num::DOUBLE / den, 6) AS wber,
               round(raw::DOUBLE / (32 * n), 6) AS raw_ber,
               round(pag::DOUBLE / n, 6) AS peak_agree,
               n AS n_overlap
        FROM scored
        WHERE den >= 16
          AND round(num::DOUBLE / den, 6) <= 0.10
          AND round(raw::DOUBLE / (32 * n), 6) <= 0.35
          AND round(pag::DOUBLE / n, 6) >= 0.9
        ORDER BY id_a, id_b
    """


def _audio_neardup_speed_oracle() -> str | None:
    """Oracle for q_audio_neardup_speed: per-clip sub-bin peak tracks
    and canonical-rate sample counts come from the numpy twin (decode
    has no SQL analog); the blocking, the sample-count-ratio gate
    (f in [0.77, 1.30] outside the [0.96, 1.04] dead zone), the
    floor(f*j+0.5) frame re-indexing, and the |f*peak_a - peak_b| <=
    0.35 agreement fraction are all recomputed independently in
    DuckDB."""
    try:
        twin = _audio_neardup_twin(modes=("speed",))
    except Exception:
        return None
    peak_rows, meta_rows = [], []
    for cid, tr, _sh, cm, _hd, nf in twin:
        tr_lit = "NULL" if tr is None else "'" + tr.replace("'", "''") + "'"
        n = 0 if cm is None else int(cm[0].size)
        meta_rows.append(f"('{cid}', {tr_lit}, {n}, {int(nf)})")
        if cm is None:
            continue
        peaks = cm[2]
        for i in range(n):
            peak_rows.append(f"('{cid}', {i}, {float(peaks[i])!r})")
    return f"""
        WITH meta(clip_id, transcript, nframes, nfp) AS
          (VALUES {", ".join(meta_rows)}),
        fp(clip_id, seq, peak) AS (VALUES {", ".join(peak_rows)}),
        blocks AS (
          SELECT clip_id, nframes, nfp,
                 md5(regexp_replace(trim(lower(coalesce(transcript, ''))),
                                    '\\s+', ' ', 'g')) AS blk
          FROM meta WHERE transcript IS NOT NULL
            AND len(regexp_replace(trim(lower(coalesce(transcript, ''))),
                                   '\\s+', ' ', 'g')) > 0),
        sized AS (
          SELECT b.* FROM blocks b
          JOIN (SELECT blk FROM blocks GROUP BY blk
                HAVING count(*) BETWEEN 2 AND 50) ok USING (blk)),
        pairs AS (
          SELECT a.clip_id AS id_a, b.clip_id AS id_b,
                 a.nframes AS na, b.nframes AS nb,
                 a.nfp::DOUBLE / b.nfp AS f
          FROM sized a JOIN sized b
            ON a.blk = b.blk AND a.clip_id < b.clip_id
          WHERE a.nframes >= 8 AND b.nframes >= 8 AND b.nfp > 0),
        gated AS (
          SELECT * FROM pairs
          WHERE f >= 0.77 AND f <= 1.30 AND (f <= 0.96 OR f >= 1.04)),
        scored AS (
          SELECT g.id_a, g.id_b, g.f, g.na, g.nb,
                 sum(CASE WHEN abs(g.f * fa.peak - fb.peak) <= 0.35
                     THEN 1 ELSE 0 END) AS agree
          FROM gated g
          JOIN fp fb ON fb.clip_id = g.id_b
          JOIN fp fa ON fa.clip_id = g.id_a
            AND fa.seq = CAST(least(greatest(floor(g.f * fb.seq + 0.5), 0),
                                    g.na - 1) AS INTEGER)
          GROUP BY g.id_a, g.id_b, g.f, g.na, g.nb)
        SELECT id_a, id_b,
               round(f, 6) AS speed_ratio,
               round(agree::DOUBLE / nb, 6) AS peak_agree,
               na AS n_frames_a, nb AS n_frames_b
        FROM scored
        WHERE round(agree::DOUBLE / nb, 6) >= 0.8
        ORDER BY id_a, id_b
    """


def _audio_dedup_resolution_oracle() -> str | None:
    """Oracle for q_audio_dedup_resolution: ONE set of twin-decoded
    CTEs (shingles, heads, code/mask/peak rows, sample counts) feeds
    independent SQL recomputations of ALL THREE matching paths, and
    the connected-components resolution is a recursive-CTE transitive
    closure over their unioned pairs — the Spark side iterates
    large-star/small-star; the oracle walks reachability. Same fixed
    point, disjoint machinery."""
    try:
        twin = _audio_neardup_twin(modes=("mixed",))
    except Exception:
        return None
    sh_rows, hd_rows, meta_rows, code_rows = [], [], [], []
    for cid, tr, sh, cm, hd, nf in twin:
        tr_lit = "NULL" if tr is None else "'" + tr.replace("'", "''") + "'"
        n = 0 if cm is None else int(cm[0].size)
        meta_rows.append(f"('{cid}', {tr_lit}, {n}, {int(nf)})")
        sh_rows.extend(f"('{cid}', '{v}')" for v in sh)
        hd_rows.extend(f"('{cid}', '{v}')" for v in hd)
        if cm is None:
            continue
        codes, masks, peaks = cm
        code_rows.extend(
            f"('{cid}', {i}, {int(codes[i])}, {int(masks[i])}, "
            f"{float(peaks[i])!r})"
            for i in range(n)
        )
    k = 16
    mins = ", ".join(
        f"min(('0x' || substring(md5(concat('{i // 2}|', shingle)), "
        f"{1 if i % 2 == 0 else 17}, 15))::BIGINT) as h{i}"
        for i in range(k)
    )
    band_arms = "\n              UNION ALL\n".join(
        f"              SELECT clip_id, {b} AS band, "
        f"md5(h{2 * b} || ',' || h{2 * b + 1}) AS bhash FROM sig"
        for b in range(8)
    )
    return f"""
        WITH RECURSIVE
        shrows(clip_id, shingle) AS (VALUES {", ".join(sh_rows)}),
        hdrows(clip_id, head) AS (VALUES {", ".join(hd_rows)}),
        meta(clip_id, transcript, nframes, nfp) AS
          (VALUES {", ".join(meta_rows)}),
        fp(clip_id, seq, code, mask, peak) AS (VALUES {", ".join(code_rows)}),
        -- path 1: fingerprint-shingle MinHash/LSH + head buckets,
        -- jaccard-OR-containment verify
        shingles AS (
          SELECT clip_id, list(DISTINCT shingle) AS sh
          FROM shrows GROUP BY clip_id),
        sig AS (
          SELECT clip_id, {mins} FROM shrows GROUP BY clip_id),
        banded AS (
{band_arms}),
        okheads AS (
          SELECT head FROM hdrows GROUP BY head HAVING count(*) <= 200),
        hdok AS (SELECT DISTINCT h.clip_id, h.head
                 FROM hdrows h JOIN okheads USING (head)),
        cands AS (
          SELECT DISTINCT a.clip_id AS id_a, b.clip_id AS id_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bhash = b.bhash AND a.clip_id < b.clip_id
          UNION
          SELECT DISTINCT a.clip_id, b.clip_id
          FROM hdok a JOIN hdok b
            ON a.head = b.head AND a.clip_id < b.clip_id),
        p_shingle AS (
          SELECT c.id_a, c.id_b
          FROM cands c
          JOIN shingles sa ON sa.clip_id = c.id_a
          JOIN shingles sb ON sb.clip_id = c.id_b
          WHERE round(len(list_intersect(sa.sh, sb.sh))::DOUBLE
                      / len(list_distinct(sa.sh || sb.sh)), 6) >= 0.35
             OR round(len(list_intersect(sa.sh, sb.sh))::DOUBLE
                      / greatest(least(len(sa.sh), len(sb.sh)), 1), 6) >= 0.9),
        -- shared transcript-equality blocking (paths 2 and 3)
        blocks AS (
          SELECT clip_id, nframes, nfp,
                 md5(regexp_replace(trim(lower(coalesce(transcript, ''))),
                                    '\\s+', ' ', 'g')) AS blk
          FROM meta WHERE transcript IS NOT NULL
            AND len(regexp_replace(trim(lower(coalesce(transcript, ''))),
                                   '\\s+', ' ', 'g')) > 0),
        sized AS (
          SELECT b.* FROM blocks b
          JOIN (SELECT blk FROM blocks GROUP BY blk
                HAVING count(*) BETWEEN 2 AND 50) ok USING (blk)),
        -- path 2: masked-BER + raw-BER + integer-peak agreement on
        -- equal-frame-count pairs
        tscored AS (
          SELECT p.id_a, p.id_b, p.n,
                 sum(bit_count(fa.mask & fb.mask)) AS den,
                 sum(bit_count(xor(fa.code, fb.code) & fa.mask & fb.mask)) AS num,
                 sum(bit_count(xor(fa.code, fb.code))) AS raw,
                 sum(CASE WHEN abs(fa.peak - fb.peak) <= 1 THEN 1 ELSE 0 END) AS pag
          FROM (SELECT a.clip_id AS id_a, b.clip_id AS id_b, a.nframes AS n
                FROM sized a JOIN sized b
                  ON a.blk = b.blk AND a.clip_id < b.clip_id
                     AND a.nframes = b.nframes AND a.nframes > 0) p
          JOIN fp fa ON fa.clip_id = p.id_a
          JOIN fp fb ON fb.clip_id = p.id_b AND fb.seq = fa.seq
          GROUP BY p.id_a, p.id_b, p.n),
        p_ber AS (
          SELECT id_a, id_b FROM tscored
          WHERE den >= 16
            AND round(num::DOUBLE / den, 6) <= 0.10
            AND round(raw::DOUBLE / (32 * n), 6) <= 0.35
            AND round(pag::DOUBLE / n, 6) >= 0.9),
        -- path 3: speed-ratio gate + rescaled sub-bin peak agreement
        sgated AS (
          SELECT * FROM (
            SELECT a.clip_id AS id_a, b.clip_id AS id_b,
                   a.nframes AS na, b.nframes AS nb,
                   a.nfp::DOUBLE / b.nfp AS f
            FROM sized a JOIN sized b
              ON a.blk = b.blk AND a.clip_id < b.clip_id
            WHERE a.nframes >= 8 AND b.nframes >= 8 AND b.nfp > 0)
          WHERE f >= 0.77 AND f <= 1.30 AND (f <= 0.96 OR f >= 1.04)),
        sscored AS (
          SELECT g.id_a, g.id_b, g.nb,
                 sum(CASE WHEN abs(g.f * fa.peak - fb.peak) <= 0.35
                     THEN 1 ELSE 0 END) AS agree
          FROM sgated g
          JOIN fp fb ON fb.clip_id = g.id_b
          JOIN fp fa ON fa.clip_id = g.id_a
            AND fa.seq = CAST(least(greatest(floor(g.f * fb.seq + 0.5), 0),
                                    g.na - 1) AS INTEGER)
          GROUP BY g.id_a, g.id_b, g.nb),
        p_speed AS (
          SELECT id_a, id_b FROM sscored
          WHERE round(agree::DOUBLE / nb, 6) >= 0.8),
        -- resolution: recursive transitive closure, component min
        allp AS (SELECT id_a, id_b FROM p_shingle
                 UNION SELECT id_a, id_b FROM p_ber
                 UNION SELECT id_a, id_b FROM p_speed),
        edges AS (SELECT id_a AS u, id_b AS v FROM allp WHERE id_a <> id_b
                  UNION SELECT id_b, id_a FROM allp WHERE id_a <> id_b),
        nodes AS (SELECT DISTINCT u FROM edges),
        walk AS (
          SELECT u, u AS x FROM nodes
          UNION
          SELECT w.u, e.v FROM walk w JOIN edges e ON e.u = w.x),
        cl AS (SELECT u AS id, min(x) AS cluster_id FROM walk GROUP BY u),
        sz AS (SELECT cluster_id, count(*) AS cluster_size
               FROM cl GROUP BY cluster_id)
        SELECT cl.id, cl.cluster_id, sz.cluster_size,
               (cl.id = cl.cluster_id) AS is_representative
        FROM cl JOIN sz USING (cluster_id)
        ORDER BY cl.id
    """


# --------------------------------------------------------------------------
# sketches / sampling / sessionization (r05 additions)

def _hll_quarter_rollup(ev: DataFrame, p: int) -> DataFrame:
    """(reg, q, rho, gid) user_id registers of ``events``: the global
    register table at gid 1 and one per event_id % 4 quarter at gid 0,
    each computed from the raw rows in one scan and one exchange (gid
    3 is rollup's grand total row)."""
    from menelaus_spark.operators import sketches as SK

    return (
        ev.filter(F.col("user_id").isNotNull())
        .select(F.pmod("event_id", F.lit(4)).alias("q"),
                *SK.hll_register_cols("user_id", p=p))
        .rollup("reg", "q")
        .agg(F.max("rho").alias("rho"), F.grouping_id().alias("gid"))
    )


def q_hll_distinct_events(spark, sf_dir):
    """HyperLogLog approx-distinct of events.user_id (p=8) — the
    10^12-row uniqueness SCREEN (operators/sketches.py).  Emits the
    exact integer sketch state (v_zero, s_int), the estimate, the exact
    distinct for reference, and merge_mismatches = register-level diff
    between the global sketch and the max-merge of four per-quarter
    sketches (always 0 — max is associative; the mergeability proof
    rides the entry).

    One scan and one exchange build both sketches
    (``_hll_quarter_rollup``).  Its <= 5 * 2^p + 1 rows are collected;
    the estimate (``hll_estimate_registers``, the exact-integer driver
    twin of ``hll_estimate_df``) and the merge check run driver-side."""
    from menelaus_spark.operators import sketches as SK

    p = 8
    ev = _t(spark, sf_dir, "events")
    regs = _hll_quarter_rollup(ev, p).collect()
    glob = {r["reg"]: r["rho"] for r in regs if r["gid"] == 1}
    merged: dict = {}
    for r in regs:
        if r["gid"] == 0:
            merged[r["reg"]] = max(merged.get(r["reg"], 0), r["rho"])
    mism = sum(glob.get(k) != merged.get(k) for k in glob.keys() | merged.keys())
    est, v_zero, s_int = SK.hll_estimate_registers(glob.values(), p=p)
    exact = ev.agg(F.countDistinct("user_id")).collect()[0][0]
    # round in Spark: F.round's HALF_UP decimal rounding, as hll_estimate_df
    return local_frame(
        spark, [(1 << p, v_zero, s_int, est, exact, mism)],
        "m int, v_zero long, s_int long, est double, exact_distinct long, "
        "merge_mismatches long",
    ).select("m", "v_zero", "s_int", F.round("est", 4).alias("est_distinct"),
             "exact_distinct", "merge_mismatches")


def q_cms_freq_events(spark, sf_dir):
    """Count-min frequency estimates (d=4, w=64) for the five smallest
    user_ids vs their true counts — the bounded-state frequency screen
    (grid <= d*w rows, merges by sum).  est_count >= true_count by
    construction."""
    from menelaus_spark.operators import sketches as SK

    ev = _t(spark, sf_dir, "events")
    grid = SK.cms_counters(ev, "user_id", d=4, w=64)
    probes = ev.select("user_id").distinct().orderBy("user_id").limit(5)
    est = SK.cms_lookup(grid, probes, "user_id", d=4, w=64)
    truth = ev.join(F.broadcast(probes), "user_id").groupBy("user_id").agg(
        F.count(F.lit(1)).alias("true_count"))
    return est.join(truth, "user_id").select(
        "user_id", "est_count", "true_count").orderBy("user_id")


def q_stratified_sample_events(spark, sf_dir):
    """Deterministic stratified sample: 5 rows per event_type, ranked
    by md5 of the event id (operators/sampling.py) — compiles to
    WindowGroupLimit (partial top-k before the stratum shuffle)."""
    from menelaus_spark.operators import sampling as SA

    ev = _t(spark, sf_dir, "events")
    return (
        SA.stratified_sample(ev, "event_type", "event_id", 5)
        .select("event_type", "event_id", "rk")
        .orderBy("event_type", "rk")
    )


def q_mix_sample_documents(spark, sf_dir):
    """Weighted corpus mix: 40 documents apportioned 50/25/15/10 over
    en/es/de/fr by largest remainder, each language's quota drawn by
    hash rank (the LLM data-mixing step)."""
    from menelaus_spark.operators import sampling as SA

    docs = _t(spark, sf_dir, "documents")
    return (
        SA.mix_sample(docs, "lang", "doc_id",
                      {"en": 0.5, "es": 0.25, "de": 0.15, "fr": 0.1}, 40)
        .select("lang", "doc_id", "rk")
        .orderBy("lang", "rk")
    )


def q_sessions_events(spark, sf_dir):
    """Gap-based sessionization (30-min gap) of the events stream +
    per-session stats — one keyed sort, two fused window passes
    (operators/relational.py sessionize)."""
    from menelaus_spark.operators.relational import session_stats, sessionize

    ev = _t(spark, sf_dir, "events")
    sess = sessionize(ev, "user_id", "ts", gap_ms=1_800_000, order_cols=["event_id"])
    return session_stats(sess, "user_id", "ts").orderBy("user_id", "session_seq")


def q_token_psi_documents(spark, sf_dir):
    """Vocabulary drift: PSI over the full unigram token distribution
    between even and odd doc_id halves — the text twin of the codec
    PSI check (explode -> token-frequency join -> one eps-floored
    log-ratio aggregate; vocabulary-sized shuffle, never row-sized)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.pmod("doc_id", F.lit(2)).alias("half"),
        F.explode(T.tokens_col(F.col("text"))).alias("tok"),
    )
    freqs = toks.groupBy("tok").agg(
        F.sum((F.col("half") == 0).cast("long")).alias("c0"),
        F.sum((F.col("half") == 1).cast("long")).alias("c1"),
    )
    tot = freqs.agg(F.sum("c0").alias("t0"), F.sum("c1").alias("t1"))
    eps = 1e-4
    contrib = freqs.crossJoin(F.broadcast(tot)).select(
        F.col("tok"),
        F.greatest(F.col("c0") / F.col("t0"), F.lit(eps)).alias("p"),
        F.greatest(F.col("c1") / F.col("t1"), F.lit(eps)).alias("q"),
    ).select(
        "tok",
        F.round((F.col("q") - F.col("p")) * F.log(F.col("q") / F.col("p")), 9).alias("contrib"),
    )
    # localization rides the same vocabulary frame: the argmax token,
    # deterministic tie-break on the token string (struct max), mirrors
    # the suite's PSI drift localization (runner top-category details)
    return contrib.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.round(F.sum("contrib"), 6).alias("token_psi"),
        F.max(F.struct(F.col("contrib"), F.col("tok"))).alias("__top"),
    ).select(
        "vocab_size", "token_psi",
        F.col("__top.tok").alias("top_token"),
        F.round(F.col("__top.contrib"), 6).alias("top_contrib"),
    )


def q_mix_budget_documents(spark, sf_dir):
    """Budget-based corpus mix: draw documents per language in hash-rank
    order until each language's n_chars budget fills (en 3000 / de 1200)
    — the token-budget mixing contract (operators/sampling.py
    budget_mix_sample; overshoot bounded by one document)."""
    from menelaus_spark.operators import sampling as SA

    docs = _t(spark, sf_dir, "documents")
    return (
        SA.budget_mix_sample(docs, "lang", "doc_id", "n_chars",
                             {"en": 3000, "de": 1200})
        .select("lang", "doc_id", "rk", "cum_size")
        .orderBy("lang", "rk")
    )


def q_hll_distinct_by_events(spark, sf_dir):
    """Per-group HLL distinct: estimated vs exact distinct users per
    event_type (p=10) — the per-Iceberg-partition distinct profile
    whose shuffle is n_groups * 2^p register rows, never the keys
    (sketches.hll_registers_by + hll_estimate_by_df)."""
    from menelaus_spark.operators import sketches as SK

    ev = _t(spark, sf_dir, "events")
    reg = SK.hll_registers_by(ev, "event_type", "user_id", p=10)
    est = SK.hll_estimate_by_df(reg, "event_type", p=10)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct"))
    return est.join(exact, "event_type").select(
        "event_type", "v_zero", "s_int", "est_distinct", "exact_distinct"
    ).orderBy("event_type")


def q_image_features_table(spark, sf_dir):
    """Multimodal image pass: synthetic 24-bit BMP table (64 images,
    two corrupt payloads with lying metadata) decoded +
    feature-extracted in one Arrow pass (operators/media.py) — the
    image twin of the audio decode pipeline. Oracle: driver-side twin
    regenerates the identical pixels from the shared function and
    inlines the expected rows."""
    from menelaus_spark.operators import media

    _ensure_workers_can_import(spark)
    df = media.image_table(spark, n_rows=64, n_parts=4, corrupt_ids=(7, 13))
    return media.image_features(df).orderBy("image_id")


def q_video_frame_stats_table(spark, sf_dir):
    """Multimodal video pass: synthetic y4m table (24 videos x 8
    frames, one truncated payload), frame-SAMPLED luma stats (stride
    3; skipped frames never materialized — direct offset seeks)."""
    from menelaus_spark.operators import media

    _ensure_workers_can_import(spark)
    df = media.video_table(spark, n_rows=24, n_parts=4, corrupt_ids=(3,))
    return media.video_frame_stats(df, stride=3).orderBy("video_id", "frame_idx")


def _media_values_oracle() -> dict[str, str]:
    """Driver-side twins: regenerate the image/video payloads from the
    SAME pixel functions the Spark generator uses, recompute the
    features in numpy, and inline them as typed VALUES."""
    from menelaus_spark.operators import media

    def d(v):
        return "CAST(NULL AS DOUBLE)" if v is None else f"CAST({v!r} AS DOUBLE)"

    img_rows = []
    for iid in range(64):
        if iid in (7, 13):
            img_rows.append(
                f"({iid}, false, CAST(NULL AS INTEGER), CAST(NULL AS INTEGER), "
                f"{d(None)}, {d(None)}, {d(None)}, {d(None)}, {d(None)})")
        else:
            r = media.image_feature_row(media.image_pixels(iid))
            img_rows.append(
                f"({iid}, true, {r['height']}, {r['width']}, {d(r['mean_r'])}, "
                f"{d(r['mean_g'])}, {d(r['mean_b'])}, {d(r['luma_mean'])}, "
                f"{d(r['luma_std'])})")
    image_sql = (
        "SELECT * FROM (VALUES " + ", ".join(img_rows) + ") AS t(image_id, ok, "
        "height, width, mean_r, mean_g, mean_b, luma_mean, luma_std) "
        "ORDER BY image_id"
    )

    vid_rows = []
    for vid in range(24):
        if vid == 3:
            vid_rows.append(f"({vid}, -1, false, {d(None)}, {d(None)})")
            continue
        frames = media.video_frames_y(vid, 8)
        for idx in range(0, 8, 3):
            r = media.frame_stat_row(frames[idx])
            vid_rows.append(
                f"({vid}, {idx}, true, {d(r['y_mean'])}, {d(r['y_std'])})")
    video_sql = (
        "SELECT * FROM (VALUES " + ", ".join(vid_rows) + ") AS t(video_id, "
        "frame_idx, ok, y_mean, y_std) ORDER BY video_id, frame_idx"
    )
    return {"image_features_table": image_sql,
            "video_frame_stats_table": video_sql}


def q_video_neardup(spark, sf_dir):
    """Video near-duplicate pairs: brightness-invariant 64-bit frame
    codes -> 2-frame shingles -> the repo's shared MinHash/LSH kernel
    (same plan as text and audio near-dup) -> exact Jaccard verify.
    Fixture: 20 sources + 5 brightness copies + 5 head-trim copies
    (operators/media.py)."""
    from menelaus_spark.operators import media

    _ensure_workers_can_import(spark)
    df = media.video_neardup_table(spark, n_videos=20)
    return media.video_neardup_pairs(df).orderBy("id_a", "id_b")


def _video_neardup_oracle() -> str:
    """Shingle sets from the shared pixel/code twin (the decode has no
    SQL analog — the audio_neardup precedent); the matching pipeline —
    md5-lane minhash, 8x2 banding, bucket join, Jaccard verify — is
    recomputed independently in DuckDB."""
    from menelaus_spark.operators import media

    rows = []
    for vid in range(30):
        frames = media.video_neardup_frames(vid, 20)
        for sh in media.video_shingle_set(frames):
            rows.append(f"('v{vid:04d}', '{sh}')")
    k = 16
    mins = ", ".join(
        f"min(('0x' || substring(md5(concat('{i // 2}|', shingle)), "
        f"{1 if i % 2 == 0 else 17}, 15))::BIGINT) as h{i}"
        for i in range(k)
    )
    band_arms = "\n              UNION ALL\n".join(
        f"              SELECT video_id, {b} AS band, "
        f"md5(h{2 * b} || ',' || h{2 * b + 1}) AS bhash FROM sig"
        for b in range(8)
    )
    return f"""
        WITH shrows(video_id, shingle) AS (VALUES {", ".join(rows)}),
        shingles AS (
          SELECT video_id, list(DISTINCT shingle) AS sh
          FROM shrows GROUP BY video_id),
        sig AS (
          SELECT video_id, {mins} FROM shrows GROUP BY video_id),
        banded AS (
{band_arms}),
        cands AS (
          SELECT DISTINCT a.video_id AS id_a, b.video_id AS id_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bhash = b.bhash AND a.video_id < b.video_id),
        scored AS (
          SELECT c.id_a, c.id_b,
                 round(len(list_intersect(sa.sh, sb.sh))::DOUBLE
                       / len(list_distinct(sa.sh || sb.sh)), 6) AS jaccard
          FROM cands c
          JOIN shingles sa ON sa.video_id = c.id_a
          JOIN shingles sb ON sb.video_id = c.id_b)
        SELECT id_a, id_b, jaccard FROM scored
        WHERE jaccard >= 0.35 ORDER BY id_a, id_b
    """


def q_image_dedup_clusters(spark, sf_dir):
    """Image duplicate-cluster RESOLUTION: phash near-dup pairs ->
    alternating-star connected components -> audit frame (id,
    cluster_id = component-min image_id, cluster_size,
    is_representative) — the same clusters kernel text and audio
    resolution ride, closing the modality matrix."""
    from menelaus_spark.operators import media
    from menelaus_spark.operators.clusters import (
        cluster_members,
        connected_components,
    )

    _ensure_workers_can_import(spark)
    df = media.image_neardup_table(spark, n_images=20)
    cc = connected_components(media.image_neardup_pairs(df))
    return cluster_members(cc).orderBy("id")


def _image_dedup_clusters_oracle() -> str:
    """Twin: full 30x30 Hamming <= 3 pair set from the shared pixel
    functions (the banding is recall-exact at this threshold), plain
    union-find, component-min representatives, inline VALUES."""
    from menelaus_spark.operators import media

    ids = [f"i{i:04d}" for i in range(30)]
    ph = {ids[i]: media.image_phash(media.image_neardup_pixels(i, 20))
          for i in range(30)}
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in range(30):
        for j in range(i + 1, 30):
            a, b = ids[i], ids[j]
            if bin((ph[a] ^ ph[b]) & ((1 << 64) - 1)).count("1") <= 3:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    comps: dict[str, list[str]] = {}
    for x in ids:
        comps.setdefault(find(x), []).append(x)
    rows = []
    for root, members in comps.items():
        if len(members) < 2:
            continue  # singletons never appear in connected_components
        cid = min(members)
        for m in members:
            rows.append(f"('{m}', '{cid}', CAST({len(members)} AS BIGINT), "
                        f"{str(m == cid).lower()})")
    return ("SELECT * FROM (VALUES " + ", ".join(rows) + ") AS t(id, "
            "cluster_id, cluster_size, is_representative) ORDER BY id")


# audio processing-pipeline entry (resample / frame-sample / VAD /
# loudness — the four ops that were unit-test-only through r04)
AUDIO_PROC_DRIFT = {2: {"silence_frac": 1.0}, 3: {"gain": 6.0}}
AUDIO_PROC_CORRUPT = (
    "clip_corrupt0", b"NOTARIFF--truncated-payload", 8000, 100, "pcm", None, 3,
)


def q_audio_processing_table(spark, sf_dir):
    """Audio processing-pipeline ops over one deterministic
    THREE-physical-codec table (plus one injected corrupt payload):
    resample_clips(8 kHz) / frame_sample / vad_segments /
    normalize_loudness — each ONE Arrow-batched pass over the bytes
    column — joined to one row per clip. Silent clips (part 2)
    exercise the no-voiced-span and silent-loudness branches; the
    gain-saturated part 3 exercises clipping; the corrupt row
    exercises the undecodable pass-through of all four ops. Oracle:
    driver-side twin regenerates the clips via tables._gen_rows and
    calls the SAME importable numpy kernels (resample_pcm, vad_spans,
    decode_batch) — validating the Spark plumbing (Arrow batching,
    aggregation, null fan-out), with the kernel math itself covered
    by tests/test_audio.py."""
    from menelaus_spark import audio as A
    from menelaus_spark import tables

    _ensure_workers_can_import(spark)
    df = tables.audio_table(
        spark, n_rows=160, n_parts=4, drift=AUDIO_PROC_DRIFT,
        null_frac=0.0, real_codecs="full",
    ).unionByName(
        spark.createDataFrame([AUDIO_PROC_CORRUPT], schema=tables.AUDIO_SCHEMA)
    )
    rs = A.resample_clips(df, 8000).select(
        "clip_id", F.col("sr_hz").alias("rs_sr"),
        F.col("dur_ms").alias("rs_dur_ms"))
    fs = A.frame_sample(df, n_frames=4, frame_ms=50).groupBy("clip_id").agg(
        F.count("*").alias("n_frames"), F.max("start_ms").alias("last_start_ms"))
    vd = A.vad_segments(df).groupBy("clip_id").agg(
        F.count("*").alias("n_segments"),
        F.min("start_ms").alias("vad_start_ms"),
        F.max("end_ms").alias("vad_end_ms"))
    ln = A.normalize_loudness(df, -20.0).select("clip_id", "gain_db")
    return (df.select("clip_id")
              .join(rs, "clip_id", "left").join(fs, "clip_id", "left")
              .join(vd, "clip_id", "left").join(ln, "clip_id", "left")
              .orderBy("clip_id"))


def _audio_processing_oracle() -> str | None:
    """Twin for q_audio_processing_table: regenerate the 160 clips with
    the numpy generator twin, decode with the shared kernels, and
    replay each op's arithmetic driver-side (bit-identical float64
    paths); inline as typed VALUES."""
    import numpy as np

    from menelaus_spark import audio as A
    from menelaus_spark import tables as _tables

    try:
        pdf = _tables._gen_rows(
            np.arange(160), 42, 4, 40, AUDIO_PROC_DRIFT,
            0.0, 0.0, 6.6, 0.5, (200, 3000), True, 0.0,
            ("gain", "resample"), "full",
        )
    except Exception:
        return None

    def i(v):
        return "CAST(NULL AS INTEGER)" if v is None else str(int(v))

    def bi(v):
        return "CAST(NULL AS BIGINT)" if v is None else f"CAST({int(v)} AS BIGINT)"

    def d(v):
        return "CAST(NULL AS DOUBLE)" if v is None else f"CAST({float(v)!r} AS DOUBLE)"

    decoded = A.decode_batch(pdf["bytes"].tolist(), pdf["codec"].tolist())
    recs = list(zip(pdf["clip_id"], decoded)) + [(AUDIO_PROC_CORRUPT[0], None)]
    rows = []
    for cid, dec in recs:
        if dec is None:
            rows.append(
                f"('{cid}', {i(None)}, {i(None)}, {bi(None)}, {i(None)}, "
                f"{bi(None)}, {i(None)}, {i(None)}, {d(None)})")
            continue
        sr, pcm = dec
        out = A.resample_pcm(pcm, sr, 8000)
        rs_sr, rs_dur = 8000, int(round(1000.0 * out.size / 8000))
        w = max(1, int(sr * 50 / 1000))
        if pcm.size < w:
            n_frames = last_start = None
        else:
            span = pcm.size - w
            n_frames = 4
            last_start = int(round(1000.0 * (span * 3 // 3) / sr))
        spans = A.vad_spans(pcm, sr)
        n_seg = len(spans) if spans else None
        v_start = min(s for s, _ in spans) if spans else None
        v_end = max(e for _, e in spans) if spans else None
        x = np.asarray(pcm, dtype=np.float64)
        rms = float(np.sqrt(np.mean(x * x))) if x.size else 0.0
        if rms == 0.0:
            gain = None
        else:
            g = (10.0 ** (-20.0 / 20.0)) / rms
            gain = 20.0 * np.log10(g)
        rows.append(
            f"('{cid}', {i(rs_sr)}, {i(rs_dur)}, {bi(n_frames)}, {i(last_start)}, "
            f"{bi(n_seg)}, {i(v_start)}, {i(v_end)}, {d(gain)})")
    return (
        "SELECT * FROM (VALUES " + ", ".join(rows) + ") AS t(clip_id, rs_sr, "
        "rs_dur_ms, n_frames, last_start_ms, n_segments, vad_start_ms, "
        "vad_end_ms, gain_db) ORDER BY clip_id"
    )


def q_image_neardup(spark, sf_dir):
    """Image near-duplicate pairs: 64-bit perceptual hash (8x8
    block-sign luma grid; invariant to unclipped brightness shifts and
    integer nearest-neighbor rescales) -> 4x16-bit band blocking
    (recall-exact for Hamming <= 3 by pigeonhole) -> pure-JVM
    xor/bit_count verify. Fixture: 20 sources + 5 brightness copies +
    5 2x-upscale copies (operators/media.py)."""
    from menelaus_spark.operators import media

    _ensure_workers_can_import(spark)
    df = media.image_neardup_table(spark, n_images=20)
    return media.image_neardup_pairs(df).orderBy("id_a", "id_b")


def _image_neardup_oracle() -> str:
    """Phash codes from the shared pixel twin; banding + Hamming
    verify recomputed independently in DuckDB (arithmetic shift +
    16-bit mask gives engine-identical bands for negative codes)."""
    from menelaus_spark.operators import media

    rows = [f"('i{i:04d}', CAST({media.image_phash(media.image_neardup_pixels(i, 20))} AS BIGINT))"
            for i in range(30)]
    return f"""
        WITH ph(image_id, phash) AS (VALUES {", ".join(rows)}),
        banded AS (
          SELECT image_id, phash, b AS band,
                 (phash >> (16 * b)) & 65535 AS bval
          FROM ph, (SELECT unnest([0, 1, 2, 3]) AS b)),
        cands AS (
          SELECT DISTINCT a.image_id AS id_a, b.image_id AS id_b,
                 a.phash AS ph_a, b.phash AS ph_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bval = b.bval
           AND a.image_id < b.image_id)
        SELECT id_a, id_b, bit_count(xor(ph_a, ph_b)) AS hamming
        FROM cands WHERE bit_count(xor(ph_a, ph_b)) <= 3
        ORDER BY id_a, id_b
    """


# --------------------------------------------------------------------------
# driver contract

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: HDDDM drift sequence
    over lineitem year-batches (loads driver parquet, exercises the
    distributed histogram engine + sequential state machine)."""
    _ensure_workers_can_import(spark)
    return q_hdddm_lineitem(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registry order is a correctness-coverage decision: the driver's
    # gate records the FIRST 50 entries, so entries that have never
    # produced a driver row lead (r06 reorder, VERDICT r05 task 1),
    # followed by entries last checked in r04, then the 50 entries
    # hash-verified in CORRECTNESS_r05 (two consecutive green rounds).
    # Nothing is added or removed — same 88 entries, same oracle SQL.
    return {
        # --- never driver-checked before r06 (registry head) ---
        "audio_suite_ulaw": q_audio_suite_ulaw,
        "audio_suite_codecs": q_audio_suite_codecs,
        "audio_suite_corrupt": q_audio_suite_corrupt,
        "audio_suite_qc": q_audio_suite_qc,
        "audio_suite_drift2": q_audio_suite_drift2,
        "audio_suite_metalies": q_audio_suite_metalies,
        "audio_suite_lineage": q_audio_suite_lineage,
        "audio_neardup_trim": q_audio_neardup_trim,
        "audio_neardup_pad": q_audio_neardup_pad,
        "audio_neardup_speed": q_audio_neardup_speed,
        "audio_neardup_noise": q_audio_neardup_noise,
        "audio_transcript_neardup": q_audio_transcript_neardup,
        "audio_transcode_neardup": q_audio_transcode_neardup,
        "audio_dedup_resolution": q_audio_dedup_resolution,
        "audio_dedup_resolved": q_audio_dedup_resolved,
        "streaming_neardup": q_streaming_neardup,
        "hll_distinct_events": q_hll_distinct_events,
        "cms_freq_events": q_cms_freq_events,
        "stratified_sample_events": q_stratified_sample_events,
        "mix_sample_documents": q_mix_sample_documents,
        "sessions_events": q_sessions_events,
        "token_psi_documents": q_token_psi_documents,
        "mix_budget_documents": q_mix_budget_documents,
        "hll_distinct_by_events": q_hll_distinct_by_events,
        "image_features_table": q_image_features_table,
        "video_frame_stats_table": q_video_frame_stats_table,
        "video_neardup": q_video_neardup,
        "image_neardup": q_image_neardup,
        "audio_processing_table": q_audio_processing_table,
        "image_dedup_clusters": q_image_dedup_clusters,
        # --- last driver-checked in r04 ---
        "streaming_cusum_traces": q_streaming_cusum_traces,
        "streaming_ensemble_events": q_streaming_ensemble_events,
        "cdbd_example_confidence": q_cdbd_example_confidence,
        "nndvi_lineitem": q_nndvi_lineitem,
        "example_data_profile": q_example_data_profile,
        "audio_suite_relational": q_audio_suite_relational,
        "audio_suite": q_audio_suite,
        "audio_neardup": q_audio_neardup,
        # --- hash-green in CORRECTNESS_r05 (relational core first) ---
        "pricing_summary": q_pricing_summary,
        "profile_lineitem": q_profile_lineitem,
        "profile_events_by_type": q_profile_events_by_type,
        "topk_orders_per_customer": q_topk_orders_per_customer,
        "rollup_revenue": q_rollup_revenue,
        "referential_orphans": q_referential_orphans,
        "uniqueness_events_user": q_uniqueness_events_user,
        "asof_last_view_before_purchase": q_asof_last_view_before_purchase,
        # histogram / divergence kernels
        "hist_extendedprice": q_hist_extendedprice,
        "hellinger_returnflag": q_hellinger_returnflag,
        "psi_event_type_halves": q_psi_event_type_halves,
        "chisq_event_type_halves": q_chisq_event_type_halves,
        "entropy_event_type_quarters": q_entropy_event_type_quarters,
        "hotkey_event_type_quarters": q_hotkey_event_type_quarters,
        "ks_value_click_vs_error": q_ks_value_click_vs_error,
        "emd_value_click_vs_error": q_emd_value_click_vs_error,
        "cvm_value_click_vs_error": q_cvm_value_click_vs_error,
        # dedup / similarity / text
        "minhash_documents": q_minhash_documents,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "dedup_exact_documents": q_dedup_exact_documents,
        "dedup_clusters_documents": q_dedup_clusters_documents,
        "ngram_jaccard_documents": q_ngram_jaccard_documents,
        "repeated_ngram_documents": q_repeated_ngram_documents,
        "embedding_neardup": q_embedding_neardup,
        "embedding_neardup_kmeans": q_embedding_neardup_kmeans,
        "hdddm_lineitem_cumulative": q_hdddm_lineitem_cumulative,
        "cdbd_events_value": q_cdbd_events_value,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ivf_ann_topk": q_ivf_ann_topk,
        "pq_ann_topk": q_pq_ann_topk,
        "ivfpq_ann_topk": q_ivfpq_ann_topk,
        "token_stats": q_token_stats,
        "repetition_stats": q_repetition_stats,
        "text_quality": q_text_quality,
        "lang_id": q_lang_id,
        # streaming / concept-drift detectors (r04: full §2.11 harness)
        "ddm_events": q_ddm_events,
        "eddm_events": q_eddm_events,
        "stepd_events": q_stepd_events,
        "adwin_events": q_adwin_events,
        "adwin_accuracy_events": q_adwin_accuracy_events,
        "lfr_events": q_lfr_events,
        "md3_events": q_md3_events,
        "pcacd_events": q_pcacd_events,
        "kdqstream_events": q_kdqstream_events,
        # rows-only (no SQL equivalent)
        "doc_fingerprints": q_doc_fingerprints,
        "simhash_documents": q_simhash_documents,
        "lsh_ann_topk": q_lsh_ann_topk,
        "hdddm_lineitem": q_hdddm_lineitem,
        "kdq_lineitem": q_kdq_lineitem,
        "streaming_traces": q_streaming_traces,
    }


_STOP_EN = ", ".join(f"'{w}'" for w in T.STOPWORDS["en"])
_TOKS_SQL = "string_split_regex(trim(lower(coalesce(text,''))), '\\s+')"
_TOKS_GUARDED = (
    f"case when len(trim(lower(coalesce(text,'')))) = 0 then [] "
    f"else {_TOKS_SQL} end"
)
_BPE_SQL_DUCK = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Karp-Rabin power literals B^(w-1-k) mod 2^64 (B=1000003, window=8),
# matching the numpy uint64 wraparound in text.py doc_fingerprint
_FP_TERMS = " + ".join(
    f"codes[j+{k}] * {(1000003 ** (7 - k)) % (2 ** 64)}::HUGEINT" for k in range(8)
)


def _lang_case() -> str:
    import json

    langs = sorted(T.STOPWORDS)
    hits = {
        lang: f"len(list_filter(toks, t -> t in ({', '.join(repr(w) for w in T.STOPWORDS[lang])})))"
        for lang in langs
    }
    best = "greatest(" + ", ".join(f"h_{lang}" for lang in langs) + ")"
    case = "case "
    for lang in langs:
        case += f"when {best} > 0 and h_{lang} = {best} then '{lang}' "
    case += "else 'und' end"
    hit_cols = ", ".join(f"{expr} as h_{lang}" for lang, expr in hits.items())
    return hit_cols, case


def _lsh_oracle_sql() -> str:
    """DuckDB twin of q_lsh_ann_topk: the seed-42 hyperplanes are
    deterministic numpy draws inlined as literals on BOTH sides, so the
    bucket assignment, multiprobe expansion (Hamming<=2 of 4 planes)
    and per-bucket scoring reproduce the Spark pipeline exactly."""
    import numpy as np

    planes = np.random.default_rng(42).standard_normal((4, 64))
    plane_rows = ", ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in planes[i])}]::DOUBLE[])"
        for i in range(4)
    )
    return f"""
        WITH planes(i, p) AS (VALUES {plane_rows}),
        corpus AS (
          SELECT e.vec_id, e.embedding,
                 sum(CASE WHEN list_sum(list_transform(range(1, 65),
                          d -> e.embedding[d]::DOUBLE * pl.p[d])) > 0
                          THEN (1 << pl.i) ELSE 0 END)::INT AS bucket
          FROM embeddings e, planes pl GROUP BY e.vec_id, e.embedding),
        q AS (SELECT vec_id AS qid, embedding AS qvec, bucket AS qb
              FROM corpus WHERE vec_id IN (0, 1, 2)),
        flips1 AS (SELECT unnest(range(4)) AS i),
        probes AS (
          SELECT qid, qvec, qb AS bucket FROM q
          UNION ALL SELECT qid, qvec, xor(qb, (1 << i)::INT) FROM q, flips1
          UNION ALL SELECT qid, qvec, xor(xor(qb, (1 << a.i)::INT), (1 << b.i)::INT)
                    FROM q, flips1 a, flips1 b WHERE a.i < b.i),
        scored AS (
          SELECT DISTINCT p.qid::VARCHAR AS query_id, c.vec_id,
                 round(list_cosine_similarity(c.embedding::DOUBLE[],
                                              p.qvec::DOUBLE[]), 6) AS cosine
          FROM corpus c JOIN probes p ON c.bucket = p.bucket),
        ranked AS (
          SELECT query_id, vec_id, round(cosine, 4) AS cos4,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, vec_id) AS rank
          FROM scored)
        SELECT query_id, vec_id, cos4, rank FROM ranked WHERE rank <= 5
        ORDER BY query_id, rank
    """


def oracle_sql() -> dict[str, str]:
    hit_cols, lang_case = _lang_case()
    # two 60-bit lanes per md5 (hex 1-15 and 17-31), mirroring
    # dedup.minhash_sig_py's family exactly
    minhash_mins = ", ".join(
        f"min(('0x' || substring(md5(concat('{i // 2}|', shingle)), "
        f"{1 if i % 2 == 0 else 17}, 15))::BIGINT) as h{i}"
        for i in range(MINHASH_K)
    )
    out = {
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus ORDER BY 1, 2
        """,
        "profile_lineitem": """
            SELECT count(*) AS n_rows,
                   count(*) FILTER (WHERE l_quantity IS NULL) AS qty_nulls,
                   round(min(l_extendedprice), 4) AS price_min,
                   round(max(l_extendedprice), 4) AS price_max,
                   round(avg(l_extendedprice), 4) AS price_mean,
                   round(quantile_cont(l_extendedprice, 0.5), 4) AS price_p50,
                   round(quantile_cont(l_extendedprice, 0.95), 4) AS price_p95,
                   round(stddev_samp(l_quantity), 4) AS qty_std
            FROM lineitem
        """,
        "profile_events_by_type": """
            SELECT event_type, count(*) AS n,
                   round(min(value), 4) AS v_min, round(max(value), 4) AS v_max,
                   round(avg(value), 4) AS v_mean,
                   count(DISTINCT user_id) AS n_users
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "topk_orders_per_customer": """
            SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice, rk
            FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                         row_number() OVER (PARTITION BY o_custkey
                                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
                  FROM orders) WHERE rk <= 3
        """,
        "rollup_revenue": """
            SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                   coalesce(l_linestatus, 'ALL') AS linestatus,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "referential_orphans": """
            SELECT count(*) AS n_orphans FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        """,
        "uniqueness_events_user": """
            SELECT user_id, count(*) AS n_dup FROM events
            GROUP BY user_id HAVING count(*) > 1 ORDER BY user_id
        """,
        "asof_last_view_before_purchase": """
            SELECT p.event_id AS purchase_id,
                   max(epoch_ms(v.ts) // 1000) AS last_view_epoch
            FROM events p JOIN events v
              ON v.user_id = p.user_id AND v.event_type = 'view' AND v.ts <= p.ts
            WHERE p.event_type = 'purchase'
            GROUP BY p.event_id ORDER BY purchase_id
        """,
        "hist_extendedprice": f"""
            WITH rng AS (SELECT min(l_extendedprice) lo, max(l_extendedprice) hi FROM lineitem),
            binned AS (
              SELECT CASE WHEN l_extendedprice = hi THEN {HIST_BINS - 1}
                          ELSE least(floor((l_extendedprice - lo) / ((hi - lo) / {HIST_BINS}))::INT,
                                     {HIST_BINS - 1}) END AS bin
              FROM lineitem, rng WHERE l_extendedprice IS NOT NULL)
            SELECT bin, count(*) AS count FROM binned GROUP BY bin ORDER BY bin
        """,
        "hellinger_returnflag": f"""
            WITH li AS (SELECT * FROM lineitem WHERE l_returnflag IN ('R','A')),
            rng AS (SELECT min(l_extendedprice) lo, max(l_extendedprice) hi FROM li),
            binned AS (
              SELECT l_returnflag,
                     CASE WHEN l_extendedprice = hi THEN {HIST_BINS - 1}
                          ELSE least(floor((l_extendedprice - lo) / ((hi - lo) / {HIST_BINS}))::INT,
                                     {HIST_BINS - 1}) END AS bin
              FROM li, rng),
            counts AS (
              SELECT bin,
                     sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS r_cnt,
                     sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS a_cnt
              FROM binned GROUP BY bin),
            tot AS (SELECT sum(r_cnt) rt, sum(a_cnt) "at" FROM counts)
            SELECT round(sqrt(sum(pow(sqrt(r_cnt / rt) - sqrt(a_cnt / "at"), 2))), 6) AS hellinger
            FROM counts, tot
        """,
        "psi_event_type_halves": """
            WITH freqs AS (
              SELECT event_type,
                     sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS c0,
                     sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS c1
              FROM events GROUP BY event_type),
            tot AS (SELECT sum(c0) t0, sum(c1) t1 FROM freqs)
            SELECT round(sum((q - p) * ln(q / p)), 6) AS psi
            FROM (SELECT greatest(c0 / t0, 1e-4) p, greatest(c1 / t1, 1e-4) q
                  FROM freqs, tot)
        """,
        "hotkey_event_type_quarters": """
            WITH counts AS (
              SELECT event_id % 4 AS quarter, event_type, count(*) AS c
              FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
            ranked AS (
              SELECT quarter, event_type, c,
                     row_number() OVER (PARTITION BY quarter
                                        ORDER BY c DESC, event_type DESC) AS rn,
                     sum(c) OVER (PARTITION BY quarter) AS total
              FROM counts)
            SELECT quarter, event_type AS top_key,
                   round(c / total, 6) AS share
            FROM ranked WHERE rn = 1
        """,
        "entropy_event_type_quarters": """
            WITH counts AS (
              SELECT event_id % 4 AS quarter, event_type, count(*) AS c
              FROM events GROUP BY 1, 2),
            tot AS (SELECT quarter, sum(c) AS n FROM counts GROUP BY quarter)
            SELECT counts.quarter AS quarter,
                   round(-sum((c / n) * ln(c / n)), 6) AS entropy
            FROM counts JOIN tot ON counts.quarter = tot.quarter
            GROUP BY counts.quarter
        """,
        "chisq_event_type_halves": """
            WITH freqs AS (
              SELECT event_type,
                     sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS c0,
                     sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS c1
              FROM events GROUP BY event_type
              HAVING sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END)
                   + sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) > 0),
            tot AS (SELECT sum(c0) t0, sum(c1) t1 FROM freqs)
            SELECT round(sum((c0 - t0 * (c0 + c1) / (t0 + t1))
                             * (c0 - t0 * (c0 + c1) / (t0 + t1))
                             / (t0 * (c0 + c1) / (t0 + t1))
                           + (c1 - t1 * (c0 + c1) / (t0 + t1))
                             * (c1 - t1 * (c0 + c1) / (t0 + t1))
                             / (t1 * (c0 + c1) / (t0 + t1))), 6) AS chisq,
                   count(*) - 1 AS dof
            FROM freqs, tot
        """,
        "ks_value_click_vs_error": f"""
            WITH ev AS (SELECT * FROM events WHERE event_type IN ('click','error')),
            rng AS (SELECT min(value) lo, max(value) hi FROM ev),
            binned AS (
              SELECT event_type,
                     CASE WHEN value = hi THEN {HIST_BINS - 1}
                          ELSE least(floor((value - lo) / ((hi - lo) / {HIST_BINS}))::INT,
                                     {HIST_BINS - 1}) END AS bin
              FROM ev, rng WHERE value IS NOT NULL),
            counts AS (
              SELECT bin,
                     sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
                     sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS c2
              FROM binned GROUP BY bin),
            cum AS (
              SELECT sum(c1) OVER (ORDER BY bin) AS cum1,
                     sum(c2) OVER (ORDER BY bin) AS cum2
              FROM counts),
            tot AS (SELECT sum(c1) t1, sum(c2) t2 FROM counts)
            SELECT round(max(abs(cum1 / t1 - cum2 / t2)), 6) AS ks FROM cum, tot
        """,

        "emd_value_click_vs_error": f"""
            WITH ev AS (SELECT * FROM events WHERE event_type IN ('click','error')),
            rng AS (SELECT min(value) lo, max(value) hi FROM ev),
            binned AS (
              SELECT event_type,
                     CASE WHEN value = hi THEN {HIST_BINS - 1}
                          ELSE least(floor((value - lo) / ((hi - lo) / {HIST_BINS}))::INT,
                                     {HIST_BINS - 1}) END AS bin
              FROM ev, rng WHERE value IS NOT NULL),
            counts AS (
              SELECT bin,
                     sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
                     sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS c2
              FROM binned GROUP BY bin),
            cum AS (
              SELECT sum(c1) OVER (ORDER BY bin) AS cum1,
                     sum(c2) OVER (ORDER BY bin) AS cum2,
                     lead(bin, 1, {HIST_BINS}) OVER (ORDER BY bin) - bin AS span
              FROM counts),
            tot AS (SELECT sum(c1) t1, sum(c2) t2 FROM counts)
            SELECT round(((SELECT (hi - lo) / {HIST_BINS} FROM rng))
                         * sum(span * abs(cum1 / t1 - cum2 / t2)), 6) AS emd
            FROM cum, tot
        """,
        "cvm_value_click_vs_error": f"""
            WITH ev AS (SELECT * FROM events WHERE event_type IN ('click','error')),
            rng AS (SELECT min(value) lo, max(value) hi FROM ev),
            binned AS (
              SELECT event_type,
                     CASE WHEN value = hi THEN {HIST_BINS - 1}
                          ELSE least(floor((value - lo) / ((hi - lo) / {HIST_BINS}))::INT,
                                     {HIST_BINS - 1}) END AS bin
              FROM ev, rng WHERE value IS NOT NULL),
            counts AS (
              SELECT bin,
                     sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
                     sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS c2
              FROM binned GROUP BY bin),
            cum AS (
              SELECT c1, c2,
                     sum(c1) OVER (ORDER BY bin) AS cum1,
                     sum(c2) OVER (ORDER BY bin) AS cum2
              FROM counts),
            tot AS (SELECT sum(c1) t1, sum(c2) t2 FROM counts)
            SELECT round(sum((c1 + c2) / (t1 + t2)
                             * (cum1 / t1 - cum2 / t2)
                             * (cum1 / t1 - cum2 / t2)), 6) AS cvm
            FROM cum, tot
        """,
        "minhash_documents": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS_GUARDED} AS toks FROM documents),
            sh AS (
              SELECT doc_id,
                     unnest(list_distinct(list_transform(
                        range(1, len(toks) - 1),
                        i -> array_to_string(list_slice(toks, i, i + 2), ' ')))) AS shingle
              FROM toks WHERE len(toks) >= 3)
            SELECT doc_id, {minhash_mins}
            FROM sh GROUP BY doc_id ORDER BY doc_id
        """,

        "minhash_lsh_pairs": f'''
            WITH toks AS (
              SELECT doc_id, {_TOKS_GUARDED} AS toks FROM documents),
            shingles AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                        range(1, len(toks) - 1),
                        i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS sh
              FROM toks WHERE len(toks) >= 3),
            exploded AS (SELECT doc_id, unnest(sh) AS shingle FROM shingles),
            sig AS (
              SELECT doc_id, {minhash_mins}
              FROM exploded GROUP BY doc_id),
            banded AS (
              SELECT doc_id, 0 AS band, md5(h0 || ',' || h1) AS bhash FROM sig
              UNION ALL
              SELECT doc_id, 1, md5(h2 || ',' || h3) FROM sig
              UNION ALL
              SELECT doc_id, 2, md5(h4 || ',' || h5) FROM sig
              UNION ALL
              SELECT doc_id, 3, md5(h6 || ',' || h7) FROM sig),
            cands AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id)
            SELECT c.id_a, c.id_b,
                   round(len(list_intersect(sa.sh, sb.sh))::DOUBLE
                         / len(list_distinct(sa.sh || sb.sh)), 6) AS jaccard
            FROM cands c
            JOIN shingles sa ON sa.doc_id = c.id_a
            JOIN shingles sb ON sb.doc_id = c.id_b
            WHERE round(len(list_intersect(sa.sh, sb.sh))::DOUBLE
                        / len(list_distinct(sa.sh || sb.sh)), 6) >= 0.1
            ORDER BY id_a, id_b
        ''',
        "dedup_exact_documents": """
            SELECT md5(regexp_replace(trim(lower(coalesce(text,''))), '\\s+', ' ', 'g')) AS text_hash,
                   count(*) AS n_dups, min(doc_id) AS keep_id
            FROM documents
            GROUP BY 1 HAVING count(*) > 1 ORDER BY text_hash
        """,
        # cluster resolution: same exact + LSH pair inputs as their own
        # oracles, then the connected-components semantics recomputed
        # independently as a recursive-CTE transitive closure (the
        # Spark side iterates large-star/small-star; the oracle walks
        # reachability and takes the component min — totally different
        # machinery, same fixed point)
        "dedup_clusters_documents": f'''
            WITH RECURSIVE toks AS (
              SELECT doc_id, {_TOKS_GUARDED} AS toks FROM documents),
            shingles AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                        range(1, len(toks) - 1),
                        i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS sh
              FROM toks WHERE len(toks) >= 3),
            exploded AS (SELECT doc_id, unnest(sh) AS shingle FROM shingles),
            sig AS (
              SELECT doc_id, {minhash_mins}
              FROM exploded GROUP BY doc_id),
            banded AS (
              SELECT doc_id, 0 AS band, md5(h0 || ',' || h1) AS bhash FROM sig
              UNION ALL
              SELECT doc_id, 1, md5(h2 || ',' || h3) FROM sig
              UNION ALL
              SELECT doc_id, 2, md5(h4 || ',' || h5) FROM sig
              UNION ALL
              SELECT doc_id, 3, md5(h6 || ',' || h7) FROM sig),
            cands AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id),
            lsh AS (
              SELECT c.id_a, c.id_b
              FROM cands c
              JOIN shingles sa ON sa.doc_id = c.id_a
              JOIN shingles sb ON sb.doc_id = c.id_b
              WHERE round(len(list_intersect(sa.sh, sb.sh))::DOUBLE
                          / len(list_distinct(sa.sh || sb.sh)), 6) >= 0.1),
            exg AS (
              SELECT doc_id,
                     md5(regexp_replace(trim(lower(coalesce(text,''))),
                                        '\\s+', ' ', 'g')) AS h
              FROM documents),
            exk AS (SELECT h, min(doc_id) AS keep FROM exg
                    GROUP BY h HAVING count(*) > 1),
            expairs AS (
              SELECT k.keep AS id_a, g.doc_id AS id_b
              FROM exk k JOIN exg g USING (h) WHERE g.doc_id <> k.keep),
            allp AS (SELECT id_a, id_b FROM expairs
                     UNION SELECT id_a, id_b FROM lsh),
            edges AS (SELECT id_a AS u, id_b AS v FROM allp WHERE id_a <> id_b
                      UNION SELECT id_b, id_a FROM allp WHERE id_a <> id_b),
            nodes AS (SELECT DISTINCT u FROM edges),
            walk AS (
              SELECT u, u AS x FROM nodes
              UNION
              SELECT w.u, e.v FROM walk w JOIN edges e ON e.u = w.x),
            cl AS (SELECT u AS id, min(x) AS cluster_id FROM walk GROUP BY u),
            sz AS (SELECT cluster_id, count(*) AS cluster_size
                   FROM cl GROUP BY cluster_id)
            SELECT cl.id, cl.cluster_id, sz.cluster_size,
                   (cl.id = cl.cluster_id) AS is_representative
            FROM cl JOIN sz USING (cluster_id)
            ORDER BY cl.id
        ''',
        "repeated_ngram_documents": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS_GUARDED} AS toks FROM documents),
            spans AS (
              SELECT doc_id,
                     ('0x' || substring(md5(unnest(list_distinct(
                        list_transform(range(1, len(toks) - 6),
                          i -> array_to_string(list_slice(toks, i, i + 7), ' '))
                     ))), 1, 15))::BIGINT AS h
              FROM toks WHERE len(toks) >= 8),
            cold AS (
              SELECT doc_id, h FROM spans
              WHERE h IN (SELECT h FROM spans GROUP BY h HAVING count(*) <= 64)),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM cold a JOIN cold b ON a.h = b.h AND a.doc_id < b.doc_id)
            SELECT id_a, id_b, count(*) AS shared_spans
            FROM pairs GROUP BY id_a, id_b ORDER BY id_a, id_b
        """,
        "ngram_jaccard_documents": f"""
            WITH sh AS (
              SELECT doc_id, lang, blk,
                     CASE WHEN len(toks) < 2 THEN []
                          ELSE list_distinct(list_transform(
                             range(1, len(toks)),
                             i -> array_to_string(list_slice(toks, i, i + 1), ' ')))
                     END AS shingles
              FROM (SELECT doc_id, lang, floor(n_chars / 64) AS blk,
                           {_TOKS_GUARDED} AS toks FROM documents))
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(CASE WHEN len(list_distinct(a.shingles || b.shingles)) = 0 THEN 0.0
                        ELSE len(list_intersect(a.shingles, b.shingles))::DOUBLE
                             / len(list_distinct(a.shingles || b.shingles)) END, 6) AS jaccard
            FROM sh a JOIN sh b
              ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
            WHERE round(CASE WHEN len(list_distinct(a.shingles || b.shingles)) = 0 THEN 0.0
                        ELSE len(list_intersect(a.shingles, b.shingles))::DOUBLE
                             / len(list_distinct(a.shingles || b.shingles)) END, 6) >= 0.12
            ORDER BY id_a, id_b
        """,
        # tie-stable rounding idiom round(x*10^k)/10^k on both sides:
        # Spark's round(x, k) (BigDecimal on the exact double) and
        # DuckDB's round() (multiply-then-round) disagree on decimal
        # ties; the shared idiom applies the identical decision to the
        # identical double
        "embedding_neardup": """
            WITH scored AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                  b.embedding::DOUBLE[]) * 1000000.0)
                       / 1000000.0 AS cos6
              FROM embeddings a JOIN embeddings b
                ON a.label = b.label AND a.vec_id < b.vec_id)
            SELECT id_a, id_b, round(cos6 * 10000.0) / 10000.0 AS cos4
            FROM scored WHERE cos6 >= 0.35
            ORDER BY id_a, id_b
        """,
        "ann_cosine_topk": """
            WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id IN (0,1,2)),
            scored AS (
              SELECT q.qid::VARCHAR AS query_id, e.vec_id,
                     round(list_cosine_similarity(e.embedding::DOUBLE[], q.qvec::DOUBLE[]), 6) AS cosine
              FROM embeddings e CROSS JOIN q),
            ranked AS (
              SELECT query_id, vec_id, round(cosine, 4) AS cos4,
                     row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
              FROM scored)
            SELECT query_id, vec_id, cos4, rank FROM ranked WHERE rank <= 5
            ORDER BY query_id, rank
        """,
        "token_stats": f"""
            SELECT doc_id,
                   len({_TOKS_GUARDED}) AS n_tokens,
                   len(regexp_extract_all(coalesce(text,''), '{_BPE_SQL_DUCK}')) AS n_bpe_tokens
            FROM documents ORDER BY doc_id
        """,
        # integer-ratio doubles are bit-identical across engines (one
        # IEEE division each) — no rounding required
        "repetition_stats": f"""
            WITH t AS (
              SELECT doc_id, {_TOKS_GUARDED} AS toks FROM documents),
            g AS (
              SELECT doc_id, toks,
                     CASE WHEN len(toks) >= 3 THEN
                       list_transform(range(1, len(toks) - 1), i ->
                         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                     ELSE []::VARCHAR[] END AS tris
              FROM t)
            SELECT doc_id,
                   len(toks) AS n_tokens,
                   len(tris) AS n_trigrams,
                   CASE WHEN len(toks) > 0
                        THEN 1.0 - len(list_distinct(toks))::DOUBLE / len(toks)
                        ELSE 0.0 END AS dup_token_frac,
                   CASE WHEN len(tris) > 0
                        THEN 1.0 - len(list_distinct(tris))::DOUBLE / len(tris)
                        ELSE 0.0 END AS dup_trigram_frac
            FROM g ORDER BY doc_id
        """,
        "text_quality": f"""
            WITH base AS (
              SELECT doc_id, coalesce(text,'') AS t, {_TOKS_GUARDED} AS toks FROM documents)
            SELECT doc_id,
                   len(t) AS n_chars,
                   len(toks) AS n_tokens,
                   round(len(regexp_replace(t, '[^A-Za-z]', '', 'g'))::DOUBLE / greatest(len(t), 1), 6) AS alpha_ratio,
                   round(len(regexp_replace(t, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE / greatest(len(t), 1), 6) AS punct_ratio,
                   round(len(list_filter(toks, t2 -> t2 in ({_STOP_EN})))::DOUBLE
                         / greatest(len(toks), 1), 6) AS stopword_ratio,
                   round((least(len(toks) / 64.0, 1.0) * 0.3
                         + round(len(regexp_replace(t, '[^A-Za-z]', '', 'g'))::DOUBLE / greatest(len(t), 1), 6) * 0.3
                         + least(round(len(list_filter(toks, t2 -> t2 in ({_STOP_EN})))::DOUBLE
                                       / greatest(len(toks), 1), 6) * 4.0, 1.0) * 0.3
                         + (1.0 - least(round(len(regexp_replace(t, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
                                              / greatest(len(t), 1), 6) * 4.0, 1.0)) * 0.1
                         ) * 10000.0) / 10000.0 AS quality_score
            FROM base ORDER BY doc_id
        """,
        "lang_id": f"""
            WITH toksq AS (SELECT doc_id, {_TOKS_GUARDED} AS toks FROM documents),
            hits AS (SELECT doc_id, {hit_cols} FROM toksq)
            SELECT doc_id, {lang_case} AS lang_pred FROM hits ORDER BY doc_id
        """,
        "lsh_ann_topk": _lsh_oracle_sql(),
        # SimHash64 reproduced bit-for-bit: same md5-15-hex 60-bit token
        # hash family as the Spark kernel (dedup.py simhash64); bits
        # 60-63 of the hash are always 0 so only 60 bit votes matter.
        "simhash_documents": r"""
            WITH toks AS (
              SELECT doc_id, ('0x'||substring(md5(tok),1,15))::BIGINT AS h
              FROM (SELECT doc_id,
                           unnest(regexp_split_to_array(lower(coalesce(text,'')), '\s+')) AS tok
                    FROM documents)
              WHERE tok <> ''
            ),
            bits AS (
              SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
              FROM toks, (SELECT unnest(range(60)) AS b)
              GROUP BY doc_id, b
            ),
            fp AS (SELECT doc_id,
                          sum(CASE WHEN vote > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
                   FROM bits GROUP BY doc_id)
            SELECT d.doc_id, coalesce(fp.simhash, 0) AS simhash
            FROM documents d LEFT JOIN fp USING (doc_id) ORDER BY doc_id
        """,
        # Karp-Rabin winnowing fingerprint reproduced exactly: HUGEINT
        # arithmetic mod 2^64 with the numpy kernel's wrapped B^k
        # power literals (text.py doc_fingerprint); ord()==byte because
        # the documents text is ASCII.
        "doc_fingerprints": f"""
            WITH norm AS (
              SELECT doc_id,
                regexp_replace(regexp_replace(lower(coalesce(text,'')),
                               '^\\s+|\\s+$', '', 'g'), '\\s+', ' ', 'g') AS s
              FROM documents),
            coded AS (
              SELECT doc_id, len(s) AS L,
                list_transform(range(1, len(s)+1), i -> ord(substring(s, i, 1))::HUGEINT) AS codes
              FROM norm),
            raw AS (
              SELECT doc_id,
                CASE WHEN L = 0 THEN 0::HUGEINT
                     WHEN L < 8 THEN list_reduce(codes,
                          (a, b) -> (a * 1000003::HUGEINT + b) % 18446744073709551616::HUGEINT)
                     ELSE list_min(list_transform(range(1, L - 8 + 2), j ->
                          ({_FP_TERMS}) % 18446744073709551616::HUGEINT))
                END AS h
              FROM coded)
            SELECT doc_id,
              (CASE WHEN h >= 9223372036854775808::HUGEINT
                    THEN h - 18446744073709551616::HUGEINT ELSE h END)::BIGINT AS fingerprint
            FROM raw ORDER BY doc_id
        """,
    }
    km = _kmeans_neardup_oracle()
    if km is not None:
        out["embedding_neardup_kmeans"] = km
    ivf = _ivf_ann_oracle()
    if ivf is not None:
        out["ivf_ann_topk"] = ivf
    pq = _pq_ann_oracle()
    if pq is not None:
        out["pq_ann_topk"] = pq
    ivfpq = _ivfpq_ann_oracle()
    if ivfpq is not None:
        out["ivfpq_ann_topk"] = ivfpq
    kdq = _kdq_oracle_sql()
    if kdq is not None:
        out["kdq_lineitem"] = kdq
    out["ddm_events"] = _ddm_oracle_sql()
    out["eddm_events"] = _eddm_oracle_sql()
    out["stepd_events"] = _stepd_oracle_sql()
    for name, builder in [
        ("adwin_events", lambda: _adwin_values_oracle("x_shift")),
        ("adwin_accuracy_events", lambda: _adwin_values_oracle("correct")),
        ("lfr_events", _lfr_oracle_sql),
        ("md3_events", _md3_oracle_sql),
        ("pcacd_events", _pcacd_oracle_sql),
        ("kdqstream_events", _kdqstream_oracle_sql),
        ("audio_suite_relational", _audio_relational_oracle),
        ("hdddm_lineitem", _hdddm_lineitem_oracle),
        ("cdbd_example_confidence", _cdbd_example_oracle),
        ("nndvi_lineitem", _nndvi_lineitem_oracle),
        ("audio_suite", _audio_suite_oracle),
        ("audio_suite_ulaw", lambda: _audio_suite_oracle(real_codecs=True)),
        ("audio_suite_codecs", lambda: _audio_suite_oracle(real_codecs="full")),
        ("audio_suite_corrupt",
         lambda: _audio_suite_oracle(drift=AUDIO_SUITE_DRIFT_CORRUPT)),
        ("audio_suite_qc",
         lambda: _audio_suite_oracle(drift=AUDIO_SUITE_DRIFT_QC,
                                     qc_rules=True)),
        ("audio_suite_drift2",
         lambda: _audio_suite_oracle(drift2={
             "emd": {"dur_ms": 150.0}, "cvm": {"dur_ms": 0.01},
             "chisq_alpha": 0.001, "entropy_min": 0.5})),
        ("audio_suite_metalies",
         lambda: _audio_suite_oracle(real_codecs="full",
                                     drift=AUDIO_SUITE_DRIFT_METALIES,
                                     meta_rules=AUDIO_META_RULES)),
        ("audio_suite_lineage",
         lambda: _audio_suite_oracle(extra_rows=[
             ("0", "lineage", "pass"), ("1", "lineage", "fail"),
             ("2", "lineage", "pass")])),
        ("audio_neardup", _audio_neardup_oracle),
        ("audio_neardup_trim", _audio_neardup_trim_oracle),
        ("audio_neardup_pad", _audio_neardup_pad_oracle),
        ("audio_neardup_speed", _audio_neardup_speed_oracle),
        ("audio_neardup_noise", _audio_neardup_noise_oracle),
        ("audio_transcript_neardup", _audio_transcript_neardup_oracle),
        ("audio_transcode_neardup",
         lambda: _audio_transcript_neardup_oracle(real_codecs=True)),
        ("audio_dedup_resolution", _audio_dedup_resolution_oracle),
        ("audio_dedup_resolved", _audio_dedup_resolved_oracle),
        ("streaming_neardup", _streaming_neardup_oracle),
    ]:
        sql = builder()
        if sql is not None:
            out[name] = sql
    out["streaming_traces"] = _ph_oracle_sql()
    out["streaming_cusum_traces"] = _cusum_oracle_sql()
    out["streaming_ensemble_events"] = _ensemble_oracle_sql()
    out["hdddm_lineitem_cumulative"] = _drift_recurrence_sql(
        _HDDDM_LI_VALS, 3, _HELLINGER_EXPR)
    out["cdbd_events_value"] = _drift_recurrence_sql(
        _CDBD_EV_VALS, 1, _JS_EXPR)
    out["example_data_profile"] = _example_profile_oracle()
    # ---- sketches / sampling / sessionization (r05 additions) ----
    # HLL replayed register-for-register: same md5-lane 60-bit hash,
    # reg = top 8 bits, rho = leading-zero rank of the 52-bit suffix
    # via length(bin(w)) (bin/length exist identically in both
    # engines); S_int stays integer so the single float division is
    # bit-reproducible.
    out["hll_distinct_events"] = """
        WITH h AS (
          SELECT event_id,
                 ('0x' || substring(md5('hll|' || user_id::VARCHAR), 1, 15))::BIGINT AS h
          FROM events WHERE user_id IS NOT NULL),
        rw AS (
          SELECT event_id, h // (1::BIGINT << 52) AS reg,
                 h & ((1::BIGINT << 52) - 1) AS w FROM h),
        r AS (
          SELECT reg, max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS rho
          FROM rw GROUP BY reg),
        rq AS (
          SELECT (event_id % 4) AS q, reg,
                 max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS rho
          FROM rw GROUP BY 1, 2),
        m AS (SELECT reg, max(rho) AS rho FROM rq GROUP BY reg),
        mism AS (
          SELECT coalesce(sum(CASE WHEN r.rho IS DISTINCT FROM m.rho THEN 1 ELSE 0 END), 0) AS merge_mismatches
          FROM r FULL JOIN m USING (reg)),
        agg AS (
          SELECT count(*) AS nz,
                 coalesce(sum(1::BIGINT << (53 - rho)), 0) AS s_nz FROM r),
        est AS (
          SELECT 256 AS m, (256 - nz)::BIGINT AS v_zero,
                 (s_nz + (256 - nz)::BIGINT * (1::BIGINT << 53)) AS s_int,
                 round(CASE WHEN (0.7213/(1+1.079/256) * 256 * 256)
                                 / ((s_nz + (256 - nz)::BIGINT * (1::BIGINT << 53)) / (1::BIGINT << 53)::DOUBLE) <= 640
                             AND (256 - nz) > 0
                            THEN 256.0 * ln(256.0 / (256 - nz))
                            ELSE (0.7213/(1+1.079/256) * 256 * 256)
                                 / ((s_nz + (256 - nz)::BIGINT * (1::BIGINT << 53)) / (1::BIGINT << 53)::DOUBLE)
                       END, 4) AS est_distinct
          FROM agg),
        ex AS (SELECT count(DISTINCT user_id) AS exact_distinct FROM events)
        SELECT est.m, est.v_zero, est.s_int, est.est_distinct,
               ex.exact_distinct, mism.merge_mismatches
        FROM est, ex, mism
    """
    out["cms_freq_events"] = """
        WITH lanes AS (
          SELECT j, user_id,
                 (('0x' || substring(md5('cms' || j::VARCHAR || '|' || user_id::VARCHAR), 1, 15))::BIGINT % 64)::INT AS bucket
          FROM events, (SELECT unnest([0,1,2,3]) AS j) WHERE user_id IS NOT NULL),
        counters AS (SELECT j AS lane, bucket, count(*) AS cnt FROM lanes GROUP BY 1, 2),
        probes AS (SELECT DISTINCT user_id FROM events ORDER BY user_id LIMIT 5),
        pl AS (
          SELECT p.user_id, j,
                 (('0x' || substring(md5('cms' || j::VARCHAR || '|' || p.user_id::VARCHAR), 1, 15))::BIGINT % 64)::INT AS bucket
          FROM probes p, (SELECT unnest([0,1,2,3]) AS j)),
        est AS (
          SELECT pl.user_id, min(coalesce(c.cnt, 0)) AS est_count
          FROM pl LEFT JOIN counters c ON c.lane = pl.j AND c.bucket = pl.bucket
          GROUP BY pl.user_id),
        truth AS (
          SELECT user_id, count(*) AS true_count FROM events
          WHERE user_id IN (SELECT user_id FROM probes) GROUP BY user_id)
        SELECT est.user_id, est.est_count, truth.true_count
        FROM est JOIN truth USING (user_id) ORDER BY user_id
    """
    out["stratified_sample_events"] = """
        SELECT event_type, event_id, rk FROM (
          SELECT event_type, event_id,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY md5('samp|' || event_id::VARCHAR), event_id) AS rk
          FROM events)
        WHERE rk <= 5 ORDER BY event_type, rk
    """
    # largest-remainder allocation of 40 over {en:.5, es:.25, de:.15,
    # fr:.1} = {en:20, es:10, de:6, fr:4} (exact: 20/10/6/4, no
    # remainder) — inlined as the quota CASE
    out["mix_sample_documents"] = """
        SELECT lang, doc_id, rk FROM (
          SELECT lang, doc_id,
                 row_number() OVER (PARTITION BY lang
                                    ORDER BY md5('samp|' || doc_id::VARCHAR), doc_id) AS rk
          FROM documents WHERE lang IN ('en', 'es', 'de', 'fr'))
        WHERE rk <= CASE lang WHEN 'en' THEN 20 WHEN 'es' THEN 10
                              WHEN 'de' THEN 6 ELSE 4 END
        ORDER BY lang, rk
    """
    out["sessions_events"] = """
        WITH o AS (
          SELECT user_id, epoch_ms(ts) AS ms, event_id,
                 lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
          FROM events),
        f AS (
          SELECT user_id, ms, event_id,
                 CASE WHEN prev IS NULL OR ms - prev > 1800000 THEN 1 ELSE 0 END AS is_new
          FROM o),
        s AS (
          SELECT user_id, ms,
                 (sum(is_new) OVER (PARTITION BY user_id ORDER BY ms, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::INT AS session_seq
          FROM f)
        SELECT user_id, session_seq, min(ms) AS start_ms, max(ms) AS end_ms,
               count(*) AS n_events, max(ms) - min(ms) AS duration_ms
        FROM s GROUP BY 1, 2 ORDER BY 1, 2
    """
    out["token_psi_documents"] = f"""
        WITH toks AS (
          SELECT (doc_id % 2) AS half, unnest({_TOKS_GUARDED}) AS tok
          FROM documents),
        freqs AS (
          SELECT tok,
                 sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS c0,
                 sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS c1
          FROM toks GROUP BY tok),
        tot AS (SELECT sum(c0) AS t0, sum(c1) AS t1 FROM freqs),
        contrib AS (
          SELECT tok, round((q - p) * ln(q / p), 9) AS contrib
          FROM (SELECT tok, greatest(c0 / t0, 1e-4) AS p,
                       greatest(c1 / t1, 1e-4) AS q
                FROM freqs, tot)),
        top AS (
          SELECT tok, contrib FROM contrib
          ORDER BY contrib DESC, tok DESC LIMIT 1)
        SELECT (SELECT count(*) FROM contrib) AS vocab_size,
               (SELECT round(sum(contrib), 6) FROM contrib) AS token_psi,
               top.tok AS top_token,
               round(top.contrib, 6) AS top_contrib
        FROM top
    """
    out["mix_budget_documents"] = """
        WITH r AS (
          SELECT lang, doc_id, n_chars,
                 row_number() OVER (PARTITION BY lang
                                    ORDER BY md5('samp|' || doc_id::VARCHAR), doc_id) AS rk,
                 sum(n_chars) OVER (PARTITION BY lang
                                    ORDER BY md5('samp|' || doc_id::VARCHAR), doc_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_size
          FROM documents WHERE lang IN ('de', 'en'))
        SELECT lang, doc_id, rk, cum_size FROM r
        WHERE cum_size - n_chars < CASE lang WHEN 'en' THEN 3000 ELSE 1200 END
        ORDER BY lang, rk
    """
    out["hll_distinct_by_events"] = """
        WITH h AS (
          SELECT event_type,
                 ('0x' || substring(md5('hll|' || user_id::VARCHAR), 1, 15))::BIGINT AS h
          FROM events WHERE user_id IS NOT NULL),
        r AS (
          SELECT event_type, h // (1::BIGINT << 50) AS reg,
                 max(CASE WHEN (h & ((1::BIGINT << 50) - 1)) = 0 THEN 51
                          ELSE 51 - length(bin(h & ((1::BIGINT << 50) - 1))) END) AS rho
          FROM h GROUP BY 1, 2),
        agg AS (
          SELECT event_type, count(*) AS nz,
                 coalesce(sum(1::BIGINT << (51 - rho)), 0) AS s_nz
          FROM r GROUP BY event_type),
        est AS (
          SELECT event_type, (1024 - nz)::BIGINT AS v_zero,
                 (s_nz + (1024 - nz)::BIGINT * (1::BIGINT << 51)) AS s_int,
                 round(CASE WHEN (0.7213/(1+1.079/1024) * 1024 * 1024)
                                 / ((s_nz + (1024 - nz)::BIGINT * (1::BIGINT << 51)) / (1::BIGINT << 51)::DOUBLE) <= 2560
                             AND (1024 - nz) > 0
                            THEN 1024.0 * ln(1024.0 / (1024 - nz))
                            ELSE (0.7213/(1+1.079/1024) * 1024 * 1024)
                                 / ((s_nz + (1024 - nz)::BIGINT * (1::BIGINT << 51)) / (1::BIGINT << 51)::DOUBLE)
                       END, 4) AS est_distinct
          FROM agg),
        ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_distinct
               FROM events GROUP BY event_type)
        SELECT est.event_type, est.v_zero, est.s_int, est.est_distinct, ex.exact_distinct
        FROM est JOIN ex USING (event_type) ORDER BY event_type
    """
    out.update(_media_values_oracle())
    out["video_neardup"] = _video_neardup_oracle()
    out["image_neardup"] = _image_neardup_oracle()
    ap = _audio_processing_oracle()
    if ap is not None:
        out["audio_processing_table"] = ap
    out["image_dedup_clusters"] = _image_dedup_clusters_oracle()
    return out
