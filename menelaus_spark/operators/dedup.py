"""Deduplication operators for training-data pipelines: exact,
n-gram Jaccard, MinHash + LSH, SimHash, embedding-cosine near-dup.

Design notes for 100 TB:

- Exact dedup is a single hash-groupBy on md5(normalized text).
- MinHash signatures are computed in ONE Arrow pass, per row, with
  no shuffle; the md5-prefix hash family is expressible verbatim in
  the DuckDB oracle.
- LSH banding turns the quadratic candidate search into a groupBy on
  (band, band_hash); only same-bucket pairs are verified with exact
  Jaccard — the standard shingle->minhash->band->bucket-join pipeline.
- Pairwise joins are always blocked (band bucket / label / length
  bucket); there is no unblocked crossJoin anywhere.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from menelaus_spark.operators.text import tokens_col
from menelaus_spark.verdicts import driver_rows, local_frame


class OwnedCache:
    """A one-slot persist registry for frames a pipeline function
    pins INTERNALLY (the caller never sees them, so it cannot release
    them). Persisting a new frame first unpersists the previous one,
    so repeated calls hold at most ONE pinned frame per owner instead
    of leaking one per call. Unpersisting an earlier frame only drops
    its cache; a still-unmaterialized plan over it recomputes
    correctly."""

    def __init__(self) -> None:
        self._slot: list[DataFrame] = []

    def persist(self, frame: DataFrame) -> DataFrame:
        self.release()
        frame = frame.persist()
        self._slot.append(frame)
        return frame

    def release(self) -> None:
        """Drop the pinned frame now (e.g. after a bounded-driver fast
        path collected it) instead of waiting for the next persist."""
        while self._slot:
            try:
                self._slot.pop().unpersist()
            except Exception:
                pass


_NGRAM_HDOC_CACHE = OwnedCache()


def normalized_text(text: Column) -> Column:
    return F.regexp_replace(F.trim(F.lower(F.coalesce(text, F.lit("")))), r"\s+", " ")


def exact_duplicates(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Exact-duplicate groups by md5 of normalized text:
    (text_hash, n_dups, keep_id, dup_ids). One shuffle."""
    hashed = df.select(
        F.col(id_col), F.md5(normalized_text(F.col(text_col))).alias("text_hash")
    )
    return (
        hashed.groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(id_col).alias("keep_id"),
            F.sort_array(F.collect_list(id_col)).alias("dup_ids"),
        )
        .filter(F.col("n_dups") > 1)
    )


def shingles_col(toks: Column, n: int) -> Column:
    """Distinct word n-gram shingles from a token array (empty when
    fewer than n tokens)."""
    return F.when(F.size(toks) < n, F.array().cast("array<string>")).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            )
        )
    )


def with_shingles(df: DataFrame, id_col: str, text_col: str = "text", n: int = 3) -> DataFrame:
    return df.select(
        F.col(id_col),
        shingles_col(tokens_col(F.col(text_col)), n).alias("shingles"),
    )


def jaccard_col(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_distinct(F.concat(a, b)))
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


def _blockwise_intersections(
    hdoc: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact pairwise intersection counts WITHIN each block, computed
    by one Arrow ``applyInPandas`` kernel per block over the already-
    hashed shingle sets: sort the block's (hash, doc) postings once,
    emit C(df,2) pair increments per shared hash via numpy, count
    pairs with ``np.unique`` — the inverted-index join done where it is
    cheap, with zero candidate shuffle. Returns
    (id_a, id_b, sz_a, sz_b, inter) for pairs whose intersection can
    clear ``threshold`` (a small slack keeps this a candidate
    SUPERSET; the caller recomputes the exact rounded Jaccard in JVM,
    so results are bit-identical to the AllPairs path). Only safe for
    CAPPED blocks — one block is one task's memory."""
    id_dtype = hdoc.schema[id_col].dataType.simpleString()
    out_schema = (f"id_a {id_dtype}, id_b {id_dtype}, "
                  "sz_a int, sz_b int, inter int")
    slack = 1e-9

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        szs = pdf["__sz"].to_numpy()
        hs_list = pdf["__hs"].tolist()
        n_docs = len(ids)
        empty = pd.DataFrame({"id_a": [], "id_b": [], "sz_a": [],
                              "sz_b": [], "inter": []})
        if n_docs < 2:
            return empty
        lens = np.fromiter((len(h) for h in hs_list), dtype=np.int64,
                           count=n_docs)
        total = int(lens.sum())
        if total == 0:
            return empty
        all_h = np.concatenate(
            [np.asarray(h, dtype=np.int64) for h in hs_list if len(h)])
        doc_idx = np.repeat(np.arange(n_docs, dtype=np.int64), lens)
        order = np.argsort(all_h, kind="stable")
        h_sorted, d_sorted = all_h[order], doc_idx[order]
        starts = np.flatnonzero(np.r_[True, h_sorted[1:] != h_sorted[:-1]])
        ends = np.r_[starts[1:], h_sorted.size]
        dfs = ends - starts
        # Dense upper-triangle count matrix + CHUNKED scatter-adds:
        # memory is bounded at O(n_docs^2 + chunk) no matter how hot an
        # in-block shingle is (a universal bigram in a cap-sized block
        # contributes C(cap, 2) increments — materializing all
        # increments at once would not be bounded).
        mat = np.zeros((n_docs, n_docs), dtype=np.int32)
        chunk_lo: list = []
        chunk_hi: list = []
        chunk_n = 0
        CHUNK = 4_000_000

        def flush():
            nonlocal chunk_n
            if chunk_n:
                np.add.at(mat, (np.concatenate(chunk_lo),
                                np.concatenate(chunk_hi)), 1)
                chunk_lo.clear()
                chunk_hi.clear()
                chunk_n = 0

        # df == 2 groups (the common case) fully vectorized
        two = starts[dfs == 2]
        if two.size:
            a = d_sorted[two]
            b = d_sorted[two + 1]
            chunk_lo.append(np.minimum(a, b))
            chunk_hi.append(np.maximum(a, b))
            chunk_n += two.size
        for s, e in zip(starts[dfs > 2], ends[dfs > 2]):
            docs = np.sort(d_sorted[s:e])
            i, j = np.triu_indices(docs.size, k=1)
            chunk_lo.append(docs[i])
            chunk_hi.append(docs[j])
            chunk_n += i.size
            if chunk_n >= CHUNK:
                flush()
        flush()
        ia, ib = np.nonzero(mat)
        if ia.size == 0:
            return empty
        inter = mat[ia, ib].astype(np.int64)
        union = szs[ia] + szs[ib] - inter
        keep = inter >= (threshold - slack) * np.maximum(union, 1)
        ia, ib, inter = ia[keep], ib[keep], inter[keep]
        swap = ids[ia] > ids[ib]  # emit id_a < id_b by VALUE
        a_idx = np.where(swap, ib, ia)
        b_idx = np.where(swap, ia, ib)
        return pd.DataFrame({
            "id_a": ids[a_idx], "id_b": ids[b_idx],
            "sz_a": szs[a_idx].astype(np.int32),
            "sz_b": szs[b_idx].astype(np.int32),
            "inter": inter.astype(np.int32),
        })

    return hdoc.select(id_col, "__blk", "__hs", "__sz").groupBy(
        "__blk").applyInPandas(kernel, out_schema)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    block_col: str | None = None,
    kernel_block_rows: int = 4096,
) -> DataFrame:
    """All pairs with shingle-set Jaccard >= threshold (optionally
    restricted to within-``block_col`` pairs), via EXACT prefix-filter
    candidate generation (AllPairs/PPJoin, Bayardo et al. WWW'07):

    - J(A,B) >= t implies |A∩B| >= ceil(t*|A|), so under ANY global
      total order of shingles the first |A| - ceil(t*|A|) + 1 shingles
      of A and the corresponding prefix of B must intersect. Ordering
      by ascending document frequency puts the globally hot shingles
      (the quadratic killers in an inverted-index join) at the END of
      every document, i.e. OUT of the prefixes.
    - Candidates = inverted-index self-join on prefix shingles only,
      plus the length filter |B| >= t*|A|; exact Jaccard verification
      runs on candidates only. No recall loss — output is identical to
      an all-pairs join, so this replaces the previous within-block
      all-pairs plan without changing any result.

    Hybrid execution (r06): blocks with <= ``kernel_block_rows``
    documents skip the whole prefix machinery — their exact pairwise
    intersection counts come from ONE block-local Arrow kernel over
    the already-hashed sets (_blockwise_intersections: sort the
    block's (hash, doc) postings, emit C(df,2) pair increments per
    shared hash, np.unique-count), so the candidate set never
    materializes in a shuffle and the verify joins never ship the hash
    arrays. Blocks past the cap (the 100-TB regime, where one block
    cannot be one task) take the unchanged AllPairs path. Both paths
    recompute the SAME rounded-Jaccard expression in JVM from exact
    integer (inter, sizes), so the output is bit-identical either way
    (asserted in tests + the DuckDB oracle).

    Returns (id_a, id_b, jaccard).
    """
    # block column rides the shingle projection directly — the former
    # id-equi-join of two projections of the same scan was a pure-waste
    # exchange (r06)
    blk = F.col(block_col) if block_col is not None else F.lit(0)
    sh = df.select(
        F.col(id_col),
        blk.alias("__blk"),
        shingles_col(tokens_col(F.col(text_col)), n).alias("shingles"),
    )

    # Shingle the text ONCE into compact 64-bit key sets (~8 bytes per
    # shingle, ~1% of the raw text) and pin them: every downstream
    # branch (df-count, prefix index, verification) reuses this frame
    # instead of re-running the tokenize+shingle pipeline. A 64-bit
    # collision can only ADD a candidate or merge one shingle pair
    # (p ~ 2^-64 per pair); candidate generation stays a superset.
    hdoc = _NGRAM_HDOC_CACHE.persist(
        sh.select(
            F.col(id_col),
            "__blk",
            F.sort_array(
                F.array_distinct(F.transform("shingles", lambda s: F.xxhash64(s)))
            ).alias("__hs"),
        ).withColumn("__sz", F.size("__hs"))
    )

    # per-block row counts gate the two execution paths. ONE tiny
    # collect (a row per block) decides the split driver-side, so the
    # common all-under-cap case plans ONLY the kernel path (a blind
    # two-path union would carry the whole AllPairs subtree's codegen
    # for an empty input); the collect doubles as the materializing
    # action for the pinned hdoc frame, which every path needs anyway.
    size_rows = hdoc.groupBy("__blk").agg(
        F.count(F.lit(1)).alias("__bn")).collect()
    over = [r["__blk"] for r in size_rows if int(r["__bn"]) > kernel_block_rows]
    under = [r["__blk"] for r in size_rows
             if int(r["__bn"]) <= kernel_block_rows]

    jacc = F.round(
        F.when(F.col("__union") == 0, F.lit(0.0))
        .otherwise(F.col("__inter") / F.col("__union")), 6)

    def kernel_pairs(frame):
        return (
            _blockwise_intersections(frame, id_col, threshold)
            .withColumn("__inter", F.col("inter"))
            .withColumn("__union",
                        F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            .withColumn("jaccard", jacc)
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )

    if not over:
        return kernel_pairs(hdoc)
    # the over-cap blocks become a small broadcast frame, and a
    # null-safe semi / anti join splits hdoc on it (a null block lands
    # on the side its collected size picked): the plan and its generated
    # code stay the same whatever the blocks are, where a literal isin()
    # list would grow with them and make every input a new codegen unit
    over_df = F.broadcast(local_frame(
        hdoc.sparkSession, [(b,) for b in over],
        f"__ob {dict(hdoc.dtypes)['__blk']}"))
    on = hdoc["__blk"].eqNullSafe(over_df["__ob"])
    hdoc_big = hdoc.join(over_df, on, "left_semi")
    small_pairs = (
        kernel_pairs(hdoc.join(over_df, on, "left_anti"))
        if under else None
    )

    tok = hdoc_big.select(F.col(id_col), "__blk", "__sz", F.explode("__hs").alias("__h"))
    dfreq = tok.groupBy("__h").agg(F.count(F.lit(1)).alias("__df"))
    # per-doc prefix of the (df, key)-ascending order:
    # len = |X| - ceil(t*|X|) + 1
    plen = (F.col("__sz") - F.ceil(F.lit(threshold) * F.col("__sz")) + 1).cast("int")
    prefix = (
        tok.join(dfreq, on="__h")
        .groupBy(id_col, "__blk", "__sz")
        .agg(F.sort_array(F.collect_list(F.struct("__df", "__h"))).alias("__o"))
        .select(
            F.col(id_col),
            "__blk",
            "__sz",
            F.explode(F.slice(F.col("__o.__h"), F.lit(1), plen)).alias("__h"),
        )
    )
    a = prefix.select(
        "__blk", F.col("__h"),
        F.col(id_col).alias("id_a"), F.col("__sz").alias("sz_a"),
    )
    b = prefix.select(
        "__blk", F.col("__h"),
        F.col(id_col).alias("id_b"), F.col("__sz").alias("sz_b"),
    )
    cands = (
        a.join(b, on=["__blk", "__h"])
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # length filter: J >= t needs t*max(|A|,|B|) <= |A∩B| <= min
            & (F.least("sz_a", "sz_b") >= F.lit(threshold) * F.greatest("sz_a", "sz_b"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    union = F.col("sz_a") + F.col("sz_b") - inter
    big_pairs = (
        cands.join(
            hdoc_big.select(F.col(id_col).alias("id_a"), F.col("__hs").alias("hs_a"),
                            F.col("__sz").alias("sz_a")),
            on="id_a",
        )
        .join(
            hdoc_big.select(F.col(id_col).alias("id_b"), F.col("__hs").alias("hs_b"),
                            F.col("__sz").alias("sz_b")),
            on="id_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.when(union == 0, F.lit(0.0)).otherwise(inter / union), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    # blocks are disjoint and pairs never cross blocks, so the union
    # is a partition of the exact result set
    if small_pairs is None:
        return big_pairs
    return small_pairs.unionByName(big_pairs)


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str = "text", n: int = 3, k: int = 32
) -> DataFrame:
    """(id, sig array<long>) — k MinHash values per doc. Docs with no
    shingles get an empty signature."""
    sh = with_shingles(df, id_col, text_col, n)
    return minhash_from_shingles(sh, id_col, "shingles", k)


def minhash_from_shingles(
    sh: DataFrame, id_col: str, shingle_col: str = "shingles", k: int = 32,
) -> DataFrame:
    """MinHash signatures from a precomputed (id, shingle set) frame —
    the shared kernel behind text minhash and audio-fingerprint
    near-dup (the shingle DOMAIN differs, the signature plan does not).

    Each row's signature is :func:`minhash_sig_py` over its shingles,
    in one mapInPandas pass: no explode, no groupBy shuffle. Lane i is
    min over shingles s of the 60-bit integer in hex chars 1-15
    (i even) or 17-31 (i odd) of md5('{i // 2}|' || s), the family the
    DuckDB oracles replay as
    min(('0x' || substring(md5(concat('j|', shingle)), pos, 15))::BIGINT).
    Rows with a NULL or empty shingle set get an empty signature."""
    id_type = dict(sh.dtypes)[id_col]

    def work(it):
        for pdf in it:
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "sig": [minhash_sig_py(list(s) if s is not None else [], k)
                        for s in pdf[shingle_col]],
            })

    return sh.select(id_col, shingle_col).mapInPandas(
        work, schema=f"{id_col} {id_type}, sig array<long>")


def minhash_sig_py(shingles, k: int = 32) -> list[int]:
    """MinHash signature of ONE document's shingle-string set: the
    md5 two-lane family (hex chars 1-15 and 17-31 of md5('j|'||s)),
    min per lane. The repo's single MinHash implementation — the frame
    kernel (:func:`minhash_from_shingles`), the audio/video decode
    kernels and the streaming near-dup stage all call it. Empty sets
    yield an empty signature."""
    import hashlib

    if not shingles:
        return []
    n_md5 = (k + 1) // 2
    mins = [None] * k
    for s in shingles:
        b = s.encode("utf-8")
        for j in range(n_md5):
            hexd = hashlib.md5(b"%d|" % j + b).hexdigest()
            for lane in (0, 1):
                i = 2 * j + lane
                if i >= k:
                    break
                v = int(hexd[16 * lane:16 * lane + 15], 16)
                if mins[i] is None or v < mins[i]:
                    mins[i] = v
    return mins


def band_keys(sig, bands: int, rows: int) -> list[str]:
    """LSH band-bucket keys of one signature, bit-equal to
    :func:`lsh_candidate_pairs`'s
    md5(concat_ws(',', slice(sig, b*rows+1, rows))) per band b."""
    import hashlib

    return [
        hashlib.md5(",".join(
            str(int(x)) for x in sig[b * rows:(b + 1) * rows]).encode()).hexdigest()
        for b in range(bands)
    ]


def lsh_candidate_pairs(sig_df: DataFrame, id_col: str, bands: int = 8, rows: int = 4) -> DataFrame:
    """Band the signatures; same (band, band-hash) bucket -> candidate
    pair. Returns distinct (id_a, id_b)."""
    banded = sig_df.filter(F.size("sig") > 0).select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bnd: F.struct(
                    bnd.alias("band"),
                    F.md5(F.concat_ws(",", F.transform(
                        F.slice(F.col("sig"), bnd * rows + 1, rows), lambda x: x.cast("string")
                    ))).alias("bhash"),
                ),
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bhash")
    a = banded.select(F.col("band"), F.col("bhash"), F.col(id_col).alias("id_a"))
    b = banded.select(F.col("band"), F.col("bhash"), F.col(id_col).alias("id_b"))
    return (
        a.join(b, on=["band", "bhash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def lsh_candidate_pairs_driver(recs, bands: int, rows: int) -> set:
    """Driver twin of :func:`lsh_candidate_pairs` over collected
    ``(id, sig)`` rows: same band buckets (:func:`band_keys`, an exact
    string/int operation over the collected signature longs), same
    ``id_a < id_b`` rule, same distinct set. Used by the bounded-driver
    near-dup fast paths; bucket pair volume is the same as the
    distributed join's."""
    return capped_block_pairs_driver(
        ((rid, (b, bh)) for rid, sig in recs
         if sig is not None and len(sig)  # F.size("sig") > 0
         for b, bh in enumerate(band_keys(sig, bands, rows))),
        None)


def capped_block_pairs_driver(rows_, cap: int | None) -> set:
    """Driver twin of the capped block self-join pattern
    (``block.join(sized-block filter).selfjoin -> id_a < id_b ->
    distinct``) over collected ``(id, block)`` rows: groups with
    fewer than 2 rows or more than ``cap`` rows emit nothing; the
    block values themselves were computed by the JVM before the
    collect, so no expression is twinned."""
    from collections import defaultdict

    groups: dict = defaultdict(list)
    for rid, blk in rows_:
        groups[blk].append(rid)
    pairs: set = set()
    for g in groups.values():
        if len(g) < 2 or (cap is not None and len(g) > cap):
            continue
        for x in range(len(g)):
            for y in range(x + 1, len(g)):
                a, b2 = g[x], g[y]
                if a == b2:
                    continue
                pairs.add((a, b2) if a < b2 else (b2, a))
    return pairs


def local_pairs_frame(spark, pairs, id_type: str):
    """(id_a, id_b) LocalRelation from a driver pair set — sorted for
    deterministic physical row order; its small known size lets the
    planner broadcast it into the verify joins, so the fingerprint
    frame is never shuffled. Empty sets are LocalRelations too."""
    return local_frame(spark, sorted(pairs), f"id_a {id_type}, id_b {id_type}")


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    k: int = 32,
    bands: int = 8,
    rows: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """Full near-dup pipeline: shingle -> minhash -> band -> bucket
    join -> exact-Jaccard verification of candidates only.
    Returns (id_a, id_b, jaccard >= threshold).

    Under the ``text_lsh`` cap the signature frame is collected
    (driver_rows) and the banding/bucket self-join/distinct runs
    driver-side (lsh_candidate_pairs_driver — the md5 banding is the
    only recomputed expression, an exact string op); the
    LocalRelation candidate set broadcasts its pair + sh_a
    intermediate into the verify joins so the shingle frame is never
    shuffled. Above the cap the distributed plans are unchanged."""
    assert bands * rows == k
    sh = with_shingles(df, id_col, text_col, n)
    sigs = minhash_from_shingles(sh, id_col, "shingles", k)
    pdf = driver_rows(sigs, "text_lsh")
    if pdf is not None:
        pairs = lsh_candidate_pairs_driver(
            list(zip(pdf[id_col], pdf["sig"])), bands, rows)
        cands = local_pairs_frame(df.sparkSession, pairs,
                                  dict(df.dtypes)[id_col])
    else:
        cands = lsh_candidate_pairs(sigs, id_col, bands, rows)
    paired = cands.join(
        sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a")),
        on="id_a")
    if pdf is not None:
        paired = F.broadcast(paired)
    verified = (
        paired
        .join(sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b")), on="id_b")
        .withColumn("jaccard", F.round(jaccard_col(F.col("sh_a"), F.col("sh_b")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


def repeated_ngram_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 8,
    hot_cap: int = 64,
) -> DataFrame:
    """Document pairs sharing at least one EXACT n-token span — the
    substring-level exact-duplication signal (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better":
    training corpora contain verbatim repeated passages inside
    otherwise-distinct documents, which document-level MinHash/Jaccard
    similarity misses when the shared span is a small fraction of both
    docs). Returns (id_a, id_b, shared_spans).

    Plan shape (no all-pairs join anywhere):
    - distinct n-gram spans per doc via the shared shingle expression
      (pure JVM higher-order functions);
    - span -> 60-bit key = md5-prefix (the repo's exact,
      engine-portable hash family — the DuckDB oracle reproduces it
      bit-for-bit; a collision can only ADD a pair, p ~ 2^-60);
    - hot-span cap: spans present in more than ``hot_cap`` documents
      are boilerplate (licenses, headers) and quadratic killers — they
      are excluded from pairing, the standard published mitigation.
      The exclusion is on DOCUMENT frequency, so it is deterministic
      and partitioning-independent;
    - inverted-index self-join on the surviving span keys, id_a <
      id_b, then one groupBy counting shared spans per pair. Candidate
      volume is bounded by sum over spans of df^2 <= hot_cap * total
      span occurrences — linear in corpus size for fixed hot_cap.

    Under the ``ngram_spans`` cap on (doc, span) rows the pairing
    runs driver-side on the collected span keys; the cap counts the
    rows collected, so a few very long documents cannot blow the
    driver.
    """
    spans = with_shingles(df, id_col, text_col, n).select(
        F.col(id_col), F.explode("shingles").alias("__g")
    ).select(
        F.col(id_col),
        F.conv(F.substring(F.md5("__g"), 1, 15), 16, 10).cast("long").alias("__h"),
    )
    # bounded-driver fast path (the span keys are JVM-computed before
    # the collect): the doc-frequency cap, the inverted-index self-join
    # and the shared-span count are all exact integer set logic,
    # grouped in numpy instead of three exchanges. Above the cap the
    # distributed plan is unchanged.
    pdf = driver_rows(spans, "ngram_spans")
    if pdf is not None:
        h = pdf["__h"].to_numpy()
        ids = np.empty(len(pdf), dtype=object)
        ids[:] = list(pdf[id_col])
        counts: dict[tuple, int] = {}
        order = np.argsort(h, kind="stable")
        sk = h[order]
        bounds = np.flatnonzero(np.r_[True, sk[1:] != sk[:-1], True])
        for s, e in zip(bounds[:-1], bounds[1:]):
            m = int(e - s)
            if m < 2 or m > hot_cap:
                continue
            g = order[s:e]
            for x in range(m):
                for y in range(x + 1, m):
                    a, b = ids[g[x]], ids[g[y]]
                    if a == b:
                        continue
                    key = (a, b) if a < b else (b, a)
                    counts[key] = counts.get(key, 0) + 1
        id_type = dict(df.dtypes)[id_col]
        return local_frame(
            df.sparkSession,
            sorted((a, b, c) for (a, b), c in counts.items()),
            f"id_a {id_type}, id_b {id_type}, shared_spans long")
    dfreq = spans.groupBy("__h").agg(F.count(F.lit(1)).alias("__df"))
    cold = spans.join(dfreq.filter(F.col("__df") <= hot_cap), on="__h")
    a = cold.select(F.col(id_col).alias("id_a"), "__h")
    b = cold.select(F.col(id_col).alias("id_b"), "__h")
    return (
        a.join(b, on="__h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_spans"))
    )


def simhash64(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """64-bit SimHash over whitespace tokens: per-token 64-bit hash,
    bit-position vote by token frequency, sign -> fingerprint bit.
    Arrow-batched pandas UDF (bit-matrix numpy kernel); pairs within
    small Hamming distance are near-dups."""

    @F.pandas_udf("long")
    def sh(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.int64)
        bit_idx = np.arange(64, dtype=np.uint64)
        for i, t in enumerate(texts):
            toks = str(t or "").lower().split()
            if not toks:
                continue
            hashes = np.array(
                [np.uint64(hash_md5_64(tok)) for tok in toks], dtype=np.uint64
            )
            bits = ((hashes[:, None] >> bit_idx[None, :]) & np.uint64(1)).astype(np.int64)
            votes = (2 * bits - 1).sum(axis=0)
            fp = np.uint64(0)
            for b in np.nonzero(votes > 0)[0]:
                fp |= np.uint64(1) << np.uint64(b)
            out[i] = np.int64(fp)
        return pd.Series(out)

    return df.withColumn("simhash", sh(F.col(text_col)))


def hash_md5_64(s: str) -> int:
    """First 15 hex digits of md5 as int (same family as the JVM-side
    minhash hash)."""
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_neardup_pairs(df: DataFrame, id_col: str, text_col: str = "text",
                          max_hamming: int = 3, prefix_bits: int = 16,
                          block_cap: int = 4096) -> DataFrame:
    """SimHash near-dup pairs blocked on the top ``prefix_bits`` bits
    (candidates must agree on the prefix — cheap LSH-ish blocking),
    verified by full Hamming distance.

    A bit-prefix is LOW-entropy blocking (block size is not bounded by
    the true duplicate-class size), so the in-block join is capped:
    blocks hotter than ``block_cap`` are skipped and their
    simhash-EXACT pairs restored by a linear equi-join on the full
    hash, same contract as media.image_neardup_pairs — a 1..max_hamming
    pair inside an over-cap block is missed; hamming = 0 pairs are
    always exact."""
    s = simhash64(df, id_col, text_col).select(id_col, "simhash")
    s = s.withColumn("blk", F.shiftrightunsigned(F.col("simhash"), 64 - prefix_bits))
    cold = s.join(
        s.groupBy("blk").count().filter(F.col("count") <= block_cap).select("blk"),
        on="blk",
    )
    a = cold.select(F.col("blk"), F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"))
    b = cold.select(F.col("blk"), F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"))
    near = (
        a.join(b, on="blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming64(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    pa = s.select("simhash", F.col(id_col).alias("id_a"))
    pb = s.select("simhash", F.col(id_col).alias("id_b"))
    exact = (
        pa.join(pb, on="simhash")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(0).alias("hamming"))
    )
    return (near.unionByName(exact)
            .groupBy("id_a", "id_b").agg(F.min("hamming").alias("hamming")))


def cosine_cols(a: Column, b: Column) -> Column:
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x))
    return F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(dot / (na * nb))


def embedding_neardup_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.95,
    block_col: str | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicates within blocks:
    (id_a, id_b, cosine >= threshold), SemDeDup-style.

    Scale design: blocks are semantic clusters (here: the label
    column; in production: k-means cells). Each block is processed by
    ONE Arrow-batched applyInPandas kernel that L2-normalizes the
    block's vectors and takes the upper triangle of a single numpy
    GEMM — candidate pairs never materialize in a shuffle; only the
    >= threshold survivors are emitted. The shuffle moves each vector
    once (grouped by block), not once per pair as a self-join would.

    Why not LSH candidate routing: hyperplane LSH prunes only for
    HIGH thresholds. P(two vectors at angle θ share one k-bit sign
    bucket) = (1-θ/π)^k; at cos≈0.35-0.5 (θ/π≈0.35) the per-table
    recall is a few percent, and driving recall to ~1 requires enough
    OR-ed tables that the union of buckets regenerates the all-pairs
    set. Cluster-blocked exact GEMM is the published 100-TB practice
    (SemDeDup, Abbas et al. 2023) for this regime; a hot block is
    bounded by the clustering fan-out, not by a skewed join key.

    The GEMM is a CANDIDATE generator (emitted with a small slack
    below the threshold): the reported cosine and the final threshold
    decision are recomputed per candidate with the sequential
    ``zip_with`` expression and the tie-stable ``round(x*1e6)/1e6``
    idiom, so the output is bit-aligned with a sequential-loop oracle
    (BLAS reassociation shifts the double by ~1e-12, which can flip a
    rounding boundary — observed once in ~400 pairs at sf0.1).
    """
    import pandas as pd  # noqa: F811 (kernel-local, workers import lazily)

    blk = F.col(block_col) if block_col else F.lit(0)
    s = df.select(
        blk.alias("__blk"),
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    id_dtype = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"id_a {id_dtype}, id_b {id_dtype}, "
        "__va array<double>, __vb array<double>"
    )
    slack = 1e-6

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["__id"].to_numpy()
        vecs = pdf["__v"].to_numpy()
        mat = np.asarray(pdf["__v"].tolist(), dtype=np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        norms[norms == 0] = 1.0  # zero vectors -> cosine 0 with all
        unit = mat / norms[:, None]
        cos = unit @ unit.T
        zero = (mat * mat).sum(axis=1) == 0
        cos[zero, :] = 0.0
        cos[:, zero] = 0.0
        iu, ju = np.triu_indices(len(ids), k=1)
        c = cos[iu, ju]
        keep = c >= threshold - slack
        ia_idx, ib_idx = iu[keep], ju[keep]
        swap = ids[ia_idx] > ids[ib_idx]  # emit id_a < id_b always
        a_idx = np.where(swap, ib_idx, ia_idx)
        b_idx = np.where(swap, ia_idx, ib_idx)
        # candidate pairs carry their own vectors out of the kernel, so
        # the bit-stable re-verify below never joins (or shuffles) the
        # full vector table — the r03 verify path joined two full
        # projections of the corpus by id just to fetch a few thousand
        # candidate vectors the GEMM already had in memory
        return pd.DataFrame({"id_a": ids[a_idx], "id_b": ids[b_idx],
                             "__va": vecs[a_idx], "__vb": vecs[b_idx]})

    cands = s.groupBy("__blk").applyInPandas(kernel, out_schema)
    cos6 = F.round(cosine_cols(F.col("__va"), F.col("__vb")) * F.lit(1e6)) / F.lit(1e6)
    return (
        cands.withColumn("cosine", cos6)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _lloyd(X: np.ndarray, k: int, n_iters: int, seed: int) -> np.ndarray:
    """Seeded spherical k-means (Lloyd's) on unit-normalized rows;
    returns (k, d) unit centroids. Pure numpy, runs on a bounded
    sample only."""
    rng = np.random.default_rng(seed)
    # sort rows so the result depends only on the sampled SET, never
    # on Spark partition/arrival order — this is what lets a DuckDB
    # oracle regenerate the identical centroids from the same rows
    X = X[np.lexsort(X.T[::-1])]
    norms = np.linalg.norm(X, axis=1)
    X = X[norms > 0] / norms[norms > 0, None]
    k = min(k, len(X))
    if k < 1:
        return np.zeros((1, X.shape[1] if X.ndim == 2 else 1))
    C = X[rng.choice(len(X), size=k, replace=False)]
    for _ in range(n_iters):
        assign = np.argmax(X @ C.T, axis=1)
        newC = np.zeros_like(C)
        for j in range(k):
            members = X[assign == j]
            newC[j] = members.mean(axis=0) if len(members) else X[rng.integers(len(X))]
        n = np.linalg.norm(newC, axis=1)
        n[n == 0] = 1.0
        newC /= n[:, None]
        if np.allclose(newC, C):
            C = newC
            break
        C = newC
    return C


def kmeans_blocks(
    df: DataFrame, id_col: str, vec_col: str, n_blocks: int = 16,
    max_block_size: int = 100_000, n_iters: int = 20,
    sample_cap: int = 100_000, seed: int = 42, max_split_rounds: int = 5,
) -> DataFrame:
    """Seeded distributed k-means block assigner for
    ``embedding_neardup_pairs`` — the SemDeDup cell assignment the
    round-2 docstring prescribed for unlabeled embeddings.

    Scale design: Lloyd's runs on ONE bounded seeded sample
    (``sample_cap`` rows to the driver); cluster assignment is a
    single Arrow pass with the (k, d) centroid matrix broadcast in
    the UDF closure — no shuffle, no iteration over the full table.
    Cells larger than ``max_block_size`` (one cell = one
    ``applyInPandas`` group = one executor's memory) are re-clustered
    with a sub-k-means sized ceil(size/cap), recursively up to
    ``max_split_rounds``; a cell that refuses to split (e.g. one
    massive point mass — spherical k-means cannot separate identical
    directions) falls back to an exact positional split so the
    memory bound ALWAYS holds. The positional fallback can separate true
    near-duplicates into different blocks — exactly the degenerate
    case the exact-dedup pass (``exact_duplicates``) already removes
    upstream, which is the documented SemDeDup pipeline order.

    Returns ``df`` plus a string ``block`` column.
    """
    from pyspark.sql.functions import pandas_udf

    def _assign_col(centroids: np.ndarray):
        C = centroids

        @pandas_udf("int")
        def assign_udf(v: pd.Series) -> pd.Series:
            M = np.asarray(v.tolist(), dtype=np.float64)
            # argmax over dot(v, C_i) — |v| is a common positive
            # factor, so normalizing the row is unnecessary. Dots are
            # quantized to 1e-6 with HALF-AWAY rounding (matching SQL
            # round()) so an engine's summation-order 1e-13 wiggle
            # can't flip the assignment vs a sequential-loop oracle;
            # argmax first-wins = lowest centroid index on ties.
            D = M @ C.T
            D6 = np.copysign(np.floor(np.abs(D) * 1e6 + 0.5), D)
            return pd.Series(np.argmax(D6, axis=1))

        return assign_udf

    def _sample(frame: DataFrame, n_rows: int | None = None) -> np.ndarray:
        if n_rows is None:
            n_rows = frame.count()
        frac = min(1.0, 1.05 * sample_cap / max(n_rows, 1))
        pdf = (
            frame.select(F.col(vec_col).cast("array<double>").alias("v"))
            .sample(False, frac, seed=seed)
            .limit(sample_cap)
            .toPandas()
        )
        return np.asarray(pdf["v"].tolist(), dtype=np.float64)

    C0 = _lloyd(_sample(df), n_blocks, n_iters, seed)
    out = df.withColumn(
        "block", _assign_col(C0)(F.col(vec_col).cast("array<double>")).cast("string")
    ).persist()
    spark = df.sparkSession
    for round_i in range(max_split_rounds):
        oversized = (
            out.groupBy("block").count()
            .filter(F.col("count") > max_block_size)
            .collect()
        )
        if not oversized:
            break
        # ALL oversized cells handled in one batch per round: one
        # hash-Bernoulli sampling pass keyed by block (deterministic,
        # partition-independent), driver-side Lloyd's per cell on the
        # tiny samples, then ONE Arrow assignment pass with the
        # per-cell centroid map in the UDF closure. Job count per
        # round is O(1) in the number of oversized cells — the r03
        # version launched a sample job per cell (a job storm with
        # thousands of hot cells).
        round_seed = seed + 7919 * (round_i + 1)
        names = [r["block"] for r in oversized]
        k_subs = {r["block"]: int(np.ceil(int(r["count"]) / max_block_size)) + 1
                  for r in oversized}
        fr_rows = [(r["block"],
                    int(min(1.0, 1.05 * sample_cap / int(r["count"])) * 1_000_000))
                   for r in oversized]
        thr_df = local_frame(spark, fr_rows, "block string, __thr long")
        hash_col = F.pmod(F.xxhash64(F.col(id_col), F.lit(round_seed)),
                          F.lit(1_000_000))
        samp = (
            out.join(F.broadcast(thr_df), "block")
            .filter(hash_col < F.col("__thr"))
            .select("block", F.col(vec_col).cast("array<double>").alias("__v"))
            .toPandas()
        )
        cent_map = {}
        for blk, g in samp.groupby("block"):
            X = np.asarray(g["__v"].tolist(), dtype=np.float64)
            cent_map[blk] = _lloyd(X, k_subs[blk], n_iters, round_seed)
        k_map = dict(k_subs)

        # factory binds THIS round's maps: the plan (and a cache-
        # evicted recomputation) must not see a later round's centroids
        # after the loop rebinds the local names
        def _make_sub_udf(_cents: dict, _ks: dict):
            @pandas_udf("string")
            def sub_udf(blk: pd.Series, h: pd.Series, v: pd.Series) -> pd.Series:
                res = np.empty(len(blk), dtype=object)
                bvals = blk.to_numpy()
                hvals = h.to_numpy()
                for b in pd.unique(bvals):
                    m = bvals == b
                    C = _cents.get(b)
                    if C is None or len(C) < 2:
                        # point-mass fallback: deterministic hash split
                        # (same pmod(xxhash64(id), k) as the r03 column)
                        res[m] = (hvals[m] % _ks[b]).astype(str)
                    else:
                        M = np.asarray(v[m].tolist(), dtype=np.float64)
                        D = M @ C.T
                        D6 = np.copysign(np.floor(np.abs(D) * 1e6 + 0.5), D)
                        res[m] = np.argmax(D6, axis=1).astype(str)
                return pd.Series(res)

            return sub_udf

        sub = _make_sub_udf(cent_map, k_map)(
            F.col("block"), F.xxhash64(F.col(id_col)),
            F.col(vec_col).cast("array<double>"))
        old, out = out, out.withColumn(
            "block",
            F.when(F.col("block").isin(names),
                   F.concat_ws(".", F.col("block"), sub))
            .otherwise(F.col("block")),
        ).persist()
        out.count()
        old.unpersist()
    # hard guarantee: any cell still over the cap (adversarial point
    # mass that spherical k-means keeps refusing to split) gets an
    # EXACT positional split — rank within the cell by id, sub-cell =
    # floor(rank/cap). Deterministic and exactly bounded, unlike a
    # hash split whose multinomial sizes overshoot the cap. The sort
    # is per-oversized-cell only (Spark's sort spills), a one-off
    # fallback path, never the common case.
    still = (
        out.groupBy("block").count()
        .filter(F.col("count") > max_block_size)
        .collect()
    )
    if still:
        from pyspark.sql import Window

        names = [r["block"] for r in still]
        rn = F.row_number().over(
            Window.partitionBy("block").orderBy(id_col)
        )
        sub = F.floor((rn - 1) / max_block_size).cast("string")
        old, out = out, out.withColumn(
            "block",
            F.when(
                F.col("block").isin(names),
                F.concat_ws(".", F.col("block"), sub),
            ).otherwise(F.col("block")),
        ).persist()
        out.count()
        old.unpersist()
    return out
