"""kdq-tree drift detection (Dasu et al. 2006), Spark-first.

Semantics reproduce the reference
(/root/reference/menelaus/partitioners/KDQTreePartitioner.py and
/root/reference/menelaus/data_drift/kdq_tree.py):

- recursive midpoint splits, axis = depth % n_features; split stops
  when n <= count_ubound, OR the sub-array has <= count_ubound
  distinct values (flattened, np.unique semantics), OR the new cell
  size <= int(cutpoint_proportion_lbound * ptp(full_data[:, axis]))
  (KDQTreePartitioner.py:298-327, 58-66);
- leaves enumerated in left-first DFS order (:311-326);
- empirical leaf distribution with Dasu smoothing
  (c + 0.5)/(total + L/2) (:136-150);
- KL(build || test) over leaf histograms (:115-134);
- bootstrap critical value: 500 draws of 2*sample_size leaf indices
  from the reference distribution, halved, smoothed, KL per pair,
  quantile(1 - alpha, method="nearest") (kdq_tree.py:221-264). We draw
  the two halves as two independent multinomials over leaf counts —
  distributionally identical to drawing 2n indices and splitting
  (i.i.d. draws), O(leaves) instead of O(n) per bootstrap, with an
  explicit per-draw seed (the reference draws unseeded; its tests seed
  numpy globally, test_kdq_tree.py:21,47);
- batch protocol: first reference builds the tree; each test batch is
  filled with reset=True; KL > critical => drift and ref_data := test
  batch; the next update() rebuilds from ref_data
  (kdq_tree.py:106-149, 483-511).

Spark-first split: the TREE is built on the driver from a bounded
seeded sample of the reference (the tree has O(n / count_ubound)
nodes; a sample bounds driver memory at 10^12 rows) and broadcast as
four flat int/float arrays. Leaf ASSIGNMENT is a vectorized
iterative-descent kernel inside an Arrow pandas UDF; leaf COUNTS are a
distributed groupBy. Only O(leaves) scalars ever reach the driver.
"""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from menelaus_spark.functions.distances import dasu_smooth, kl_divergence
from menelaus_spark.verdicts import driver_rows


class KDQTreePartitioner:
    """Flat-array kdq-tree. ``build`` runs on driver-side numpy;
    ``assign_leaves`` is the vectorized kernel shared by tests and the
    distributed fill UDF."""

    def __init__(self, count_ubound: int = 200, cutpoint_proportion_lbound: float = 0.25):
        self.count_ubound = count_ubound
        self.cutpoint_proportion_lbound = cutpoint_proportion_lbound
        # flat node arrays: axis == -1 marks a leaf
        self.axis_arr: np.ndarray | None = None
        self.mid_arr: np.ndarray | None = None
        self.left_arr: np.ndarray | None = None
        self.right_arr: np.ndarray | None = None
        self.leaf_id_arr: np.ndarray | None = None  # node index -> leaf ordinal
        self.depth_arr: np.ndarray | None = None
        self.build_counts: np.ndarray | None = None  # per-node build counts
        self.n_leaves = 0

    def build(self, data: np.ndarray):
        data = np.asarray(data, dtype=np.float64)
        if data.ndim <= 1 or data.size == 0:
            return None
        n, m = data.shape
        min_cut = [
            int(self.cutpoint_proportion_lbound * np.ptp(data[:, a])) for a in range(m)
        ]
        nodes = {"axis": [], "mid": [], "left": [], "right": [], "leaf": [], "depth": [], "count": []}
        old_limit = sys.getrecursionlimit()
        sys.setrecursionlimit(max(old_limit, 10000))
        try:
            self._build_rec(data, min_cut, 0, nodes)
        finally:
            sys.setrecursionlimit(old_limit)
        self.axis_arr = np.array(nodes["axis"], dtype=np.int64)
        self.mid_arr = np.array(nodes["mid"], dtype=np.float64)
        self.left_arr = np.array(nodes["left"], dtype=np.int64)
        self.right_arr = np.array(nodes["right"], dtype=np.int64)
        self.leaf_id_arr = np.array(nodes["leaf"], dtype=np.int64)
        self.depth_arr = np.array(nodes["depth"], dtype=np.int64)
        self.build_counts = np.array(nodes["count"], dtype=np.int64)
        self.n_leaves = int((self.axis_arr == -1).sum())
        return self

    def _build_rec(self, data, min_cut, depth, nodes) -> int:
        n, m = data.shape
        axis = depth % m
        col = data[:, axis]
        lo = col.min()
        midpoint = lo + (np.ptp(col) / 2.0)
        new_cell_size = midpoint - lo
        idx = len(nodes["axis"])
        # reserve slot (pre-order node ids; leaf ordinals assigned in
        # left-first DFS completion order == reference leaves order)
        for k in nodes:
            nodes[k].append(None)
        if (
            n <= self.count_ubound
            or np.unique(data).size <= self.count_ubound
            or new_cell_size <= min_cut[axis]
        ):
            leaf_ord = sum(1 for a in nodes["axis"] if a == -1)
            nodes["axis"][idx] = -1
            nodes["mid"][idx] = 0.0
            nodes["left"][idx] = -1
            nodes["right"][idx] = -1
            nodes["leaf"][idx] = leaf_ord
            nodes["depth"][idx] = depth
            nodes["count"][idx] = n
            return idx
        lower = data[col <= midpoint]
        upper = data[col > midpoint]
        left_idx = self._build_rec(lower, min_cut, depth + 1, nodes)
        right_idx = self._build_rec(upper, min_cut, depth + 1, nodes)
        nodes["axis"][idx] = axis
        nodes["mid"][idx] = float(midpoint)
        nodes["left"][idx] = left_idx
        nodes["right"][idx] = right_idx
        nodes["leaf"][idx] = -1
        nodes["depth"][idx] = depth
        nodes["count"][idx] = n
        return idx

    def tree_arrays(self) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
        return self.axis_arr, self.mid_arr, self.left_arr, self.right_arr, self.leaf_id_arr

    @staticmethod
    def assign_leaves_arrays(X, axis_arr, mid_arr, left_arr, right_arr, leaf_id_arr) -> np.ndarray:
        """Vectorized iterative descent: O(depth) passes over the batch,
        no per-row Python. Static so a pandas UDF can close over the
        broadcast arrays without pickling the partitioner."""
        X = np.asarray(X, dtype=np.float64)
        node = np.zeros(len(X), dtype=np.int64)
        active = axis_arr[node] >= 0
        while active.any():
            cur = node[active]
            a = axis_arr[cur]
            vals = X[active, :][np.arange(a.size), a]
            node[active] = np.where(vals > mid_arr[cur], right_arr[cur], left_arr[cur])
            active = axis_arr[node] >= 0
        return leaf_id_arr[node]

    def assign_leaves(self, X) -> np.ndarray:
        return self.assign_leaves_arrays(X, *self.tree_arrays())

    def fill_counts(self, X) -> np.ndarray:
        """Leaf counts for a (local numpy) batch."""
        leaves = self.assign_leaves(X)
        return np.bincount(leaves, minlength=self.n_leaves).astype(np.int64)

    def leaf_counts_build(self) -> np.ndarray:
        counts = np.zeros(self.n_leaves, dtype=np.int64)
        mask = self.axis_arr == -1
        counts[self.leaf_id_arr[mask]] = self.build_counts[mask]
        return counts

    def kl_distance(self, counts1, counts2) -> float:
        return kl_divergence(dasu_smooth(counts1), dasu_smooth(counts2))

    def node_counts_from_leaves(self, leaf_counts: np.ndarray) -> np.ndarray:
        """Propagate leaf counts up to every node (post-order sum)."""
        out = np.zeros(len(self.axis_arr), dtype=np.int64)
        # nodes are pre-order; children have larger indices -> reverse pass
        for i in range(len(self.axis_arr) - 1, -1, -1):
            if self.axis_arr[i] == -1:
                out[i] = leaf_counts[self.leaf_id_arr[i]]
            else:
                out[i] = out[self.left_arr[i]] + out[self.right_arr[i]]
        return out

    def tree_frame(
        self,
        ref_leaf_counts: np.ndarray,
        test_leaf_counts: np.ndarray | None = None,
        input_cols: list[str] | None = None,
        max_depth: int | None = None,
    ) -> pd.DataFrame:
        """Node-per-row tree metadata frame with the Kulldorff Spatial
        Scan Statistic per node — parity with ``to_plotly_dataframe``
        (KDQTreePartitioner.py:152-233): kss = KL(ref_node_dist ||
        test_node_dist) on the 2-bin (node, complement) histograms."""
        ref_nodes = self.node_counts_from_leaves(ref_leaf_counts)
        parent = np.full(len(self.axis_arr), -1, dtype=np.int64)
        for i, (l, r) in enumerate(zip(self.left_arr, self.right_arr)):
            if l >= 0:
                parent[l] = i
            if r >= 0:
                parent[r] = i
        names = []
        for i, a in enumerate(self.axis_arr):
            if a == -1:
                names.append("leaf")
            elif input_cols is not None:
                names.append(str(input_cols[a]))
            else:
                names.append(f"axis_{a}")
        df = pd.DataFrame(
            {
                "name": names,
                "idx": np.arange(len(self.axis_arr)),
                "parent_idx": parent,
                "cell_count": ref_nodes,
                "depth": self.depth_arr,
            }
        )
        if test_leaf_counts is not None:
            test_nodes = self.node_counts_from_leaves(test_leaf_counts)
            df["count_diff"] = test_nodes - ref_nodes
            ref_max, test_max = ref_nodes.max(), test_nodes.max()
            kss = [
                kl_divergence(
                    dasu_smooth(np.array([rc, ref_max - rc])),
                    dasu_smooth(np.array([tc, test_max - tc])),
                )
                for rc, tc in zip(ref_nodes, test_nodes)
            ]
            df["kss"] = kss
        if max_depth is not None:
            df = df[df["depth"] <= max_depth]
        return df


# Trees up to this many nodes compile to a pure-JVM CASE expression
# (leaf_assign_col): no ArrowEvalPython node, no tree broadcast, no
# Python workers in the leaf-count job. Bigger trees keep the
# Arrow-batched pandas UDF kernel: a nested CASE beyond a few hundred
# branches blows up Catalyst planning/codegen (measured: a ~1700-node
# lineitem tree took the kdq entry from 2.2 s to 25 s before this cap
# was tightened from 4096). Both paths are bit-identical (asserted in
# tests).
LEAF_EXPR_MAX_NODES = 256


def leaf_assign_col(tree: KDQTreePartitioner, feature_cols: list[str]):
    """Compile the flat-array tree descent into a nested JVM CASE
    expression over ``feature_cols`` — semantically identical to
    :meth:`KDQTreePartitioner.assign_leaves_arrays`: numpy's
    ``vals > mid`` sends NaN LEFT (False), but Spark orders NaN above
    every double, so the comparison carries an explicit ``~isnan``
    guard; NULLs fall to the otherwise (left) branch on both paths."""
    axis_arr, mid_arr, left_arr, right_arr, leaf_id_arr = tree.tree_arrays()

    def rec(i: int):
        a = int(axis_arr[i])
        if a < 0:
            return F.lit(int(leaf_id_arr[i]))
        col = F.col(feature_cols[a])
        cond = (col > F.lit(float(mid_arr[i]))) & ~F.isnan(col)
        return F.when(cond, rec(int(right_arr[i]))).otherwise(rec(int(left_arr[i])))

    old_limit = sys.getrecursionlimit()
    sys.setrecursionlimit(max(old_limit, 10000))
    try:
        return rec(0).cast("long")
    finally:
        sys.setrecursionlimit(old_limit)


def _leaf_col_or_udf(df: DataFrame, feature_cols: list[str],
                     tree: KDQTreePartitioner):
    """The leaf-ordinal Column for a frame: JVM CASE expression under
    the node cap, Arrow-batched pandas UDF above it."""
    if len(tree.axis_arr) <= LEAF_EXPR_MAX_NODES:
        return leaf_assign_col(tree, feature_cols)
    bc = df.sparkSession.sparkContext.broadcast(tree.tree_arrays())

    @F.pandas_udf("long")
    def leaf_udf(*cols: pd.Series) -> pd.Series:
        X = np.column_stack([c.to_numpy(dtype=np.float64) for c in cols])
        return pd.Series(KDQTreePartitioner.assign_leaves_arrays(X, *bc.value))

    return leaf_udf(*[F.col(c) for c in feature_cols])


def distributed_leaf_counts(
    df: DataFrame, feature_cols: list[str], tree: KDQTreePartitioner
) -> np.ndarray:
    """Distributed fill: assign leaves via the compiled JVM expression
    (pandas-UDF fallback above LEAF_EXPR_MAX_NODES), count with one
    grouped aggregation, return the dense O(leaves) vector."""
    from menelaus_spark.operators.histograms import salted_count

    leaves = df.select(_leaf_col_or_udf(df, feature_cols, tree).alias("leaf"))
    counts_df = salted_count(leaves, ["leaf"])
    counts = np.zeros(tree.n_leaves, dtype=np.int64)
    for row in counts_df.collect():
        counts[int(row["leaf"])] = int(row["count"])
    return counts


def distributed_leaf_counts_by_group(
    df: DataFrame,
    group_col: str,
    feature_cols: list[str],
    tree: KDQTreePartitioner,
    groups: list,
) -> dict:
    """Leaf counts for MANY batches in ONE grouped pass: assign leaves
    as :func:`distributed_leaf_counts` does, count (group, leaf) over
    the rows whose ``group_col`` is in ``groups``, return {group: dense
    count vector}. Identical exact counts, one pass for any number of
    batches; the ValidationSuite calls it with the partition value
    cast to a string column."""
    from menelaus_spark.operators.histograms import salted_count

    leaves = df.filter(F.col(group_col).isin(list(groups))).select(
        F.col(group_col).alias("__g"),
        _leaf_col_or_udf(df, feature_cols, tree).alias("leaf"),
    )
    rows = salted_count(leaves, ["__g", "leaf"]).collect()
    out = {g: np.zeros(tree.n_leaves, dtype=np.int64) for g in groups}
    for r in rows:
        out[r["__g"]][int(r["leaf"])] = int(r["count"])
    return out


def collect_group_features(
    df: DataFrame,
    group_col: str,
    feature_cols: list[str],
    per_group_cap: int,
) -> dict | None:
    """One bounded Arrow collect of (group, features) for driver-side
    tree builds + leaf counts: returns {group: float64 ndarray} when
    every group fits under ``per_group_cap`` (so a caller's tree
    "sample" is the FULL group — the regime where
    _collect_build_sample takes no seeded subsample and the driver
    build is bit-identical) and the total fits the ``kdq_group_rows``
    cap (driver_rows); None otherwise, in which case the caller runs
    the distributed chain unchanged. Every non-null group present is
    collected, so the keys name the groups and the caller needs no
    separate distinct job."""
    pdf = driver_rows(
        df.select(F.col(group_col).alias("__g"), *feature_cols), "kdq_group_rows")
    if pdf is None:
        return None
    out = {}
    for g, sub in pdf.groupby("__g"):
        if len(sub) > per_group_cap:
            return None
        out[g] = sub[list(feature_cols)].to_numpy(dtype=np.float64)
    return out


def bootstrap_critical_kld(
    ref_counts: np.ndarray,
    sample_size: int,
    alpha: float,
    bootstrap_samples: int,
    seed: int = 42,
) -> float:
    """Critical KL value via seeded multinomial bootstrap
    (kdq_tree.py:221-264 semantics; see module docstring for the
    multinomial equivalence argument)."""
    ref_dist = dasu_smooth(np.asarray(ref_counts, dtype=np.float64))
    dists = np.empty(bootstrap_samples, dtype=np.float64)
    for b in range(bootstrap_samples):
        rng = np.random.default_rng([seed, b])
        h1 = rng.multinomial(sample_size, ref_dist)
        h2 = rng.multinomial(sample_size, ref_dist)
        dists[b] = kl_divergence(dasu_smooth(h1), dasu_smooth(h2))
    return float(np.quantile(dists, 1 - alpha, method="nearest"))


class KdqTreeBatch:
    """Batch kdq-tree detector over Spark DataFrames
    (kdq_tree.py:384-511 protocol; see module docstring)."""

    def __init__(
        self,
        alpha: float = 0.01,
        bootstrap_samples: int = 500,
        count_ubound: int = 100,
        cutpoint_proportion_lbound: float = 2e-10,
        build_sample_cap: int = 200_000,
        seed: int = 42,
    ):
        self.alpha = alpha
        self.bootstrap_samples = bootstrap_samples
        self.count_ubound = count_ubound
        self.cutpoint_proportion_lbound = cutpoint_proportion_lbound
        self.build_sample_cap = build_sample_cap
        self.seed = seed
        self.total_batches = 0
        self.batches_since_reset = 0
        self.drift_state: str | None = None
        self._input_cols: list[str] | None = None
        self._tree: KDQTreePartitioner | None = None
        self._ref_counts: np.ndarray | None = None
        self._test_counts: np.ndarray | None = None
        self._critical_dist: float | None = None
        self.test_dist: float | None = None
        self.ref_data: DataFrame | None = None

    def _validate(self, df: DataFrame) -> list[str]:
        cols = list(df.columns)
        if self._input_cols is None:
            self._input_cols = cols
        elif cols != self._input_cols:
            raise ValueError("Columns of new data must match with columns of prior data.")
        return cols

    def _collect_build_sample(self, df: DataFrame) -> np.ndarray:
        """Bounded seeded sample for the driver-side tree build. When
        the reference fits under the cap (all tests / reference parity
        cases) this is the exact full reference, matching the
        reference implementation bit-for-bit."""
        n = df.count()
        if n > self.build_sample_cap:
            df = df.sample(
                withReplacement=False,
                fraction=min(1.0, 1.05 * self.build_sample_cap / n),
                seed=self.seed,
            ).limit(self.build_sample_cap)
        pdf = df.toPandas()
        return pdf.to_numpy(dtype=np.float64), n

    def set_reference(self, df: DataFrame) -> None:
        self._validate(df)
        df = df.persist()
        self.batches_since_reset = 0
        self.drift_state = None
        ary, _ = self._collect_build_sample(df)
        self._tree = KDQTreePartitioner(self.count_ubound, self.cutpoint_proportion_lbound)
        self._tree.build(ary)
        # distributed fill of the FULL reference into the sampled tree
        self._ref_counts = distributed_leaf_counts(df, self._input_cols, self._tree)
        sample_size = int(self._ref_counts.sum())
        self._critical_dist = bootstrap_critical_kld(
            self._ref_counts, sample_size, self.alpha, self.bootstrap_samples, self.seed
        )
        self.ref_data = df

    def update(self, df: DataFrame) -> str | None:
        if self.drift_state == "drift":
            self.set_reference(self.ref_data)
        self._validate(df)
        df = df.persist()
        self.total_batches += 1
        self.batches_since_reset += 1
        if self._tree is None:
            self.set_reference(df)
            return self.drift_state
        self._test_counts = distributed_leaf_counts(df, self._input_cols, self._tree)
        self.test_dist = self._tree.kl_distance(self._ref_counts, self._test_counts)
        if self.test_dist > self._critical_dist:
            self.drift_state = "drift"
            self.ref_data = df
        else:
            self.drift_state = None
        return self.drift_state

    # -- externally-filled variant (vectorized-over-partitions runner) --

    def install_reference(self, tree: KDQTreePartitioner, ref_counts: np.ndarray) -> None:
        """Adopt a tree + distributed reference leaf counts computed by
        an external global pass (same semantics as set_reference, minus
        the data plumbing)."""
        self.batches_since_reset = 0
        self.drift_state = None
        self._tree = tree
        self._ref_counts = np.asarray(ref_counts, dtype=np.int64)
        self._critical_dist = bootstrap_critical_kld(
            self._ref_counts, int(self._ref_counts.sum()), self.alpha,
            self.bootstrap_samples, self.seed,
        )

    def observe_counts(self, test_counts: np.ndarray) -> str | None:
        """update() when the distributed fill happened externally:
        identical counter/threshold/drift bookkeeping."""
        self.total_batches += 1
        self.batches_since_reset += 1
        self._test_counts = np.asarray(test_counts, dtype=np.int64)
        self.test_dist = self._tree.kl_distance(self._ref_counts, self._test_counts)
        self.drift_state = "drift" if self.test_dist > self._critical_dist else None
        return self.drift_state

    def build_tree_from_sample(self, ary: np.ndarray) -> KDQTreePartitioner:
        tree = KDQTreePartitioner(self.count_ubound, self.cutpoint_proportion_lbound)
        tree.build(np.asarray(ary, dtype=np.float64))
        return tree

    def tree_frame(self, input_cols: list[str] | None = None, max_depth: int | None = None):
        return self._tree.tree_frame(
            self._ref_counts,
            self._test_counts,
            input_cols or self._input_cols,
            max_depth,
        )

    def get_state(self) -> dict:
        return {
            "total_batches": self.total_batches,
            "batches_since_reset": self.batches_since_reset,
            "drift_state": self.drift_state,
            "input_cols": self._input_cols,
            "critical_dist": self._critical_dist,
            "test_dist": self.test_dist,
            "ref_counts": None if self._ref_counts is None else self._ref_counts.tolist(),
            "tree": None
            if self._tree is None
            else {
                "axis": self._tree.axis_arr.tolist(),
                "mid": self._tree.mid_arr.tolist(),
                "left": self._tree.left_arr.tolist(),
                "right": self._tree.right_arr.tolist(),
                "leaf": self._tree.leaf_id_arr.tolist(),
                "depth": self._tree.depth_arr.tolist(),
                "count": self._tree.build_counts.tolist(),
            },
        }

    def set_state(self, state: dict, ref_data: DataFrame | None = None) -> None:
        self.total_batches = state["total_batches"]
        self.batches_since_reset = state["batches_since_reset"]
        self.drift_state = state["drift_state"]
        self._input_cols = state["input_cols"]
        self._critical_dist = state["critical_dist"]
        self.test_dist = state["test_dist"]
        if state["ref_counts"] is not None:
            self._ref_counts = np.array(state["ref_counts"], dtype=np.int64)
        if state["tree"] is not None:
            t = KDQTreePartitioner(self.count_ubound, self.cutpoint_proportion_lbound)
            t.axis_arr = np.array(state["tree"]["axis"], dtype=np.int64)
            t.mid_arr = np.array(state["tree"]["mid"], dtype=np.float64)
            t.left_arr = np.array(state["tree"]["left"], dtype=np.int64)
            t.right_arr = np.array(state["tree"]["right"], dtype=np.int64)
            t.leaf_id_arr = np.array(state["tree"]["leaf"], dtype=np.int64)
            t.depth_arr = np.array(state["tree"]["depth"], dtype=np.int64)
            t.build_counts = np.array(state["tree"]["count"], dtype=np.int64)
            t.n_leaves = int((t.axis_arr == -1).sum())
            self._tree = t
        if ref_data is not None:
            self.ref_data = ref_data.persist()
