"""Seeded lineitem/events tables and DuckDB oracles for ``drift_tabular``.

The tables reproduce the repository's test data (``TESTDATA.md``) at a
given scale factor: the same schema, row counts, key ranges and value
distributions, measured on its sf0.001, sf0.01 and sf0.1 tables. There every column is drawn
independently and uniformly except ``value`` (exponential, mean 50) and
``ts`` (exponential gaps over 30 days, in ``event_id`` order); the same
holds here. Only the draws differ: they come from the workload seed, so
the benchmark needs nothing outside its checkout. The oracle side reuses
``__spark_entry__``'s own ``oracle_sql()`` texts and
``tools/check_oracles.py``'s normalisation.
"""

from __future__ import annotations

import importlib.util
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the eight entries of the drift_tabular op, and the table each scans
ENTRIES = {
    "hist_extendedprice": "lineitem",
    "hellinger_returnflag": "lineitem",
    "psi_event_type_halves": "events",
    "ks_value_click_vs_error": "events",
    "hdddm_lineitem": "lineitem",
    "kdq_lineitem": "lineitem",
    "streaming_traces": "events",
    "hll_distinct_events": "events",
}

# oracle builders oracle_sql() needs for the eight entries. oracle_sql()
# calls every data-derived builder of every entry eagerly (81 s at sf0.1
# on a 4-core host, mostly regenerating and decoding audio tables for
# entries this workload does not run), so the others are stubbed while
# it runs
_KEEP_BUILDERS = {
    "_kdq_oracle_sql", "_hdddm_lineitem_oracle", "_ph_oracle_sql",
    "_trace_oracle_sql",
}

_EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
_SHIP_DAYS = 2499  # 1995-01-02 .. 2001-11-04
_EVENT_SPAN_US = 30 * 86_400 * 10**6


def write_tables(out_dir: str, seed: int, lineitem_sf: float,
                 events_sf: float) -> dict[str, int]:
    """Write ``lineitem.parquet`` and ``events.parquet`` at their scale
    factors; return their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    sf = lineitem_sf
    n = round(6_000_000 * sf)
    ship = np.datetime64("1995-01-02", "us") + (
        rng.integers(0, _SHIP_DAYS, n) * 86_400 * 10**6).astype("timedelta64[us]")
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, round(1_500_000 * sf), n),
        "l_partkey": rng.integers(0, round(200_000 * sf), n),
        "l_suppkey": rng.integers(0, round(10_000 * sf), n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(np.array(["R", "A", "N"]), n),
        "l_linestatus": rng.choice(np.array(["O", "F"]), n),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })
    rng = np.random.default_rng([seed, 2])
    sf = events_sf
    m = round(1_000_000 * sf)
    gaps = rng.exponential(_EVENT_SPAN_US / m, m).astype(np.int64)
    events = pa.table({
        "event_id": np.arange(m, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype(
            "timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, round(15_000 * sf), m),
        "event_type": rng.choice(_EVENT_TYPES, m),
        "value": np.round(rng.exponential(50.0, m), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, m)],
    })
    pq.write_table(lineitem, os.path.join(out_dir, "lineitem.parquet"))
    pq.write_table(events, os.path.join(out_dir, "events.parquet"))
    return {"lineitem": n, "events": m}


def _check_oracles_module(repo_root: str):
    path = os.path.join(repo_root, "tools", "check_oracles.py")
    spec = importlib.util.spec_from_file_location("_perfbench_check_oracles", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_sql_texts(entry_mod, data_dir: str) -> dict[str, str]:
    """``oracle_sql()`` texts of the eight entries for the tables in
    ``data_dir`` (the data-derived builders read that directory)."""
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = data_dir
    stubbed = {
        name: fn for name, fn in vars(entry_mod).items()
        if name.startswith("_") and "oracle" in name and callable(fn)
        and name not in _KEEP_BUILDERS
    }
    try:
        for name in stubbed:
            # {} suits every use oracle_sql() makes of a builder's result
            setattr(entry_mod, name, lambda *a, **k: {})
        sqls = entry_mod.oracle_sql()
    finally:
        for name, fn in stubbed.items():
            setattr(entry_mod, name, fn)
    missing = [n for n in ENTRIES if not isinstance(sqls.get(n), str)]
    if missing:
        raise RuntimeError(f"no oracle SQL for {missing}")
    return {n: sqls[n] for n in ENTRIES}


class Oracle:
    """Expected, normalised results of the eight entries, computed once
    in DuckDB; ``compare`` applies ``tools/check_oracles.py``'s rule
    (row count, sorted column names, order-insensitive normalised values)."""

    def __init__(self, repo_root: str, entry_mod, data_dir: str):
        import duckdb

        self.norm = _check_oracles_module(repo_root).norm
        sqls = oracle_sql_texts(entry_mod, data_dir)
        con = duckdb.connect()
        try:
            for t in ("lineitem", "events"):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
            self.expected = {}
            for name, sql in sqls.items():
                res = con.execute(sql)
                cols = [d[0] for d in res.description]
                self.expected[name] = self._canon(cols, [dict(zip(cols, r)) for r in res.fetchall()])
        finally:
            con.close()

    def _canon(self, cols, rows) -> tuple:
        cols = sorted(cols)
        return tuple(cols), tuple(sorted(tuple(self.norm(r[c]) for c in cols) for r in rows))

    def canon_spark(self, columns, rows) -> tuple:
        return self._canon(columns, [r.asDict() for r in rows])

    def compare(self, name: str, got: tuple) -> str | None:
        """None when ``got`` matches the oracle, else a one-line reason."""
        (gcols, grows), (ecols, erows) = got, self.expected[name]
        if len(grows) != len(erows):
            return f"{name}: row count {len(grows)} vs oracle {len(erows)}"
        if gcols != ecols:
            return f"{name}: columns {list(gcols)} vs oracle {list(ecols)}"
        if grows != erows:
            diff = [(a, b) for a, b in zip(grows, erows) if a != b][:2]
            return f"{name}: value mismatch, e.g. {diff}"
        return None
