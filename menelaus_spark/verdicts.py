"""Verdict + violation row model.

The reference's universal output is a detector state machine
(``drift_state`` in {"drift","warning",None} plus counters,
/root/reference/menelaus/detector.py:126-170). Our engine's universal
output is data: one verdict row per (partition, check) and a violation
table of offending rows — "per-partition pass/fail verdict plus
violation rows" per the north rule.
"""

from __future__ import annotations

import sys
from collections.abc import Iterable
from dataclasses import dataclass, field

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.traceback_utils import SCCallSiteSync

PASS, WARNING, DRIFT, FAIL = "pass", "warning", "drift", "fail"

VERDICT_SCHEMA = T.StructType(
    [
        T.StructField("partition_key", T.StringType(), False),
        T.StructField("check_name", T.StringType(), False),
        T.StructField("statistic", T.DoubleType(), True),
        T.StructField("threshold", T.DoubleType(), True),
        T.StructField("state", T.StringType(), False),
        T.StructField("n_rows", T.LongType(), True),
        T.StructField("details", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

VIOLATION_SCHEMA = T.StructType(
    [
        T.StructField("partition_key", T.StringType(), False),
        T.StructField("check_name", T.StringType(), False),
        T.StructField("row_key", T.StringType(), True),
        T.StructField("reason", T.StringType(), False),
        T.StructField("details", T.MapType(T.StringType(), T.StringType()), True),
    ]
)


@dataclass
class Verdict:
    partition_key: str
    check_name: str
    state: str
    statistic: float | None = None
    threshold: float | None = None
    n_rows: int | None = None
    details: dict[str, str] = field(default_factory=dict)

    def as_row(self) -> dict:
        return {
            "partition_key": str(self.partition_key),
            "check_name": self.check_name,
            "statistic": None if self.statistic is None else float(self.statistic),
            "threshold": None if self.threshold is None else float(self.threshold),
            "state": self.state,
            "n_rows": None if self.n_rows is None else int(self.n_rows),
            "details": {k: str(v) for k, v in self.details.items()},
        }


def local_frame(spark: SparkSession, rows: Iterable, schema: T.StructType | str) -> DataFrame:
    """A LocalRelation over rows the driver already holds — the one way
    the engine turns driver-side rows into a DataFrame.

    ``rows`` are tuples (by position) or dicts (by field name; a missing
    key is None); ``schema`` is a StructType or a DDL string. The rows
    become a pyarrow Table typed by the schema, and ``createDataFrame``'s
    Arrow-Table branch plans it as a ``LocalTableScan`` whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says, empty frames
    included (up to ``spark.sql.execution.arrow.localRelationThreshold``
    bytes). A plain list would plan a Python-RDD scan that starts Python
    workers on every action just to unpickle these rows. A None in a
    non-nullable field raises ValueError, as the list path's verifier
    does.
    """
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    names = schema.fieldNames()
    rows = list(rows)
    if rows and isinstance(rows[0], dict):
        cols = [[r.get(n) for r in rows] for n in names]
    else:
        bad = next((r for r in rows if len(r) != len(names)), None)
        if bad is not None:
            raise ValueError(f"row {bad!r} does not have the {len(names)} fields of {names}")
        cols = list(zip(*rows)) or [()] * len(names)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    for f, col in zip(arrow_schema, table.columns):
        if not f.nullable and col.null_count:
            raise ValueError(f"field {f.name!r} is not nullable but holds None")
    return spark.createDataFrame(table, schema)


# Row caps of the bounded-driver fast paths, one entry per path. At or
# under its cap a path collects its rows and finishes on the driver;
# over it the distributed plan runs unchanged. Every cap sits below the
# scaling-witness sizes (800k clips, 2.25M images, 450k videos), so
# witness runs keep the distributed plans that scale with cores.
DRIVER_ROW_CAPS: dict[str, int] = {
    # suite rows, gated by the constraint pass's exact count: one collect of the decoded
    # projection (features, decode-integrity and quality flags, KS bins, PSI/HDM values)
    # feeds the kdq tree builds and leaf counts, the flag counts and the summary counts, on
    # fresh and resumed runs; with no decode, one collect of the scope's summary frame
    "suite_rows": 100_000,
    # HDM (feature, value, count) entries held as numpy arrays; past it they spill to a frame
    "hdm_values": 2_000_000,
    # kdq_lineitem (year, features) rows: driver tree builds replace the per-event jobs
    "kdq_group_rows": 1_000_000,
    # drift sequences' (batch, values) rows: np.unique replaces the exploded aggregation
    "batch_summaries": 1_000_000,
    # minhash_lsh_dedup signatures: driver banding 2.5-3.9 s faster at sf0.1 on 4 cores
    "text_lsh": 200_000,
    # repeated_ngram_pairs (doc, span key) rows, not documents, so long documents count
    "ngram_spans": 1_000_000,
    # audio containment (clip, sig, heads) rows: replaces the head-bucket join chain
    "audio_lsh": 100_000,
    # transcript_candidate_pairs (clip, md5 block) rows: replaces the block self-join
    "transcript_blocks": 200_000,
    # image_neardup_pairs (id, phash) rows, 16 bytes each: one job instead of ~13
    "image": 250_000,
    # video_neardup_pairs (id, shingles, sig) rows: whole shingle sets, the widest rows
    "video": 50_000,
    # connected_components edges (~16 MB of id pairs): one collect, not a job per round
    "cc_edges": 1_000_000,
}


def driver_rows(df: DataFrame, name: str) -> pd.DataFrame | None:
    """``df`` collected when it has at most ``DRIVER_ROW_CAPS[name]``
    rows, else None. One ``limit(cap + 1).toPandas()`` job is both the
    gate and the collect. The job's call site is the caller's line, so
    a trace charges it to the fast path that asked."""
    cap = DRIVER_ROW_CAPS[name]
    caller = sys._getframe(1)
    site = SCCallSiteSync(df.sparkSession.sparkContext)
    site._call_site = f"toPandas at {caller.f_code.co_filename}:{caller.f_lineno}"
    with site:
        pdf = df.limit(cap + 1).toPandas()
    return pdf if len(pdf) <= cap else None


def verdicts_df(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """Verdict rows (``Verdict.as_row`` dicts) as a VERDICT_SCHEMA frame."""
    return local_frame(spark, rows, VERDICT_SCHEMA)


def empty_violations(spark: SparkSession) -> DataFrame:
    return local_frame(spark, [], VIOLATION_SCHEMA)
