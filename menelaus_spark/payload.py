"""One decode pass for every operator over a binary payload column.

Audio clips, BMP images and y4m videos all run the same plan: project
(key, bytes[, codec]) so Catalyst prunes every other column, decode the
payloads once per Arrow batch, run a per-payload kernel, and build the
output frame. :func:`map_payloads` is that plan; an operator supplies
only its kernel, its output fields and its fail rows.

The decode-integrity contract lives here, once: a null payload, or a
decoder or kernel exception, yields the operator's documented fail rows
(a null/NaN row, an ``ok=False`` row, an empty set, or no rows), never a
failed task. The ``decode_integrity`` check reports those payloads. A
kernel returns all of a payload's rows at once, so a payload that fails
part-way contributes only its fail rows, never a partial answer.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.types import (
    DataType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

# nullable integer columns stay exact: pandas would otherwise hold a
# column with a null as float64 and round a 64-bit hash
_NULLABLE_INT = {IntegerType: "Int32", LongType: "Int64"}


def payload_schema(df, head, fields: str) -> StructType:
    """The ``head`` columns with their input types (a key passes through
    untouched), followed by the DDL ``fields``."""
    src = df.schema
    return StructType([StructField(c, src[c].dataType) for c in head]
                      + DataType.fromDDL(fields).fields)


def payload_rows(bufs, kernel, fail=(), decode=None, codecs=None) -> list:
    """One Arrow batch's output as (input position, row) pairs.

    ``decode(bufs, codecs)`` decodes the whole batch (audio's
    ``decode_batch``, which stacks ADPCM clips into one pass) and gives
    None where a payload is undecodable; without it the kernel gets each
    payload's bytes and decodes them itself. ``kernel`` maps one decoded
    payload to a list of row tuples; ``fail`` is the rows a null or
    undecodable payload, or a raising kernel, yields instead."""
    items = bufs if decode is None else decode(bufs, codecs)
    out = []
    for i, (buf, item) in enumerate(zip(bufs, items)):
        rows = fail
        if buf is not None and item is not None:
            try:
                rows = list(kernel(bytes(item) if decode is None else item))
            except Exception:
                pass
        out.extend((i, row) for row in rows)
    return out


def _column(vals, dtype):
    if type(dtype) in _NULLABLE_INT:
        return pd.array(list(vals), dtype=_NULLABLE_INT[type(dtype)])
    if isinstance(dtype, DoubleType):
        return np.array(vals, dtype=np.float64)  # None -> NaN -> null
    return pd.Series(list(vals), dtype=object)


def map_payloads(df, key_col: str, bytes_col: str, fields: str, kernel,
                 fail=(), decode=None, codec_col: str | None = None,
                 carry_cols: tuple[str, ...] = ()):
    """(key, carry_cols..., fields...) from one ``mapInPandas`` pass over
    ``df``'s payloads; see :func:`payload_rows` for ``kernel``, ``fail``
    and ``decode`` (which reads ``codec_col``). The key and carry columns
    keep their input types. Only the key, carry, bytes and codec columns
    are read, so the binary column is the one heavy input and it never
    shuffles."""
    head = [key_col, *carry_cols]
    schema = payload_schema(df, head, fields)
    out_fields = schema.fields[len(head):]

    def work(batches):
        for pdf in batches:
            hits = payload_rows(
                pdf[bytes_col].tolist(), kernel, fail, decode,
                pdf[codec_col].tolist() if codec_col else None)
            at = np.fromiter((i for i, _ in hits), np.int64, len(hits))
            cols = list(zip(*(row for _, row in hits))) or [()] * len(out_fields)
            data = {c: pdf[c].to_numpy()[at] for c in head}
            for f, vals in zip(out_fields, cols):
                data[f.name] = _column(vals, f.dataType)
            yield pd.DataFrame(data)

    # carry_cols may include the codec (payload-codec gating): project
    # each column once
    sel = head + [c for c in (bytes_col, codec_col) if c and c not in head]
    return df.select(*sel).mapInPandas(work, schema=schema)
