"""The reference type system mapped onto Spark types.

The reference's entire type system is ``type_char ∈ {'i','u','f'}`` ×
``bytes_per_value ∈ {1,2,4,8}`` (/root/reference/timebox/utils/
numpy_utils.py:60-100) with a datetime64[s] index. Spark has no
unsigned or half-float types, so we widen losslessly and record the
original type in ``StructField.metadata["timebox"]``. That stamp is
for readers of the schema; nothing narrows back from it. The ``.npb``
codec (timebox_spark.sources.npb) keeps each column's original dtype
in its own file header.

Widening rules (SURVEY.md §1.4):
  u8→Short, u16→Int, u32→Long, u64→Decimal(20,0), f16→Float.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import types as T

METADATA_KEY = "timebox"

# (type_char, bytes_per_value) -> (spark type, lossless widening?)
_TYPE_MAP: dict[tuple[str, int], T.DataType] = {
    ("i", 1): T.ByteType(),
    ("i", 2): T.ShortType(),
    ("i", 4): T.IntegerType(),
    ("i", 8): T.LongType(),
    ("u", 1): T.ShortType(),  # widened
    ("u", 2): T.IntegerType(),  # widened
    ("u", 4): T.LongType(),  # widened
    ("u", 8): T.DecimalType(20, 0),  # widened (lossless for uint64)
    ("f", 2): T.FloatType(),  # widened (no half float in Spark)
    ("f", 4): T.FloatType(),
    ("f", 8): T.DoubleType(),
}

_WIDENED = {("u", 1), ("u", 2), ("u", 4), ("u", 8), ("f", 2)}

# numpy-side widening applied BEFORE Spark sees a pandas frame: Spark's
# Arrow conversion rejects unsigned/half-float dtypes outright
# (UNSUPPORTED_DATA_TYPE_FOR_ARROW_CONVERSION) and falls back to
# row-by-row Python — exactly the dtype family this engine widens. The
# signed/float targets below are the numpy twins of _TYPE_MAP's Spark
# targets, so the Arrow fast path always applies. uint64 has no signed
# 64-bit container; it goes through object-of-Decimal for the
# Decimal(20,0) field (driver-local pandas only — never in a kernel).
_NUMPY_WIDEN: dict[str, str] = {
    "uint8": "int16",
    "uint16": "int32",
    "uint32": "int64",
    "float16": "float32",
}


def widen_pandas_for_arrow(pdf):
    """Return a copy of ``pdf`` with unsigned/half-float columns widened
    to Arrow-convertible numpy dtypes (values unchanged).

    The uint64 branch is a PER-ROW Decimal list build — acceptable only
    because this runs on the driver over a user-supplied pandas frame
    at ingest (never inside a distributed kernel), and uint64 columns
    with the top bit in use are a corner case; a frame with millions of
    uint64 rows should be pre-cast by the caller instead."""
    import decimal

    out = pdf.copy(deep=False)
    for col in out.columns:
        name = out[col].dtype.name
        if name in _NUMPY_WIDEN:
            out[col] = out[col].astype(_NUMPY_WIDEN[name])
        elif name == "uint64":
            out[col] = [decimal.Decimal(int(v)) for v in out[col].to_numpy()]
    return out


def spark_type_for(type_char: str, bytes_per_value: int) -> T.DataType:
    """Spark type for a reference (type_char, width) pair.

    Mirrors the dispatch table of ``get_numpy_type``
    (/root/reference/timebox/utils/numpy_utils.py:60-100) under the
    SURVEY §1.4 widening rules.
    """
    try:
        return _TYPE_MAP[(type_char, bytes_per_value)]
    except KeyError:
        raise ValueError(
            f"unsupported timebox type: {type_char}{bytes_per_value}"
        ) from None


def field_for(
    name: str | int, type_char: str, bytes_per_value: int
) -> T.StructField:
    """Build a StructField, stamping original-type metadata.

    The reference allows integer tag identifiers
    (/root/reference/timebox/constants.py:5); Spark column names are
    always strings, so int ids are stringified and the original kept in
    metadata.
    """
    meta: dict = {}
    tb: dict = {"type_char": type_char, "bytes_per_value": bytes_per_value}
    if isinstance(name, int):
        tb["int_identifier"] = name
    if (type_char, bytes_per_value) in _WIDENED:
        tb["widened"] = True
    meta[METADATA_KEY] = tb
    return T.StructField(
        str(name), spark_type_for(type_char, bytes_per_value), True, meta
    )


def parse_numpy_dtype(dtype) -> tuple[str, int]:
    """numpy dtype -> (type_char, bytes_per_value).

    Same acceptance set as ``parse_pandas_dtype``
    (/root/reference/timebox/utils/pandas_utils.py:5-41): the i/u/f
    family only; anything else is rejected.
    """
    dt = np.dtype(dtype)
    if dt.kind not in ("i", "u", "f"):
        raise ValueError(f"unsupported dtype for timebox column: {dt}")
    if dt.itemsize not in (1, 2, 4, 8):
        raise ValueError(f"unsupported width for timebox column: {dt}")
    return dt.kind, dt.itemsize


def timebox_schema_from_pandas(pdf) -> T.StructType:
    """Infer the Spark schema (with widening metadata) for a pandas
    frame whose index is the time axis.

    The ts column is emitted first as TimestampType — the reference's
    datetime64[s] index (/root/reference/timebox/timebox.py:33,75).
    """
    fields = [T.StructField("ts", T.TimestampType(), False)]
    for col in pdf.columns:
        char, width = parse_numpy_dtype(pdf[col].dtype)
        fields.append(field_for(col, char, width))
    return T.StructType(fields)

