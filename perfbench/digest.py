"""Order-insensitive digests of query results.

A digest holds the row count and, per column, the non-null count and
one sum: exact integers for integral, boolean, decimal, date and
timestamp columns (timestamps as epoch microseconds), the CRC-32 of
the UTF-8 bytes for strings, and a float sum for floating columns.
The Spark side computes it with ``DataFrame.observe`` while the timed
noop write runs, so checking a result costs no extra Spark job; the
oracle side computes the same numbers from the DuckDB result.
"""

from __future__ import annotations

import datetime as dt
import math
import zlib
from decimal import Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_EXACT = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.BooleanType,
    T.DecimalType,
)
_EPOCH = dt.datetime(1970, 1, 1)


def _spark_term(field: T.StructField) -> tuple[str, Column] | None:
    c = F.col(f"`{field.name}`")
    t = field.dataType
    if isinstance(t, T.DecimalType) and t.scale > 0:
        return "float", c.cast("double")
    if isinstance(t, _EXACT):
        return "int", c.cast("int" if isinstance(t, T.BooleanType) else t)
    if isinstance(t, (T.TimestampType, T.TimestampNTZType)):
        return "int", F.unix_micros(c.cast("timestamp"))
    if isinstance(t, T.DateType):
        return "int", F.unix_micros(c.cast("timestamp"))
    if isinstance(t, (T.FloatType, T.DoubleType)):
        return "float", c.cast("double")
    if isinstance(t, T.StringType):
        return "int", F.crc32(c.cast("binary"))
    return None  # nested types: only the non-null count is compared


def observe_exprs(schema: T.StructType) -> list[Column]:
    """Aggregate expressions for ``DataFrame.observe``."""
    exprs = [F.count(F.lit(1)).alias("n")]
    for i, field in enumerate(schema.fields):
        exprs.append(F.count(F.col(f"`{field.name}`")).alias(f"c{i}"))
        term = _spark_term(field)
        if term is None:
            continue
        kind, col = term
        if kind == "int":
            exprs.append(F.sum(col.cast("decimal(38,0)")).alias(f"s{i}"))
        else:
            exprs.append(F.sum(col).alias(f"s{i}"))
    return exprs


def from_observation(schema: T.StructType, metrics: dict) -> dict:
    """Digest from the observed metrics of a result with ``schema``."""
    cols = {}
    for i, field in enumerate(schema.fields):
        s = metrics.get(f"s{i}")
        term = _spark_term(field)
        kind = term[0] if term else "none"
        if kind == "int" and s is not None:
            s = int(s)
        cols[field.name] = {"n": int(metrics[f"c{i}"]), "kind": kind, "sum": s}
    return {"n": int(metrics["n"]), "cols": cols}


def observed(df: DataFrame, name: str):
    """``(df_with_observation, observation)`` for one execution."""
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, *observe_exprs(df.schema)), obs


def _py_value(v) -> tuple[str, object] | None:
    if v is None:
        return None
    if isinstance(v, bool):
        return "int", int(v)
    if isinstance(v, int):
        return "int", v
    if isinstance(v, Decimal):
        return ("int", int(v)) if v == v.to_integral_value() else ("float", float(v))
    if isinstance(v, float):
        return "float", v
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return "int", (v - _EPOCH) // dt.timedelta(microseconds=1)
    if isinstance(v, dt.date):
        return "int", (dt.datetime(v.year, v.month, v.day) - _EPOCH) // dt.timedelta(
            microseconds=1
        )
    if isinstance(v, str):
        return "int", zlib.crc32(v.encode("utf-8"))
    return "none", None


def from_rows(columns: list[str], rows: list[tuple]) -> dict:
    """Digest of rows fetched from DuckDB (or any DB-API cursor)."""
    cols = {}
    for i, name in enumerate(columns):
        n = 0
        kind = "none"
        total: int | float | None = None
        for row in rows:
            pv = _py_value(row[i])
            if pv is None:
                continue
            n += 1
            k, v = pv
            if k == "none":
                continue
            kind = "float" if "float" in (kind, k) else k
            total = v if total is None else total + v
        cols[name] = {"n": n, "kind": kind, "sum": total}
    return {"n": len(rows), "cols": cols}


def mismatch(got: dict, want: dict) -> str | None:
    """None when ``got`` matches ``want``, else a one-line reason.
    Integers must match exactly; a column that is floating on either
    side matches within a relative 1e-6 (floating sums depend on
    summation order); nested columns compare by non-null count."""
    if got["n"] != want["n"]:
        return f"rows {got['n']} != {want['n']}"
    if sorted(got["cols"]) != sorted(want["cols"]):
        return f"columns {sorted(got['cols'])} != {sorted(want['cols'])}"
    for name, g in got["cols"].items():
        w = want["cols"][name]
        if g["n"] != w["n"]:
            return f"{name}: non-null {g['n']} != {w['n']}"
        if "none" in (g["kind"], w["kind"]):
            continue
        if g["sum"] is None or w["sum"] is None or g["kind"] == w["kind"] == "int":
            same = g["sum"] == w["sum"]
        else:
            same = math.isclose(
                float(g["sum"]), float(w["sum"]), rel_tol=1e-6, abs_tol=1e-6 * max(1, g["n"])
            )
        if not same:
            return f"{name}: sum {g['sum']} != {w['sum']}"
    return None
