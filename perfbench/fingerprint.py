"""Order-insensitive fingerprints of Spark DataFrames.

A fingerprint is the row count, two 32-bit halves of a sum of per-row
xxhash64 values over every exact (non-floating) leaf, and a sum plus an
absolute sum per floating leaf. Sums make it independent of row order;
arrays are hashed after sorting their elements, so ``collect_list`` order
does not matter either. Floating leaves are compared with a relative
tolerance, because a distributed sum may change in its last digits from
one run to the next.

The fingerprint is a list of aggregate columns, so it can ride along in
the job that computes the DataFrame (``DataFrame.observe``) instead of
costing a job of its own.
"""

from __future__ import annotations

import itertools
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

REL_TOL = 1e-6


def _split(expr: str, dtype: T.DataType, names) -> tuple[str | None, list[str]]:
    """(exact hash expression or None, scalar double expressions) for one value."""
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return f"isnull({expr})", [f"CAST({expr} AS DOUBLE)"]
    if isinstance(dtype, T.StructType):
        parts = [_split(f"{expr}.`{f.name}`", f.dataType, names) for f in dtype.fields]
        exact = [p for p, _ in parts if p is not None]
        floats = [f for _, fl in parts for f in fl]
        return (f"xxhash64({', '.join(exact)})" if exact else None), floats
    if isinstance(dtype, T.MapType):
        return _split(
            f"map_entries({expr})",
            T.ArrayType(
                T.StructType(
                    [T.StructField("key", dtype.keyType), T.StructField("value", dtype.valueType)]
                )
            ),
            names,
        )
    if isinstance(dtype, T.ArrayType):
        var = next(names)
        inner, inner_floats = _split(var, dtype.elementType, names)
        hashed = f"xxhash64({inner})" if inner is not None else "0L"
        exact = f"xxhash64(size({expr}), array_sort(transform({expr}, {var} -> {hashed})))"
        floats = [
            f"coalesce(aggregate(transform({expr}, {var} -> {f}), 0D, (a, b) -> a + coalesce(b, 0D)), 0D)"
            for f in inner_floats
        ]
        return exact, floats
    return expr, []


def columns(df: DataFrame) -> list[Column]:
    """Aggregate columns whose values make up ``df``'s fingerprint."""
    names = (f"x{i}" for i in itertools.count())
    exact, floats = [], []
    for field in df.schema.fields:
        e, fl = _split(f"`{field.name}`", field.dataType, names)
        if e is not None:
            exact.append(e)
        floats.extend(fl)
    row = F.expr(f"xxhash64({', '.join(exact)})") if exact else F.lit(0)
    cols = [
        F.count(F.lit(1)).alias("rows"),
        F.sum(row.bitwiseAND(F.lit(0xFFFFFFFF))).alias("lo"),
        F.sum(F.shiftrightunsigned(row, 32)).alias("hi"),
    ]
    for i, f in enumerate(floats):
        cols.append(F.sum(F.expr(f)).alias(f"f{i}"))
        cols.append(F.sum(F.abs(F.expr(f))).alias(f"a{i}"))
    return cols


def from_row(row: dict) -> dict:
    """JSON-ready fingerprint from the values of :func:`columns`."""
    n_float = (len(row) - 3) // 2
    return {
        "rows": int(row["rows"]),
        "hash": f"{int(row['lo'] or 0):x}.{int(row['hi'] or 0):x}",
        "floats": [
            [_num(row[f"f{i}"]), _num(row[f"a{i}"])] for i in range(n_float)
        ],
    }


def compute(df: DataFrame) -> dict:
    """Fingerprint of ``df`` in one aggregation job."""
    return from_row(df.agg(*columns(df)).first().asDict())


def _num(value) -> float | None:
    return None if value is None else float(value)


def _close(a, b, scale) -> bool:
    if a is None or b is None:
        return a is b
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    if math.isinf(a) or math.isinf(b):
        return a == b
    return abs(a - b) <= REL_TOL * max(abs(scale or 0.0), 1.0)


def mismatch(got: dict, want: dict) -> str | None:
    """Why ``got`` differs from ``want``, or None when they agree."""
    if got["rows"] != want["rows"]:
        return f"rows {got['rows']} != {want['rows']}"
    if got["hash"] != want["hash"]:
        return "exact-column checksum differs"
    if len(got["floats"]) != len(want["floats"]):
        return "floating column count differs"
    for i, ((s, a), (ws, wa)) in enumerate(zip(got["floats"], want["floats"])):
        if not (_close(s, ws, wa) and _close(a, wa, wa)):
            return f"floating leaf {i}: sum {s} != {ws}"
    return None
