"""Typed literal Columns built in one JVM call.

``F.array(*[F.lit(v).cast("float") for v in values])`` costs about 15 py4j
round trips per element: a 256-entry scoring table is ~4k round trips
before the query plan exists.  :func:`sql_lit` instead renders the whole
value as one SQL expression and parses it with a single ``F.expr`` call; the
optimizer folds it to the same constant the per-element builder produced.

Exactness:

* floats render as ``CAST(<repr(float(v))>D AS FLOAT|DOUBLE)``.  ``repr`` is
  the shortest string that parses back to the same double, so the literal
  keeps the value's bits, and a float32 value (exact in double) casts back
  to itself.  Non-finite values and -0.0 go through a string cast, which the
  numeric-literal grammar cannot express.
* strings render as a hex binary literal cast to STRING: the UTF-8 bytes
  pass through unchanged, with no quoting or escape rules to get wrong.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructType,
)


def _float_sql(x: float) -> str:
    if math.isfinite(x) and not (x == 0.0 and math.copysign(1.0, x) < 0):
        return f"{x!r}D"
    text = {math.inf: "Infinity", -math.inf: "-Infinity"}.get(x)
    if text is None:
        text = "NaN" if math.isnan(x) else "-0.0"
    return f"CAST('{text}' AS DOUBLE)"


def sql_text(value, dt: DataType) -> str:
    """SQL text of ``value`` as a literal of type ``dt``."""
    t = dt.simpleString()
    if value is None:
        return f"CAST(NULL AS {t})"
    if isinstance(dt, (FloatType, DoubleType)):
        return f"CAST({_float_sql(float(value))} AS {t})"
    if isinstance(dt, (IntegerType, LongType)):
        return f"CAST({int(value)} AS {t})"
    if isinstance(dt, StringType):
        return f"CAST(X'{value.encode('utf-8').hex()}' AS STRING)"
    if isinstance(dt, ArrayType):
        items = ", ".join(sql_text(v, dt.elementType) for v in value)
        return f"array({items})" if len(value) else f"CAST(array() AS {t})"
    if isinstance(dt, MapType):
        items = ", ".join(
            f"{sql_text(k, dt.keyType)}, {sql_text(v, dt.valueType)}"
            for k, v in value.items()
        )
        return f"map({items})" if value else f"CAST(map() AS {t})"
    if isinstance(dt, StructType):
        if len(value) != len(dt.fields):
            raise ValueError(f"{len(value)} values for {t}")
        items = ", ".join(
            f"'{f.name}', {sql_text(v, f.dataType)}" for f, v in zip(dt.fields, value)
        )
        return f"named_struct({items})"
    raise TypeError(f"no SQL literal rendering for {t}")


def in_sql(col: str, values, dt: DataType) -> str:
    """SQL text of ``col IN (values)``; ``false`` for no values."""
    if not values:
        return "false"
    return f"{col} IN ({', '.join(sql_text(v, dt) for v in values)})"


def sql_lit(value, dt: DataType) -> Column:
    """``value`` as a constant Column of type ``dt`` in one JVM call.

    ``dt`` is float, double, int, bigint or string, or an array, map or
    struct of them.
    Arrays take a sequence, maps a dict and structs a tuple in field order;
    ``None`` anywhere is a typed NULL."""
    return F.expr(sql_text(value, dt))
