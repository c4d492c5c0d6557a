"""Every form of the scaled-long quantizer, for Spark, Spark SQL and
DuckDB.

The rule: a floating value whose exact bits an oracle compares (an
output column, a sum, a threshold or rank on a score) is quantized at
``10^d`` by rounding half up, ``CAST(FLOOR(x * 10^d + 0.5) AS BIGINT)``.
Both engines run the same two IEEE-754 double operations on the same
double, so they get the same integer (``ROUND(x, d)`` is each engine's
own decimal path and can differ on half-way values). A sum is an exact
BIGINT sum of those integers divided back by ``10^d`` once, so no
partitioning or summation order can move a rounding tie, and long sums
codegen faster than double or decimal sums. Headroom: keep
``10^d * |x| * rows < 2^63`` per group, because Spark's BIGINT wraps
silently past it and DuckDB's HUGEINT does not; at ``d = 6`` and
``|x| <= 1e5`` that is about 1e8 rows. A query and its oracle name the
same ``d``.

:func:`quantize` and :func:`exact_sum` are the Spark forms,
:func:`sql_quantize` and :func:`sql_exact_sum` the SQL text that both
Spark SQL and DuckDB parse (the argument is parenthesised), and
:func:`host_quantize` the numpy form for driver-side literals and
pandas state. The multiplier is the int ``10**d`` (no multiply at
``d = 0``), as a literal in each form. A quantizer whose multiplier is
data-derived, such as the int8 ``levels / absmax`` of
``similarity.quantize_int8``, is a different algorithm and stays with
its operator.

``tests/test_exact.py`` fails on a ``FLOOR(… + 0.5)`` written elsewhere
in the package, and checks that the forms agree.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, functions as F


# -- Spark ------------------------------------------------------------

def quantize(value: Column, digits: int) -> Column:
    """``value`` rounded half up at ``10^digits``, as a BIGINT."""
    scaled = value if digits == 0 else value * 10 ** digits
    return F.floor(scaled + F.lit(0.5)).cast("bigint")


def exact_sum(value: Column, digits: int) -> Column:
    """Order-independent SUM of a double column, as a DOUBLE: the
    BIGINT sum of :func:`quantize` divided by ``10^digits``."""
    s = 10 ** digits
    return F.sum(quantize(value, digits)).cast("double") / s


# -- SQL text (Spark SQL and DuckDB) ----------------------------------

def sql_quantize(expr: str, digits: int) -> str:
    """SQL twin of :func:`quantize` over the SQL ``expr``."""
    scaled = f"({expr})" if digits == 0 else f"({expr}) * {10 ** digits}"
    return f"CAST(FLOOR({scaled} + 0.5) AS BIGINT)"


def sql_exact_sum(expr: str, digits: int) -> str:
    """SQL twin of :func:`exact_sum` over the SQL ``expr``."""
    return f"(CAST(SUM({sql_quantize(expr, digits)}) AS DOUBLE) / {10 ** digits})"


# -- host (numpy) -----------------------------------------------------

def host_quantize(values, digits: int):
    """Numpy twin of :func:`quantize` over a float or an array of
    floats: an int64 scalar or array."""
    scaled = np.asarray(values, dtype="float64")
    if digits:
        scaled = scaled * 10 ** digits
    return np.floor(scaled + 0.5).astype("int64")
