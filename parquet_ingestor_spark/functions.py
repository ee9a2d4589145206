"""Small column-expression helpers shared by queries and operators.

Everything here composes built-in ``pyspark.sql.functions`` — JVM-side,
codegen-friendly. No Python UDFs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def ts_lit(df: DataFrame, col: str, value: str) -> Column:
    """A timestamp literal cast to ``col``'s exact timestamp flavor.

    The driver testdata carries naive timestamps, which Spark reads as
    TIMESTAMP_NTZ when inference is on and TIMESTAMP otherwise; casting
    the literal to the column's own dtype keeps the comparison
    pushdown-eligible (a raw range predicate reaches the parquet scan's
    row-group stats; wrapping the *column* in a function would not).
    """
    dtype = dict(df.dtypes)[col]
    return F.lit(value).cast(dtype)


def disc_price() -> Column:
    """``l_extendedprice * (1 - l_discount)`` as an exact DECIMAL.

    Both factors are 2-dp values (cents, whole percents), so casting
    each to ``DECIMAL(15,2)`` is lossless and the product and its sum
    stay exact (scale 4). A DOUBLE sum can land within float noise of
    a half cent, where ``round(sum * 100)`` then depends on the
    summation order and the two engines disagree by one. Oracle-side
    twin: ``CAST(l_extendedprice AS DECIMAL(15,2)) * (1 -
    CAST(l_discount AS DECIMAL(15,2)))``.
    """
    return F.col("l_extendedprice").cast("decimal(15,2)") * (
        1 - F.col("l_discount").cast("decimal(15,2)")
    )


def int_e(col: str | Column, d: int) -> Column:
    """Engine-exact integer quantization: value × 10^d, rounded
    half-away-from-zero, emitted as BIGINT.

    Float aggregates are order-sensitive; both engines (Spark, the
    DuckDB oracle) compute the same mathematical value but may differ
    in the last ulps. Quantizing well above the noise floor makes the
    differential hash stable — and emitting the quantization as an
    INTEGER (not a ``round(x, d)`` double) removes the second failure
    class the round-5 driver red row exposed: a rounded double's
    canonicalization is environment-sensitive (driver-side pandas /
    DuckDB ``round`` versions), an integer's is not. Registry lint:
    tests/test_registry_window.py forbids non-integer ``round()`` in
    every oracle. Oracle-side twin: ``CAST(round((expr) * 10^d) AS
    BIGINT) AS name_e{d}``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * (10**d), 0).cast("bigint")
