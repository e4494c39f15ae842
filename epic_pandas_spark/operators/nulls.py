"""Null handling — the reference's robust fillna/dropna family
(/root/reference/epic/pandas/utils.py:375-448, numpy.py:16-166).

Semantics mapping (SURVEY.md §2.2):
- scalar fill               -> typed coalesce / df.na.fill
- per-column mapping fill   -> per-column coalesce in one select
- empty-container fill      -> coalesce(col, array()) / coalesce(col, map())
  (the reference's `fillna(df, {'B': list})` fills with fresh [] per cell;
  Spark columns are immutable values so "fresh mutable object" semantics
  are moot — documented deviation, SURVEY.md §7.3 item 3)
- callable fill             -> a Column expression supplied by the caller
- dropna any/all            -> df.na.drop, or F.filter for array elements

Everything is a pure projection: no shuffle, fully pushdown-friendly.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T


def _fill_expr(df: DataFrame, col: str, value) -> Column:
    c = F.col(col)
    dt = df.schema[col].dataType
    if isinstance(value, Column):
        return F.coalesce(c, value)
    if value is list or (isinstance(value, list) and not value):
        if not isinstance(dt, T.ArrayType):
            raise TypeError(f"empty-array fill on non-array column {col} ({dt})")
        return F.coalesce(c, F.array().cast(dt))
    if value is dict or (isinstance(value, dict) and not value):
        if not isinstance(dt, T.MapType):
            raise TypeError(f"empty-map fill on non-map column {col} ({dt})")
        return F.coalesce(c, F.map_from_arrays(F.array(), F.array()).cast(dt))
    return F.coalesce(c, F.lit(value).cast(dt))


def fillna(df: DataFrame, value, subset: Sequence[str] | None = None) -> DataFrame:
    """Fill nulls with a scalar, a per-column mapping, an empty-container
    sentinel (`list` / `dict` / `[]` / `{}`), or a Column expression.

    Mirrors utils.py:375-448 including the per-column dict form
    (examples at utils.py:405-428).
    """
    if isinstance(value, Mapping):
        mapping = dict(value)
    else:
        cols = subset if subset is not None else df.columns
        mapping = {c: value for c in cols}
    exprs = [
        _fill_expr(df, c, mapping[c]).alias(c) if c in mapping else F.col(c)
        for c in df.columns
    ]
    return df.select(*exprs)


def dropna(
    df: DataFrame,
    how: str = "any",
    subset: Sequence[str] | None = None,
    thresh: int | None = None,
) -> DataFrame:
    """Row-wise null dropping (numpy.py:127-166 / pandas dropna)."""
    return df.na.drop(how=how, thresh=thresh, subset=subset)


def drop_null_array_elements(df: DataFrame, array_col: str) -> DataFrame:
    """Array-axis dropna: remove null/NaN elements inside an array column
    (the 1-D ndarray case of numpy.py:127-143) — pure higher-order
    function, executes inside codegen."""
    return df.withColumn(
        array_col,
        # try_cast (not cast): ANSI mode throws on non-numeric strings;
        # non-castable elements yield null -> isnan null -> coalesce keeps
        # them, so only genuine NaN/null elements drop
        F.filter(
            F.col(array_col),
            lambda x: x.isNotNull() & F.coalesce(~F.isnan(x.try_cast("double")), F.lit(True)),
        ),
    )
