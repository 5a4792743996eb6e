"""DimRange predicate algebra (filters.range / filters.assign ranges).

Grammar and evaluation per /root/reference/filters/private/DimRange.cpp:
  * `Dim[lo:hi]` — inclusive brackets, `(`/`)` exclusive, missing bound
    = -inf/+inf (strtod failure -> lowest/max, DimRange.cpp:83-98)
  * leading `!` negates the whole test (including the NaN clause:
    NaN fails a plain range but PASSES a negated one, valuePasses 116-126)
  * across a sorted range list: OR between ranges of the same dimension,
    AND between dimensions (pointPasses 129-155)
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pdal_spark.geo import sql_double

_RANGE_RE = re.compile(
    r"^\s*(?P<neg>!?)\s*(?P<name>[A-Za-z_][A-Za-z0-9_]*)\s*"
    r"(?P<lb>[\[\(])\s*(?P<lo>[^:\]\)]*?)\s*:\s*(?P<hi>[^\]\)]*?)\s*(?P<ub>[\]\)])\s*$"
)


@dataclass(frozen=True)
class DimRange:
    name: str
    lower: float
    upper: float
    inclusive_lower: bool
    inclusive_upper: bool
    negate: bool


def parse_range(text: str) -> DimRange:
    m = _RANGE_RE.match(text)
    if not m:
        raise ValueError(f"Invalid DimRange: {text!r}")
    lo_s, hi_s = m.group("lo"), m.group("hi")
    lo = float(lo_s) if lo_s else -math.inf
    hi = float(hi_s) if hi_s else math.inf
    return DimRange(
        name=m.group("name"),
        lower=lo,
        upper=hi,
        inclusive_lower=m.group("lb") == "[",
        inclusive_upper=m.group("ub") == "]",
        negate=m.group("neg") == "!",
    )


def _is_float_col(df: DataFrame, name: str) -> bool:
    for f in df.schema.fields:
        if f.name == name:
            return f.dataType.typeName() in ("double", "float")
    raise ValueError(f"Invalid dimension name in range: {name!r}")


def value_passes(r: DimRange, col: Column, is_float: bool) -> Column:
    """Column twin of DimRange::valuePasses (NaN always fails pre-negate)."""
    v = col.cast("double")
    fail = F.lit(False)
    if is_float:
        fail = fail | F.isnan(v)
    if r.lower != -math.inf:
        fail = fail | (v < F.lit(r.lower) if r.inclusive_lower else v <= F.lit(r.lower))
    elif not r.inclusive_lower:
        # exclusive -inf bound: v <= -inf never true for finite; skip
        pass
    if r.upper != math.inf:
        fail = fail | (v > F.lit(r.upper) if r.inclusive_upper else v >= F.lit(r.upper))
    passes = ~fail
    return ~passes if r.negate else passes


def compile_ranges(df: DataFrame, limits: list[str] | list[DimRange]) -> Column:
    """OR within a dimension, AND across dimensions (DimRange.cpp:129-155)."""
    ranges = [parse_range(r) if isinstance(r, str) else r for r in limits]
    if not ranges:
        raise ValueError("range filter requires at least one range")
    by_dim: dict[str, list[DimRange]] = {}
    for r in ranges:
        by_dim.setdefault(r.name, []).append(r)
    conds = []
    for name, rs in by_dim.items():
        is_float = _is_float_col(df, name)
        c = value_passes(rs[0], F.col(name), is_float)
        for r in rs[1:]:
            c = c | value_passes(r, F.col(name), is_float)
        conds.append(c)
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def range_sql(r: DimRange, col: str, is_float: bool = True) -> str:
    """ANSI-SQL twin of value_passes for the DuckDB oracle."""
    fails = []
    if is_float:
        fails.append(f"isnan({col})")
    if r.lower != -math.inf:
        lo = sql_double(r.lower, "duckdb")
        fails.append(f"({col} {'<' if r.inclusive_lower else '<='} {lo})")
    if r.upper != math.inf:
        hi = sql_double(r.upper, "duckdb")
        fails.append(f"({col} {'>' if r.inclusive_upper else '>='} {hi})")
    fail = " OR ".join(fails) if fails else "FALSE"
    return f"({fail})" if r.negate else f"(NOT ({fail}))"
