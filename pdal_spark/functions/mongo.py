"""filters.mongo — Mongo-style JSON predicates -> Spark Column.

Operators per /root/reference/filters/private/mongoexpression/
Comparison.hpp:60-73 ($eq $gt $gte $lt $lte $ne $in $nin) and
LogicGate.hpp ($and $or $nor $not); a bare value means $eq
(Comparison.cpp:47). Multiple keys in one object AND together (the
implicit $and of query documents).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from pdal_spark.geo import sql_double

_CMP = {
    "$eq": lambda c, v: c == F.lit(v),
    "$ne": lambda c, v: c != F.lit(v),
    "$gt": lambda c, v: c > F.lit(v),
    "$gte": lambda c, v: c >= F.lit(v),
    "$lt": lambda c, v: c < F.lit(v),
    "$lte": lambda c, v: c <= F.lit(v),
    "$in": lambda c, v: c.isin(list(v)),
    "$nin": lambda c, v: ~c.isin(list(v)),
}


def _all(conds: list[Column]) -> Column:
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def _any(conds: list[Column]) -> Column:
    out = conds[0]
    for c in conds[1:]:
        out = out | c
    return out


def compile_mongo(expr: dict) -> Column:
    if not isinstance(expr, dict) or not expr:
        raise ValueError(f"Mongo expression must be a non-empty object: {expr!r}")
    conds: list[Column] = []
    for key, val in expr.items():
        if key == "$and":
            conds.append(_all([compile_mongo(e) for e in val]))
        elif key == "$or":
            conds.append(_any([compile_mongo(e) for e in val]))
        elif key == "$nor":
            conds.append(~_any([compile_mongo(e) for e in val]))
        elif key == "$not":
            inner = val if isinstance(val, dict) else {"$and": val}
            conds.append(~compile_mongo(inner))
        elif key.startswith("$"):
            raise ValueError(f"Unknown logical operator {key!r}")
        else:
            col = F.col(key)
            if isinstance(val, dict):
                for op, operand in val.items():
                    if op not in _CMP:
                        raise ValueError(f"Unknown comparison {op!r}")
                    conds.append(_CMP[op](col, operand))
            else:
                conds.append(col == F.lit(val))  # bare value = $eq
    return _all(conds)


def mongo_sql(expr: dict) -> str:
    """ANSI-SQL twin of compile_mongo for the DuckDB oracle."""
    parts: list[str] = []
    for key, val in expr.items():
        if key == "$and":
            parts.append("(" + " AND ".join(mongo_sql(e) for e in val) + ")")
        elif key == "$or":
            parts.append("(" + " OR ".join(mongo_sql(e) for e in val) + ")")
        elif key == "$nor":
            parts.append("(NOT (" + " OR ".join(mongo_sql(e) for e in val) + "))")
        elif key == "$not":
            parts.append(f"(NOT {mongo_sql(val)})")
        else:
            def lit(v):
                if isinstance(v, str):
                    return f"'{v}'"
                return sql_double(v, "duckdb") if isinstance(v, float) else str(v)

            if isinstance(val, dict):
                ops = {"$eq": "=", "$ne": "<>", "$gt": ">", "$gte": ">=", "$lt": "<", "$lte": "<="}
                for op, operand in val.items():
                    if op == "$in":
                        parts.append(f"({key} IN ({', '.join(lit(v) for v in operand)}))")
                    elif op == "$nin":
                        parts.append(f"({key} NOT IN ({', '.join(lit(v) for v in operand)}))")
                    else:
                        parts.append(f"({key} {ops[op]} {lit(operand)})")
            else:
                parts.append(f"({key} = {lit(val)})")
    return "(" + " AND ".join(parts) + ")"
