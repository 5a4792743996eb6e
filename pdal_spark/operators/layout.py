"""Data-layout optimization: Hilbert-curve clustering + catalog OPTIMIZE.

At 100 TB the dominant cost of a spatial query is not compute but the
bytes the scan touches: parquet footer min/max stats prune whole files /
row groups ONLY if rows that are close in (x, y) are close in file
order. A freshly-ingested table is ordered by arrival, so every file's
bbox spans the world and nothing prunes. The fix — the lakehouse
``OPTIMIZE ... ZORDER BY`` / Iceberg ``rewrite_data_files(sort_order)``
pattern — is a periodic rewrite that range-partitions the table on a
space-filling-curve key and sorts within files.

The curve here is the Hilbert curve, which strictly dominates the
Z-order (Morton) key the reference's MortonOrderFilter.cpp uses for the
same locality purpose: consecutive Hilbert cells are always 4-adjacent
(no quadrant-boundary jumps), so per-file bboxes are tighter for the
same file count.

Execution shape (the part that must survive 100×):

* the Hilbert index is computed as a PURE COLUMN EXPRESSION — a 4-state
  DFA over the 32-bit Morton code, one 1024-entry array-literal lookup
  per byte (4 ``element_at`` calls total). No UDF, whole-stage codegen,
  and the same arithmetic replays bit-for-bit in DuckDB SQL
  (:func:`hilbert_key_sql`) for the driver oracle.
* the rewrite is ONE ``repartitionByRange`` exchange (range boundaries
  from Spark's reservoir sample of the key) + an in-partition sort —
  exactly the shuffle a sorted write requires, nothing more.
* the commit is a full-snapshot replace through the catalog's validated
  commit, so readers never observe a half-optimized table, a concurrent
  append is never silently dropped, and time travel to the
  pre-optimize version still works.

The DFA-LUT construction: the classic per-level xy2d loop (rotate /
reflect state carried through 16 levels) is a data-dependent recurrence
— unrolled naively it makes Catalyst's collapsed projection tree grow
2^levels. But the recurrence's state space is just 4 orientations, so
the whole per-level loop collapses into a byte-at-a-time table lookup
(state × morton-byte → packed next-state|digits), derived once in
Python below and verified against the textbook loop in
tests/test_layout.py.
"""

from __future__ import annotations

import math
from typing import Optional

from pyspark.sql import Column, DataFrame, functions as F

# ---------------------------------------------------------------------------
# Hilbert DFA byte-LUT (derived from the classic xy2d formulation)
# ---------------------------------------------------------------------------

HILBERT_ORDER = 16  # 65536 x 65536 grid -> 32-bit keys; ample for file layout


def _build_hilbert_lut() -> list[int]:
    """state-transition LUT: index = state*256 + morton_byte, value =
    (next_state << 8) | hilbert_digits_byte.

    A state is the orientation transform the xy2d loop applies to all
    lower-level bits, represented extensionally as the map
    (bx, by) -> (rx, ry) over the 4 bit pairs. Only 4 states are
    reachable (identity, swap, swap+negate, and their composition);
    each LUT step consumes 8 morton bits = 4 quadrant decisions.
    """
    ident = tuple(((b >> 1) & 1, b & 1) for b in range(4))
    swap = tuple((b & 1, (b >> 1) & 1) for b in range(4))
    nswap = tuple((1 - (b & 1), 1 - ((b >> 1) & 1)) for b in range(4))

    def compose(t, s):  # (t o s)(b)
        return tuple(t[ux * 2 + uy] for ux, uy in s)

    states: list[tuple] = [ident]
    index = {ident: 0}
    trans: dict[tuple[int, int], tuple[int, int]] = {}
    i = 0
    while i < len(states):
        st = states[i]
        for b in range(4):
            rx, ry = st[b]
            digit = (3 * rx) ^ ry
            level = ident if ry == 1 else (swap if rx == 0 else nswap)
            ns = compose(level, st)
            if ns not in index:
                index[ns] = len(states)
                states.append(ns)
            trans[(i, b)] = (digit, index[ns])
        i += 1
    assert len(states) == 4, len(states)

    lut = []
    for st in range(4):
        for byte in range(256):
            s, digits = st, 0
            for q in range(3, -1, -1):  # MSB quadrant first
                digit, s = trans[(s, (byte >> (2 * q)) & 3)]
                digits = (digits << 2) | digit
            lut.append((s << 8) | digits)
    return lut


_HILBERT_LUT = _build_hilbert_lut()

# morton spread LUT (x bit above y bit per pair — the repo-wide convention
# shared with pointcloud.morton_order and its oracle)
_SPREAD_LUT = [
    sum(((b >> i) & 1) << (2 * i) for i in range(8)) for b in range(256)
]


def _grid_coord(v: Column, lo: float, hi: float) -> Column:
    """Normalize to the 2^HILBERT_ORDER grid: trunc((v-lo)/(hi-lo)*2^k),
    clamped to [0, 2^k - 1]. trunc (not floor) keeps the Spark and
    DuckDB float arithmetic identical for the oracle."""
    n = float(1 << HILBERT_ORDER)
    raw = (v - F.lit(lo)) / F.lit(hi - lo) * F.lit(n)
    g = raw.cast("long")  # cast truncates toward zero, like trunc()
    return F.greatest(F.lit(0).cast("long"),
                      F.least(g, F.lit((1 << HILBERT_ORDER) - 1).cast("long")))


def _interleave16(v: Column) -> Column:
    """Spread the low 16 bits of v to even bit positions (byte LUT)."""
    lut = F.lit(_SPREAD_LUT).cast("array<bigint>")
    lo = F.element_at(lut, (v.bitwiseAND(F.lit(255)) + 1).cast("int"))
    hi = F.element_at(
        lut, (F.shiftright(v, 8).bitwiseAND(F.lit(255)) + 1).cast("int")
    )
    return F.shiftleft(hi, 16) + lo


def hilbert_key(
    x: Column,
    y: Column,
    bounds: tuple[float, float, float, float],
) -> Column:
    """32-bit Hilbert index of (x, y) within ``bounds`` — pure codegen.

    Morton-interleave the 16-bit grid coords (x in the high bit of each
    pair), then run the 4-state DFA one byte at a time: 4 array lookups,
    each packed value carrying (next_state << 8) | 2-bit-digits-byte.
    """
    minx, miny, maxx, maxy = bounds
    xi = _grid_coord(x, minx, maxx)
    yi = _grid_coord(y, miny, maxy)
    m = F.shiftleft(_interleave16(xi), 1) + _interleave16(yi)

    lut = F.lit(_HILBERT_LUT).cast("array<bigint>")
    state = F.lit(0).cast("long")
    digits: list[Column] = []
    for byte_i in range(3, -1, -1):  # MSB byte first
        b = F.shiftright(m, 8 * byte_i).bitwiseAND(F.lit(255))
        v = F.element_at(lut, (state * 256 + b + 1).cast("int"))
        state = F.shiftright(v, 8)
        digits.append(v.bitwiseAND(F.lit(255)))
    out = F.lit(0).cast("long")
    for d in digits:
        out = F.shiftleft(out, 8) + d
    return out


def hilbert_key_sql(
    x_sql: str,
    y_sql: str,
    bounds: tuple[float, float, float, float],
    from_sql: str,
    select_cols: str,
    key_alias: str = "hilbert_key",
) -> str:
    """DuckDB replay of :func:`hilbert_key` — same LUT, same arithmetic.

    Returns a full SELECT over ``from_sql`` (a table expression) carrying
    ``select_cols`` plus the key. CTE chain keeps each DFA step's packed
    value single-use, mirroring the Spark expression tree.
    """
    minx, miny, maxx, maxy = bounds
    n = float(1 << HILBERT_ORDER)
    cap = (1 << HILBERT_ORDER) - 1

    def grid(v_sql: str, lo: float, hi: float) -> str:
        return (
            f"greatest(CAST(0 AS BIGINT), least(CAST(trunc(({v_sql} - ({lo!r}))"
            f" / ({hi - lo!r}) * {n!r}) AS BIGINT), CAST({cap} AS BIGINT)))"
        )

    spread = "[" + ",".join(str(v) for v in _SPREAD_LUT) + "]"
    lut = "[" + ",".join(str(v) for v in _HILBERT_LUT) + "]"

    def interleave16(col: str) -> str:
        # list literals are INTEGER in DuckDB; shift math needs BIGINT
        lo = (f"CAST(list_extract({spread},"
              f" CAST(({col} & 255) + 1 AS INT)) AS BIGINT)")
        hi = (f"CAST(list_extract({spread},"
              f" CAST((({col} >> 8) & 255) + 1 AS INT)) AS BIGINT)")
        return f"(({hi} << 16) + {lo})"

    steps = []
    prev_state = "CAST(0 AS BIGINT)"
    for i, byte_i in enumerate(range(3, -1, -1)):
        b = f"((m >> {8 * byte_i}) & 255)"
        steps.append(
            f"s{i} AS (SELECT *, CAST(list_extract({lut},"
            f" CAST({prev_state} * 256 + {b} + 1 AS INT)) AS BIGINT) AS v{i}"
            f" FROM {'mor' if i == 0 else f's{i - 1}'})"
        )
        prev_state = f"(v{i} >> 8)"
    final = (
        "(((v0 & 255) << 24) + ((v1 & 255) << 16)"
        " + ((v2 & 255) << 8) + (v3 & 255))"
    )
    return f"""
      WITH src AS ({from_sql}),
      grid AS (SELECT *, {grid(x_sql, minx, maxx)} AS xi,
                         {grid(y_sql, miny, maxy)} AS yi FROM src),
      mor AS (SELECT *, ({interleave16('xi')} << 1) + {interleave16('yi')} AS m
              FROM grid),
      {', '.join(steps)}
      SELECT {select_cols}, {final} AS {key_alias} FROM s3
    """


# ---------------------------------------------------------------------------
# catalog OPTIMIZE (layout rewrite)
# ---------------------------------------------------------------------------


def optimize_catalog(
    cat,
    bounds: tuple[float, float, float, float],
    n_files: Optional[int] = None,
    target_rows_per_file: int = 1_000_000,
    x: str = "x",
    y: str = "y",
) -> int:
    """Rewrite the current snapshot clustered by Hilbert key; returns the
    new version.

    One ``repartitionByRange`` exchange on the key (range boundaries
    come from Spark's sampled range partitioner, so skewed regions get
    proportionally more files), an in-partition sort so row groups
    within a file are also tight, then a full-replace validated commit
    (``SnapshotTable.rewrite``) — a concurrent commit raises
    ``CommitConflict`` instead of being dropped; readers of old
    versions are untouched (time travel intact).

    The key column is dropped before the write: it is derivable, and
    storing it would change the table schema (Iceberg keeps sort keys
    as metadata, not data — same stance).
    """
    snap = cat.snapshot()
    df = cat.read(version=snap["version"])
    if n_files is None:
        n_files = max(1, math.ceil(snap["total_rows"] / target_rows_per_file))
    keyed = df.withColumn("_hkey", hilbert_key(F.col(x), F.col(y), bounds))
    out = (
        keyed.repartitionByRange(n_files, "_hkey")
        .sortWithinPartitions("_hkey")
        .drop("_hkey")
    )
    return cat.rewrite(out, "optimize", snap["version"], keep=[])
