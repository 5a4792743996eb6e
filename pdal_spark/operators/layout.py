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

* the Hilbert index is ONE SQL expression, :func:`hilbert_key_sql` — a
  4-state DFA over the 32-bit Morton code, one 1024-entry array-literal
  lookup per byte (4 lookups total). The same text is rendered for
  Spark, where :func:`hilbert_key` wraps it in one ``F.expr`` (no UDF,
  whole-stage codegen, a few py4j calls to build), and for the DuckDB
  oracle; nothing else computes the key.
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

import functools
import math
from typing import Optional

from pyspark.sql import Column, functions as F

from pdal_spark import geo

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


def hilbert_key_sql(
    x: str,
    y: str,
    bounds: tuple[float, float, float, float],
    dialect: str = "duckdb",
) -> str:
    """32-bit Hilbert index of (x, y) within ``bounds``, one BIGINT
    expression over the column expressions ``x`` and ``y``.

    Each axis goes to the 2^HILBERT_ORDER grid as
    trunc((v - lo) / (hi - lo) * 2^k), clamped to [0, 2^k - 1] (trunc,
    not floor, is the same in both engines). The two 16-bit grid
    coordinates are Morton-interleaved (x in the high bit of each pair)
    through the byte spread LUT; then the 4-state DFA runs one byte at a
    time, MSB first: 4 array lookups, each packed value carrying
    (next_state << 8) | 2-bit-digits-byte.
    """
    minx, miny, maxx, maxy = bounds
    d = functools.partial(geo.sql_double, dialect=dialect)
    shl = functools.partial(geo.sql_shiftleft, dialect=dialect)
    shr = functools.partial(geo.sql_shiftright, dialect=dialect)
    lut = functools.partial(geo.sql_int_lut, dialect=dialect)
    n = float(1 << HILBERT_ORDER)
    cap = (1 << HILBERT_ORDER) - 1

    def grid(v: str, lo: float, hi: float) -> str:
        g = geo.sql_trunc(f"({v} - {d(lo)}) / {d(hi - lo)} * {d(n)}", dialect)
        return f"greatest(CAST(0 AS BIGINT), least({g}, CAST({cap} AS BIGINT)))"

    def interleave16(v: str) -> str:
        lo = lut(_SPREAD_LUT, f"({v} & 255)")
        hi = lut(_SPREAD_LUT, f"({shr(v, 8)} & 255)")
        return f"({shl(hi, 16)} + {lo})"

    m = (f"({shl(interleave16(grid(x, minx, maxx)), 1)}"
         f" + {interleave16(grid(y, miny, maxy))})")
    state = key = "CAST(0 AS BIGINT)"
    for byte_i in range(3, -1, -1):  # MSB byte first
        v = lut(_HILBERT_LUT, f"({state} * 256 + ({shr(m, 8 * byte_i)} & 255))")
        state = shr(v, 8)
        key = f"({shl(key, 8)} + ({v} & 255))"
    return key


def hilbert_key(
    x: str,
    y: str,
    bounds: tuple[float, float, float, float],
) -> Column:
    """:func:`hilbert_key_sql` over the columns named ``x`` and ``y``, as
    one Spark expression — pure codegen."""
    return F.expr(hilbert_key_sql(
        geo.sql_ident(x), geo.sql_ident(y), bounds, "spark"))


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
    keyed = df.withColumn("_hkey", hilbert_key(x, y, bounds))
    out = (
        keyed.repartitionByRange(n_files, "_hkey")
        .sortWithinPartitions("_hkey")
        .drop("_hkey")
    )
    return cat.rewrite(out, "optimize", snap["version"], keep=[])
