"""Z-order (Morton) interleaving as native Column expressions — the
multi-dimensional data-layout key used to cluster 100 TB tables so that
range predicates on ANY of the interleaved dimensions prune row groups
(the technique behind Delta/Iceberg ``OPTIMIZE ZORDER BY``; the domain
sibling of the XZ space-filling curve in ``functions/xz.py``).

Everything is closed-form integer arithmetic (shift/mask/or), so the
key stays inside whole-stage codegen and the DuckDB oracle replays it
bit-for-bit. No UDFs, no driver work.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def zorder_key_expr(cols: list[Column], bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of each (non-negative integer)
    column into one Morton key: bit ``i`` of column ``d`` lands at
    position ``i * len(cols) + d``. With two 16-bit dimensions the key
    fits 32 bits; three fit 48 — always inside an int64 for
    ``bits * len(cols) <= 63``."""
    n = len(cols)
    if n * bits > 63:
        raise ValueError("interleaved key must fit a signed int64")
    key = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    for d, c in enumerate(cols):
        v = c.cast("long")
        for i in range(bits):
            key = key.bitwiseOR(
                F.shiftleft(F.shiftright(v, i).bitwiseAND(one), i * n + d)
            )
    return key


def zorder_key_sql(cols: list[str], bits: int = 16) -> str:
    """The DuckDB twin of :func:`zorder_key_expr` (same bit layout)."""
    n = len(cols)
    terms = []
    for d, c in enumerate(cols):
        for i in range(bits):
            terms.append(f"((({c} >> {i}) & 1) << {i * n + d})")
    return "(" + " | ".join(terms) + ")"


def quantize_expr(c: Column, lo: float, hi: float, bits: int = 16) -> Column:
    """Map a double in [lo, hi] onto the ``bits``-bit integer grid
    (clamped), the step before interleaving continuous dimensions."""
    span = hi - lo
    cells = (1 << bits) - 1
    q = F.floor((c - F.lit(lo)) / F.lit(span) * F.lit(cells)).cast("long")
    return F.greatest(F.lit(0), F.least(F.lit(cells), q))


def hilbert_key_expr(x: Column, y: Column, bits: int = 16) -> Column:
    """Hilbert-curve distance of a 2-D point (the clustering key Iceberg
    prefers over Morton for 2-D: no quadrant seam jumps, so range scans
    touch fewer chunks). The classical per-bit rotate/reflect fold,
    unrolled into ``bits`` pure Column steps — stays inside whole-stage
    codegen like :func:`zorder_key_expr`; the oracle replays the same
    unrolled steps.

    Algorithm (public domain, the standard xy2d form): walk s from the
    top bit down; per level take quadrant bits (rx, ry), add
    s² · ((3·rx) XOR ry) to the distance, then rotate/reflect the
    remaining square.
    """
    if 2 * bits > 62:
        raise ValueError("hilbert key must fit a signed int64")
    if bits > 8:
        # the fold references cx/cy twice per level: the pure-expression
        # tree grows ~4^bits and the driver cannot build it at real key
        # widths — use the named-column frame form instead
        raise ValueError("bits > 8: use with_hilbert_key (linear tree)")
    d = F.lit(0).cast("long")
    cx = x.cast("long")
    cy = y.cast("long")
    for level in range(bits - 1, -1, -1):
        s = 1 << level
        rx = F.shiftright(cx, level).bitwiseAND(F.lit(1).cast("long"))
        ry = F.shiftright(cy, level).bitwiseAND(F.lit(1).cast("long"))
        d = d + F.lit(s).cast("long") * F.lit(s).cast("long") * (
            (F.lit(3).cast("long") * rx).bitwiseXOR(ry)
        )
        # rotate/reflect the sub-square for the next level
        flip = (ry == 0) & (rx == 1)
        nx = F.when(flip, F.lit(s - 1).cast("long") - cx).otherwise(cx)
        ny = F.when(flip, F.lit(s - 1).cast("long") - cy).otherwise(cy)
        swap = ry == 0
        cx, cy = (
            F.when(swap, ny).otherwise(nx),
            F.when(swap, nx).otherwise(ny),
        )
        # mask to the remaining low bits so the s-1-x reflection stays
        # inside the current square on later levels
        mask = F.lit(s - 1).cast("long")
        cx = cx.bitwiseAND(mask)
        cy = cy.bitwiseAND(mask)
    return d


def hilbert_key_sql(inner: str, bits: int = 16) -> str:
    """DuckDB twin of :func:`hilbert_key_expr`: wrap ``inner`` (a SELECT
    producing integer columns ``hx, hy`` plus any carried columns) in
    ``bits`` nested per-level rotate/reflect selects; the result exposes
    ``hd`` (the Hilbert distance) plus the carried columns."""
    q = f"(SELECT *, CAST(0 AS BIGINT) AS hd FROM ({inner}))"
    for level in range(bits - 1, -1, -1):
        s = 1 << level
        q = f"""(SELECT
  CASE WHEN ((hy >> {level}) & 1) = 0
       THEN (CASE WHEN ((hx >> {level}) & 1) = 1
                  THEN ({s - 1} - hy) ELSE hy END) & {s - 1}
       ELSE hx & {s - 1} END AS hx,
  CASE WHEN ((hy >> {level}) & 1) = 0
       THEN (CASE WHEN ((hx >> {level}) & 1) = 1
                  THEN ({s - 1} - hx) ELSE hx END) & {s - 1}
       ELSE hy & {s - 1} END AS hy,
  hd + CAST({s} AS BIGINT) * {s}
     * xor(3 * ((hx >> {level}) & 1), (hy >> {level}) & 1) AS hd,
  * EXCLUDE (hx, hy, hd)
FROM {q})"""
    return q


def with_hilbert_key(df, x_col: str, y_col: str, bits: int = 16, out: str = "hd"):
    """Frame-level Hilbert key: same fold as :func:`hilbert_key_expr`,
    but each level lands in NAMED intermediate columns (one
    ``withColumns`` projection per level), so the expression tree stays
    LINEAR in ``bits``. The pure-expression form quadruples its tree per
    level (cx/cy each reference both predecessors) — at production key
    widths that is an exponential tree the driver cannot even build;
    this is the repo's standard named-column mitigation. Use the
    expression form only for tiny ``bits``."""
    if 2 * bits > 62:
        raise ValueError("hilbert key must fit a signed int64")
    one = F.lit(1).cast("long")
    df = df.withColumns(
        {
            "_hx": F.col(x_col).cast("long"),
            "_hy": F.col(y_col).cast("long"),
            "_hd": F.lit(0).cast("long"),
        }
    )
    for level in range(bits - 1, -1, -1):
        s = 1 << level
        rx = F.shiftright(F.col("_hx"), level).bitwiseAND(one)
        ry = F.shiftright(F.col("_hy"), level).bitwiseAND(one)
        flip = (ry == 0) & (rx == 1)
        nx = F.when(flip, F.lit(s - 1).cast("long") - F.col("_hx")).otherwise(
            F.col("_hx")
        )
        ny = F.when(flip, F.lit(s - 1).cast("long") - F.col("_hy")).otherwise(
            F.col("_hy")
        )
        mask = F.lit(s - 1).cast("long")
        df = df.withColumns(
            {
                "_hd": F.col("_hd")
                + F.lit(s).cast("long") * F.lit(s).cast("long")
                * (F.lit(3).cast("long") * rx).bitwiseXOR(ry),
                "_hx": F.when(ry == 0, ny).otherwise(nx).bitwiseAND(mask),
                "_hy": F.when(ry == 0, nx).otherwise(ny).bitwiseAND(mask),
            }
        )
    return df.withColumn(out, F.col("_hd")).drop("_hx", "_hy", "_hd")
