"""XZ-ordering space-filling curve codes (SURVEY.md A9).

Implements Böhm, Klump, Kriegel (1999), "XZ-Ordering: A Space-Filling Curve
for Objects with Spatial Extension" (SSD'99), the curve the reference uses to
spatially index contribution bboxes (parity target:
``ohsome-contributions/.../util/XZCode.java:12-88``, resolution g=16).

Two implementations with identical results:

- :func:`xz_codes` — numpy-vectorized, used inside pandas UDFs;
- :func:`xz_level_expr` / :func:`xz_code_expr` — pure Spark Column
  expressions (the quadrant walk unrolls into ``g`` closed-form steps, so the
  whole computation stays inside whole-stage codegen — no Python round trip).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

G_DEFAULT = 16

_LOG_HALF = math.log(0.5)


def _n_elem(g: int) -> np.ndarray:
    """nElem[i] = (4^(g-i) - 1) / 3 — number of curve elements below level i."""
    return np.array([(4 ** (g - i) - 1) // 3 for i in range(g)], dtype=np.int64)


def xz_codes(
    xmin: np.ndarray,
    ymin: np.ndarray,
    xmax: np.ndarray,
    ymax: np.ndarray,
    g: int = G_DEFAULT,
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized (level, code) for arrays of WGS84 bboxes."""
    xmin = (180.0 + np.asarray(xmin, dtype=np.float64)) / 360.0
    ymin = (90.0 + np.asarray(ymin, dtype=np.float64)) / 360.0
    xmax = (180.0 + np.asarray(xmax, dtype=np.float64)) / 360.0
    ymax = (90.0 + np.asarray(ymax, dtype=np.float64)) / 360.0

    ext = np.maximum(xmax - xmin, ymax - ymin)
    with np.errstate(divide="ignore"):
        l1 = np.floor(np.log(ext) / _LOG_HALF)
    # zero-extent boxes (points) have log(0) = -inf -> l1 = +inf -> level g
    l1 = np.where(np.isfinite(l1), l1, g).astype(np.int64)

    length = np.full(xmin.shape, g, dtype=np.int64)
    small = l1 < g
    l2 = l1 + 1
    w2 = np.power(0.5, l2, dtype=np.float64)

    def _pred(mn: np.ndarray, mx: np.ndarray) -> np.ndarray:
        return mx <= (np.floor(mn / w2) * w2) + 2 * w2

    fits = _pred(xmin, xmax) & _pred(ymin, ymax)
    length[small & fits] = l2[small & fits]
    length[small & ~fits] = l1[small & ~fits]

    n_elem = _n_elem(g)
    code = np.zeros(xmin.shape, dtype=np.int64)
    cur_xmin = np.zeros_like(xmin)
    cur_xmax = np.ones_like(xmin)
    cur_ymin = np.zeros_like(ymin)
    cur_ymax = np.ones_like(ymin)
    for i in range(g):
        active = i < length
        xc = cur_xmin + (cur_xmax - cur_xmin) / 2
        yc = cur_ymin + (cur_ymax - cur_ymin) / 2
        right = xmin >= xc
        top = ymin >= yc
        q = right.astype(np.int64) + 2 * top.astype(np.int64)
        code = np.where(active, code + q * n_elem[i] + 1, code)
        cur_xmin = np.where(right, xc, cur_xmin)
        cur_xmax = np.where(right, cur_xmax, xc)
        cur_ymin = np.where(top, yc, cur_ymin)
        cur_ymax = np.where(top, cur_ymax, yc)
    return length, code


# same memoization rationale as _CODE_EXPR_CACHE below: pure function of
# its input expressions, immutable JVM tree, rebuilt in every contribution
# synthesis otherwise
_LEVEL_EXPR_CACHE: dict[tuple, Column] = {}


def xz_level_expr(xmin: Column, ymin: Column, xmax: Column, ymax: Column, g: int = G_DEFAULT) -> Column:
    """Native Spark expression for the XZ level (no UDF)."""
    key = (str(xmin), str(ymin), str(xmax), str(ymax), g)
    if key in _LEVEL_EXPR_CACHE:
        return _LEVEL_EXPR_CACHE[key]
    out = _xz_level_expr_build(xmin, ymin, xmax, ymax, g)
    _LEVEL_EXPR_CACHE[key] = out
    return out


def _xz_level_expr_build(
    xmin: Column, ymin: Column, xmax: Column, ymax: Column, g: int = G_DEFAULT
) -> Column:
    nx_min = (F.lit(180.0) + xmin) / F.lit(360.0)
    ny_min = (F.lit(90.0) + ymin) / F.lit(360.0)
    nx_max = (F.lit(180.0) + xmax) / F.lit(360.0)
    ny_max = (F.lit(90.0) + ymax) / F.lit(360.0)
    ext = F.greatest(nx_max - nx_min, ny_max - ny_min)
    l1 = F.when(ext <= F.lit(0.0), F.lit(g)).otherwise(
        F.floor(F.log(ext) / F.lit(_LOG_HALF))
    )
    l2 = l1 + F.lit(1)
    w2 = F.pow(F.lit(0.5), l2)

    def _pred(mn: Column, mx: Column) -> Column:
        return mx <= (F.floor(mn / w2) * w2) + F.lit(2.0) * w2

    fits = _pred(nx_min, nx_max) & _pred(ny_min, ny_max)
    return (
        F.when(l1 >= F.lit(g), F.lit(g))
        .otherwise(F.when(fits, l2).otherwise(l1))
        .cast("int")
    )


# The built expression is ~4g py4j-constructed nodes (seconds of driver
# round-trips); it is a pure function of its input expressions, and Column
# trees are immutable JVM objects safe to splice into any number of plans,
# so one process builds each distinct (inputs, g) tree once. Keyed by the
# inputs' canonical expression strings (4 py4j toString calls vs ~400
# constructor calls).
_CODE_EXPR_CACHE: dict[tuple, Column] = {}


def xz_code_expr(
    xmin: Column, ymin: Column, xmax: Column, ymax: Column, g: int = G_DEFAULT
) -> Column:
    """Native Spark expression for the XZ sequence code.

    The iterative quadrant walk has a closed form: after ``i`` halvings the
    cell boundaries are exact dyadic rationals, so the step-``i`` quadrant
    bit is ``floor(x * 2^(i+1)) mod 2`` (clamped for x == 1.0). Each level's
    term is independent — the expression stays linear in ``g`` and inside
    whole-stage codegen (a naive unroll of the walk nests exponentially).
    """
    key = (str(xmin), str(ymin), str(xmax), str(ymax), g)
    if key in _CODE_EXPR_CACHE:
        return _CODE_EXPR_CACHE[key]
    out = _xz_code_expr_build(xmin, ymin, xmax, ymax, g)
    _CODE_EXPR_CACHE[key] = out
    return out


def _xz_code_expr_build(
    xmin: Column, ymin: Column, xmax: Column, ymax: Column, g: int = G_DEFAULT
) -> Column:
    level = xz_level_expr(xmin, ymin, xmax, ymax, g)
    x = (F.lit(180.0) + xmin) / F.lit(360.0)
    y = (F.lit(90.0) + ymin) / F.lit(360.0)
    n_elem = _n_elem(g)

    # Build all g per-level terms into one array and sum the first `level`
    # entries. This keeps the level expression in the tree ONCE (inlining it
    # into g conditionals blows the generated method past the JIT limit and
    # Spark falls back to interpreted eval — measured 10× slower).
    terms = []
    for i in range(g):
        scale = float(2 ** (i + 1))
        cap = F.lit(int(2 ** (i + 1) - 1)).cast("bigint")
        bit_x = F.pmod(F.least(F.floor(x * F.lit(scale)).cast("bigint"), cap), F.lit(2))
        bit_y = F.pmod(F.least(F.floor(y * F.lit(scale)).cast("bigint"), cap), F.lit(2))
        q = bit_x + F.lit(2) * bit_y
        terms.append(q * F.lit(int(n_elem[i])) + F.lit(1))
    return F.aggregate(
        F.slice(F.array(*terms), F.lit(1), level),
        F.lit(0).cast("bigint"),
        lambda acc, t: acc + t,
    )
