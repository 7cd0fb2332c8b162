"""Vector/embedding column functions ([EXT] F10, BASELINE.json north
star: similarity search over an ``array<float>`` embedding column).

Pure ``zip_with`` + ``aggregate`` builtins — the dot product stays in
the JVM as a sequential fold over the array, which makes it bit-exact
against a sequential-sum oracle (both engines fold identical
float→double-promoted element products in index order).

For very wide vectors (≥ 1k dims) a vectorized Pandas-UDF path would
amortize better; at embedding dims ≤ a few hundred the builtin fold is
faster than a Python round-trip and keeps whole-stage codegen intact.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..session import memo


def _as_double(v: Column) -> Column:
    return v.cast("array<double>")


# The name-keyed folds below go through session.memo (optimization
# r12): building them costs real py4j latency — measured 129 ms per
# cosine_micro and 35 ms per l2_norm — on every similarity query build.


def l2_norm_named(col_name: str) -> Column:
    """l2_norm over a named column — memoized per name."""
    return memo(("l2", col_name), lambda: l2_norm(F.col(col_name)))


def cosine_micro_named(a_name: str, b_name: str) -> Column:
    """cosine_micro over two named columns — memoized per name pair."""
    return memo(("cosu", a_name, b_name),
                lambda: cosine_micro(F.col(a_name), F.col(b_name)))


def scored_units_named(a_name: str, b_name: str,
                       a_norm: str, b_norm: str) -> Column:
    """to_units(dot(a, b) / (a_norm · b_norm), 6) over named columns —
    the brute-force scorer's expression, memoized per name tuple
    (norms are precomputed per side, so the pair loop runs ONE fold)."""
    from .units import to_units
    return memo(("score_u", a_name, b_name, a_norm, b_norm),
                lambda: to_units(dot(F.col(a_name), F.col(b_name)) /
                                 (F.col(a_norm) * F.col(b_norm)), 6))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic summation order)."""
    prod = F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y)
    return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    """Raw-double cosine similarity.

    BEHAVIOR CHANGE (rounds 6–7): the former ``scale`` rounding
    parameter is GONE — it was the exact fractional-ROUND HALF_UP
    hazard the repo-wide determinism sweep eliminated, and keeping it
    as an opt-in invited the regression back.  For any HASH-COMPARED
    output use :func:`cosine_micro` (integer micro-units) instead."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_micro(a: Column, b: Column) -> Column:
    """Cosine similarity quantized to integer MICRO-UNITS:
    ``floor(cos · 1e6)`` as BIGINT — one IEEE multiply + floor on top
    of the bit-identical left-fold dot product, so Spark and DuckDB
    agree exactly (the repo-wide determinism recipe via
    :func:`functions.units.to_units`)."""
    from .units import to_units
    return to_units(dot(a, b) / (l2_norm(a) * l2_norm(b)), 6)
