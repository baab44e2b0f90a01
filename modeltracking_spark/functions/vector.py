"""Embedding vector math over ``array<float>`` columns (SURVEY.md §2.12).

Built on higher-order functions (``zip_with`` / ``aggregate``) so the dot
products run JVM-side per row with no shuffle and no Python. Elements are
cast float→double (exact) before multiplying.

Fixed-point variants are provided for oracle-checkable queries: an
integer-scaled sum is order-independent and therefore bit-identical
across engines, unlike a double accumulation.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _acc_double(arr: Column) -> Column:
    return F.aggregate(
        arr, F.lit(0.0), lambda acc, x: acc + x.cast("double")
    )


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢ·bᵢ as double (left-fold in array order)."""
    prods = F.zip_with(
        _col(a), _col(b), lambda x, y: x.cast("double") * y.cast("double")
    )
    return _acc_double(prods)


def l2_norm(a: Column | str) -> Column:
    """‖a‖₂ as double."""
    sq = F.transform(_col(a), lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(_acc_double(sq))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """cos(a, b) as double (NaN-free: 0 when either norm is 0)."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot_product(a, b) / denom)


# ---------------------------------------------------------------------------
# fixed-point (oracle-exact) variants
# ---------------------------------------------------------------------------

FXP_SCALE = 10**12  # products are O(1); 64 terms * 1e12 << 2^63


def dot_product_fxp(a: Column | str, b: Column | str) -> Column:
    """Σ round(aᵢ·bᵢ·1e12) as bigint — order-independent integer sum.

    Divide by :data:`FXP_SCALE` to recover the double value; used where a
    DuckDB oracle must hash-match exactly.
    """
    prods = F.zip_with(
        _col(a),
        _col(b),
        lambda x, y: F.round(x.cast("double") * y.cast("double") * F.lit(FXP_SCALE)).cast(
            "long"
        ),
    )
    return F.aggregate(prods, F.lit(0).cast("long"), lambda acc, x: acc + x)


def sq_norm_fxp(a: Column | str) -> Column:
    """Σ round(aᵢ²·1e12) as bigint (fixed-point squared norm)."""
    return dot_product_fxp(a, a)


def dot_product_fxp_arrow(a: Column | str, b: Column | str) -> Column:
    """:func:`dot_product_fxp` as ONE vectorized Arrow kernel (r16).

    The expression form runs ``zip_with``/``aggregate`` lambdas
    INTERPRETED — ~64 lambda evaluations per PAIR, which dominates any
    query that verifies O(candidate-pairs) cosines (measured ~10 s for
    ~200k pairs at sf0.1).  This kernel replays the identical
    arithmetic per element — float→double cast (exact), double product,
    ``round(x·1e12)`` half-away-from-zero (≡ Spark ``F.round`` HALF_UP
    and DuckDB ``round``), int64 sum (order-independent, exact) — so
    results are bit-identical and the DuckDB oracles unchanged
    (asserted in tests/test_similarity.py).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType

    def _fxp(p: "np.ndarray") -> "np.ndarray":
        # round half-away-from-zero of p*1e12, exact in int64
        s = p * float(FXP_SCALE)
        return (np.sign(s) * np.floor(np.abs(s) + 0.5)).astype(np.int64)

    def _fn(sa: pd.Series, sb: pd.Series) -> pd.Series:
        try:  # uniform-dim fast path: one matrix op per batch
            A = np.stack([np.asarray(v, dtype=np.float64) for v in sa])
            B = np.stack([np.asarray(v, dtype=np.float64) for v in sb])
            return pd.Series(_fxp(A * B).sum(axis=1))
        except ValueError:  # ragged rows: per-row fallback, same math
            out = [
                int(_fxp(np.asarray(x, dtype=np.float64)
                         * np.asarray(y, dtype=np.float64)).sum())
                for x, y in zip(sa, sb)
            ]
            return pd.Series(out, dtype="int64")

    _fn.__annotations__ = {"sa": pd.Series, "sb": pd.Series,
                           "return": pd.Series}
    # non-deterministic marker (guide §4.4): a threshold filter over the
    # resulting cosine otherwise re-evaluates the kernel below the
    # pushed-down filter AND in the projection — two ArrowEvalPython
    # nodes per call site (observed in the executed plan).  The
    # function is in fact deterministic; the marker only stops the
    # optimizer from duplicating it.
    return F.pandas_udf(_fn, LongType()).asNondeterministic()(
        _col(a), _col(b))
