"""Shared numeric helper for the ``applyInPandasWithState`` kernels.

The anomaly and CUSUM kernels fold per-key state in Python and must
round exactly as the SQL batch twins do; ``round_half_up_micro`` is that
rounding, kept in one place so both kernels agree with the engines.
"""

from __future__ import annotations

import math


def round_half_up_micro(x: float) -> int:
    """Python twin of the engines' ``ROUND(x * 1e6)`` half-away-from-zero
    for non-negative ``x``, computed WITHOUT the lossy ``+ 0.5`` IEEE
    addition. ``floor(y + 0.5)`` can round across the boundary on edge
    doubles (``y = 0.49999999999999994``: the addition produces exactly
    0.5, floor+adjust yields 1, while Spark/DuckDB round the true value
    to 0). Instead take the exact fractional part (``y - floor(y)`` is
    an exact IEEE subtraction for ``y >= 0``) and compare it to 0.5 —
    bit-identical to both engines' rounding of the true double."""
    y = x * 1_000_000.0
    fl = math.floor(y)
    return int(fl) + (1 if y - fl >= 0.5 else 0)
