"""Spark's 6-dp rounding for the numpy driver twins.

``F.round(x, 6)`` on a double rounds HALF_UP on the double's shortest
decimal repr (``BigDecimal.valueOf(x).setScale(6, HALF_UP)``). Python's
``round`` and ``np.round`` round the binary value half-even instead, so
they disagree at decimal-half boundaries: 0.1234565 is 0.123456 there
and 0.123457 in Spark.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np

_Q = Decimal("1e-6")


def round6(x) -> np.ndarray:
    """``F.round(x, 6)`` over a float64 array, elementwise.

    Values whose scaled magnitude sits clear of a .5 boundary round in
    numpy: there the binary value, its repr and ``|x| * 1e6`` all round
    to the same integer n, and ``n / 1e6`` is the double nearest
    n·10⁻⁶. Only the rare values near a boundary (and magnitudes whose
    scaled value keeps no fraction) take ``Decimal`` on the repr.
    Non-finite values pass through, and a zero result is +0.0 (a
    BigDecimal has no negative zero), as in Spark."""
    a = np.asarray(x, dtype=np.float64)
    with np.errstate(all="ignore"):
        y = np.abs(a) * 1e6
        out = np.copysign(np.floor(y + 0.5), a) / 1e6 + 0.0  # -0.0 + 0.0 = 0.0
        # |x| * 1e6 and the repr each sit within |y|·2⁻⁵³ of x's value
        near = np.abs(y - np.floor(y) - 0.5) <= y * 1e-15 + 1e-9
        whole = np.abs(a) >= 2.0**53  # integral already, and ±inf
        out = np.where(whole, a + 0.0, out)
    for i in np.flatnonzero(near & ~whole):
        v = float(a.flat[i])
        out.flat[i] = float(Decimal(repr(v)).quantize(_Q, ROUND_HALF_UP)) + 0.0
    return out
