"""Property test: the exact double HALF_UP shared by pyeval's ``round``
and CEP's MEASURES ``round`` against a Decimal reference kept here.

Over a million doubles spread across scales -3..22 (uniform magnitudes
1e-10..1e16, constructed ties (k + 0.5)/10^d with their neighbours,
±0.0 / NaN / ±inf, values with |x·10^d| in 1e8..1e15, around the end of
the fast path at 5e14, and values with |x·10^d| >= 2^52), every answer must
equal ``float(Decimal(repr(x)).quantize(..., ROUND_HALF_UP))`` bit for
bit, the sign of zero included.  Where Decimal's 28-digit context cannot
hold the result, pyeval hands the event to Spark (Fallback) and CEP
returns the value unrounded; NaN and ±inf do the same.  No Spark.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal, InvalidOperation

import numpy as np
import pytest

from streamsql_spark.cep.eval import _round_half_up
from streamsql_spark.dialect.pyeval import (POW10_EXACT, Fallback,
                                            _round_to, half_up_double)

SCALES = range(-3, 23)
PER_SCALE = 40_000  # 26 scales: 1.04M doubles


def _reference(x: float, q: Decimal):
    """HALF_UP of x's shortest repr at quantum q; None past the
    default context."""
    try:
        return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))
    except InvalidOperation:
        return None


def _doubles(rng, d: int) -> list[float]:
    n_uni, n_tie, n_big = PER_SCALE * 2 // 5, PER_SCALE // 7, PER_SCALE // 6
    n_wide = PER_SCALE // 8
    sign = lambda n: rng.choice([-1.0, 1.0], n)  # noqa: E731
    uniform = 10.0 ** rng.uniform(-10, 16, n_uni) * sign(n_uni)
    k = np.floor(10.0 ** rng.uniform(0, 15, n_tie))
    ties = (k + 0.5) / 10.0 ** d * sign(n_tie)
    wide = 10.0 ** rng.uniform(8, 15, n_wide) / 10.0 ** d * sign(n_wide)
    big = (2.0 ** 52 * 10.0 ** rng.uniform(0, 8, n_big)
           / 10.0 ** d * sign(n_big))
    special = np.array([0.0, -0.0, math.nan, math.inf, -math.inf])
    xs = np.concatenate([uniform, ties, np.nextafter(ties, np.inf),
                         np.nextafter(ties, -np.inf), wide, big, special])
    return [float(x) for x in xs.tolist()]


def _same(a: float, b: float) -> bool:
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return a == b and math.copysign(1.0, a) == math.copysign(1.0, b)


def test_round_half_up_matches_decimal_bit_for_bit():
    rng = np.random.default_rng(20260816)
    checked = fast = fast_wide = 0
    for d in SCALES:
        q = Decimal(1).scaleb(-d)
        p = POW10_EXACT[d] if d >= 0 else None
        rnd = _round_to(d)
        for x in _doubles(rng, d):
            finite = math.isfinite(x)
            want = _reference(x, q) if finite else None
            if p is not None and finite:
                h = half_up_double(x, p)
                if h is not None:
                    fast += 1
                    fast_wide += abs(x) * p >= 5e8
                    assert want is not None and _same(h, want), (x, d, h, want)
            try:
                got = rnd(x)
            except Fallback:
                got = None
            assert (got is None) if want is None else _same(got, want), \
                ("pyeval", x, d, got, want)
            cep = _round_half_up(x, d)
            assert _same(cep, x if want is None else want), \
                ("cep", x, d, cep, want)
            checked += 1
    assert checked >= 1_000_000
    # most draws are ties, neighbours of ties or past 2^52 by design;
    # the fast path must still have answered a tenth of them, and many
    # with |x·10^d| >= 5e8, or the test no longer exercises its range
    assert fast > checked // 10, (fast, checked)
    assert fast_wide > checked // 50, (fast_wide, checked)


@pytest.mark.parametrize("x, d, want", [
    (2.675, 2, 2.68), (-2.675, 2, -2.68), (1.005, 2, 1.01),
    (0.5, 0, 1.0), (-0.5, 0, -1.0), (-0.4, 0, -0.0), (-0.0, 3, -0.0),
    (1e-300, 2, 0.0), (-1e-300, 2, -0.0), (0.125, 2, 0.13),
])
def test_round_half_up_known_values(x, d, want):
    assert _same(_round_to(d)(x), want)
    assert _same(_round_half_up(x, d), want)
