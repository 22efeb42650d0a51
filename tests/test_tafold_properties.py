"""Property tests for the TA fold steppers (functions/tafold.py).

Each stepper claims to equal the O(B²) per-bucket prefix re-fold the
in-row codegen form computes (same IEEE op sequence, same SQL null
semantics). The replicas here RE-FOLD from scratch for every output
index — an independent implementation of exactly what the Spark
``F.aggregate(F.slice(...))`` expressions do — so bitwise agreement
over randomized series (including nulls, zeros, negatives, repeats)
proves the running-state steppers' prefix property and null handling.
Spark-level equality on real data is separately pinned in
tests/test_influxql.py::TestLinearFolds.
"""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st

from syncflux_spark.functions.tafold import (
    cascade_stepper,
    ema_stepper,
    hw_fit_stepper,
    kama_stepper,
    rsi_stepper,
)


def _run(step, xs: list) -> list:
    """One stepper's output for every bucket of ``xs``."""
    return [step(x) for x in xs]


# values in a realistic magnitude band plus hazard cases; None = SQL null
elem = st.one_of(
    st.none(),
    st.just(0.0),
    st.floats(
        min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
    ),
)
series = st.lists(elem, min_size=0, max_size=40)


def _fold_ema(xs, j, alpha, beta):
    acc = xs[0]
    for x in xs[1:j]:
        acc = None if (acc is None or x is None) else x * alpha + acc * beta
    return acc


@settings(max_examples=200, deadline=None)
@given(xs=series, n=st.integers(1, 6))
def test_ema_prefix_property(xs, n):
    alpha = 2.0 / (n + 1.0)
    beta = 1.0 - alpha
    got = _run(ema_stepper(alpha, beta), xs)
    assert len(got) == len(xs)
    for j in range(1, len(xs) + 1):
        assert got[j - 1] == _fold_ema(xs, j, alpha, beta)


def _fold_rsi(xs, j, n):
    fn, fn1 = float(n), float(n - 1)
    prev, ag, al, k = xs[0], 0.0, 0.0, 0
    for x in xs[1:j]:
        k += 1
        if x is None or prev is None:
            gain = loss = 0.0  # greatest(null, 0.0) = 0.0
        else:
            gain = max(x - prev, 0.0)
            loss = max(prev - x, 0.0)
        if k <= n:
            ag = ag + gain / fn
            al = al + loss / fn
        else:
            ag = (ag * fn1 + gain) / fn
            al = (al * fn1 + loss) / fn
        prev = x
    s = ag + al
    return (100.0 * ag) / s if s != 0.0 else None


@settings(max_examples=200, deadline=None)
@given(xs=series, n=st.integers(1, 6))
def test_rsi_prefix_property(xs, n):
    got = _run(rsi_stepper(n), xs)
    assert len(got) == len(xs)
    for j in range(1, len(xs) + 1):
        want = _fold_rsi(xs, j, n) if j >= n + 1 else None
        assert got[j - 1] == want


def _fold_cascade(xs, j):
    e1 = e2 = e3 = xs[0]
    for x in xs[1:j]:
        if x is None or e1 is None:
            e1 = e2 = e3 = None
        else:
            e1 = x * 0.5 + e1 * 0.5
            e2 = e1 * 0.5 + e2 * 0.5
            e3 = e2 * 0.5 + e3 * 0.5
    return e1, e2, e3


@settings(max_examples=200, deadline=None)
@given(
    xs=series,
    kind=st.sampled_from(
        [
            "double_exponential_moving_average",
            "triple_exponential_moving_average",
            "triple_exponential_derivative",
        ]
    ),
)
def test_cascade_prefix_property(xs, kind):
    got = _run(cascade_stepper(0.5, 0.5, kind), xs)
    assert len(got) == len(xs)
    for j in range(1, len(xs) + 1):
        if not xs:
            break
        e1, e2, e3 = _fold_cascade(xs, j)
        if kind == "double_exponential_moving_average":
            want = None if e1 is None else 2.0 * e1 - e2
        elif kind == "triple_exponential_moving_average":
            want = None if e1 is None else (3.0 * e1 - 3.0 * e2) + e3
        else:
            if j < 2:
                want = None
            else:
                p1, p2, p3 = _fold_cascade(xs, j - 1)
                if p3 is None or e3 is None or p3 == 0.0:
                    want = None
                else:
                    want = (100.0 * (e3 - p3)) / p3
        assert got[j - 1] == want


def _fold_kama(xs, j, n, spread, slow):
    # from-scratch replica of the codegen kama_at(j): seed at x_{n+1},
    # fold buckets n+2..j, inner window den re-folded per step
    kama = xs[n]
    for k in range(n + 2, j + 1):
        x = xs[k - 1]
        den = 0.0
        for m in range(k - n - 1, k - 1):
            a, b = xs[m + 1], xs[m]
            mv = None if (a is None or b is None) else abs(a - b)
            den = None if (den is None or mv is None) else den + mv
        num = (
            None
            if (xs[k - 1] is None or xs[k - 1 - n] is None)
            else abs(xs[k - 1] - xs[k - 1 - n])
        )
        if den is not None and den != 0.0:
            er0 = None if num is None else num / den
        else:
            er0 = 0.0
        if er0 is None or kama is None or x is None:
            kama = None
        else:
            sc = er0 * spread + slow
            sc2 = sc * sc
            kama = kama + sc2 * (x - kama)
    return kama


@settings(max_examples=150, deadline=None)
@given(xs=series, n=st.integers(1, 5))
def test_kama_prefix_property(xs, n):
    spread, slow = 2.0 / 3.0 - 2.0 / 31.0, 2.0 / 31.0
    got = _run(kama_stepper(n, spread, slow), xs)
    assert len(got) == len(xs)
    for j in range(1, len(xs) + 1):
        want = _fold_kama(xs, j, n, spread, slow) if j >= n + 1 else None
        assert got[j - 1] == want


int_elem = st.one_of(
    st.none(), st.integers(min_value=-10**12, max_value=10**12)
)


@settings(max_examples=200, deadline=None)
@given(xs=st.lists(int_elem, min_size=0, max_size=40))
def test_hw_fit_prefix_property(xs):
    got = _run(hw_fit_stepper(), xs)
    assert len(got) == len(xs)
    for i in range(1, len(xs) + 1):
        if i == 1:
            want = None if xs[0] is None else float(xs[0]) / 1e6
        else:
            l, b = xs[0], 0
            for x in xs[1 : i - 1]:
                if x is None or l is None:
                    l = b = None
                else:
                    s_new = math.floor(float(x + l + b) / 2.0)
                    b = math.floor(float(s_new - l) / 4.0) + (
                        b - math.floor(float(b) / 4.0)
                    )
                    l = s_new
            want = None if (l is None or b is None) else (l + b) / 1e6
        assert got[i - 1] == want
