"""Row-streaming form of the InfluxQL TA fold family.

Every member (EMA, RSI, DEMA/TEMA/TRIX, KAMA/ER, holt_winters) has two
forms, picked per statement by ``InfluxQLEngine.fold_stream_threshold``
(estimated buckets, known at plan build). The in-row codegen form in
``influxql.py`` computes bucket *j*'s value by re-folding the series
prefix ``x₁..xⱼ`` — O(B²) work inside one JVM projection, no Python
worker, the cheaper form below ~100 buckets. Above the threshold, and
for any unbounded time range, :func:`streaming_fold` runs: the rollup
rows are clustered by series and sorted by time, then a
``mapInPandas`` kernel carries the recurrence state ACROSS Arrow
batches — O(B) work, memory O(arrow batch), never a per-series array.
One series still flows through one task (the recurrence is inherently
sequential), but a 10⁷-bucket series completes in bounded memory
(tests/test_tafold_stream.py).

The steppers below are the ONE Python statement of each recurrence.
**Bit-determinism contract**: each replays EXACTLY the sequence of
individually-rounded IEEE-754 operations of the codegen fold (and
therefore of the DuckDB oracle): same operand order, same
intermediate rounding, no FMA contraction (CPython and JVM both
evaluate ``a*b + c*d`` as two mults and an add on doubles). SQL null
semantics are mirrored op-by-op: plain arithmetic null-propagates,
``greatest(expr, 0.0)`` treats a null operand as absent (yielding
0.0), ``when(cond_null)`` falls to the otherwise branch. Pinned
bit-exact against the codegen forms on Spark (tests/test_influxql.py::
TestLinearFolds, tests/test_tafold_stream.py, both including null
buckets) and against from-scratch prefix re-folds over randomized
series (tests/test_tafold_properties.py).
"""

from __future__ import annotations

import math
from collections import deque


def _is_null(x) -> bool:
    return x is None or (isinstance(x, float) and math.isnan(x))


# ---------------------------------------------------------------------------
# Steppers: each returns a closure ``step(x) -> value`` that advances
# one bucket and returns that bucket's output (None for SQL null /
# warm-up slots). The ONE implementation of each recurrence;
# streaming_fold runs them.
# ---------------------------------------------------------------------------


def ema_stepper(alpha: float, beta: float):
    """EMA₁ = x₁; EMAⱼ = xⱼ·α + EMAⱼ₋₁·β — null-propagating like the
    codegen fold (any null in the prefix nulls everything after)."""
    st = {"i": 0, "acc": None}

    def step(x):
        i = st["i"]
        st["i"] = i + 1
        if i == 0:
            st["acc"] = x
        elif st["acc"] is None or x is None:
            st["acc"] = None
        else:
            st["acc"] = x * alpha + st["acc"] * beta
        return st["acc"]

    return step


def rsi_stepper(n: int):
    """Wilder RSI: N-bucket seeded average then the (ag·(N−1)+g)/N
    smoothing; defined from bucket N+1 (earlier slots None).
    greatest() semantics: a move involving a null bucket counts as
    0-gain/0-loss, and `prev` still advances to the null."""
    fn, fn1 = float(n), float(n - 1)
    st = {"j": 0, "prev": None, "ag": 0.0, "al": 0.0, "k": 0}

    def step(x):
        st["j"] += 1
        if st["j"] == 1:
            st["prev"] = x
            return None
        st["k"] += 1
        prev = st["prev"]
        if x is None or prev is None:
            gain = loss = 0.0
        else:
            gain = max(x - prev, 0.0)
            loss = max(prev - x, 0.0)
        if st["k"] <= n:
            st["ag"] = st["ag"] + gain / fn
            st["al"] = st["al"] + loss / fn
        else:
            st["ag"] = (st["ag"] * fn1 + gain) / fn
            st["al"] = (st["al"] * fn1 + loss) / fn
        st["prev"] = x
        if st["j"] >= n + 1:
            s = st["ag"] + st["al"]
            return (100.0 * st["ag"]) / s if s != 0.0 else None
        return None

    return step


def cascade_stepper(alpha: float, beta: float, kind: str):
    """DEMA / TEMA / TRIX over the e1→e2→e3 EMA cascade, all levels
    advanced per step, seeded at x₁. DEMA/TEMA defined from bucket 1,
    TRIX from bucket 2 (needs the previous e3)."""
    st = {"j": 0, "e1": None, "e2": None, "e3": None}

    def step(x):
        st["j"] += 1
        prev_e3 = None
        if st["j"] == 1:
            st["e1"] = st["e2"] = st["e3"] = x
        else:
            prev_e3 = st["e3"]
            if x is None or st["e1"] is None:
                st["e1"] = st["e2"] = st["e3"] = None
            else:
                st["e1"] = x * alpha + st["e1"] * beta
                st["e2"] = st["e1"] * alpha + st["e2"] * beta
                st["e3"] = st["e2"] * alpha + st["e3"] * beta
        if kind == "double_exponential_moving_average":
            return None if st["e1"] is None else 2.0 * st["e1"] - st["e2"]
        if kind == "triple_exponential_moving_average":
            return (
                None
                if st["e1"] is None
                else (3.0 * st["e1"] - 3.0 * st["e2"]) + st["e3"]
            )
        # triple_exponential_derivative (TRIX), defined from j >= 2
        if st["j"] >= 2 and prev_e3 is not None and st["e3"] is not None:
            return (
                (100.0 * (st["e3"] - prev_e3)) / prev_e3
                if prev_e3 != 0.0
                else None
            )
        return None

    return step


def kama_stepper(n: int, spread: float, slow: float):
    """Kaufman adaptive MA: seeds at x_{N+1}, then
    kama' = kama + sc²·(x − kama) with sc = er₀·spread + slow. er₀'s
    denominator re-folds the N-move window left-to-right each step
    (same op order as the codegen inner fold — O(N) per bucket over a
    bounded deque, constant memory); a null anywhere in the window
    makes the denominator null, which the when().otherwise(0.0) maps
    to er₀ = 0."""
    st = {"j": 0, "kama": None}
    xwin: deque = deque(maxlen=n + 1)
    adwin: deque = deque(maxlen=n)

    def step(x):
        st["j"] += 1
        if xwin:
            prev = xwin[-1]
            adwin.append(
                None if (x is None or prev is None) else abs(x - prev)
            )
        xwin.append(x)
        if st["j"] < n + 1:
            return None
        if st["j"] == n + 1:
            st["kama"] = x
            return st["kama"]
        den: float | None = 0.0
        for a in adwin:  # oldest→newest == the codegen slice order
            den = None if (den is None or a is None) else den + a
        x_old = xwin[0]  # x_{j−N}
        num = None if (x is None or x_old is None) else abs(x - x_old)
        if den is not None and den != 0.0:
            er0 = None if num is None else num / den
        else:
            er0 = 0.0
        if er0 is None or st["kama"] is None or x is None:
            st["kama"] = None
        else:
            sc = er0 * spread + slow
            sc2 = sc * sc
            st["kama"] = st["kama"] + sc2 * (x - st["kama"])
        return st["kama"]

    return step


def er_stepper(n: int):
    """Kaufman efficiency ratio ER_j = |x_j − x_{j−N}| / Σ|moves|,
    defined from bucket N+1; null when the window saw no movement or
    holds a null (the codegen form's when(den != 0, num/den) with a
    null-propagating den fold)."""
    st = {"j": 0}
    xwin: deque = deque(maxlen=n + 1)
    adwin: deque = deque(maxlen=n)

    def step(x):
        st["j"] += 1
        if xwin:
            prev = xwin[-1]
            adwin.append(
                None if (x is None or prev is None) else abs(x - prev)
            )
        xwin.append(x)
        if st["j"] < n + 1:
            return None
        den: float | None = 0.0
        for a in adwin:
            den = None if (den is None or a is None) else den + a
        x_old = xwin[0]
        num = None if (x is None or x_old is None) else abs(x - x_old)
        if den is None or den == 0.0 or num is None:
            return None
        return num / den

    return step


def hw_fit_stepper():
    """holt_winters_with_fit fitted values over int64-micros inputs:
    one-step-ahead prediction from the dyadic fixed-point level/trend
    state after the previous bucket; bucket 1's fit is its own value.
    Integer floor arithmetic matches the codegen form's
    float-divide-then-floor exactly (Python ints are exact where
    int64 is)."""
    st = {"i": 0, "l": None, "b": None}

    def step(x):
        st["i"] += 1
        if st["i"] == 1:
            st["l"], st["b"] = x, 0 if x is not None else None
            return None if x is None else float(x) / 1e6
        out = (
            None
            if (st["l"] is None or st["b"] is None)
            else (st["l"] + st["b"]) / 1e6
        )
        if x is None or st["l"] is None:
            st["l"] = st["b"] = None
        else:
            l, b = st["l"], st["b"]
            s_new = math.floor(float(x + l + b) / 2.0)
            st["b"] = math.floor(float(s_new - l) / 4.0) + (
                b - math.floor(float(b) / 4.0)
            )
            st["l"] = s_new
        return out

    step.state = st  # exposed for forecast finishers (hw_finisher)
    return step


def hw_stream_stepper(with_fit: bool):
    """holt_winters over streaming rollup rows: converts the DOUBLE
    rollup value to fixed-point int64 micros exactly as the codegen
    form does (``floor(v·10⁶ + 0.5)`` — same two IEEE ops), then
    advances the dyadic level/trend state via hw_fit_stepper. Emits
    the fitted value per bucket in the with_fit form; the plain form
    emits nothing per bucket (forecasts come from the finisher)."""
    inner = hw_fit_stepper()

    def step(x):
        xm = (
            None
            if x is None
            else int(math.floor(x * 1_000_000.0 + 0.5))
        )
        fit = inner(xm)
        return fit if with_fit else None

    step.state = inner.state
    return step


def hw_seasonal_stepper(S: int):
    """Additive seasonal Holt-Winters state advance (dyadic α=1/2
    β=1/4 γ=1/2, fixed-point int64 micros, S-slot season array seeded
    at zero) — the exact integer/floor op sequence of influxql.py::
    _apply_holt_winters_seasonal's codegen fold, with SQL null
    propagation (a null bucket poisons level/trend and the slot it
    touches). Emits nothing per bucket; forecasts come from
    :func:`hw_seasonal_finisher`."""
    st = {"k": 0, "l": None, "b": None, "c": [0] * S}

    def fdiv(v, d):
        return None if v is None else math.floor(float(v) / float(d))

    def step(x):
        xm = None if x is None else int(math.floor(x * 1_000_000.0 + 0.5))
        st["k"] += 1
        if st["k"] == 1:
            st["l"], st["b"] = xm, 0
            return None
        slot = (st["k"] - 1) % S
        cs = st["c"][slot]
        l, b = st["l"], st["b"]
        l_new = (
            None
            if (xm is None or cs is None or l is None or b is None)
            else fdiv(xm - cs + l + b, 2)
        )
        b_new = (
            None
            if (l_new is None or l is None or b is None)
            else fdiv(l_new - l, 4) + (b - fdiv(b, 4))
        )
        c_upd = (
            None
            if (xm is None or l_new is None or cs is None)
            else fdiv(xm - l_new, 2) + (cs - fdiv(cs, 2))
        )
        st["l"], st["b"], st["c"][slot] = l_new, b_new, c_upd
        return None

    step.state = st
    return step


def hw_seasonal_finisher(n_fc: int, iv: int, S: int):
    """forecast_h = (l + h·b + c[(n−1+h) mod S]) / 10⁶ at
    ``last_t + h·iv`` — identical to the codegen fc transform."""

    def finish(step, last_t):
        if last_t is None:
            return []
        stt = step.state
        l, b, n, c = stt["l"], stt["b"], stt["k"], stt["c"]
        out = []
        for h in range(1, n_fc + 1):
            cs = c[(n + h - 1) % S]
            v = (
                None
                if (l is None or b is None or cs is None)
                else (l + h * b + cs) / 1e6
            )
            out.append((last_t + h * iv, v))
        return out

    return finish


def hw_finisher(n_fc: int, iv: int):
    """Post-series forecast emitter for streaming_fold: from the
    final (l, b) micros state, bucket h ∈ [1, n_fc] forecasts
    ``(l + h·b)/10⁶`` at ``last_t + h·iv`` — the identical int64
    arithmetic of the codegen ``fc`` transform."""

    def finish(step, last_t):
        if last_t is None:
            return []
        l, b = step.state["l"], step.state["b"]
        return [
            (
                last_t + h * iv,
                None if (l is None or b is None) else (l + h * b) / 1e6,
            )
            for h in range(1, n_fc + 1)
        ]

    return finish


# ---------------------------------------------------------------------------
# Row-streaming fold: O(B) work, O(arrow-batch) memory per series.
# ---------------------------------------------------------------------------


def streaming_fold(
    df,
    series_cols: list[str],
    time_col: str,
    value_col: str,
    stepper_factory,
    emit_from: float = 1,
    out_col: str | None = None,
    finisher=None,
):
    """Run a stepper recurrence over rollup ROWS without ever building
    a per-series array: cluster rows by series (hash repartition),
    sort each partition by (series, time) — an external sort, spills
    instead of OOM — and stream the sorted rows through a
    ``mapInPandas`` kernel that carries the recurrence state across
    Arrow batches. A series boundary (key change) resets the stepper.

    ``emit_from`` drops each series' first ``emit_from − 1`` buckets
    from the OUTPUT while still folding them into the state — the
    warm-up semantics the in-row form expresses with its first emitted
    bucket (RSI/KAMA start at N+1, TRIX at 2);
    ``float("inf")`` emits no per-bucket rows at all (forecast-only
    operators). ``finisher(step, last_time) -> [(t, v), ...]`` runs
    once per COMPLETED series (at each key change and at stream end)
    and appends its rows — how holt_winters emits forecasts past each
    series' last bucket without the in-row form's final-state fold.

    Scale shape: the shuffle moves one row per (series, bucket) —
    exactly what the rollup already produced; no collect_list, no
    giant cells. One series is still one task's sequential scan
    (inherent to the recurrence), but 10⁷ buckets stream through in
    Arrow-batch-sized memory (tests/test_tafold_stream.py runs it).

    Returns (time, *series_cols, out_col double), one row per emitted
    bucket.
    """
    import pandas as pd
    from pyspark.sql import types as T

    out_name = out_col or value_col
    src = df.select(time_col, *series_cols, value_col)
    in_fields = {f.name: f for f in src.schema.fields}
    schema = T.StructType(
        [in_fields[time_col]]
        + [in_fields[c] for c in series_cols]
        + [T.StructField(out_name, T.DoubleType())]
    )
    part = src.repartition(*series_cols) if series_cols else src.coalesce(1)
    part = part.sortWithinPartitions(*series_cols, time_col)

    def kernel(batches):
        sentinel = object()
        state = {"key": sentinel, "step": None, "pos": 0, "last_t": None}

        def finish_frame(key, step, last_t):
            if finisher is None or step is None:
                return None
            extra = finisher(step, last_t)
            if not extra:
                return None
            data: dict = {time_col: [t for t, _ in extra]}
            for i, c in enumerate(series_cols):
                data[c] = [key[i]] * len(extra)
            data[out_name] = pd.Series(
                [v for _, v in extra], dtype=object
            )
            return pd.DataFrame(data)

        for pdf in batches:
            m = len(pdf)
            if m == 0:
                continue
            xs = [None if _is_null(v) else v for v in pdf[value_col].tolist()]
            ts = pdf[time_col].tolist()
            if series_cols:
                keys = list(zip(*[pdf[c].tolist() for c in series_cols]))
            else:
                keys = [()] * m
            vals, emit, done = [], [], []
            key0, step, pos, last_t = (
                state["key"], state["step"], state["pos"], state["last_t"]
            )
            for key, x, t in zip(keys, xs, ts):
                if key != key0:
                    if key0 is not sentinel:
                        done.append((key0, step, last_t))
                    key0, step, pos = key, stepper_factory(), 0
                pos += 1
                vals.append(step(x))
                emit.append(pos >= emit_from)
                last_t = t
            state.update(key=key0, step=step, pos=pos, last_t=last_t)
            res = pdf[[time_col, *series_cols]].copy()
            # object dtype: None must reach Arrow as a NULL, which a
            # float64 Series would silently turn into NaN (≠ SQL null)
            res[out_name] = pd.Series(vals, index=pdf.index, dtype=object)
            yield res[pd.Series(emit, index=pdf.index)]
            for key, stp, lt in done:
                fr = finish_frame(key, stp, lt)
                if fr is not None:
                    yield fr
        if state["key"] is not sentinel:
            fr = finish_frame(state["key"], state["step"], state["last_t"])
            if fr is not None:
                yield fr

    return part.mapInPandas(kernel, schema)
