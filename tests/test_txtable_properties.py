"""Model-based property test for TxTable: a random sequence of
append / publish_with_audit / replace_tagged / expire_below /
compact_tx_tagged / compact_txtable / vacuum / vacuum_log operations must leave the table equal to a plain
Python dict model at every step — rows, window contents, version
monotonicity, and log resolvability all at once.

Complements the targeted race/retention tests in test_tx_routing.py:
those pin individual interleavings; this sweeps COMPOSITIONS of the
whole write API that nobody thought to write a scenario for.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from syncflux_spark.txtable import TxTable

# one op = (kind, window 0-3, payload row-count 1-3, payload salt)
OPS = st.lists(
    st.tuples(
        st.sampled_from(
            ["replace", "replace", "replace", "append", "publish",
             "expire", "compact", "overwrite", "vacuum", "vacuum_log"]
        ),
        st.integers(min_value=0, max_value=3),
        st.integers(min_value=1, max_value=3),
        st.integers(min_value=0, max_value=9),
    ),
    min_size=3,
    max_size=10,
)


def _rows(win: int, n: int, salt: int) -> list[tuple[int, int]]:
    # ts_ns landing inside window win = [win*100, win*100+100)
    return [(win * 100 + 10 * i + salt % 10, win * 1000 + salt * 10 + i) for i in range(n)]


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(ops=OPS)
def test_random_op_sequences_match_model(spark, tmp_path_factory, ops):
    root = str(tmp_path_factory.mktemp("txprop") / "t")
    t = TxTable.ensure(spark, root, checkpoint_interval=3)
    # model: window id -> list of (ts_ns, payload); appends go to a
    # pseudo-window keyed by their first row's window id but are NOT
    # replaceable (no tag) — tracked separately
    windows: dict[int, list[tuple[int, int]]] = {}
    untagged: list[tuple[int, int]] = []

    def model_rows():
        out = list(untagged)
        for rows in windows.values():
            out += rows
        return sorted(out)

    def table_rows():
        try:
            return sorted(
                (r["ts_ns"], r["payload"]) for r in t.snapshot().collect()
            )
        except ValueError:  # no data groups yet
            return []

    for kind, win, n, salt in ops:
        rows = _rows(win, n, salt)
        df = spark.createDataFrame(rows, "ts_ns long, payload long")
        if kind == "replace":
            t.replace_tagged("win", str(win), df, stats_cols=["ts_ns"])
            windows[win] = rows
        elif kind == "append":
            t.append(df, stats_cols=["ts_ns"])
            untagged.extend(rows)
        elif kind == "publish":
            t.publish_with_audit(df, lambda c: True, stats_cols=["ts_ns"])
            untagged.extend(rows)
        elif kind == "expire":
            cutoff = win * 100  # expire everything below window `win`
            t.expire_below("ts_ns", cutoff)
            for w in list(windows):
                windows[w] = [r for r in windows[w] if r[0] >= cutoff]
                if not windows[w]:
                    del windows[w]
            untagged[:] = [r for r in untagged if r[0] >= cutoff]
        elif kind == "compact":
            from syncflux_spark.operators.compact import compact_tx_tagged

            compact_tx_tagged(spark, root, stats_cols=["ts_ns"], min_files=1)
        elif kind == "overwrite" and model_rows():  # needs a data group
            from syncflux_spark.operators.compact import compact_txtable

            # overwrite drops tags: every window's rows become untagged
            compact_txtable(spark, root)
            for w in list(windows):
                untagged.extend(windows.pop(w))
        elif kind == "vacuum":
            t.vacuum(older_than_s=0.0)
        elif kind == "vacuum_log":
            t.vacuum_log()
        assert table_rows() == model_rows(), f"after {kind} win={win}"
    # the log still resolves end-to-end, with no duplicate live groups
    v = t.version()
    assert v >= 0
    files, _stats, _tags, _schema = t._state_at(v)
    assert len(files) == len(set(files))


if __name__ == "__main__":
    pytest.main([__file__, "-q"])
