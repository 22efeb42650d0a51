"""Blocked record linkage (operators/dedup.py::blocked_edit_distance_pairs)."""

from __future__ import annotations

from pyspark.sql import functions as F

from syncflux_spark.operators.dedup import blocked_edit_distance_pairs


class TestBlockedEditDistance:
    def test_pairs_and_blocking(self, spark):
        df = spark.createDataFrame(
            [
                (1, "ITEM-001"),
                (2, "ITEM-002"),   # dist 1 from ITEM-001
                (3, "ITEM-011"),   # dist 1 from 001 BUT same block
                (4, "WIDGET-9"),   # different block entirely
                (5, "ITEM-901"),   # different block (prefix differs)
            ],
            "id long, name string",
        )
        out = {
            (r.id_a, r.id_b): r.dist
            for r in blocked_edit_distance_pairs(
                df,
                key_col="name",
                id_col="id",
                block_col=F.expr("substring(name, 1, length(name) - 2)"),
                max_dist=1,
            ).collect()
        }
        # block 'ITEM-0': ids 1,2,3 — (1,2) and (1,3) are distance 1;
        # (2,3) is distance 2 ('02'→'11') and must be filtered out
        assert out == {(1, 2): 1, (1, 3): 1}

    def test_default_block_is_suffix_trim(self, spark):
        df = spark.createDataFrame(
            [(1, "AB1"), (2, "AB2"), (3, "AC1")], "id long, name string"
        )
        out = blocked_edit_distance_pairs(
            df, key_col="name", id_col="id", max_dist=1
        ).collect()
        # default block = name minus last char: AB vs AC split blocks
        assert {(r.id_a, r.id_b) for r in out} == {(1, 2)}

    def test_single_shuffle_plan(self, spark):
        df = spark.createDataFrame(
            [(1, "AB1"), (2, "AB2")], "id long, name string"
        )
        plan = (
            blocked_edit_distance_pairs(df, key_col="name", id_col="id")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
            .split("== Initial Plan ==")[0]
        )
        # no cartesian / nested-loop stage: the join must be an
        # equality join on the block key
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestLinkageProperties:
    """Blocked-linkage recall property: every same-block pair within
    max_dist appears in the output, and nothing below the block or
    above the distance leaks in (hypothesis-generated serial keys)."""

    def test_recall_within_blocks(self, spark):
        from hypothesis import given, settings, strategies as st_

        try:
            from Levenshtein import distance as lev  # noqa: F401
            have_ref = True
        except ImportError:
            have_ref = False

        def pydist(a, b):
            # classic DP fallback so the property needs no extra deps
            m, n = len(a), len(b)
            prev = list(range(n + 1))
            for i in range(1, m + 1):
                cur = [i] + [0] * n
                for j in range(1, n + 1):
                    cur[j] = min(
                        prev[j] + 1,
                        cur[j - 1] + 1,
                        prev[j - 1] + (a[i - 1] != b[j - 1]),
                    )
                prev = cur
            return prev[n]

        keys = st_.text(alphabet="AB12", min_size=3, max_size=5)

        @settings(max_examples=10, deadline=None)
        @given(names=st_.lists(keys, min_size=2, max_size=8, unique=True))
        def check(names):
            df = spark.createDataFrame(
                list(enumerate(names)), "id long, name string"
            )
            got = {
                (r.id_a, r.id_b): r.dist
                for r in blocked_edit_distance_pairs(
                    df, key_col="name", id_col="id", max_dist=1
                ).collect()
            }
            blocks = {i: n[:-1] for i, n in enumerate(names)}
            for i in range(len(names)):
                for j in range(i + 1, len(names)):
                    d = pydist(names[i], names[j])
                    expected = blocks[i] == blocks[j] and d <= 1
                    assert ((i, j) in got) == expected, (
                        names[i], names[j], d, got
                    )
                    if expected:
                        assert got[(i, j)] == d

        check()
