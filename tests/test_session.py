"""Session defaults that the serve path's per-request cost relies on."""

from __future__ import annotations


def test_dataframe_debugging_is_off(spark):
    """PySpark's call-site capture costs py4j round trips on every
    DataFrame, Column and ``functions`` call; ``get_spark`` turns it
    off (the ``spark`` fixture is a ``get_spark`` session)."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
