"""The tuned session's confs that the engine's cost depends on."""

from __future__ import annotations

import pyspark.errors.utils as err_utils


def test_per_call_dataframe_debugging_is_off(spark, monkeypatch):
    """With it on, every functions.*/DataFrame call sets and clears the
    JVM call-site origin over py4j and captures the Python stack."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    # PySpark caches the decision per process: drop the cache so the
    # check reads the active session's conf, not an earlier answer
    monkeypatch.setattr(err_utils, "_enable_debugging_cache", None)
    assert err_utils.is_debugging_enabled() is False
