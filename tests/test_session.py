"""The session factory's defaults that the serving path's cost rests on."""

from __future__ import annotations

from pyspark.errors import utils as errors_utils


def test_get_spark_turns_off_call_site_capture(spark):
    # with capture on, every functions/Column/DataFrame call costs about
    # six extra py4j round trips (session.get_spark's docstring)
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    # pyspark caches the flag once per process; re-read it from this
    # session, then restore whatever the process had cached
    cached = errors_utils._enable_debugging_cache
    errors_utils._enable_debugging_cache = None
    try:
        assert errors_utils.is_debugging_enabled() is False
    finally:
        errors_utils._enable_debugging_cache = cached
