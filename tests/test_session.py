"""get_spark's session: PySpark's DataFrame call-site capture is off, and
errors still name what went wrong."""

import pytest
from pyspark.errors import AnalysisException
from pyspark.errors import utils as error_utils


def test_origin_capture_is_off_and_errors_still_name_the_column(
        spark, monkeypatch):
    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"
    # PySpark caches the setting per process at the first Column call;
    # read it afresh from the active session.
    monkeypatch.setattr(error_utils, "_enable_debugging_cache", None)
    assert not error_utils.is_debugging_enabled()
    with pytest.raises(AnalysisException, match="no_such_column"):
        spark.range(1).select("no_such_column").collect()
