"""``tune_for_session`` on a session the caller built: a static conf it
cannot set is logged and skipped, and any other error surfaces."""

from __future__ import annotations

import logging
import types

import pytest
from pyspark.errors import AnalysisException

from pu4spark_spark.session import tune_for_session


class _ConfError(AnalysisException):
    def __init__(self, condition):
        super().__init__(message=f"[{condition}] fake")
        self.condition = condition

    def getCondition(self):
        return self.condition


def _session(error=None):
    """A stand-in session whose ``conf.set`` raises ``error`` for the
    one conf some deployments make static."""
    values = {}

    def set_(key, value):
        if error is not None and key.endswith("OutputPartitioning"):
            raise error
        values[key] = value

    return types.SimpleNamespace(conf=types.SimpleNamespace(set=set_)), values


def test_static_conf_is_logged_and_skipped(caplog):
    spark, values = _session(_ConfError("CANNOT_MODIFY_STATIC_CONFIG"))
    with caplog.at_level(logging.WARNING, logger="pu4spark_spark.session"):
        assert tune_for_session(spark) is spark
    assert values["spark.sql.session.timeZone"] == "UTC"
    (record,) = caplog.records
    assert "canChangeCachedPlanOutputPartitioning" in record.getMessage()


@pytest.mark.parametrize(
    "error", [_ConfError("INVALID_CONF_VALUE"), RuntimeError("gateway gone")]
)
def test_other_conf_errors_surface(error):
    spark, _ = _session(error)
    with pytest.raises(type(error)):
        tune_for_session(spark)
