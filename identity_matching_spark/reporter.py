"""Run metrics reporter (SURVEY §2.4 A7).

The reference accumulates named counters during the run and dumps them as
one JSON object at exit (/root/reference/reporter/reporter.go:10-53). Here
every counter is a driver-side gauge: the operators commit counts their
own aggregate actions return to the driver, so none needs an
executor-side accumulator. ``dump()`` renders the same one-object JSON
report.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import SparkSession


class Reporter:
    def __init__(self, spark: SparkSession):
        # ``spark``: the session whose run is reported; gauges need nothing
        # from it, the argument keeps the callers' ``Reporter(spark)`` shape
        self._gauges: dict[str, Any] = {}

    def commit(self, name: str, value) -> None:
        """Driver-side gauge (reporter.go Commit)."""
        self._gauges[name] = value

    def report(self) -> dict:
        return dict(self._gauges)

    def dump(self) -> str:
        return json.dumps(self.report(), sort_keys=True, default=str)
