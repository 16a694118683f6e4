"""streamsql_spark — a PySpark-native analytics/stream-processing engine
with the query surface of rulego/streamsql, built Spark-first.

Entry points:
    StreamSQL            — facade mirroring the reference API
    get_spark            — tuned SparkSession builder
    parse / plan         — dialect front-end (StreamSQL SQL → QueryPlan)
    BatchExecutor        — plan → DataFrame

Every export resolves on first access: the Python worker daemon
(``worker_daemon``) runs as ``python -m streamsql_spark.worker_daemon``,
which imports this package before it may import pyspark.
"""

import importlib

_EXPORTS = {
    "StreamSQL": ".api.facade",
    "StreamingExecutor": ".streaming.executor",
    "parse": ".dialect.parser",
    "plan": ".dialect.planner",
    "BatchExecutor": ".engine.batch",
    "get_spark": ".session",
    "load_tables": ".session",
}


def __getattr__(name):
    if name not in _EXPORTS:
        raise AttributeError(name)
    value = getattr(importlib.import_module(_EXPORTS[name], __name__), name)
    globals()[name] = value
    return value


__all__ = ["StreamSQL", "StreamingExecutor", "parse", "plan", "BatchExecutor",
           "get_spark", "load_tables"]
__version__ = "0.1.0"
