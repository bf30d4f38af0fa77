from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


@pytest.fixture()
def spark_logged(tmp_path_factory):
    """local[2] session writing an uncompressed event log."""
    from project_discord_knowledge_graph_spark.session import get_spark
    log_dir = str(tmp_path_factory.mktemp("eventlog"))
    spark = get_spark("perfbench-tests", master="local[2]",
                      shuffle_partitions=2,
                      extra={"spark.driver.memory": "1g",
                             "spark.ui.showConsoleProgress": "false",
                             "spark.eventLog.enabled": "true",
                             "spark.eventLog.compress": "false",
                             "spark.eventLog.dir": log_dir})
    spark.sparkContext.setLogLevel("ERROR")
    yield spark, log_dir
    spark.stop()
