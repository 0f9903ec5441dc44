"""Spark launch for the benchmark: one driver process, `local[N]`
with N <= nproc, every scratch directory under the run's work dir."""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import SparkSession

from pdf_parser_spark.session import get_spark

#: slots per run; capped by nproc at launch
MAX_SLOTS = 2
DRIVER_MEM = "1g"


def slots() -> int:
    return max(1, min(MAX_SLOTS, os.cpu_count() or 1))


def prepare_env(repo_root: str, work: str) -> None:
    """Environment the JVM and the Python workers inherit. Must run
    before the first session starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = repo_root + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_MASTER", None)


def start(repo_root: str, work: str,
          event_log_dir: Optional[str] = None) -> SparkSession:
    n = slots()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.sql.streaming.fileSink.log.compactInterval": "100000",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{n}]",
                      shuffle_partitions=2 * n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark
