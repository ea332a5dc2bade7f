"""SparkSession factory with scale-oriented defaults.

Local testing runs single-JVM ``local[N]``; the configuration below is chosen
so the same code deploys unchanged to a multi-executor cluster via
``spark-submit --py-files`` (AQE, Arrow, skew-join handling, sensible shuffle
parallelism). Nothing here is sandbox-specific.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "topicrawler-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    cores = os.cpu_count() or 8
    if shuffle_partitions is None:
        # local mode: match the core count; on a cluster this is overridden by
        # AQE coalescing anyway (initial partition num stays higher).
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(cores, 8))))

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Adaptive execution: runtime coalescing, skew-join splitting, and
        # dynamic broadcast conversion — essential at 100TB where static plans
        # mis-size every stage.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # All Python UDFs in this engine are pandas/Arrow UDFs; make the Arrow
        # path explicit and bound batch sizes so wide binary columns (html)
        # don't blow executor memory.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # Timestamps in the pages table are UTC instants.
        .config("spark.sql.session.timeZone", "UTC")
        # PySpark's DataFrame debugging wraps every Column-API call to record
        # its Python call site in the JVM: several py4j round trips and a
        # stack walk per call, only to improve analysis-error messages. The
        # crawl driver builds each round's plans from thousands of such
        # calls, and this roughly halves their py4j round trips.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # ad-hoc overrides for experiments: SPARK_GRAFT_CONF="k=v;k=v".
    # ';' is the separator with no escaping — values containing a semicolon
    # cannot be expressed here (use extra_conf for those).
    for kv in os.environ.get("SPARK_GRAFT_CONF", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            b = b.config(k.strip(), v.strip())
        elif kv.strip():
            import sys

            print(
                f"SPARK_GRAFT_CONF: ignoring malformed segment {kv!r} (no '=')",
                file=sys.stderr,
            )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
