"""SparkSession factory with the scale-oriented defaults this pipeline
assumes: AQE on (runtime re-plan + skew-join), Arrow for the Python UDF
stages, UTC session time zone for reproducible timestamps."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType


def local_frame(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """A small driver-side frame (`rows` in `ddl`'s column order) as an
    Arrow-backed LocalRelation. `createDataFrame` over a Python list
    builds a pickled RDD whose every scan is a Python-worker job; an
    Arrow table crosses to the JVM once and plans as a LocalTableScan,
    so the scan's one matcher UDF stays the only Python stage."""
    import pyarrow as pa  # not needed on the session setup path

    schema = DataType.fromDDL(ddl)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.table(
        [pa.array(c) for c in columns], names=schema.fieldNames()
    )
    return spark.createDataFrame(table, schema)


def get_spark(
    app_name: str = "loki-rs-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 20k rows/batch (guide §4.2: raise for narrow data): the matcher
        # ships 3 narrow columns, so bigger batches amortize per-batch
        # dispatch + dict-encode overhead — measured ~5% on the 32-core
        # scan leg, neutral on 2/8 cores, ~10-20 MB/batch/worker at this
        # corpus's text sizes (vs 40k: +0.5% for 2x the memory; env-
        # overridable for wide-row corpora).
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "20000"),
        )
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or (int(cpus) if cpus.isdigit() else 32)),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
    )
    return builder.getOrCreate()
