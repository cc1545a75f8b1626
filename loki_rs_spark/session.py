"""SparkSession factory with the scale-oriented defaults this pipeline
assumes: AQE on (runtime re-plan + skew-join), Arrow for the Python UDF
stages, UTC session time zone for reproducible timestamps."""

from __future__ import annotations

import os
import re

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


def default_shuffle_partitions(master: str) -> int:
    """One shuffle task per core the master runs: `local[N]` -> N,
    `local[*]` -> the host's core count, `local` -> 1. For any other
    master, `$SPARK_GRAFT_CPUS` (default 32)."""
    m = re.fullmatch(r"local(?:\[(\d+|\*)(?:,\d+)?\])?", master)
    if m is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        return int(cpus) if cpus.isdigit() else 32
    cores = m.group(1)
    if cores is None:
        return 1
    if cores == "*":
        return os.cpu_count() or 1
    return int(cores)


def get_spark(
    app_name: str = "loki-rs-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """The session on `master` (default `local[$SPARK_GRAFT_CPUS]`), with
    `shuffle_partitions` defaulting to the master's core count."""
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 20k rows/batch (guide §4.2: raise for narrow data): the matcher
        # ships 3 narrow columns, so bigger batches amortize per-batch
        # dispatch + dict-encode overhead — measured ~5% on the 32-core
        # scan leg, neutral on 2/8 cores, ~10-20 MB/batch/worker at this
        # corpus's text sizes (vs 40k: +0.5% for 2x the memory).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or default_shuffle_partitions(master)),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
    )
    return builder.getOrCreate()
