"""Checkpoint/resume with per-partition lineage + metrics (north_rule).

The reference only has pause/skip/abort atomics (src/helpers/
interrupt.rs:91-160); resumability here is NEW design, not ported:

* the transcript table is bucketed by `part_id = pmod(xxhash64(conv_id),
  n_buckets)` — conversation-aligned so a bucket is self-contained;
* each completed bucket appends one lineage row (part_id, routed/alert/
  warning/notice counts, the run's start stamp `completed_at`) to
  `{out}/lineage`;
* output is written with dynamic partition overwrite on part_id, so
  re-running a bucket is idempotent;
* resume = anti-select of completed buckets: ONE filtered job over the
  pending buckets, not a per-bucket driver loop — at 10^12 turns the
  pending filter prunes whole partitions at the scan;
* the sink write and the lineage counts come from one persisted write
  input, so the scan runs once and the written output is never read back
  (the reference likewise reduces its counters in the scanning pass,
  src/modules/filesystem_scan.rs:544-553).
"""

from __future__ import annotations

import time

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException

from ..config import DEFAULT_CONFIG, ScanConfig
from ..session import local_frame
from ..signatures.model import SignatureSet
from .pipeline import scan_transcripts

DEFAULT_BUCKETS = 64

LINEAGE_SCHEMA = (
    "part_id bigint, n_routed bigint, n_alerts bigint, n_warnings bigint, "
    "n_notices bigint, completed_at double"
)


def with_part_id(df: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    return df.withColumn(
        "part_id", F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets))
    )


def _hadoop_path(spark: SparkSession, path: str):
    """(FileSystem, Path) handles for `path` through the session's JVM."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    return jpath.getFileSystem(hconf), jpath


def completed_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    """Distinct part_ids recorded in the lineage table. A missing lineage
    dir (fresh run) is the empty set — checked with one `exists` before
    any read, so a fresh out dir pays no failed read; any OTHER failure
    (corrupt footer, transient FS error) propagates — treating it as
    'nothing completed' would silently trigger a full re-scan instead of
    surfacing the fault."""
    lineage = f"{out_dir}/lineage"
    fs, path = _hadoop_path(spark, lineage)
    if not fs.exists(path):
        return set()
    try:
        rows = (
            spark.read.parquet(lineage).select("part_id").distinct().collect()
        )
        return {r["part_id"] for r in rows}
    except AnalysisException:  # an existing but empty lineage dir
        return set()


def _clear_pending_partitions(
    spark: SparkSession, routed_dir: str, pending: set[int]
) -> None:
    """Delete the `part_id=<b>` dirs of the pending buckets under
    `routed_dir`: one `exists` and one `listStatus`, whatever the bucket
    count. Dirs of other (completed) buckets are left alone."""
    fs, path = _hadoop_path(spark, routed_dir)
    if not fs.exists(path):
        return
    stale = {f"part_id={int(b)}" for b in pending}
    for status in fs.listStatus(path):
        if status.getPath().getName() in stale:
            fs.delete(status.getPath(), True)


def run_resumable_scan(
    spark: SparkSession,
    transcripts: DataFrame,
    sigs: SignatureSet,
    out_dir: str,
    cfg: ScanConfig = DEFAULT_CONFIG,
    n_buckets: int = DEFAULT_BUCKETS,
    only_buckets: set[int] | None = None,
) -> set[int]:
    """Scan all buckets not yet recorded in the lineage table (optionally
    restricted to `only_buckets` — used to simulate an interrupted run).
    Returns the set of buckets processed this invocation."""
    from ..sources.table_format import write_partitioned

    bucketed = with_part_id(transcripts, n_buckets)
    done = completed_buckets(spark, out_dir)
    pending = set(range(n_buckets)) - done
    if only_buckets is not None:
        pending &= only_buckets
    if not pending:
        return set()

    subset = bucketed.filter(F.col("part_id").isin([int(b) for b in pending]))
    result = scan_transcripts(spark, subset, sigs, cfg)
    # part_id is a pure function of conv_id — recompute it on the routed
    # frame (the pipeline projects a fixed output schema)
    routed = with_part_id(result.routed.drop("all_reasons"), n_buckets)

    # Any on-disk partition for a PENDING bucket is leftover from a crashed
    # run (completed buckets are in lineage and excluded above). Clear them
    # up front: dynamic partition overwrite only replaces partitions present
    # in THIS write, so a pending bucket that routes zero rows this run
    # would otherwise keep stale data while lineage marks it complete.
    _clear_pending_partitions(spark, f"{out_dir}/routed", pending)

    started = time.time()
    # The write input, built once. An explicit partition count: AQE does
    # not coalesce a repartition-by-number shuffle, so up to `n` tasks
    # write the bucket files in parallel (still one file per bucket). The
    # sort leads with part_id, the order the partitioned write needs, so
    # Spark adds no sort of its own and each file is in (conv_id,
    # turn_idx) order.
    n = min(len(pending), int(spark.conf.get("spark.sql.shuffle.partitions")))
    to_write = (
        routed.repartition(n, "part_id")
        .sortWithinPartitions("part_id", "conv_id", "turn_idx")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        # 'overwrite_partitions': parquet = dynamic partition overwrite
        # (with the pre-clear above); iceberg = overwritePartitions(), an
        # atomic REPLACE snapshot that subsumes the pre-clear
        # (table_format.py)
        write_partitioned(
            to_write, f"{out_dir}/routed", ("part_id",),
            mode="overwrite_partitions",
        )
        # per-bucket counts from the persisted input of the write — the
        # scan (matcher UDF included) runs once, and the output is never
        # read back; at most n_buckets rows reach the driver
        counts = {
            r["part_id"]: tuple(r)[1:]
            for r in to_write.groupBy("part_id").agg(
                F.count("*"),
                F.count(F.when(F.col("level") == "ALERT", 1)),
                F.count(F.when(F.col("level") == "WARNING", 1)),
                F.count(F.when(F.col("level") == "NOTICE", 1)),
            ).collect()
        }
    finally:
        to_write.unpersist()

    # lineage: one row per completed bucket. Buckets with zero routed rows
    # still get a (zero) row — completed != produced output. One file per
    # run: each file create costs a permission call (a `chmod` process
    # where Hadoop's native IO is missing), and the frame is <= n_buckets
    # rows.
    lineage = [
        (b, *counts.get(b, (0, 0, 0, 0)), started) for b in sorted(pending)
    ]
    write_partitioned(
        local_frame(spark, lineage, LINEAGE_SCHEMA).coalesce(1),
        f"{out_dir}/lineage", (), mode="append",
    )
    return pending


def read_routed(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/routed")
