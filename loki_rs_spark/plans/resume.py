"""Checkpoint/resume with per-bucket lineage + metrics (north_rule).

The reference only has pause/skip/abort atomics (src/helpers/
interrupt.rs:91-160); resumability here is NEW design, not ported:

* the transcript table is bucketed by `part_id = pmod(xxhash64(conv_id),
  n_buckets)` — conversation-aligned so a bucket is self-contained. The
  bucket is the unit of resume, not of file layout;
* each run writes its routed rows as one file set in a dir of its own,
  `{out}/routed/run=<run_id>/`: at most one file per write task,
  `part_id` a column, each file in (part_id, conv_id, turn_idx) order;
* the lineage append is the commit. Each run appends one lineage row per
  bucket it completed (part_id, routed/alert/warning/notice counts, the
  run's start stamp `completed_at`, `run_id`) to `{out}/lineage`, and a
  run's routed rows are visible iff its lineage rows exist — the
  snapshot-commit model of a table format such as Iceberg, with the
  lineage as the manifest. A run killed between its sink write and its
  lineage append leaves an uncommitted run dir: readers skip it, and the
  next run's start-of-run sweep deletes it;
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
import uuid

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, ScanConfig
from ..session import local_frame
from ..signatures.model import SignatureSet
from .pipeline import scan_transcripts

DEFAULT_BUCKETS = 64

LINEAGE_SCHEMA = (
    "part_id bigint, n_routed bigint, n_alerts bigint, n_warnings bigint, "
    "n_notices bigint, completed_at double, run_id string"
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


def _run_dir(out_dir: str, run_id: str) -> str:
    return f"{out_dir}/routed/run={run_id}"


def _lineage_values(spark: SparkSession, out_dir: str, column: str) -> set:
    """The values of a lineage column. A missing lineage dir (fresh run)
    has none — checked with one `exists` before any read, so a fresh out
    dir pays no failed read. The schema is given, so the read runs no
    schema-inference job and an empty lineage dir reads as no rows; any
    OTHER failure (corrupt footer, transient FS error) propagates —
    treating it as 'nothing completed' would silently trigger a full
    re-scan instead of surfacing the fault. A bucket is committed once,
    so there are at most n_buckets rows to collect."""
    lineage = f"{out_dir}/lineage"
    fs, path = _hadoop_path(spark, lineage)
    if not fs.exists(path):
        return set()
    rows = spark.read.schema(LINEAGE_SCHEMA).parquet(lineage).select(column)
    return {r[0] for r in rows.collect()}


def completed_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    """The buckets of the committed runs, as recorded in the lineage."""
    return _lineage_values(spark, out_dir, "part_id")


def committed_runs(spark: SparkSession, out_dir: str) -> set[str]:
    """The runs whose lineage rows exist: the runs whose routed rows are
    visible."""
    return _lineage_values(spark, out_dir, "run_id")


def _sweep_uncommitted(spark: SparkSession, out_dir: str) -> None:
    """Delete the `run=<id>` dirs under `{out}/routed` that no lineage row
    commits: the sink writes of runs killed before their lineage append.
    One `exists` and one `listStatus`; the lineage is read only when
    there is a run dir to judge."""
    fs, path = _hadoop_path(spark, f"{out_dir}/routed")
    if not fs.exists(path):
        return
    runs = [
        status.getPath() for status in fs.listStatus(path)
        if status.getPath().getName().startswith("run=")
    ]
    if not runs:
        return
    committed = {f"run={r}" for r in committed_runs(spark, out_dir)}
    for run in runs:
        if run.getName() not in committed:
            fs.delete(run, True)


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
    _sweep_uncommitted(spark, out_dir)
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

    run_id = uuid.uuid4().hex
    started = time.time()
    # The write input, built once. No shuffle: each write task (a split of
    # the scan) writes one file, and the sort puts it in (part_id,
    # conv_id, turn_idx) order.
    to_write = routed.sortWithinPartitions(
        "part_id", "conv_id", "turn_idx"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # a fresh dir of this run's own: 'errorifexists' never clobbers
        # another run's files
        write_partitioned(
            to_write, _run_dir(out_dir, run_id), (), mode="errorifexists"
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

    # The commit: one lineage row per completed bucket, and the run's
    # routed rows become visible with them. Buckets with zero routed rows
    # still get a (zero) row — completed != produced output. One file per
    # run: each file create costs a permission call (a `chmod` process
    # where Hadoop's native IO is missing), and the frame is <= n_buckets
    # rows.
    lineage = [
        (b, *counts.get(b, (0, 0, 0, 0)), started, run_id)
        for b in sorted(pending)
    ]
    write_partitioned(
        local_frame(spark, lineage, LINEAGE_SCHEMA).coalesce(1),
        f"{out_dir}/lineage", (), mode="append",
    )
    return pending


def read_routed(spark: SparkSession, out_dir: str) -> DataFrame:
    """The routed rows of the committed runs, read from their run dirs by
    name, so an uncommitted run dir is never read. With no committed run
    there is nothing to infer a schema from, and the read raises."""
    return spark.read.parquet(
        *(_run_dir(out_dir, r) for r in sorted(committed_runs(spark, out_dir)))
    )
