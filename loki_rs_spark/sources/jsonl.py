"""JSONL sink/source (SURVEY.md §2.1 S5/S9).

The reference's canonical sink is one JSON object per line with sparse
fields (serde skip_serializing_if, src/helpers/unified_logger.rs:87-143);
its loki-util re-reader skips malformed lines (src/helpers/
html_report.rs:86-129). Spark-first: `df.write.json` (struct fields with
NULLs dropped via to_json ignoreNullFields) and `spark.read.json` in
PERMISSIVE mode with a corrupt-record column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame


def routed_to_jsonl_df(routed: DataFrame, hostname: str = "spark") -> DataFrame:
    """Shape routed rows as LogEvent JSON lines (event_type
    turn_match, the transcript analog of file_match)."""
    event = F.struct(
        F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ssXXX").alias("timestamp"),
        F.col("level").alias("level"),
        F.lit("turn_match").alias("event_type"),
        F.lit(hostname).alias("hostname"),
        F.lit("Turn Match").alias("message"),
        F.col("tool").alias("file_path"),
        F.col("score").cast("double").alias("score"),
        F.col("text_len").cast("long").alias("file_size"),
        F.col("md5"),
        F.col("sha1"),
        F.col("sha256"),
        F.col("conv_id"),
        F.col("turn_idx"),
        F.col("reasons"),
    )
    return routed.select(
        F.to_json(event, {"ignoreNullFields": "true"}).alias("value")
    )


def write_jsonl(routed: DataFrame, path: str, hostname: str = "spark") -> None:
    routed_to_jsonl_df(routed, hostname).write.mode("overwrite").text(path)


def scan_bracket_events(
    spark: SparkSession,
    counters: dict,
    hostname: str = "spark",
    version: str = "0.2.0",
    started_iso: str = "1970-01-01T00:00:00+00:00",
    ended_iso: str = "1970-01-01T00:00:00+00:00",
    duration_sec: float = 0.0,
    context: dict[str, str] | None = None,
) -> DataFrame:
    """scan_start / scan_end bracketing events with the reference's field
    shape (src/helpers/unified_logger.rs:706-735; LogEvent context map at
    :97-98): INFO level, event_type scan_start/scan_end, message formats
    "Loki-RS scan started VERSION: {v}" and "Loki-RS scan finished.
    {summary}. {duration}". The `context` map serializes only when
    non-empty (serde skip_serializing_if analog via ignoreNullFields)."""
    ctx = context or {}
    summary = (
        "Summary - Turns scanned: {scanned} Matched: {matched} | "
        "Alerts: {alerts} Warnings: {warnings} Notices: {notices}"
    ).format(**{k: counters.get(k, 0) for k in
                ("scanned", "matched", "alerts", "warnings", "notices")})
    rows = [
        (
            started_iso,
            "scan_start",
            f"Loki-RS scan started VERSION: {version}",
        ),
        (
            ended_iso,
            "scan_end",
            f"Loki-RS scan finished. {summary}. "
            f"Duration: {duration_sec:.1f}s",
        ),
    ]
    df = local_frame(
        spark, rows, "timestamp string, event_type string, message string"
    )
    ctx_col = (
        F.create_map(
            *[F.lit(x) for kv in sorted(ctx.items()) for x in kv]
        )
        if ctx
        else F.lit(None).cast("map<string,string>")
    )
    event = F.struct(
        F.col("timestamp"),
        F.lit("INFO").alias("level"),
        F.col("event_type"),
        F.lit(hostname).alias("hostname"),
        F.col("message"),
        ctx_col.alias("context"),
    )
    return df.select(
        F.to_json(event, {"ignoreNullFields": "true"}).alias("value")
    )


def write_jsonl_scan(
    spark: SparkSession,
    routed: DataFrame,
    path: str,
    counters: dict,
    hostname: str = "spark",
    **bracket_kwargs,
) -> None:
    """The full reference-shaped JSONL stream: scan_start bracket, one
    turn_match line per routed row, scan_end bracket — one sink write.

    Bracket placement is enforced by an explicit ordering key (0=start,
    1=matches, 2=end) + sortWithinPartitions, not by union order — union +
    coalesce partition order is implementation behavior, not a Spark
    contract. NOTE: the .coalesce(1) makes this a single-file FIXTURE sink
    (the reference writes one loki.jsonl per host); it serializes the
    stream through one task, so never point it at a full-scale table —
    the scale sink is route.write_severity_sinks (partitionBy fan-out)."""
    brackets = scan_bracket_events(
        spark, counters, hostname=hostname, **bracket_kwargs
    ).cache()
    start = brackets.filter(F.col("value").contains('"scan_start"'))
    end = brackets.filter(F.col("value").contains('"scan_end"'))
    match_lines = routed_to_jsonl_df(routed, hostname)
    (
        start.withColumn("__ord", F.lit(0))
        .unionByName(match_lines.withColumn("__ord", F.lit(1)))
        .unionByName(end.withColumn("__ord", F.lit(2)))
        .coalesce(1)
        .sortWithinPartitions("__ord")
        .drop("__ord")
        .write.mode("overwrite")
        .text(path)
    )


def combined_report_aggregates(
    spark: SparkSession, paths: list[str]
) -> DataFrame:
    """A8 (SURVEY.md §2.5): loki-util's combined multi-host report
    aggregates — union N JSONL files (U2), group findings by hostname with
    a per-severity histogram (src/loki_util/html_report.rs:330-411)."""
    events = read_jsonl_events(spark, paths)
    findings = events.filter(
        F.col("event_type").isin("turn_match", "file_match", "process_match")
    )
    return (
        findings.groupBy("hostname")
        .pivot("level", ["ALERT", "WARNING", "NOTICE"])
        .count()
        .na.fill(0)
        .withColumnRenamed("ALERT", "alerts")
        .withColumnRenamed("WARNING", "warnings")
        .withColumnRenamed("NOTICE", "notices")
        .withColumn(
            "total", F.col("alerts") + F.col("warnings") + F.col("notices")
        )
    )


def read_jsonl_events(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """PERMISSIVE re-read: malformed lines land in _corrupt_record and are
    dropped, mirroring the reference's skip-malformed tolerance."""
    df = (
        spark.read.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    if "_corrupt_record" in df.columns:
        df = df.cache()  # required before filtering on the corrupt column
        df = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    return df
