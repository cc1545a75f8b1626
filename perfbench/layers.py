"""Traced run: split a workload's wall time across the program's layers.

All timing is taken from outside ``loki_rs_spark``: spans wrap calls into
its public functions, and counts come from Spark's status stores
(``status.StatusProbe``).  Pipeline self times come from cumulative-prefix
``noop`` materialisations (the fastest of two passes), differenced::

    scan                 with_part_id + bucket filter over the stored table
    + filters            operators.filters.apply_exclusions / apply_size_filter
    + hashes             operators.hashes.with_hashes
    + fp anti-join       operators.ioc_join.anti_join_fp_hashes
    + arrow matcher      operators.arrow_matcher.make_arrow_matcher_udf
    = routed             plans.pipeline.scan_transcripts(...).routed

ArrowEvalPython's worker-init metric overlaps upstream work, so it is not
used for attribution; its byte and row counters are reported as counts.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

import pyarrow.compute as pc
from pyspark.sql import functions as F

from status import StatusProbe

N_BUCKETS = 64  # run_resumable_scan / jobs/run_scan.py default
NOOP_PASSES = 2  # passes through a prefix chain; each prefix keeps its fastest


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed_noop(probe: StatusProbe, tag: str, df) -> float:
    """Wall of one noop materialisation, run under job group `tag` for its
    status-store counts."""
    t = time.perf_counter()
    with probe.group(tag):
        _noop(df)
    return time.perf_counter() - t


def _timed_noops(probe: StatusProbe, frames: list) -> list:
    """Fastest wall of each (tag, frame) over back-to-back passes through
    the whole list, so warm-up lands on no single frame and a
    difference of two walls is not one frame's noise.  The first pass runs
    under the given tags (status-store counts read those), later ones
    under `tag#k`."""
    best = [float("inf")] * len(frames)
    for k in range(NOOP_PASSES):
        for i, (tag, df) in enumerate(frames):
            s = _timed_noop(probe, tag if k == 0 else f"{tag}#{k}", df)
            best[i] = min(best[i], s)
    return best


@contextmanager
def _spans(targets: list[tuple[object, str]], log: list):
    """Time every call of attribute `name` on each (module or class,
    name), appending (name, start, end) to `log`; restores the
    originals."""
    saved = [(mod, name, getattr(mod, name)) for mod, name in targets]

    def wrap(name, fn):
        def timed(*args, **kwargs):
            t = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                log.append((name, t, time.perf_counter()))

        return timed

    for mod, name, fn in saved:
        setattr(mod, name, wrap(name, fn))
    try:
        yield
    finally:
        for mod, name, fn in saved:
            setattr(mod, name, fn)


def traced_scan_op(spark, sigs, cfg, probe, table_dir, out_dir) -> dict:
    """One run_resumable_scan with spans on the calls it makes into
    plans.pipeline, plans.resume, sources.table_format and the Spark
    readers it uses for lineage bookkeeping."""
    from pyspark.sql import SparkSession
    from pyspark.sql.readwriter import DataFrameReader

    from loki_rs_spark.plans import resume
    from loki_rs_spark.sources import table_format

    log: list = []
    targets = [
        (resume, "completed_buckets"),
        (resume, "scan_transcripts"),
        (table_format, "write_partitioned"),
        (DataFrameReader, "parquet"),
        (SparkSession, "createDataFrame"),
    ]
    source = spark.read.parquet(table_dir)
    with _spans(targets, log), probe.group("op"):
        t = time.perf_counter()
        resume.run_resumable_scan(
            spark, source, sigs, out_dir, cfg, n_buckets=N_BUCKETS
        )
        wall = time.perf_counter() - t

    # attribute nested calls (e.g. the lineage read inside
    # completed_buckets) to the outermost span
    top = [
        (name, t1 - t0) for name, t0, t1 in log
        if not any(o0 <= t0 and t1 <= o1 and (o0, o1) != (t0, t1)
                   for _n, o0, o1 in log)
    ]
    writes = [s for name, s in top if name == "write_partitioned"]
    return {
        "wall": wall,
        "build_s": sum(s for name, s in top if name == "scan_transcripts"),
        "sink_write_s": writes[0],
        "bookkeeping_s": sum(
            s for name, s in top
            if name not in ("scan_transcripts", "write_partitioned")
        ) + sum(writes[1:]),
    }


def _files_written(out_dir: str) -> tuple[int, int]:
    n, size = 0, 0
    for root, _dirs, files in os.walk(os.path.join(out_dir, "routed")):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def kernel_costs(spark, sigs, table_dir: str, batch_rows: int = 20_000):
    """Single-thread direct calls of the matcher kernels on the table's
    first Arrow batch (the pipeline's batch size).  Returns per-row costs
    and the batch's properties."""
    from loki_rs_spark.operators.arrow_matcher import (
        match_record_batch,
        match_scores_record_batch,
    )
    from loki_rs_spark.operators.ext_bits import ext_bits_col
    from loki_rs_spark.operators.matcher import CompiledEngine

    t = time.perf_counter()
    engine = CompiledEngine(sigs)
    compile_s = time.perf_counter() - t
    tbl = (
        spark.read.parquet(table_dir)
        .select("text", "tool", ext_bits_col(sigs).alias("ext_bits"))
        .limit(batch_rows)
        .toArrow()
    )
    batches = tbl.to_batches(max_chunksize=batch_rows)
    rows = sum(b.num_rows for b in batches)
    match_s, score_s, hits, unique = 0.0, 0.0, 0, 0.0
    for b in batches:
        t = time.perf_counter()
        fname, yara, c2 = match_record_batch(engine, b)
        match_s += time.perf_counter() - t
        t = time.perf_counter()
        match_scores_record_batch(engine, b)
        score_s += time.perf_counter() - t
        any_hit = pc.or_(
            pc.or_(pc.greater(pc.list_value_length(fname), 0),
                   pc.greater(pc.list_value_length(yara), 0)),
            pc.greater(pc.list_value_length(c2), 0),
        )
        hits += pc.sum(any_hit.cast("int64")).as_py() or 0
        unique += pc.count_distinct(b.column("text")).as_py()
    return {
        "signatures.engine_compile_s": compile_s,
        "operators.arrow_matcher.kernel_us_per_row": match_s / rows * 1e6,
        "operators.arrow_matcher.score_kernel_us_per_row": score_s / rows * 1e6,
        "operators.arrow_matcher.hit_fraction": hits / rows,
        "operators.arrow_matcher.unique_fraction": unique / rows,
    }


def decompose(spark, sigs, cfg, ctx: dict) -> dict:
    """Per-layer metrics for one workload.  `ctx` carries the workload
    kind, its first table, a scratch out dir, the last untraced wall of
    the operation (or query round) traced here, the query round itself,
    the expected routed count, the table's rows and the core count."""
    from loki_rs_spark.operators.arrow_matcher import make_arrow_matcher_udf
    from loki_rs_spark.operators.ext_bits import ext_bits_col
    from loki_rs_spark.operators.filters import (
        apply_exclusions,
        apply_size_filter,
    )
    from loki_rs_spark.operators.hashes import with_hashes
    from loki_rs_spark.operators.ioc_join import (
        anti_join_fp_hashes,
        plain_relation_input,
    )
    from loki_rs_spark.operators.route import severity_counts
    from loki_rs_spark.plans.pipeline import (
        scan_transcripts,
        scan_transcripts_scores,
    )
    from loki_rs_spark.plans.resume import with_part_id
    from loki_rs_spark.plans.skew import per_conv_rollup_salted

    probe = StatusProbe(spark)
    table = ctx["table_dir"]
    m: dict[str, float] = {}

    def bucketed():
        return with_part_id(spark.read.parquet(table), N_BUCKETS).filter(
            F.col("part_id").isin(list(range(N_BUCKETS)))
        )

    # ---- the workload's own operation, traced
    if ctx["kind"] == "scan":
        op = traced_scan_op(spark, sigs, cfg, probe, table, ctx["out_dir"])
        traced_wall = op["wall"]
    else:
        t = time.perf_counter()
        with probe.group("op"):
            for run in ctx["query_round"]:
                run()
        traced_wall = time.perf_counter() - t
    op_stats = probe.stage_totals("op")
    m["trace.traced_wall_s"] = traced_wall
    m["trace.overhead_s"] = traced_wall - ctx["untraced_wall"]
    m["spark.core_busy_ratio"] = op_stats["executor_run_s"] / (
        traced_wall * ctx["cores"]
    )
    m["spark.gc_s"] = op_stats["gc_s"]
    m["spark.spill_bytes"] = op_stats["spill_bytes"]
    m["spark.tasks"] = op_stats["tasks"]
    m["plans.resume.spark_jobs"] = len(probe.job_ids("op"))

    # ---- plan shape of the routed frame the scan op writes
    t = time.perf_counter()
    routed = scan_transcripts(spark, bucketed(), sigs, cfg).routed
    plan = routed._jdf.queryExecution().executedPlan().toString()
    m["plans.pipeline.plan_s"] = time.perf_counter() - t
    m["plans.pipeline.plan_chars"] = len(plan)
    m["plans.pipeline.python_eval_nodes"] = plan.count("ArrowEvalPython")
    m["operators.ioc_join.broadcast_exchanges"] = plan.count(
        "BroadcastExchange"
    )

    # ---- cumulative prefixes of the scan pipeline
    p0 = bucketed()
    literal_dims = plain_relation_input(p0)
    p1 = apply_size_filter(
        apply_exclusions(p0, cfg.exclude_patterns), cfg.max_text_chars
    )
    p2 = with_hashes(p1)
    p3 = anti_join_fp_hashes(spark, p2, sigs, literal_dims=literal_dims)
    audf = make_arrow_matcher_udf(spark, sigs)
    p4 = p3.withColumn(
        "_m", audf(F.col("text"), F.col("tool"), ext_bits_col(sigs))
    )
    t = time.perf_counter()
    full = scan_transcripts(spark, bucketed(), sigs, cfg)
    full_build = time.perf_counter() - t
    p5 = with_part_id(full.routed.drop("all_reasons"), N_BUCKETS)
    evaluated = full.evaluated
    t0, t1, t2, t3, t4, t5, te = _timed_noops(probe, [
        ("p0", p0), ("p1", p1), ("p2", p2), ("p3", p3), ("p4", p4),
        ("p5", p5), ("evaluated", evaluated),
    ])
    scan_stats = probe.stage_totals("p0")
    m["sources.scan_self_s"] = t0
    m["sources.rows_read"] = scan_stats["input_records"]
    # the tasks' input-bytes metric misses parquet reads made off the task
    # thread (it reads ~13 KB, footers only, of a 4.8 MB table); the scan
    # node's own file-size metric does not
    m["sources.bytes_read"] = probe.sql_metric_sum(
        "p0", "Scan parquet", "size of files read"
    )
    m["sources.read_tasks"] = scan_stats["read_tasks"]
    m["operators.filters.self_s"] = t1 - t0
    m["operators.hashes.self_s"] = t2 - t1
    m["operators.ioc_join.fp_antijoin_self_s"] = t3 - t2
    m["operators.arrow_matcher.self_s"] = t4 - t3
    m["plans.pipeline.route_self_s"] = t5 - t4
    m["plans.pipeline.evaluate_self_s"] = te - t4
    m["operators.arrow_matcher.bytes_to_python"] = probe.sql_metric_sum(
        "p4", "ArrowEvalPython", "data sent to Python workers"
    )
    m["operators.arrow_matcher.bytes_from_python"] = probe.sql_metric_sum(
        "p4", "ArrowEvalPython", "data returned from Python workers"
    )
    m["operators.arrow_matcher.python_rows"] = probe.sql_metric_sum(
        "p4", "ArrowEvalPython", "number of output rows"
    )
    m["plans.pipeline.routed_fraction"] = ctx["expected_routed"] / ctx["rows"]

    # ---- sink write and lineage bookkeeping (scan op spans)
    if ctx["kind"] == "scan":
        sink_self = op["sink_write_s"] - t5
        bookkeeping = op["bookkeeping_s"]
        files, size = _files_written(ctx["out_dir"])
        layers = [t5, sink_self, bookkeeping, op["build_s"]]
        m["plans.pipeline.build_s"] = op["build_s"]
    else:
        sink_self, bookkeeping, files, size = 0.0, 0.0, 0, 0
    m["sources.table_format.sink_write_self_s"] = sink_self
    m["sources.table_format.files_written"] = files
    m["sources.table_format.bytes_written"] = size
    m["plans.resume.bookkeeping_s"] = bookkeeping

    # ---- aggregate layers: score-only scan, salted rollup, severity counts
    t = time.perf_counter()
    scores = scan_transcripts_scores(spark, bucketed(), sigs, cfg)
    scores_build = time.perf_counter() - t
    ev_s, roll_s, rt_s, sev_s = _timed_noops(probe, [
        ("scores_evaluated", scores.evaluated),
        ("rollup", per_conv_rollup_salted(scores.evaluated)),
        ("scores_routed", scores.routed),
        ("severity", severity_counts(scores.routed)),
    ])
    m["plans.skew.rollup_self_s"] = roll_s - ev_s
    m["plans.skew.shuffle_bytes"] = probe.stage_totals("rollup")[
        "shuffle_write_bytes"
    ]
    m["plans.skew.task_skew"] = probe.task_skew("rollup")
    m["operators.route.severity_counts_self_s"] = sev_s - rt_s
    if ctx["kind"] != "scan":
        # the query round: the rollup over evaluated scores, the counts
        # over routed scores and the full routed frame the rule counts
        # explode; it also builds two score-only scans and one full scan,
        # which the noop timings leave out
        m["plans.pipeline.build_s"] = 2 * scores_build + full_build
        layers = [roll_s, sev_s, t5, m["plans.pipeline.build_s"]]

    m.update(kernel_costs(spark, sigs, table))
    m["trace.layer_sum_s"] = sum(layers)
    m["trace.layer_sum_ratio"] = sum(layers) / traced_wall
    return m
