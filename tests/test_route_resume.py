"""Routing fan-out, JSONL round-trip, salted-rollup equality, and
checkpoint/resume idempotency."""

from __future__ import annotations

import pytest

from loki_rs_spark.config import ScanConfig
from loki_rs_spark.plans.pipeline import scan_transcripts
from loki_rs_spark.plans.resume import (
    committed_runs,
    completed_buckets,
    read_routed,
    run_resumable_scan,
)
from loki_rs_spark.plans.skew import per_conv_rollup, per_conv_rollup_salted
from loki_rs_spark.sources.jsonl import read_jsonl_events, write_jsonl
from loki_rs_spark.operators.route import (
    exit_code,
    scan_counters,
    severity_counts,
    write_severity_sinks,
)
from loki_rs_spark.sources.transcripts import load_transcripts

from .conftest import SF_SMALL

REP = 4
CFG = ScanConfig()


@pytest.fixture(scope="module")
def result(spark, sigs):
    transcripts = load_transcripts(spark, SF_SMALL, rep=REP)
    return scan_transcripts(spark, transcripts, sigs, CFG)


def test_counters_consistent(result):
    row = scan_counters(result.scanned, result.evaluated).collect()[0]
    assert row["scanned"] > 0
    assert row["matched"] == row["alerts"] + row["warnings"] + row["notices"]
    sev = {r["level"]: r["n"] for r in severity_counts(result.routed).collect()}
    assert sev.get("ALERT", 0) == row["alerts"]
    assert sev.get("WARNING", 0) == row["warnings"]
    assert sev.get("NOTICE", 0) == row["notices"]
    code = exit_code(
        scan_counters(result.scanned, result.evaluated)
    ).collect()[0]["exit_code"]
    assert code == 2  # the corpus plants alerts


def test_severity_fanout(spark, result, tmp_path):
    out = str(tmp_path / "sinks")
    write_severity_sinks(result.routed.drop("all_reasons"), out)
    routed = spark.read.parquet(f"{out}/routed")
    assert routed.count() == result.routed.count()
    levels = {r["level"] for r in routed.select("level").distinct().collect()}
    assert levels == {"ALERT", "WARNING", "NOTICE"}
    # per-severity directories exist (the fan-out sinks)
    import os

    subdirs = {d for d in os.listdir(f"{out}/routed") if d.startswith("level=")}
    assert subdirs == {"level=ALERT", "level=WARNING", "level=NOTICE"}


def test_jsonl_roundtrip(spark, result, tmp_path):
    path = str(tmp_path / "events")
    write_jsonl(result.routed.drop("all_reasons"), path, hostname="h1")
    back = read_jsonl_events(spark, path)
    assert back.count() == result.routed.count()
    row = back.limit(1).collect()[0]
    assert row["event_type"] == "turn_match"
    assert row["hostname"] == "h1"
    assert row["reasons"] is not None


def test_jsonl_malformed_tolerance(spark, tmp_path):
    import os

    path = str(tmp_path / "mixed")
    os.makedirs(path)
    with open(f"{path}/part-00000.txt", "w") as f:
        f.write('{"level":"ALERT","score":85.0}\n')
        f.write("this is not json\n")
        f.write('{"level":"NOTICE","score":45.0}\n')
    back = read_jsonl_events(spark, path)
    assert back.count() == 2


def test_salted_rollup_equals_direct(result):
    direct = {
        r["conv_id"]: (r["n_turns"], r["n_routed"], r["n_alerts"], r["max_score"])
        for r in per_conv_rollup(result.evaluated).collect()
    }
    salted = {
        r["conv_id"]: (r["n_turns"], r["n_routed"], r["n_alerts"], r["max_score"])
        for r in per_conv_rollup_salted(result.evaluated).collect()
    }
    assert direct == salted


def test_resume_skips_completed(spark, sigs, tmp_path):
    out = str(tmp_path / "ckpt")
    transcripts = load_transcripts(spark, SF_SMALL, rep=REP)
    n_buckets = 8

    # one-shot reference run
    ref_out = str(tmp_path / "oneshot")
    run_resumable_scan(
        spark, transcripts, sigs, ref_out, CFG, n_buckets=n_buckets
    )
    expected = {
        (r["conv_id"], r["turn_idx"], r["level"], r["score"])
        for r in read_routed(spark, ref_out).collect()
    }

    # interrupted run: only half the buckets
    first = run_resumable_scan(
        spark,
        transcripts,
        sigs,
        out,
        CFG,
        n_buckets=n_buckets,
        only_buckets=set(range(4)),
    )
    assert first == set(range(4))
    assert completed_buckets(spark, out) == set(range(4))

    # resume: processes ONLY the remaining buckets
    second = run_resumable_scan(
        spark, transcripts, sigs, out, CFG, n_buckets=n_buckets
    )
    assert second == set(range(4, 8))

    # a third run is a no-op
    assert run_resumable_scan(
        spark, transcripts, sigs, out, CFG, n_buckets=n_buckets
    ) == set()

    actual = {
        (r["conv_id"], r["turn_idx"], r["level"], r["score"])
        for r in read_routed(spark, out).collect()
    }
    assert actual == expected

    # lineage metrics add up to the severity totals
    lineage = spark.read.parquet(f"{out}/lineage")
    from pyspark.sql import functions as F

    tot = lineage.agg(
        F.sum("n_routed").alias("n"), F.sum("n_alerts").alias("a")
    ).collect()[0]
    assert tot["n"] == len(expected)


@pytest.fixture(scope="module")
def stored(spark, tmp_path_factory):
    from loki_rs_spark.sources.transcripts import materialized_transcripts

    return materialized_transcripts(
        spark, SF_SMALL, rep=REP, base_dir=str(tmp_path_factory.mktemp("t"))
    )


@pytest.fixture(scope="module")
def clean_stored(spark, stored, result, tmp_path_factory):
    """The stored rows the scan leaves unrouted, as a stored table."""
    keys = result.routed.select("conv_id", "turn_idx")
    path = str(tmp_path_factory.mktemp("clean") / "t")
    stored.join(keys, ["conv_id", "turn_idx"], "left_anti").write.parquet(path)
    return spark.read.parquet(path)


def _sink_files(out: str) -> list[str]:
    import glob

    return sorted(glob.glob(f"{out}/routed/run=*/*.parquet"))


def _run_dirs(out: str) -> set[str]:
    import os

    return {d for d in os.listdir(f"{out}/routed") if d.startswith("run=")}


LINEAGE_FIELDS = [
    ("part_id", "bigint"), ("n_routed", "bigint"), ("n_alerts", "bigint"),
    ("n_warnings", "bigint"), ("n_notices", "bigint"),
    ("completed_at", "double"), ("run_id", "string"),
]


def _lineage(spark, out: str) -> dict[int, tuple]:
    lineage = spark.read.parquet(f"{out}/lineage")
    assert [
        (f.name, f.dataType.simpleString()) for f in lineage.schema
    ] == LINEAGE_FIELDS
    rows = lineage.collect()
    by_bucket = {r["part_id"]: tuple(r)[1:5] for r in rows}
    assert len(by_bucket) == len(rows)  # one row per processed bucket
    return by_bucket


def _routed_rows(spark, out: str) -> list[str]:
    """Every committed routed row, all columns, in a canonical order."""
    return sorted(repr(r) for r in read_routed(spark, out).collect())


def _sink_writes(monkeypatch) -> list:
    """Record the frame and path of every `write_partitioned` call; the
    first is the sink write."""
    from loki_rs_spark.sources import table_format

    calls, real = [], table_format.write_partitioned

    def recording(df, path, *args, **kwargs):
        calls.append((df, path))
        return real(df, path, *args, **kwargs)

    monkeypatch.setattr(table_format, "write_partitioned", recording)
    return calls


@pytest.mark.parametrize("source", ["generator", "stored"])
def test_sink_files_sorted(spark, sigs, stored, tmp_path, monkeypatch, source):
    """The run writes at most one routed file per write task, each in
    (part_id, conv_id, turn_idx) order."""
    import pyarrow.parquet as pq

    frame = (
        load_transcripts(spark, SF_SMALL, rep=REP) if source == "generator"
        else stored
    )
    out = str(tmp_path / "out")
    writes = _sink_writes(monkeypatch)
    run_resumable_scan(spark, frame, sigs, out, CFG, n_buckets=8)
    write_tasks = writes[0][0].rdd.getNumPartitions()
    files = _sink_files(out)
    assert 1 <= len(files) <= write_tasks
    for f in files:
        rows = pq.read_table(
            f, columns=["part_id", "conv_id", "turn_idx"]
        ).to_pylist()
        keys = [(r["part_id"], r["conv_id"], r["turn_idx"]) for r in rows]
        assert keys == sorted(keys), f


def test_sink_write_plan_and_job_count(spark, sigs, stored, tmp_path,
                                       monkeypatch):
    """A fresh run over a stored table: the sink write's plan has no
    shuffle Exchange (broadcasts only), and the run takes at most six
    Spark jobs (the FP broadcast build, the sink write, the counts
    collect's stages and the lineage append)."""
    import re

    writes = _sink_writes(monkeypatch)
    sc = spark.sparkContext
    sc.setJobGroup("resume-jobs", "resume-jobs")
    try:
        run_resumable_scan(
            spark, stored, sigs, str(tmp_path / "out"), CFG, n_buckets=64
        )
    finally:
        sc._jsc.clearJobGroup()
    jobs = sc.statusTracker().getJobIdsForGroup("resume-jobs")
    assert 0 < len(jobs) <= 6, len(jobs)
    plan = writes[0][0]._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan  # the cached scan plan is shown
    assert not re.search(r"(?<![A-Za-z])Exchange |ShuffleQueryStage", plan)


def test_lineage_matches_sink(spark, sigs, stored, tmp_path):
    """One lineage row per processed bucket; its counts equal the counts
    of that bucket's rows in the routed sink, zeros where the bucket
    routed nothing. The sink read back is the scan's routed frame, column
    for column and row for row."""
    from collections import Counter

    from loki_rs_spark.plans.resume import with_part_id

    out = str(tmp_path / "out")
    n_buckets = 64
    assert run_resumable_scan(
        spark, stored, sigs, out, CFG, n_buckets=n_buckets
    ) == set(range(n_buckets))
    lineage = _lineage(spark, out)
    assert set(lineage) == set(range(n_buckets))
    sink = Counter(
        (r["part_id"], r["level"])
        for r in read_routed(spark, out).select("part_id", "level").collect()
    )
    for b, counts in lineage.items():
        levels = [sink[(b, lvl)] for lvl in ("ALERT", "WARNING", "NOTICE")]
        assert counts == (sum(levels), *levels), b
    assert any(c == (0, 0, 0, 0) for c in lineage.values())

    want = with_part_id(
        scan_transcripts(spark, stored, sigs, CFG).routed.drop("all_reasons"),
        n_buckets,
    )
    got = read_routed(spark, out)
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in want.schema
    ]
    assert _routed_rows(spark, out) == sorted(repr(r) for r in want.collect())


def test_lineage_is_one_file_per_run(spark, sigs, stored, tmp_path):
    """Each run appends its lineage rows as one parquet file: one after a
    partial run, two after the resumed one, and the rows are unchanged."""
    import glob

    out = str(tmp_path / "out")

    def files():
        return glob.glob(f"{out}/lineage/part-*.parquet")

    run_resumable_scan(
        spark, stored, sigs, out, CFG, n_buckets=8, only_buckets={0, 1, 2}
    )
    assert len(files()) == 1
    assert set(_lineage(spark, out)) == {0, 1, 2}
    assert run_resumable_scan(
        spark, stored, sigs, out, CFG, n_buckets=8
    ) == set(range(3, 8))
    assert len(files()) == 2
    assert set(_lineage(spark, out)) == set(range(8))
    assert len(committed_runs(spark, out)) == 2


def test_lineage_of_a_run_that_routes_nothing(
    spark, sigs, clean_stored, tmp_path
):
    """A run whose input routes nothing writes one zero lineage row per
    bucket and no routed row (Spark may leave one schema-only file), and
    does not raise."""
    out = str(tmp_path / "out")
    assert run_resumable_scan(
        spark, clean_stored, sigs, out, CFG, n_buckets=8
    ) == set(range(8))
    assert _lineage(spark, out) == {b: (0, 0, 0, 0) for b in range(8)}
    assert len(_sink_files(out)) <= 1
    assert read_routed(spark, out).count() == 0


def test_sweep_removes_uncommitted_run(
    spark, sigs, stored, clean_stored, tmp_path
):
    """A run dir no lineage row commits (a crashed run's sink write) is
    never read, and the next run deletes it; a committed run's files are
    left as they are."""
    import shutil
    from pathlib import Path

    out = str(tmp_path / "out")
    run_resumable_scan(
        spark, stored, sigs, out, CFG, n_buckets=8, only_buckets={0}
    )
    done_files = _sink_files(out)
    done_bytes = [Path(f).read_bytes() for f in done_files]
    done_rows = _routed_rows(spark, out)
    assert done_rows
    stale_dir = tmp_path / "out" / "routed" / ("run=" + "0" * 32)
    stale_dir.mkdir()
    shutil.copy(done_files[0], stale_dir / "part-00000-stale.parquet")
    assert _routed_rows(spark, out) == done_rows

    assert run_resumable_scan(
        spark, clean_stored, sigs, out, CFG, n_buckets=8
    ) == set(range(1, 8))
    assert not stale_dir.exists()
    assert _run_dirs(out) == {
        f"run={r}" for r in committed_runs(spark, out)
    }
    assert [Path(f).read_bytes() for f in done_files] == done_bytes
    assert _routed_rows(spark, out) == done_rows


def test_kill_between_sink_write_and_lineage_append(
    spark, sigs, stored, tmp_path, monkeypatch
):
    """The lineage append is the commit. A run killed after its sink
    write and before its lineage append is invisible: neither
    `read_routed` nor `completed_buckets` sees it. Resumed, the out dir
    holds exactly the rows of an uninterrupted run, and no uncommitted
    run dir is left."""
    from loki_rs_spark.sources import table_format

    ref_out = str(tmp_path / "oneshot")
    run_resumable_scan(spark, stored, sigs, ref_out, CFG, n_buckets=8)
    expected = _routed_rows(spark, ref_out)

    out = str(tmp_path / "out")
    run_resumable_scan(
        spark, stored, sigs, out, CFG, n_buckets=8, only_buckets={0, 1, 2}
    )
    committed = _routed_rows(spark, out)
    real = table_format.write_partitioned

    def killed_at_lineage(df, path, *args, **kwargs):
        if path.endswith("/lineage"):
            raise RuntimeError("killed before the lineage append")
        return real(df, path, *args, **kwargs)

    monkeypatch.setattr(table_format, "write_partitioned", killed_at_lineage)
    with pytest.raises(RuntimeError, match="killed"):
        run_resumable_scan(spark, stored, sigs, out, CFG, n_buckets=8)
    monkeypatch.setattr(table_format, "write_partitioned", real)

    (uncommitted,) = _run_dirs(out) - {
        f"run={r}" for r in committed_runs(spark, out)
    }
    assert any(f"/{uncommitted}/" in f for f in _sink_files(out))
    assert completed_buckets(spark, out) == {0, 1, 2}
    assert _routed_rows(spark, out) == committed

    assert run_resumable_scan(
        spark, stored, sigs, out, CFG, n_buckets=8
    ) == set(range(3, 8))
    assert _routed_rows(spark, out) == expected
    assert _run_dirs(out) == {
        f"run={r}" for r in committed_runs(spark, out)
    }
    assert set(_lineage(spark, out)) == set(range(8))


def test_observe_metrics(spark, result):
    from loki_rs_spark.operators.route import routed_with_observation

    observed, obs = routed_with_observation(result.routed)
    n = observed.count()
    metrics = obs.get
    assert metrics["matched"] == n
    assert (
        metrics["alerts"] + metrics["warnings"] + metrics["notices"] == n
    )


def test_combined_report_aggregates(spark, result, tmp_path):
    from loki_rs_spark.sources.jsonl import combined_report_aggregates

    paths = []
    for host in ("host1", "host2"):
        p = str(tmp_path / host)
        write_jsonl(result.routed.drop("all_reasons"), p, hostname=host)
        paths.append(p)
    report = {
        r["hostname"]: r for r in combined_report_aggregates(spark, paths).collect()
    }
    assert set(report) == {"host1", "host2"}
    n = result.routed.count()
    for host in report.values():
        assert host["total"] == n
        assert host["alerts"] + host["warnings"] + host["notices"] == n


def test_completed_buckets_missing_dir_is_empty(spark, tmp_path):
    assert completed_buckets(spark, str(tmp_path / "nope")) == set()


def test_completed_buckets_corrupt_lineage_propagates(spark, tmp_path):
    # A corrupt lineage table must RAISE, not silently report "nothing
    # completed" (which would trigger a misleading full re-scan).
    out = tmp_path / "out"
    lineage = out / "lineage"
    lineage.mkdir(parents=True)
    (lineage / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception) as ei:
        completed_buckets(spark, str(out))
    # must not be the PATH_NOT_FOUND AnalysisException swallow path
    assert "PATH_NOT_FOUND" not in str(ei.value)
