"""One benchmark driver process: set up Spark, run a workload's operations
in a closed loop, and report per-operation walls and outputs.

Run by ``run.py``, never directly:

    python3 perfbench/worker.py <config.json>

With ``"mode": "setup"`` the process only sets up (session + signatures)
and exits; ``run.py`` times those processes for ``setup_s``.  Lines on
stdout that start with ``PERFBENCH `` carry JSON events; everything else is
ignored.
"""

from __future__ import annotations

import json
import os
import sys
import time
from functools import partial


def emit(event: dict) -> None:
    print("PERFBENCH " + json.dumps(event), flush=True)


class Ops:
    """The workload operations, each a call into the program's public
    functions over a stored transcript table."""

    def __init__(self, spark, sigs, cfg) -> None:
        self.spark, self.sigs, self.cfg = spark, sigs, cfg

    def scan(self, table_dir: str, out_dir: str) -> None:
        from loki_rs_spark.plans.resume import run_resumable_scan

        run_resumable_scan(
            self.spark, self.spark.read.parquet(table_dir), self.sigs,
            out_dir, self.cfg, n_buckets=64,
        )

    def severity_counts(self, table_dir: str) -> list:
        from loki_rs_spark.operators.route import severity_counts
        from loki_rs_spark.plans.pipeline import scan_transcripts_scores

        routed = scan_transcripts_scores(
            self.spark, self.spark.read.parquet(table_dir), self.sigs, self.cfg
        ).routed
        return [list(r) for r in severity_counts(routed).collect()]

    def per_conv_rollup(self, table_dir: str) -> list:
        from loki_rs_spark.plans.pipeline import scan_transcripts_scores
        from loki_rs_spark.plans.skew import per_conv_rollup_salted

        evaluated = scan_transcripts_scores(
            self.spark, self.spark.read.parquet(table_dir), self.sigs, self.cfg
        ).evaluated
        return [list(r) for r in per_conv_rollup_salted(evaluated).collect()]

    def rule_match_counts(self, table_dir: str) -> list:
        from pyspark.sql import functions as F

        from loki_rs_spark.plans.pipeline import scan_transcripts

        routed = scan_transcripts(
            self.spark, self.spark.read.parquet(table_dir), self.sigs, self.cfg
        ).routed
        counts = (
            routed.select(F.explode("all_reasons").alias("r"))
            .groupBy(F.col("r.message").alias("message"))
            .agg(F.count("*").alias("n"))
        )
        return [list(r) for r in counts.collect()]


QUERIES = ("severity_counts", "per_conv_rollup", "rule_match_counts")


def schedule(conf: dict) -> tuple[list[tuple[str, int]], int]:
    """(cycle of (operation, table index), operations per round)."""
    if conf["workload"] == "rollup_queries":
        return [(q, 0) for q in QUERIES], len(QUERIES)
    return [("scan", k) for k in range(len(conf["tables"]))], 1


def run_loop(ops: Ops, conf: dict) -> dict:
    """The first operation, cold; then one untimed run of each other kind
    of operation in the round, since a query's first run pays its own
    planning, JIT and matcher start-up as the first operation does; then
    warm rounds for at least `seconds` and `min_rounds`.  Every operation
    is recorded with its phase and checked."""
    cycle, round_len = schedule(conf)
    records = []

    def run_one(name: str, table: int, phase: str) -> None:
        rec = {"op": name, "table": table, "phase": phase, "rows": None,
               "out_dir": None, "error": None}
        t = time.perf_counter()
        try:
            if name == "scan":
                rec["out_dir"] = os.path.join(
                    conf["out_root"], f"op{len(records):04d}"
                )
                ops.scan(conf["tables"][table], rec["out_dir"])
            else:
                rec["rows"] = getattr(ops, name)(conf["tables"][table])
        except Exception as exc:  # noqa: BLE001 - counted as a failed op
            rec["error"] = repr(exc)[:2000]
        rec["wall_s"] = time.perf_counter() - t
        records.append(rec)

    run_one(*cycle[0], "first")
    for name, table in cycle[1:round_len]:
        run_one(name, table, "prime")
    warm_start = time.perf_counter()
    i, rounds = 0, 0
    while True:
        for _ in range(round_len):
            run_one(*cycle[i % len(cycle)], "warm")
            i += 1
        rounds += 1
        if (time.perf_counter() - warm_start >= conf["seconds"]
                and rounds >= conf["min_rounds"]):
            break
    return {"first_op_s": records[0]["wall_s"], "records": records}


def traced_layers(spark, sigs, cfg, ops: Ops, conf: dict,
                  records: list) -> dict:
    """Per-layer metrics (layers.py) after the untraced loop."""
    import layers

    warm = [r["wall_s"] for r in records if r["phase"] == "warm"]
    table = conf["tables"][0]
    queries = conf["workload"] == "rollup_queries"
    return layers.decompose(spark, sigs, cfg, {
        "kind": "queries" if queries else "scan",
        "table_dir": table,
        "out_dir": os.path.join(conf["out_root"], "traced"),
        # the last untraced operation, or query round
        "untraced_wall": sum(warm[-len(QUERIES):]) if queries else warm[-1],
        "query_round": [partial(getattr(ops, q), table) for q in QUERIES]
        if queries else [],
        "expected_routed": conf["expected_routed"],
        "rows": conf["rows_per_table"],
        "cores": conf["cores"],
    })


def main() -> int:
    with open(sys.argv[1]) as f:
        conf = json.load(f)
    t0 = time.perf_counter()
    from loki_rs_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    t1 = time.perf_counter()
    from loki_rs_spark.signatures import load_signature_set

    sigs = load_signature_set(conf["sig_dir"])
    t2 = time.perf_counter()
    emit({"event": "ready"})
    try:
        if conf["mode"] == "setup":
            return 0
        from loki_rs_spark.config import DEFAULT_CONFIG

        ops = Ops(spark, sigs, DEFAULT_CONFIG)
        result = run_loop(ops, conf)
        if conf["trace"]:
            split = traced_layers(spark, sigs, DEFAULT_CONFIG, ops, conf,
                                  result["records"])
            split["session.get_spark_s"] = t1 - t0
            split["signatures.load_s"] = t2 - t1
            split["signatures.payload_bytes"] = len(sigs.to_payload())
            result["layers"] = split
        with open(conf["result_path"], "w") as f:
            json.dump(result, f)
        emit({"event": "done"})
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
