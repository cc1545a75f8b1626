"""Expected outputs and the checks that compare a run against them.

Expected values come from the repo's DuckDB oracle (``oracle.scan_ctes``)
run over the stored table itself.  The scan result of a turn is a pure
function of ``(text, tool, role)``, so the oracle evaluates each distinct
triple once and carries its multiplicity; the per-conversation rollup joins
the per-triple level and score back onto every turn.  Expectations are
cached beside the table, keyed by the signature-set fingerprint.

A sample of routed rows, and of rows the scan did not route, is also
re-checked turn by turn against ``plans.reference_scanner.scan_turn``.
"""

from __future__ import annotations

import json
import os
import random
import tempfile

ORACLE_VERSION = 1


def _duck():
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    con.execute("SET enable_progress_bar = false")
    con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
    return con


def _glob(table_dir: str) -> str:
    return os.path.join(table_dir, "*.parquet").replace("'", "''")


def oracle_for_table(table_dir: str, sigs, cfg) -> dict:
    """Per-level routed counts, per-rule reason counts and the
    per-conversation rollup rows the oracle gives for one stored table."""
    from loki_rs_spark.oracle import scan_ctes

    src = (
        "src AS (SELECT text, tool, role, CAST(count(*) AS BIGINT) AS mult "
        f"FROM read_parquet('{_glob(table_dir)}') GROUP BY text, tool, role)"
    )
    chain = scan_ctes(sigs, cfg, source_cte=src, source_table="src")
    con = _duck()
    con.execute(
        f"CREATE TEMP TABLE lv AS WITH {chain} "
        "SELECT text, tool, role, mult, score, level, n_reasons, reasons "
        "FROM leveled"
    )
    levels = dict(
        con.execute(
            "SELECT level, CAST(sum(mult) AS BIGINT) FROM lv "
            "WHERE n_reasons > 0 AND level IS NOT NULL GROUP BY level"
        ).fetchall()
    )
    rules = dict(
        con.execute(
            "SELECT msg, CAST(sum(mult) AS BIGINT) FROM ("
            "  SELECT unnest(reasons).msg AS msg, mult FROM lv"
            "  WHERE n_reasons > 0 AND level IS NOT NULL) GROUP BY msg"
        ).fetchall()
    )
    rollup = con.execute(
        "SELECT t.conv_id, CAST(count(*) AS BIGINT), "
        "  CAST(count(lv.level) AS BIGINT), "
        "  CAST(count(CASE WHEN lv.level = 'ALERT' THEN 1 END) AS BIGINT), "
        "  max(lv.score) "
        f"FROM read_parquet('{_glob(table_dir)}') t "
        "JOIN lv ON t.text = lv.text AND t.tool = lv.tool AND t.role = lv.role "
        "GROUP BY t.conv_id ORDER BY t.conv_id"
    ).fetchall()
    rows = con.execute(
        f"SELECT count(*) FROM read_parquet('{_glob(table_dir)}')"
    ).fetchone()[0]
    con.close()
    return {
        "rows": int(rows),
        "levels": {k: int(v) for k, v in levels.items()},
        "routed": int(sum(levels.values())),
        "rules": {k: int(v) for k, v in rules.items()},
        "rollup": [list(r) for r in rollup],
    }


def expectations(meta: dict, sigs, cfg) -> list[dict]:
    """Oracle results for every table of a generated workload, computed
    once per (table, signature set) and cached beside the table."""
    import hashlib

    import loki_rs_spark.oracle as oracle_mod

    with open(oracle_mod.__file__, "rb") as f:
        oracle_src = hashlib.sha256(f.read()).hexdigest()[:10]
    path = os.path.join(
        meta["path"],
        f"_oracle_v{ORACLE_VERSION}_{sigs.fingerprint}_{oracle_src}.json",
    )
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    out = [oracle_for_table(d, sigs, cfg) for d in meta["dirs"]]
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out


# ------------------------------------------------------------------ checks


def check_scan_output(out_dir: str, expected: dict) -> list[str]:
    """Compare one run_resumable_scan output dir (routed sink + lineage)
    with the oracle.  Returns the mismatches (empty when correct)."""
    con = _duck()
    routed = os.path.join(out_dir, "routed", "**", "*.parquet")
    lineage = os.path.join(out_dir, "lineage", "*.parquet")
    errors = []
    got = dict(
        con.execute(
            f"SELECT level, CAST(count(*) AS BIGINT) FROM read_parquet('{routed}', "
            "hive_partitioning = true) GROUP BY level"
        ).fetchall()
    ) if expected["routed"] else {}
    if got != expected["levels"]:
        errors.append(f"routed levels {got} != oracle {expected['levels']}")
    lin = con.execute(
        "SELECT count(DISTINCT part_id), CAST(sum(n_routed) AS BIGINT), "
        "CAST(sum(n_alerts) AS BIGINT), CAST(sum(n_warnings) AS BIGINT), "
        f"CAST(sum(n_notices) AS BIGINT) FROM read_parquet('{lineage}')"
    ).fetchone()
    want = (
        expected["routed"],
        expected["levels"].get("ALERT", 0),
        expected["levels"].get("WARNING", 0),
        expected["levels"].get("NOTICE", 0),
    )
    if tuple(int(x or 0) for x in lin[1:]) != want:
        errors.append(f"lineage counts {lin[1:]} != oracle {want}")
    con.close()
    return errors


def check_query_result(name: str, rows: list, expected: dict) -> list[str]:
    """Compare one rollup_queries operation result with the oracle."""
    if name == "severity_counts":
        got = {r[0]: int(r[1]) for r in rows}
        want = expected["levels"]
    elif name == "rule_match_counts":
        got = {r[0]: int(r[1]) for r in rows}
        want = expected["rules"]
    elif name == "per_conv_rollup":
        got = sorted([list(r) for r in rows])
        want = expected["rollup"]
    else:
        return [f"unknown operation {name}"]
    return [] if got == want else [f"{name}: result differs from oracle"]


def reference_sample(
    table_dir: str, out_dir: str, sigs, cfg, seed: int, n: int = 40
) -> list[str]:
    """Re-scan a sample of turns with the row-at-a-time reference scanner:
    `n` routed rows must reproduce level/score/n_reasons/md5, and `n` rows
    absent from the sink must not route."""
    from loki_rs_spark.plans.reference_scanner import scan_turn

    turns = f"read_parquet('{_glob(table_dir)}')"
    if os.path.isdir(os.path.join(out_dir, "routed")):
        routed = os.path.join(out_dir, "routed", "**", "*.parquet")
        sink = (f"LEFT JOIN read_parquet('{routed}', hive_partitioning = true)"
                " r USING (conv_id, turn_idx)")
        cols = "r.level, r.score, r.n_reasons, r.md5"
    else:  # nothing routed: every turn must stay unrouted
        sink, cols = "", "NULL, NULL, NULL, NULL"
    con = _duck()
    picked = con.execute(
        f"SELECT t.conv_id, t.turn_idx, t.text, t.tool, t.role, {cols} "
        f"FROM {turns} t {sink}"
    ).fetchall()
    con.close()
    rng = random.Random(seed)
    hits = [r for r in picked if r[5] is not None]
    misses = [r for r in picked if r[5] is None]
    errors = []
    for row in rng.sample(hits, min(n, len(hits))) + rng.sample(
        misses, min(n, len(misses))
    ):
        conv_id, turn_idx, text, tool, role, level, score, n_reasons, md5 = row
        ref = scan_turn(conv_id, turn_idx, text, tool, sigs, cfg, role=role)
        got = None if level is None else (level, score, n_reasons, md5)
        want = None if ref is None else (
            ref.level, ref.score, ref.n_reasons, ref.md5
        )
        if got != want:
            errors.append(f"{conv_id}/{turn_idx}: sink {got} != reference {want}")
    return errors
