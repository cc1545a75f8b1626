"""8->32 scaling decomposition A/B (r5 verdict #3): is the single-box
8->32 ceiling the Arrow/Python bridge or the shared memory bus?

Runs the SAME scan pipeline in two variants — 'arrow' (production: one
scalar arrow_udf boundary) and 'catalyst' (pure JVM expression rendering,
zero Python boundary) — at local[8] and local[32], interleaved so all
legs sample the same host window, via the credit-gated min-of-4
`bench.py --scan-worker` (fresh JVM per leg). If catalyst-only scales
materially better 8->32, the bridge is the bottleneck; if it scales the
same, the memory-bus explanation is pinned (each variant reads the same
parquet and materializes the same routed rows; only the matcher kernel
differs).

Usage: python jobs/decompose_scaling.py [rep] [rounds]
Prints one JSON line; detail into BENCH/decompose_8_32.json.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _leg(variant: str, cores: int, rep: int) -> dict:
    env = dict(os.environ)
    env["SPARK_GRAFT_MATCHER"] = variant
    out = subprocess.run(
        [
            sys.executable,
            str(REPO / "bench.py"),
            "--scan-worker",
            f"local[{cores}]",
            SF_DIR,
            str(rep),
        ],
        capture_output=True,
        text=True,
        env=env,
        check=True,
    )
    r = json.loads(out.stdout.strip().splitlines()[-1])
    r["variant"], r["cores"] = variant, cores
    return r


def _thr(r: dict) -> float:
    """Marginal throughput when the tiny-rep margin is positive, raw
    otherwise (same convention as bench.py)."""
    if (
        r.get("turns_small")
        and r["turns"] > r["turns_small"]
        and r["elapsed"] > r.get("elapsed_small", 0.0)
    ):
        return (r["turns"] - r["turns_small"]) / (
            r["elapsed"] - r["elapsed_small"]
        )
    return r["turns"] / r["elapsed"]


def main() -> None:
    rep = int(sys.argv[1]) if len(sys.argv) > 1 else 320
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    legs: list[dict] = []
    effs: dict[str, list[float]] = {"arrow": [], "catalyst": []}
    effs_raw: dict[str, list[float]] = {"arrow": [], "catalyst": []}
    for i in range(rounds):
        per: dict[tuple[str, int], dict] = {}
        # interleave variants within the round so each 8/32 pair of one
        # variant brackets the other's — same-window comparison
        for variant in ("arrow", "catalyst"):
            for cores in (8, 32):
                r = _leg(variant, cores, rep)
                r["round"] = i
                per[(variant, cores)] = r
                legs.append(r)
                print(
                    f"  round {i} {variant} local[{cores}]: "
                    f"{r['elapsed']:.2f}s best of {r['all_runs']}",
                    file=sys.stderr,
                )
        for variant in ("arrow", "catalyst"):
            r8, r32 = per[(variant, 8)], per[(variant, 32)]
            effs[variant].append((_thr(r32) / _thr(r8)) / 4.0)
            effs_raw[variant].append(
                (r32["turns"] / r32["elapsed"])
                / (r8["turns"] / r8["elapsed"])
                / 4.0
            )
    result = {
        "rep": rep,
        "rounds": rounds,
        "sf_dir": SF_DIR,
        "eff_8_32_arrow": round(statistics.median(effs["arrow"]), 3),
        "eff_8_32_catalyst": round(statistics.median(effs["catalyst"]), 3),
        "eff_8_32_arrow_raw": round(statistics.median(effs_raw["arrow"]), 3),
        "eff_8_32_catalyst_raw": round(
            statistics.median(effs_raw["catalyst"]), 3
        ),
        "per_round_arrow": [round(e, 3) for e in effs["arrow"]],
        "per_round_catalyst": [round(e, 3) for e in effs["catalyst"]],
    }
    detail_path = REPO / "BENCH" / "decompose_8_32.json"
    detail_path.write_text(
        json.dumps({"result": result, "legs": legs}, indent=1)
    )
    print(json.dumps(result))


if __name__ == "__main__":
    main()
