#!/usr/bin/env python
"""spark-submit entry point for the scan pipeline.

Packaging (the reference ships one binary; we ship one zip):

    cd /path/to/repo && zip -qr /tmp/loki_rs_spark.zip loki_rs_spark
    spark-submit --py-files /tmp/loki_rs_spark.zip jobs/run_scan.py \
        --sf-dir /root/testdata/sf0.01 --sig-dir signatures \
        --out /tmp/scan_out --rep 20 --resume

Runs the resumable scan, which writes the run's routed rows as one file
set to `{out}/routed/run=<run_id>/` (`part_id`, the bucket, a column) and
then commits them with one lineage row per bucket in `{out}/lineage`,
prints the A4/A5 counter roll-up, and exits 2 iff
alerts+warnings > 0 (src/main.rs:1568-1575) — so shell pipelines can
gate on findings exactly as with the reference binary.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    parser = argparse.ArgumentParser()
    parser.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    parser.add_argument("--sig-dir", default=None)
    parser.add_argument("--out", required=True)
    parser.add_argument("--rep", type=int, default=20)
    parser.add_argument("--n-buckets", type=int, default=64)
    parser.add_argument(
        "--resume",
        action="store_true",
        help="skip buckets already recorded in the lineage table",
    )
    parser.add_argument("--master", default=None)
    args = parser.parse_args()

    from loki_rs_spark.config import DEFAULT_CONFIG
    from loki_rs_spark.plans.resume import completed_buckets, run_resumable_scan
    from loki_rs_spark.queries import bundled_signatures
    from loki_rs_spark.session import get_spark
    from loki_rs_spark.signatures import load_signature_set
    from loki_rs_spark.sources.transcripts import load_transcripts

    spark = get_spark(app_name="loki-rs-spark-scan", master=args.master)
    sigs = (
        load_signature_set(args.sig_dir)
        if args.sig_dir
        else bundled_signatures()
    )

    transcripts = load_transcripts(spark, args.sf_dir, rep=args.rep)
    if not args.resume:
        done = completed_buckets(spark, args.out)
        if done:
            print(
                f"out dir has {len(done)} completed buckets; pass --resume "
                "to continue or point --out elsewhere",
                file=sys.stderr,
            )
            return 1

    processed = run_resumable_scan(
        spark,
        transcripts,
        sigs,
        args.out,
        DEFAULT_CONFIG,
        n_buckets=args.n_buckets,
    )

    # A4/A5 counter roll-up from the lineage metrics (per-partition
    # metrics aggregated, mirroring the reference's reduce of 5-tuples).
    from pyspark.sql import functions as F

    lineage = spark.read.parquet(f"{args.out}/lineage")
    totals = lineage.agg(
        F.sum("n_routed").alias("matched"),
        F.sum("n_alerts").alias("alerts"),
        F.sum("n_warnings").alias("warnings"),
        F.sum("n_notices").alias("notices"),
    ).collect()[0]
    summary = {
        "buckets_processed_this_run": sorted(int(b) for b in processed),
        "matched": int(totals["matched"] or 0),
        "alerts": int(totals["alerts"] or 0),
        "warnings": int(totals["warnings"] or 0),
        "notices": int(totals["notices"] or 0),
    }
    print(json.dumps(summary))
    spark.stop()
    return 2 if summary["alerts"] + summary["warnings"] > 0 else 0


if __name__ == "__main__":
    sys.exit(main())
