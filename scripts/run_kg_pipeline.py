#!/usr/bin/env python
"""spark-submit entry point for the KG-construction pipeline.

Cluster usage (north_rule: "runs via spark-submit --py-files on
multi-executor clusters"):

    cd /root/repo && zip -qr /tmp/nous_spark.zip nous_spark
    spark-submit \
        --master <cluster-master> \
        --py-files /tmp/nous_spark.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.adaptive.skewJoin.enabled=true \
        scripts/run_kg_pipeline.py \
        --pages <pages-table-path-or-iceberg-ident> \
        --out   <run-dir> \
        [--table-format iceberg] [--run-id prod1] [--lsh]

Local smoke (synthesizes its own corpus):

    python scripts/run_kg_pipeline.py --synth 10000 --out /tmp/kg_run

The job is resumable: re-submitting with the same --out skips completed
stages via the run manifest, and all sinks are idempotent (dedup-keyed),
so a preempted cluster run continues where it stopped.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--pages", help="pages table (parquet path or iceberg identifier)")
    ap.add_argument("--synth", type=int, default=0, help="synthesize N pages instead of --pages")
    ap.add_argument("--out", required=True, help="run directory (stage tables + manifest)")
    ap.add_argument("--run-id", default="run")
    ap.add_argument("--table-format", default=None, choices=["parquet", "iceberg"])
    ap.add_argument("--lsh", action="store_true", help="enable MinHash-LSH fuzzy alias linking")
    ap.add_argument("--embeddings", action="store_true", help="also build the vector mirror")
    args = ap.parse_args()

    if args.table_format:
        os.environ["NOUS_TABLE_FORMAT"] = args.table_format

    from nous_spark.io import read_table
    from nous_spark.pipeline import run_pipeline
    from nous_spark.session import get_spark

    # On a cluster spark-submit provides the session config; get_spark
    # falls through to the active session when one exists.
    spark = get_spark(app_name="nous_kg_pipeline")

    if args.synth:
        from nous_spark.datagen import generate_pages

        pages = generate_pages(spark, args.synth, seed=42)
    elif args.pages:
        pages = read_table(spark, args.pages)
    else:
        ap.error("one of --pages / --synth is required")

    tables = run_pipeline(spark, pages, args.out, run_id=args.run_id, use_lsh=args.lsh)

    if args.embeddings:
        from nous_spark.io import idempotent_write
        from nous_spark.semantic import build_embeddings

        emb = build_embeddings(tables["edges"], tables["facts"])
        n = idempotent_write(emb, os.path.join(args.out, "embeddings"), ["point_id"])
        print(f"embeddings appended: {n}", file=sys.stderr)

    summary = {
        name: df.count() for name, df in tables.items()
    }
    print(json.dumps({"run_id": args.run_id, "tables": summary}))
    spark.stop()


if __name__ == "__main__":
    main()
