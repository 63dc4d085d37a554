"""spark-submit entry point for the extraction job (north_star launch
shape: ``spark-submit --py-files pdf_parser_spark.zip
scripts/submit_job.py --input ... --output ... --lineage ...``).

Build the zip with ``python scripts/package.py`` (writes
``dist/pdf_parser_spark.zip``). On a cluster, add ``--master`` /
executor confs as usual; this script only assumes a SparkSession is
obtainable and the package importable (via --py-files or PYTHONPATH).

The job is resumable: rerunning with the same lineage dir skips
completed buckets (see pipeline/job.py).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="parquet dir (or table) of turns")
    ap.add_argument("--output", required=True)
    ap.add_argument("--lineage", required=True)
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--salt", type=int, default=4)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--snapshot-id", default="static")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from pdf_parser_spark.pipeline.job import ExtractionJob
    from pdf_parser_spark.sources.table import (
        current_snapshot_id, load_table,
    )

    # on a cluster spark-submit supplies master/conf; standalone runs
    # fall back to the tuned local session
    spark = SparkSession.getActiveSession()
    if spark is None:
        try:
            spark = SparkSession.builder.getOrCreate()
        except Exception:
            from pdf_parser_spark.session import get_spark
            spark = get_spark("extract-submit")

    turns = load_table(spark, args.input)
    snapshot = (args.snapshot_id if args.snapshot_id != "static"
                else current_snapshot_id(spark, args.input))
    job = ExtractionJob(spark, args.output, args.lineage,
                        n_buckets=args.n_buckets, salt=args.salt,
                        partitions=args.partitions)
    metrics = job.run(turns, snapshot_id=snapshot)
    print(json.dumps(metrics))


if __name__ == "__main__":
    main()
