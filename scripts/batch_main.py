"""spark-submit main for the batch quality-filter job.

The package arrives via --py-files (north_rule launch shape); this main only
parses args and delegates to the same run_batch every other mode uses.
``--pages`` is read the way ``python -m cfht2caom2_spark batch`` reads it
(``sources.table.open_table``): a plain parquet dir, a SnapshotTable root
(time travel via ``--snapshot-id``) or an Iceberg catalog identifier.
"""
import argparse
import json

from pyspark.sql import SparkSession

from cfht2caom2_spark.plans.pipeline import run_batch
from cfht2caom2_spark.sources.table import open_table

if __name__ == "__main__":
    p = argparse.ArgumentParser()
    p.add_argument("--pages", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--snapshot-id", type=int, default=0)
    p.add_argument("--dedup-policy", choices=["pairs", "clusters"],
                   default="pairs")
    p.add_argument("--host-backfill", action="store_true")
    p.add_argument("--no-previews", action="store_true")
    args = p.parse_args()
    spark = SparkSession.builder.appName("cfht2caom2_spark-batch").getOrCreate()

    from dataclasses import replace

    from cfht2caom2_spark.config import DEFAULT_PROFILE

    profile = replace(DEFAULT_PROFILE, dedup_policy=args.dedup_policy,
                      host_lang_backfill=args.host_backfill)
    pages = open_table(spark, args.pages).read(
        spark, snapshot_id=args.snapshot_id or None)
    if "p_day" in pages.columns:
        pages = pages.drop("p_day")
    print(json.dumps(run_batch(spark, pages, args.out, profile=profile,
                               snapshot_id=args.snapshot_id,
                               previews=not args.no_previews)))
    spark.stop()
