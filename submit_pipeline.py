#!/usr/bin/env python
"""spark-submit entry point (the north rule's deployment shape):

    spark-submit --master local[8] \
        --py-files dist/deduputil_spark.zip \
        submit_pipeline.py <transcripts_parquet> <output_dir>

Runs the production near-dup pipeline on the given transcripts table and
writes clusters + verified pairs to `<output_dir>` — no repo checkout needed
on executors; the zip ships the package.  On a real cluster, swap --master
for YARN/K8s and the paths for object-store URIs; everything else is
identical (the session builder only sets master when given one).
It builds its own session, so workers run Spark's default daemon, not
`session.get_spark`'s `deduputil_spark._daemon`.
"""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession


def main() -> None:
    src, out = sys.argv[1], sys.argv[2]
    spark = SparkSession.builder.appName("deduputil-neardup").getOrCreate()
    # imported AFTER the session exists so --py-files distribution applies
    from deduputil_spark.config import DedupConfig
    from deduputil_spark.plans.pipeline import run_pipeline

    transcripts = spark.read.parquet(src)
    res = run_pipeline(spark, transcripts, DedupConfig())
    res.clusters.write.mode("overwrite").parquet(f"{out}/clusters")
    res.verified_pairs.write.mode("overwrite").parquet(f"{out}/verified_pairs")
    n = spark.read.parquet(f"{out}/clusters").count()
    print(f"CLUSTERS_WRITTEN={n}")
    spark.stop()


if __name__ == "__main__":
    main()
