"""Hash-function quality report — the reference's `hashtest` harness
(/root/reference/src/hashtest.c:123-223) as a relational operator.

The reference md5s 4 KB blocks of an input file, inserts them into a
hashtable per hash function, and reports bucket usage, max chain length and
collision counts.  Here: bucket keys per value, then bucket-size distribution
aggregates.  The bucket is derived from md5 (hex prefix → int) so the DuckDB
oracle reproduces it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hash_quality_report(df: DataFrame, col: str, n_buckets: int = 1024) -> DataFrame:
    """-> one row: n_values, used_buckets, max_chain, avg_chain, collisions.

    collisions = values whose bucket holds >1 distinct value (chain >1), the
    reference's "conflict" count (show_hashtest_result semantics)."""
    bucket = F.conv(F.substring(F.md5(F.col("v").cast("binary")), 1, 8), 16, 10).cast("long") % n_buckets
    per_bucket = (
        df.select(F.col(col).alias("v")).distinct()
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("chain"))
    )
    return per_bucket.agg(
        F.sum("chain").alias("n_values"),
        F.count(F.lit(1)).alias("used_buckets"),
        F.max("chain").alias("max_chain"),
        F.round(F.avg("chain"), 6).alias("avg_chain"),
        F.sum(F.when(F.col("chain") > 1, F.col("chain")).otherwise(0)).alias("collisions"),
    )
