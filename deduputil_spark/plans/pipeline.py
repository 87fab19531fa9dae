"""The flagship plan: transcripts → near-duplicate clusters.

Stage graph:

  assemble → sign (numpy OPH + k-gram sets) → bands → candidates → verify → clusters

One function, `run_pipeline`, builds it in two modes:

- default (`checkpoint_dir=None`): one lazy plan with only the persists
  correctness requires — the compact sign table (conv_id, sig, kset) feeds
  both band consumers, the verify joins and the CC vertex list; candidate
  pairs feed the verify joins and verified pairs feed the CC fixpoint.  The
  assembled docs are not persisted: the sign mapInArrow is their only
  consumer, so each doc's text crosses into Python once.  Verify joins the
  persisted k-gram sets in the JVM (`jaccard_verify_sets`).  No `count()`
  jobs, no metrics rows.
- checkpointed: the same layers, each written under
  `<checkpoint_dir>/<stage>_<config hash>` and read back (assemble is a stage
  of its own here).  A stage whose table exists with the SAME config hash is
  read back, not recomputed — kill the driver after stage k, rerun, and
  stages 1..k are loaded while k+1.. continue.  Each stage records a
  `StageMetric` (stage, rows_out counted on the table just written, wall_ms,
  partitions, config_hash, resumed).

With `max_pair_degree` set, both modes apply `lsh.cap_pair_degree` here.
By default only the capped pairs are persisted; checkpointed, the raw and
capped pairs are the stages `candidates_raw` and `candidates`, and a
`degree_cap_dropped` row records the difference.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deduputil_spark.cache import track
from deduputil_spark.config import DedupConfig
from deduputil_spark.io import read_table, table_exists, write_table
from deduputil_spark.operators.assemble import assemble_documents
from deduputil_spark.operators.cluster import connected_components
from deduputil_spark.operators.lsh import candidate_pairs, cap_pair_degree
from deduputil_spark.operators.minhash import lsh_bands, minhash_signatures_numpy
from deduputil_spark.operators.verify import jaccard_verify_sets


@dataclass
class StageMetric:
    stage: str
    rows_out: int
    wall_ms: int
    partitions: int
    config_hash: str
    resumed: bool


@dataclass
class PipelineResult:
    clusters: DataFrame
    verified_pairs: DataFrame
    metrics: list[StageMetric] = field(default_factory=list)


class Runner:
    """Checkpoint-aware stage runner.  Without a checkpoint dir a stage is
    only persisted (tracked, cache.py) and metered not at all."""

    def __init__(self, spark: SparkSession, cfg: DedupConfig, checkpoint_dir: str | None):
        self.spark = spark
        self.cfg = cfg
        self.dir = checkpoint_dir
        self.metrics: list[StageMetric] = []
        if checkpoint_dir:
            os.makedirs(checkpoint_dir, exist_ok=True)

    def run(self, stage: str, build) -> DataFrame:
        if not self.dir:
            # no checkpoint table -> persist, or every downstream consumer
            # recomputes the entire upstream lineage
            return track(build())
        t0 = time.monotonic()
        loc = os.path.join(self.dir, f"{stage}_{self.cfg.config_hash()}")
        resumed = table_exists(self.spark, loc)
        if not resumed:
            write_table(build(), loc)
        df = read_table(self.spark, loc)
        self.metrics.append(
            StageMetric(
                stage=stage,
                rows_out=df.count(),
                wall_ms=int((time.monotonic() - t0) * 1000),
                partitions=df.rdd.getNumPartitions(),
                config_hash=self.cfg.config_hash(),
                resumed=resumed,
            )
        )
        return df

    def dump_metrics(self) -> None:
        if not self.dir:
            return
        path = os.path.join(self.dir, "metrics.jsonl")
        with open(path, "a") as f:
            for m in self.metrics:
                f.write(json.dumps(m.__dict__) + "\n")


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: DedupConfig | None = None,
    checkpoint_dir: str | None = None,
) -> PipelineResult:
    """Near-duplicate clusters of `transcripts`; see the module docstring for
    the default and checkpointed modes."""
    cfg = cfg or DedupConfig()
    r = Runner(spark, cfg, checkpoint_dir)

    if checkpoint_dir:
        docs = r.run("assemble", lambda: assemble_documents(transcripts))
    else:  # only the sign mapInArrow reads docs: nothing to persist
        docs = assemble_documents(transcripts)
    # keep the COMPACT sign table (one row/doc), not the bands×-bigger
    # exploded band table: bands re-derive from it with one JVM explode per
    # consumer (see candidate_pairs persist_bands).  Its kset column is what
    # verify joins, so verify never re-reads or re-tokenizes text.
    sigs = r.run("sign", lambda: minhash_signatures_numpy(docs, cfg))
    bands = lsh_bands(sigs, cfg, band_key="xxhash")  # no per-band string build
    if cfg.max_pair_degree is None:
        cands = r.run("candidates", lambda: candidate_pairs(bands, cfg, persist_bands=False))
    else:
        if checkpoint_dir:
            raw = r.run("candidates_raw", lambda: candidate_pairs(bands, cfg, persist_bands=False))
        else:  # only the cap reads the uncapped pairs: nothing to persist
            raw = candidate_pairs(bands, cfg, persist_bands=False)
        cands = r.run("candidates", lambda: cap_pair_degree(raw, cfg.max_pair_degree))
        if checkpoint_dir:
            # the dropped-edge count is its own metrics row — thinning is
            # never silent (the contract lsh.cap_pair_degree promises)
            r.metrics.append(
                StageMetric(
                    stage="degree_cap_dropped",
                    rows_out=r.metrics[-2].rows_out - r.metrics[-1].rows_out,
                    wall_ms=0,
                    partitions=-1,
                    config_hash=cfg.config_hash(),
                    resumed=False,
                )
            )
    verified = r.run(
        "verified",
        lambda: jaccard_verify_sets(cands, sigs.select("conv_id", "kset"), cfg.jaccard_threshold),
    )

    def cluster() -> DataFrame:
        return connected_components(
            verified.select("conv_a", "conv_b"),
            cfg.max_cc_iterations,
            all_vertices=sigs.select("conv_id"),
        )

    # the default plan leaves clusters lazy: the caller's action is its only consumer
    clusters = r.run("clusters", cluster) if checkpoint_dir else cluster()
    r.dump_metrics()
    return PipelineResult(clusters=clusters, verified_pairs=verified, metrics=r.metrics)


# perfbench/workloads.py (the frozen benchmark) still imports the old name of
# the default plan; it is the same function.
run_pipeline_lean = run_pipeline


def pair_recall(clusters: DataFrame, truth_pairs: DataFrame) -> float:
    """Planted-pair recall (BASELINE.json metric): the share of `truth_pairs`
    rows with kind != collision_nonpair whose two docs share a cluster in
    `clusters` (conv_id, cluster_id)."""
    truth = truth_pairs.filter(F.col("kind") != "collision_nonpair")
    n_truth = truth.count()
    if n_truth == 0:
        return 1.0
    la = clusters.select(F.col("conv_id").alias("conv_a"), F.col("cluster_id").alias("ca"))
    lb = clusters.select(F.col("conv_id").alias("conv_b"), F.col("cluster_id").alias("cb"))
    hit = truth.join(la, "conv_a").join(lb, "conv_b").filter(F.col("ca") == F.col("cb")).count()
    return hit / n_truth
