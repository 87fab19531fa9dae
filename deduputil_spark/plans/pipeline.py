"""The flagship plan: transcripts → near-duplicate clusters.

Stage graph:

  assemble → minhash (numpy OPH) → bands → candidates → verify → clusters

One function, `run_pipeline`, builds it in two modes:

- default (`checkpoint_dir=None`): one lazy plan with only the persists
  correctness requires — docs feeds three consumers, the compact signature
  table feeds both band consumers, candidate pairs feed the verify joins and
  verified pairs feed the CC fixpoint.  No `count()` jobs, no metrics rows.
- checkpointed: the same layers, each written under
  `<checkpoint_dir>/<stage>_<config hash>` and read back.  A stage whose
  table exists with the SAME config hash is read back, not recomputed — kill
  the driver after stage k, rerun, and stages 1..k are loaded while k+1..
  continue.  Each stage records a `StageMetric` (stage, rows_out counted on
  the table just written, wall_ms, partitions, config_hash, resumed).  With
  `max_pair_degree` set, the raw and capped candidate sets are separate
  stages and a `degree_cap_dropped` row records the difference.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deduputil_spark.cache import track
from deduputil_spark.config import DedupConfig
from deduputil_spark.io import read_table, table_exists, write_table
from deduputil_spark.operators.assemble import assemble_documents
from deduputil_spark.operators.cluster import connected_components
from deduputil_spark.operators.lsh import candidate_pairs, cap_pair_degree
from deduputil_spark.operators.minhash import lsh_bands, minhash_signatures_numpy
from deduputil_spark.operators.verify import jaccard_verify_docs


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

    def __init__(self, spark: SparkSession, cfg, checkpoint_dir: str | None):
        # cfg is duck-typed: anything with config_hash() (DedupConfig, _SuffixCfg)
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

    docs = r.run("assemble", lambda: assemble_documents(transcripts))
    # keep the COMPACT signature table (one row/doc), not the bands×-bigger
    # exploded band table: bands re-derive from it with one JVM explode per
    # consumer (see candidate_pairs persist_bands)
    sigs = r.run("minhash", lambda: minhash_signatures_numpy(docs, cfg))
    bands = lsh_bands(sigs, cfg, band_key="xxhash")  # no per-band string build
    if checkpoint_dir and cfg.max_pair_degree is not None:
        # meter the raw and capped candidate sets as separate stages and emit
        # the dropped-edge count as its own metrics row — thinning is never
        # silent (the contract lsh.cap_pair_degree promises)
        uncapped = replace(cfg, max_pair_degree=None)
        raw = r.run("candidates_raw", lambda: candidate_pairs(bands, uncapped, persist_bands=False))
        cands = r.run("candidates", lambda: cap_pair_degree(raw, cfg.max_pair_degree))
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
    else:
        cands = r.run("candidates", lambda: candidate_pairs(bands, cfg, persist_bands=False))
    # verify prunes DOCS before exploding shingles: cost scales with the
    # candidate set, not the corpus
    verified = r.run(
        "verified",
        lambda: jaccard_verify_docs(cands, docs, cfg.shingle_k, threshold=cfg.jaccard_threshold),
    )

    def cluster() -> DataFrame:
        return connected_components(
            verified.select("conv_a", "conv_b"),
            cfg.max_cc_iterations,
            all_vertices=docs.select("conv_id"),
        )

    # the default plan leaves clusters lazy: the caller's action is its only consumer
    clusters = r.run("clusters", cluster) if checkpoint_dir else cluster()
    r.dump_metrics()
    return PipelineResult(clusters=clusters, verified_pairs=verified, metrics=r.metrics)


# perfbench/workloads.py (the frozen benchmark) still imports the old name of
# the default plan; it is the same function.
run_pipeline_lean = run_pipeline


@dataclass
class ExactSubstringResult:
    clean_docs: DataFrame
    spans: DataFrame
    metrics: list[StageMetric] = field(default_factory=list)


class _SuffixCfg:
    """Duck-typed config for Runner: hashes the exact-substring knobs so a
    checkpoint from a different (L, method) is never read back."""

    def __init__(self, L: int, method: str):
        self.L, self.method = int(L), method

    def config_hash(self) -> str:
        import hashlib

        return hashlib.md5(f"suffix:{self.L}:{self.method}".encode()).hexdigest()[:12]


def run_exact_substring(
    spark: SparkSession,
    docs: DataFrame,
    L: int = 20,
    method: str = "rolling",
    checkpoint_dir: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> ExactSubstringResult:
    """The exact-substring dedup plan (Lee et al. ExactSubstr): corpus-wide
    duplicated spans → cleaned corpus, as two stages with the same
    Runner/checkpoint semantics as `run_pipeline`: with `checkpoint_dir` they
    are metered and resumable (kill after the spans stage, rerun, and the
    spans table is read back, not recomputed), without it only persisted.
    `method="rolling"` is the scale path (8 bytes/position on the wire,
    exact gram re-verification)."""
    from deduputil_spark.operators.suffixarray import duplicated_spans, strip_duplicated_spans

    r = Runner(spark, _SuffixCfg(L, method), checkpoint_dir)
    spans = r.run("suffix_spans", lambda: duplicated_spans(docs, L, method, id_col, text_col))
    clean = r.run(
        "suffix_strip",
        lambda: strip_duplicated_spans(docs, L, method, id_col, text_col, spans=spans),
    )
    r.dump_metrics()
    return ExactSubstringResult(clean_docs=clean, spans=spans, metrics=r.metrics)


def pair_recall(verified_or_clusters: DataFrame, truth_pairs: DataFrame, via_clusters: bool = True) -> float:
    """Planted-pair recall (BASELINE.json metric).  `truth_pairs` rows with
    kind != collision_nonpair must co-cluster (or appear among verified pairs)."""
    truth = truth_pairs.filter(F.col("kind") != "collision_nonpair")
    n_truth = truth.count()
    if n_truth == 0:
        return 1.0
    if via_clusters:
        lab = verified_or_clusters  # (conv_id, cluster_id)
        la = lab.select(F.col("conv_id").alias("conv_a"), F.col("cluster_id").alias("ca"))
        lb = lab.select(F.col("conv_id").alias("conv_b"), F.col("cluster_id").alias("cb"))
        hit = truth.join(la, "conv_a").join(lb, "conv_b").filter(F.col("ca") == F.col("cb")).count()
    else:
        hit = truth.join(verified_or_clusters, ["conv_a", "conv_b"], "left_semi").count()
    return hit / n_truth
