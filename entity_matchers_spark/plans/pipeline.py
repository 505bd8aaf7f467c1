"""The end-to-end record-linkage pipeline, staged and resumable.

The reference checkpoints by pickling each stage's output and resuming from
files on disk (/root/reference/bert-int/run_full_bert.py:46-64; every
interaction_model stage starts with pickle.load). The Spark-native analog:
every stage writes a table + a metrics/lineage row; a rerun skips stages
whose committed output exists (``_SUCCESS`` marker — the same contract an
Iceberg snapshot commit provides; the writer format is a constructor arg so
``iceberg`` slots in unchanged on a cluster with the runtime jar).

Stages (SURVEY.md §7):
  extract → blocks → pairs → scores → matches → clusters

Each stage records per-partition lineage (partition id → row count) plus
wall-clock into ``<root>/_metrics/<stage>.json`` — the north rule's
"per-partition lineage + metrics" requirement, and the analog of the
reference's blocking stats.csv audit (README.md:380-383).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from entity_matchers_spark.extraction import with_extracted_text
from entity_matchers_spark.operators import blocking, clustering, matching, scoring


@dataclass
class PipelineConfig:
    """The one spec of the ER chain, and its builder.

    The pipeline stages, the registry's ER queries and their DuckDB oracles,
    the bench scoring probe and the plan audit all build blocks → pairs →
    scores → matches from these fields through these methods, then cluster
    the matches with ``clustering.clusters_with_singletons``. The chain's
    input is docs with ``id``, ``text`` and ``domain``.
    """

    num_bands: int = 16
    rows_per_band: int = 2
    shingle_n: int = 3
    text_cap: int = 300
    name_cap: int = 64
    seed: int = 11037
    max_block_size: int = 64
    edge_threshold: float = 0.8
    weights: dict[str, float] = field(
        default_factory=lambda: dict(scoring.DEFAULT_WEIGHTS)
    )
    format: str = "parquet"  # "iceberg" on a cluster with the runtime jar

    def minhash_keys(self, docs: DataFrame) -> DataFrame:
        """(id, block_id): MinHash-LSH band keys over ``text``."""
        return blocking.minhash_block_keys(
            docs, "id", "text",
            num_bands=self.num_bands, rows_per_band=self.rows_per_band,
            shingle_n=self.shingle_n, text_cap=self.text_cap, seed=self.seed,
        )

    def blocks(self, docs: DataFrame) -> DataFrame:
        """MinHash band keys plus one domain key per doc with a non-empty
        ``domain``."""
        return self.minhash_keys(docs).unionByName(blocking.domain_keys(docs))

    def pairs(self, blocks: DataFrame) -> DataFrame:
        return blocking.candidate_pairs(blocks, self.max_block_size)

    def scores(self, pairs: DataFrame, docs: DataFrame) -> DataFrame:
        return scoring.score_pairs(
            pairs, docs, "id", "text", name_cap=self.name_cap, weights=self.weights
        )

    def matches(self, scores: DataFrame) -> DataFrame:
        # Clustering needs ALL above-threshold edges, not a 1-1 matching:
        # mutual-best (the reference's two-KG alignment rule) would keep
        # at most one edge per page and cap clusters at size 2. The
        # calibrated threshold is the match decision; CC adds transitivity.
        return matching.threshold_match(scores, self.edge_threshold)


class CheckpointedPipeline:
    """Filesystem-committed stage runner.

    ``run()`` executes only the stages whose committed output is missing —
    kill it after any stage and a rerun resumes from the last commit with
    byte-identical results (determinism guaranteed by the seed-free hashing
    in every operator).
    """

    STAGES = ("extract", "blocks", "pairs", "scores", "matches", "clusters")

    def __init__(self, spark: SparkSession, root: str, config: PipelineConfig | None = None):
        self.spark = spark
        self.root = root.rstrip("/")
        self.config = config or PipelineConfig()

    # -- storage helpers ----------------------------------------------------

    def _path(self, stage: str) -> str:
        return f"{self.root}/{stage}"

    def is_committed(self, stage: str) -> bool:
        return os.path.exists(f"{self._path(stage)}/_SUCCESS")

    def read(self, stage: str) -> DataFrame:
        return self.spark.read.format(self.config.format).load(self._path(stage))

    def _commit(self, stage: str, df: DataFrame, started: float) -> DataFrame:
        df.write.format(self.config.format).mode("overwrite").save(self._path(stage))
        out = self.read(stage)
        lineage = {
            str(r["pid"]): r["rows"]
            for r in out.groupBy(F.spark_partition_id().alias("pid"))
            .agg(F.count("*").alias("rows"))
            .collect()
        }
        metrics = {
            "stage": stage,
            "rows": sum(lineage.values()),
            "partitions": len(lineage),
            "partition_rows": lineage,
            "wall_sec": round(time.time() - started, 3),
            "config": {k: v for k, v in vars(self.config).items() if not isinstance(v, dict)},
        }
        os.makedirs(f"{self.root}/_metrics", exist_ok=True)
        with open(f"{self.root}/_metrics/{stage}.json", "w") as f:
            json.dump(metrics, f, indent=2)
        return out

    # -- stage bodies -------------------------------------------------------

    def _build(self, stage: str, pages: DataFrame) -> DataFrame:
        c = self.config
        if stage == "extract":
            extracted = with_extracted_text(pages, "html", "extracted_text")
            return extracted.select(
                F.col("page_id").alias("id"), "url", "warc_ts", "lang",
                F.col("extracted_text").alias("text"),
            )
        docs = self.read("extract")
        if stage == "blocks":
            return c.blocks(
                docs.select("id", "text", blocking.normalized_domain("url").alias("domain"))
            )
        if stage == "pairs":
            return c.pairs(self.read("blocks"))
        if stage == "scores":
            return c.scores(self.read("pairs"), docs)
        if stage == "matches":
            return c.matches(self.read("scores"))
        if stage == "clusters":
            return clustering.clusters_with_singletons(docs, self.read("matches"))
        raise ValueError(f"unknown stage {stage}")

    # -- public API ---------------------------------------------------------

    def run(self, pages: DataFrame, through: str = "clusters") -> DataFrame:
        last = None
        for stage in self.STAGES:
            if self.is_committed(stage):
                last = self.read(stage)
            else:
                started = time.time()
                last = self._commit(stage, self._build(stage, pages), started)
            if stage == through:
                break
        assert last is not None
        return last
