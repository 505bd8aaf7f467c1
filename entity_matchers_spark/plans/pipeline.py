"""The end-to-end record-linkage pipeline, staged and resumable.

The reference checkpoints by pickling each stage's output and resuming from
files on disk (/root/reference/bert-int/run_full_bert.py:46-64; every
interaction_model stage starts with pickle.load). The Spark-native analog:
every stage writes a parquet table + a metrics/lineage file; a rerun skips
stages whose committed output exists (``_SUCCESS`` marker — the same
contract an Iceberg snapshot commit provides). Stage tables are parquet:
Iceberg waits for its runtime jar, and with it a lineage source (its
snapshot metadata).

Stages (SURVEY.md §7):
  extract → blocks → pairs → scores → matches → clusters

Each stage records per-file lineage (committed ``part-*`` file → row
count, read from the parquet footers on the driver, no Spark job), its
table schema and wall-clock into ``<root>/_metrics/<stage>.json`` — the
analog of the reference's blocking stats.csv audit (README.md:380-383).
A resumed run opens a committed table with the recorded schema (inferring
one runs a Spark job), and only if the rest of the run reads it.
"""

from __future__ import annotations

import glob
import json
import os
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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
    # the committed tables each stage's body (``_build``) reads
    INPUTS = {
        "extract": (),
        "blocks": ("extract",),
        "pairs": ("blocks",),
        "scores": ("pairs", "extract"),
        "matches": ("scores",),
        "clusters": ("extract", "matches"),
    }

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
        """The committed table of ``stage``, opened with the schema its
        commit recorded: no Spark job."""
        with open(f"{self.root}/_metrics/{stage}.json") as f:
            record = json.load(f)
        if "schema" not in record:
            raise ValueError(f"_metrics/{stage}.json records no schema: recommit {stage!r}")
        schema = StructType.fromJson(record["schema"])
        return self.spark.read.schema(schema).parquet(self._path(stage))

    def _commit(self, stage: str, df: DataFrame, started: float) -> DataFrame:
        path = self._path(stage)
        df.write.mode("overwrite").parquet(path)
        parts = sorted(glob.glob(os.path.join(glob.escape(path), "part-*")))
        if not parts:
            # the parquet writer leaves at least one part file, even for an
            # empty table: none found means ``path`` is not a local directory
            raise ValueError(f"no part-* files under {path!r}: lineage needs a local root")
        lineage = {os.path.basename(f): pq.read_metadata(f).num_rows for f in parts}
        metrics = {
            "stage": stage,
            "rows": sum(lineage.values()),
            "partitions": len(lineage),
            "partition_rows": lineage,
            "wall_sec": round(time.time() - started, 3),
            "schema": df.schema.jsonValue(),
            "config": {k: v for k, v in vars(self.config).items() if not isinstance(v, dict)},
        }
        os.makedirs(f"{self.root}/_metrics", exist_ok=True)
        with open(f"{self.root}/_metrics/{stage}.json", "w") as f:
            json.dump(metrics, f, indent=2)
        # open it with the written schema: inferring one runs a Spark job
        return self.spark.read.schema(df.schema).parquet(path)

    # -- stage bodies -------------------------------------------------------

    def _build(self, stage: str, pages: DataFrame, tables: dict[str, DataFrame]) -> DataFrame:
        """Stage ``stage``'s output over the committed ``tables`` before it."""
        c = self.config
        if stage == "extract":
            extracted = with_extracted_text(pages, "html", "extracted_text")
            return extracted.select(
                F.col("page_id").alias("id"), "url", "warc_ts", "lang",
                F.col("extracted_text").alias("text"),
            )
        if stage == "blocks":
            return c.blocks(
                tables["extract"].select(
                    "id", "text", blocking.normalized_domain("url").alias("domain")
                )
            )
        if stage == "pairs":
            return c.pairs(tables["blocks"])
        if stage == "scores":
            return c.scores(tables["pairs"], tables["extract"])
        if stage == "matches":
            return c.matches(tables["scores"])
        if stage == "clusters":
            return clustering.clusters_with_singletons(tables["extract"], tables["matches"])
        raise ValueError(f"unknown stage {stage}")

    # -- public API ---------------------------------------------------------

    def run(self, pages: DataFrame, through: str | None = None) -> DataFrame:
        """Run the uncommitted stages up to ``through`` (default: the last)
        and return its table. A committed stage is opened only if a stage
        still to run, or the return value, reads it."""
        through = through or self.STAGES[-1]
        stages = self.STAGES[: self.STAGES.index(through) + 1]
        todo = [s for s in stages if not self.is_committed(s)]
        needed = {through}.union(*(self.INPUTS[s] for s in todo))
        tables: dict[str, DataFrame] = {}
        for stage in stages:
            if stage in todo:
                started = time.time()
                tables[stage] = self._commit(stage, self._build(stage, pages, tables), started)
            elif stage in needed:
                tables[stage] = self.read(stage)
        return tables[through]
