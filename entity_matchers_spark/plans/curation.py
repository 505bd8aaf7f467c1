"""The end-to-end training-data curation pipeline, staged and resumable.

The record-linkage pipeline (:mod:`entity_matchers_spark.plans.pipeline`)
covers the reference's ER dataflow; this module composes the repo's
LLM-training-data operators into the other pipeline a 100-TB web corpus
actually runs — the curation chain every open-data pipeline publishes
(RefinedWeb/CCNet shape):

  filter (URL blocklist + quality floor)
  → scrub (PII redaction)
  → dedup (exact hash + MinHash-LSH near-dup resolution)
  → select (per-domain head-cap + stratified training mix)
  → pack (deterministic global shuffle + sequence packing coordinates)

Same checkpoint contract as the ER pipeline (it subclasses the stage
runner): every stage commits a table + per-partition lineage/metrics, a
rerun resumes from the last committed stage with byte-identical output
(all decisions are seeded-hash deterministic — no ``rand()`` anywhere).
Reference analog for the stage-commit protocol: the pickle-per-stage
checkpointing in /root/reference/bert-int/run_full_bert.py:46-64.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_matchers_spark.plans.pipeline import CheckpointedPipeline


@dataclass
class CurationConfig:
    blocked_domains: tuple[str, ...] = ()
    blocked_keywords: tuple[str, ...] = ()
    min_tokens: int = 5
    neardup_threshold: float = 0.7
    neardup_shingle_n: int = 7
    max_per_domain: int = 1_000_000
    lang_rates: tuple[tuple[str, float], ...] = ()  # () -> keep everything
    default_lang_rate: float = 1.0
    seq_len: int = 1024
    n_shards: int = 16


class CurationPipeline(CheckpointedPipeline):
    """Filesystem-committed curation runner over ``(id, url, lang, text)``.

    Input is the ER pipeline's ``extract`` stage schema, so on a shared
    warehouse the two pipelines chain: extract once, link AND curate.
    """

    STAGES = ("filter", "scrub", "dedup", "select", "pack")
    # each stage after the first reads the one before it
    INPUTS = dict(zip(STAGES, [()] + [(s,) for s in STAGES[:-1]]))

    def __init__(self, spark, root: str, config: CurationConfig | None = None):
        self.spark = spark
        self.root = root.rstrip("/")
        self.config = config or CurationConfig()

    # -- stage bodies -------------------------------------------------------

    def _build(self, stage: str, docs: DataFrame, tables: dict[str, DataFrame]) -> DataFrame:
        from entity_matchers_spark.functions.shingles import tokens
        from entity_matchers_spark.operators.dedup import (
            exact_duplicates,
            neardup_resolve,
        )
        from entity_matchers_spark.operators.packing import (
            global_shuffle,
            pack_sequences,
        )
        from entity_matchers_spark.operators.sampling import (
            domain_cap,
            stratified_sample,
        )
        from entity_matchers_spark.operators.web import pii_scrub, url_filter

        c = self.config
        if stage == "filter":
            blocklist = self.spark.createDataFrame(
                [(d,) for d in c.blocked_domains] or [("blocked.invalid",)],
                "domain string",
            )
            flagged = url_filter(docs, blocklist, keywords=c.blocked_keywords,
                                 url_col="url")
            return (
                flagged.where(F.col("keep") == 1)
                .where(F.size(tokens(F.col("text"))) >= c.min_tokens)
                .select("id", "url", "domain", "lang", "text")
            )
        [prev] = self.INPUTS[stage]
        cur = tables[prev]
        if stage == "scrub":
            clean = pii_scrub(cur, id_col="id", text_col="text")
            return (
                cur.drop("text")
                .join(clean.select("id", F.col("clean_text").alias("text")), "id")
                .select("id", "url", "domain", "lang", "text")
            )
        if stage == "dedup":
            exact_keep = exact_duplicates(cur, id_col="id").select(
                F.col("keep_id").alias("id")
            )
            uniq = cur.join(exact_keep, "id", "left_semi")
            near = neardup_resolve(
                uniq, id_col="id", text_col="text",
                threshold=c.neardup_threshold, shingle_n=c.neardup_shingle_n,
            )
            keepers = near.where(F.col("keep") == 1).select("id")
            return uniq.join(keepers, "id", "left_semi").select(
                "id", "url", "domain", "lang", "text"
            )
        if stage == "select":
            capped = domain_cap(cur, c.max_per_domain, key_col="domain", id_col="id")
            return stratified_sample(
                capped, dict(c.lang_rates), stratum_col="lang", id_col="id",
                default_rate=c.default_lang_rate,
            ).select("id", "url", "domain", "lang", "text")
        if stage == "pack":
            coords = pack_sequences(cur, c.seq_len, id_col="id", text_col="text")
            shards = global_shuffle(cur, c.n_shards, id_col="id")
            return coords.join(shards, "id").select(
                "id", "shard", "pos", "n_tok", "start",
                "first_seq", "last_seq", "offset",
            )
        raise ValueError(f"unknown stage {stage}")
