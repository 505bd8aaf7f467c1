"""IMUSE interactive ent↔attr co-alignment (SURVEY.md §2.4).

The reference's unsupervised interactive model
(/root/reference/OpenEA_Mod/src/openea/approaches/imuse.py:17-40
``interactive_model``) alternates two steps until stable:

1. ``align_entity_by_attributes`` (imuse.py:69-97): for every entity pair,
   average value-similarity over the currently-aligned attribute pairs both
   entities carry; per left entity keep the best right entity above a
   threshold, targets unique.
2. ``align_attribute_by_entities`` (imuse.py:125-153): for every attribute
   pair, average value-similarity over the currently-aligned entity pairs
   that carry both attributes; per left attribute keep the best right
   attribute above a threshold, targets unique.

The seed attribute alignment comes from attribute-NAME similarity
(``get_aligned_attr_pair_by_name_similarity``, threshold 0.6).

Deterministic re-expression notes (the reference's greedy loops depend on
Python set iteration order, which is run-dependent):

- "per-left best with unique targets" → mutual-best (row_number both
  directions), the same deterministic stand-in SURVEY §2.5 uses for every
  greedy alignment.
- the reference keeps the FIRST value seen per (ent, attr)
  (``filter_by_aligned_attributes``, imuse.py:157-168 — set order again);
  here: ``min(value)``.
- value similarity = Levenshtein ratio (the reference blends Levenshtein
  with an LCS ratio, ``compute_two_values_similarity``; the Levenshtein
  term is the dominant one and is oracle-checkable in DuckDB).

Scale: the entity-pair space is bounded by an explicit ``candidates``
DataFrame (blocked pairs — IMUSE itself is all-pairs and would not survive
10^12 docs); attribute vocabularies are tiny so every attr-side cross join
is broadcast. Each round is localCheckpoint-ed: the alternation otherwise
stacks joins multiplicatively (same lineage blow-up links_fixpoint hit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_matchers_spark.functions.similarity import levenshtein_ratio
from entity_matchers_spark.operators.matching import mutual_best


def _one_value_per_ent_attr(attrs: DataFrame) -> DataFrame:
    """(ent, attr, value): deterministic single value per (ent, attr) —
    min(value) instead of the reference's set-order 'first seen'."""
    return attrs.groupBy("ent", "attr").agg(F.min("value").alias("value"))


def align_attrs_by_name(
    attrs1: DataFrame, attrs2: DataFrame, threshold: float = 0.6
) -> DataFrame:
    """(a1, a2, score) seed attribute alignment by attribute-name
    Levenshtein ratio ≥ threshold, mutual-best
    (get_aligned_attr_pair_by_name_similarity)."""
    v1 = attrs1.select(F.col("attr").alias("id_a")).distinct()
    v2 = attrs2.select(F.col("attr").alias("id_b")).distinct()
    scored = (
        v1.crossJoin(F.broadcast(v2))
        .withColumn("score", levenshtein_ratio(F.col("id_a"), F.col("id_b")))
        .where(F.col("score") >= threshold)
    )
    return mutual_best(scored).select(
        F.col("id_a").alias("a1"), F.col("id_b").alias("a2")
    )


def _pair_contribs(
    candidates: DataFrame,
    ev1: DataFrame,
    ev2: DataFrame,
    attr_pairs: DataFrame,
) -> DataFrame:
    """(e1, e2, s, c): sum and count of value-Levenshtein contributions of
    the given attribute pairs per candidate pair. Summable across disjoint
    attribute-pair sets — the incremental unit of the interactive loop."""
    j = (
        candidates.join(ev1.select(F.col("ent").alias("e1"), F.col("attr").alias("a1"), F.col("value").alias("v1")), "e1")
        .join(F.broadcast(attr_pairs), "a1")
        .join(
            ev2.select(F.col("ent").alias("e2"), F.col("attr").alias("a2"), F.col("value").alias("v2")),
            ["e2", "a2"],
        )
    )
    return (
        j.withColumn("vsim", levenshtein_ratio(F.col("v1"), F.col("v2")))
        .groupBy("e1", "e2")
        .agg(F.sum("vsim").alias("s"), F.count("*").alias("c"))
    )


def _decide_entities(contribs: DataFrame, threshold: float) -> DataFrame:
    """avg = s/c, threshold, mutual-best → (e1, e2, sim)."""
    sims = contribs.select(
        "e1", "e2", (F.col("s") / F.col("c")).alias("sim")
    ).where(F.col("sim") > threshold)
    return mutual_best(
        sims.select(F.col("e1").alias("id_a"), F.col("e2").alias("id_b"), F.col("sim").alias("score")),
        score_col="score",
    ).select(F.col("id_a").alias("e1"), F.col("id_b").alias("e2"), F.col("score").alias("sim"))


def align_attrs_by_entities(
    ent_pairs: DataFrame,
    ev1: DataFrame,
    ev2: DataFrame,
    threshold: float,
) -> DataFrame:
    """(a1, a2): per attribute pair, avg value similarity over the aligned
    entity pairs carrying both attributes (run_one_ae semantics),
    thresholded then mutual-best."""
    j = (
        ent_pairs.select("e1", "e2")
        .join(ev1.select(F.col("ent").alias("e1"), F.col("attr").alias("a1"), F.col("value").alias("v1")), "e1")
        .join(ev2.select(F.col("ent").alias("e2"), F.col("attr").alias("a2"), F.col("value").alias("v2")), "e2")
    )
    sims = (
        j.withColumn("vsim", levenshtein_ratio(F.col("v1"), F.col("v2")))
        .groupBy("a1", "a2")
        .agg(F.avg("vsim").alias("sim"))
        .where(F.col("sim") > threshold)
    )
    return mutual_best(
        sims.select(F.col("a1").alias("id_a"), F.col("a2").alias("id_b"), F.col("sim").alias("score")),
        score_col="score",
    ).select(F.col("id_a").alias("a1"), F.col("id_b").alias("a2"))


def imuse_interactive(
    attrs1: DataFrame,
    attrs2: DataFrame,
    candidates: DataFrame,
    attr_name_threshold: float = 0.6,
    ent_threshold: float = 0.55,
    attr_threshold: float = 0.55,
    rounds: int = 2,
) -> DataFrame:
    """The full interactive loop (imuse.py:17-40), ``rounds`` iterations
    unrolled so the DuckDB oracle can compute the identical plan.

    attrs1/attrs2: (ent, attr, value). candidates: (e1, e2) bounded pair
    space. Returns accumulated (e1, e2, sim, round) — ``round`` is the
    iteration (0-based) the pair first entered the alignment."""
    ev1 = _one_value_per_ent_attr(attrs1).localCheckpoint(eager=True)
    ev2 = _one_value_per_ent_attr(attrs2).localCheckpoint(eager=True)
    # candidates feed every round's entity-alignment join — materialize once
    candidates = candidates.localCheckpoint(eager=True)
    attr_pairs = align_attrs_by_name(attrs1, attrs2, attr_name_threshold)
    aligned: DataFrame | None = None
    # Incremental per-pair (sum, count) contributions: each round joins
    # candidates only against the attribute pairs DISCOVERED that round and
    # folds them into the running sums — avg over the union of disjoint
    # attr-pair sets is (Σs)/(Σc), identical to recomputing from scratch,
    # at a third of the join/Levenshtein volume for 2 rounds (and O(rounds)
    # less at more rounds).
    contribs: DataFrame | None = None
    processed = attr_pairs  # full accumulated attr-pair set (for anti-joins)
    for r in range(rounds):
        delta = _pair_contribs(candidates, ev1, ev2, attr_pairs)
        if contribs is None:
            contribs = delta
        else:
            contribs = (
                contribs.unionByName(delta)
                .groupBy("e1", "e2")
                .agg(F.sum("s").alias("s"), F.sum("c").alias("c"))
            )
        contribs = contribs.localCheckpoint(eager=True)
        new = _decide_entities(contribs, ent_threshold)
        new = new.withColumn("round", F.lit(r))
        if aligned is None:
            aligned = new
        else:
            # accumulate: keep the earliest round's entry per pair
            fresh = new.join(aligned.select("e1", "e2"), ["e1", "e2"], "left_anti")
            aligned = aligned.unionByName(fresh)
        aligned = aligned.localCheckpoint(eager=True)
        if r < rounds - 1:
            new_attr = align_attrs_by_entities(aligned, ev1, ev2, attr_threshold)
            # next round's delta = pairs not already folded into contribs
            attr_pairs = new_attr.join(processed, ["a1", "a2"], "left_anti").localCheckpoint(eager=True)
            processed = processed.unionByName(attr_pairs).localCheckpoint(eager=True)
    return aligned.select("e1", "e2", "sim", "round")
