"""Pairwise scoring (SURVEY.md §2.4).

The reference scores candidate pairs with dense similarity matrices
(/root/reference/OpenEA_Mod/src/openea/modules/finding/similarity.py:12-91)
or an MLP over 85 kernel features
(/root/reference/bert-int/interaction_model/interaction_model.py:37-45).
A dense n1×n2 matrix is impossible at 10^12 docs; here scores live only on
the *blocked candidate-pair DataFrame*.

Features per pair (one Arrow batch computes all of them, per the
north-star's "no per-row Python"):
- Jaro-Winkler on the name-ish prefix (numpy-vectorized pandas UDF)
- token-set Levenshtein ratio (batched Myers UDF on capped canonical text)
- 3-gram Jaccard over md5-int shingle sets (allocation-free batch UDF)
- embedding cosine on hashing-trick token vectors (native zip_with/aggregate)

Blend: calibrated weighted sum → score in [0,1]. Weights/threshold are fit
on labeled pairs (see calibration.fit_threshold) to reproduce the
reference's alignment decisions — the role the MLP plays in BERT-INT.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from entity_matchers_spark.functions.shingles import gram_hashes, gram_sets, tokens
from entity_matchers_spark.functions.similarity import (
    jaccard_hashed_udf,
    jaro_winkler_udf,
    levenshtein_ratio_fast,
)
from entity_matchers_spark.session import spread_docs

DEFAULT_WEIGHTS = {"jw": 0.25, "tslr": 0.3, "jac3": 0.25, "cos": 0.2}
# Jaro-Winkler compares the lowercased first NAME_CAP characters.
NAME_CAP = 64
# canonical token-set string capped before levenshtein: cost is O(len^2)
# per pair — the cap bounds it while the sorted-distinct prefix keeps the
# comparison stable
TSLR_CAP = 192
VEC_DIM = 64  # hashing-trick buckets of the cosine feature


def hashed_token_vector(text: Column | str, dim: int = VEC_DIM) -> Column:
    """Hashing-trick token-count vector as ``array<double>`` — the
    deterministic stand-in for trained embeddings (the reference's char-level
    fallback encoder precedent: literal_encoder.py:150-190). Native:
    tokens → bucket via md5-int % dim (cross-engine reproducible) → counts
    via aggregate."""
    toks = tokens(text)
    buckets = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long") % dim
    )
    # count per bucket without a shuffle: aggregate into a fixed-size array
    zeros = F.array_repeat(F.lit(0.0), dim)
    return F.aggregate(
        buckets,
        zeros,
        lambda acc, b: F.transform(acc, lambda v, i: F.when(i == b.cast("int"), v + 1.0).otherwise(v)),
    )


def _cosine_precomputed_norms(va: str, vb: str, na: str, nb: str) -> Column:
    """Cosine with per-doc norms shipped as scalars: dot / (na * nb) —
    identical operand order to ``cosine_similarity`` and the SQL oracle."""
    dot = F.aggregate(
        F.zip_with(F.col(va), F.col(vb), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.when((F.col(na) == 0) | (F.col(nb) == 0), F.lit(0.0)).otherwise(
        dot / (F.col(na) * F.col(nb))
    )


def score_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    name_cap: int = NAME_CAP,
    weights: dict[str, float] | None = None,
) -> DataFrame:
    """Join candidate pairs to both sides' text, compute the feature struct
    and blended score.

    No rounding anywhere: every feature is computed from the same operands
    in the same order as the SQL oracle (``queries._er_scores_sql``), so the
    raw doubles are bit-equal across engines (cosine inputs are small
    integer counts, so dot and norms are exact).

    Join strategy: each side's features are projected over the docs
    spread by id, joined on id to the docs' 3-gram sets of the first 300
    chars (``shingles.gram_sets``), and joined to the pairs. The planner
    picks the strategies from stats: at the benchmarked sizes the gram
    sets and the side tables are broadcast, on larger inputs the joins
    shuffle. Feature math happens after both joins on the
    already-joined rows; the three pandas UDFs share one
    ``ArrowEvalPython`` node, i.e. one Arrow round trip per batch.
    """
    w = weights or DEFAULT_WEIGHTS
    # The feature select is compute-bound (pandas UDF + levenshtein); spread
    # the pair table across all cores up front — AQE sizes partitions by
    # shuffle bytes and would otherwise run tiny-but-expensive stages on one
    # task. At production scale this is the join shuffle it would do anyway.
    # 3 tasks per core: with exactly one wave the slowest task extends the
    # whole stage; finer tasks level the tail.
    sc = pairs.sparkSession.sparkContext
    pairs = pairs.repartition(3 * sc.defaultParallelism, "id_a", "id_b")
    # per-doc features over the docs spread by id (spread_docs), so the
    # side projection runs on every task slot; the pair rows carry only the
    # capped name/canon strings + hashed gram set, never the raw text
    canon = F.substring(
        F.concat_ws(
            " ",
            F.sort_array(
                F.array_distinct(F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != ""))
            ),
        ),
        1,
        TSLR_CAP,
    )
    spread = spread_docs(docs, id_col)
    # null text gets no gram row, so the left join below leaves its sh null
    # (jac3 null), while text shorter than 3 chars gets an empty set
    grams = gram_sets(
        gram_hashes(docs.where(F.col(text_col).isNotNull()), id_col, text_col, 3, 300)
    )

    def side(s: str) -> DataFrame:
        feats = spread.select(
            F.col(id_col).alias(f"id_{s}"),
            F.lower(F.substring(F.col(text_col), 1, name_cap)).alias(f"name_{s}"),
            canon.alias(f"canon_{s}"),
            hashed_token_vector(F.col(text_col)).alias(f"vec_{s}"),
        )
        # vector L2 norm is a per-DOC quantity, shipped as a scalar so the
        # per-pair cosine is one zip_with dot, not three. It reads the
        # projected vec in its own select, so each side builds the vector
        # once (inlined, norm would fold the token buckets a second time)
        vec = F.col(f"vec_{s}")
        feats = feats.withColumn(
            f"norm_{s}", F.sqrt(F.aggregate(vec, F.lit(0.0), lambda acc, v: acc + v * v))
        )
        sh = grams.select(F.col("id").alias(f"id_{s}"), F.col("grams").alias(f"sh_{s}"))
        return feats.join(sh, f"id_{s}", "left")

    joined = pairs.join(side("a"), "id_a").join(side("b"), "id_b")
    # equal canonical strings score 1.0 by the CASE, but the levenshtein
    # pandas UDF still runs on every row: Spark evaluates it in the
    # ArrowEvalPython node below the CASE
    tslr = F.when(F.col("canon_a") == F.col("canon_b"), F.lit(1.0)).otherwise(
        levenshtein_ratio_fast("canon_a", "canon_b")
    )
    scored = joined.select(
        "id_a",
        "id_b",
        jaro_winkler_udf(F.col("name_a"), F.col("name_b")).alias("jw"),
        tslr.alias("tslr"),
        jaccard_hashed_udf(F.col("sh_a"), F.col("sh_b")).alias("jac3"),
        _cosine_precomputed_norms("vec_a", "vec_b", "norm_a", "norm_b").alias("cos"),
    )
    blend = sum(F.col(k) * F.lit(v) for k, v in w.items())
    return scored.withColumn("score", blend)


def fit_threshold(scored_labeled: DataFrame, score_col: str = "score") -> tuple[float, float]:
    """Pick the score threshold maximizing pairwise F1 on labeled pairs.

    Sweep = one pass: sort distinct scores, cumulative TP/FP via window —
    all DataFrame ops, collect only the (threshold, f1) winner. Mirrors the
    reference's grid of sim_th values (bootea sim_th=0.7,
    /root/reference/src/experiments/args_best/bootea_args_DBP_YG_15K.json).
    """
    from pyspark.sql import Window

    # Aggregate to one row per DISTINCT score first (map-side combine), so
    # the unpartitioned cumulative window sorts |distinct scores| rows.
    # Scores are unrounded doubles, so that can be as many rows as there
    # are labeled pairs; only exact ties shrink it. Grouping is also
    # semantically right: a cut inside a tied-score run is not a realizable
    # threshold.
    per_score = (
        scored_labeled.select(score_col, "label")
        .groupBy(score_col)
        .agg(
            F.count("*").alias("_n"),
            F.sum(F.when(F.col("label") == 1, 1).otherwise(0)).alias("_pos"),
        )
        .localCheckpoint(eager=True)
    )
    total_pos = per_score.agg(F.sum("_pos")).first()[0] or 0
    if total_pos == 0:
        return 0.5, 0.0
    w = Window.orderBy(F.col(score_col).desc())
    curve = (
        per_score
        .withColumn("tp", F.sum("_pos").over(w))
        .withColumn("n", F.sum("_n").over(w))
        .withColumn("prec", F.col("tp") / F.col("n"))
        .withColumn("rec", F.col("tp") / F.lit(total_pos))
        .withColumn("f1", 2 * F.col("prec") * F.col("rec") / (F.col("prec") + F.col("rec")))
    )
    best = curve.orderBy(F.col("f1").desc(), F.col(score_col).desc()).select(score_col, "f1").first()
    return float(best[0]), float(best[1])


def fellegi_sunter_weights(
    labeled: DataFrame,
    agreement_cols: list[str],
    label_col: str = "y",
) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage (Fellegi & Sunter 1969):
    per-feature agreement probabilities among matches (``m_k``) and
    non-matches (``u_k``) are estimated from the labeled comparison space
    with add-one smoothing, and every pair gets the classic log-likelihood
    weight

        w = Σ_k  a_k ? ln(m_k/u_k) : ln((1-m_k)/(1-u_k))

    plus ``is_link = (w > 0)``. This is the decision model the
    rule/threshold matchers in ``matching.py`` approximate; the reference
    reaches the same decisions through learned scorers
    (/root/reference/OpenEA_Mod/src/openea/modules/finding/alignment.py
    mutual-best over learned sims) — FS is the classical closed-form
    counterpart.

    Determinism: the m/u estimates are ONE row of integer counts (a single
    partially-aggregated pass), entering every pair through a broadcast
    cross-join; the per-pair weight is a fixed-order sum of K CASE terms —
    no group-order-dependent float reduction anywhere, so the oracle
    replays it bit-for-bit. Scale: one agg + one map-side broadcast join.
    """
    y = F.col(label_col)
    aggs = [
        F.sum(F.when(y, 1).otherwise(0)).cast("long").alias("nm"),
        F.sum(F.when(~y, 1).otherwise(0)).cast("long").alias("nu"),
    ]
    for i, c in enumerate(agreement_cols):
        a = F.col(c)
        aggs.append(F.sum(F.when(y & a, 1).otherwise(0)).cast("long").alias(f"cm{i}"))
        aggs.append(F.sum(F.when(~y & a, 1).otherwise(0)).cast("long").alias(f"cu{i}"))
    cnt = labeled.agg(*aggs)
    out = labeled.crossJoin(F.broadcast(cnt))
    w = None
    for i, c in enumerate(agreement_cols):
        m = (F.col(f"cm{i}") + F.lit(1.0)) / (F.col("nm") + F.lit(2.0))
        u = (F.col(f"cu{i}") + F.lit(1.0)) / (F.col("nu") + F.lit(2.0))
        term = F.when(F.col(c), F.log(m / u)).otherwise(
            F.log((F.lit(1.0) - m) / (F.lit(1.0) - u))
        )
        w = term if w is None else w + term
    drop = ["nm", "nu"] + [f"cm{i}" for i in range(len(agreement_cols))] + [
        f"cu{i}" for i in range(len(agreement_cols))
    ]
    return (
        out.withColumn("fs_weight", F.round(w, 6))
        .withColumn("is_link", (F.col("fs_weight") > 0).cast("int"))
        .drop(*drop)
    )


def monge_elkan_scores(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = 12,
    quant: int = 1_000_000,
) -> DataFrame:
    """Monge-Elkan hybrid similarity (Monge & Elkan 1996): for each pair,
    ME(A→B) = mean over A's tokens of the best Jaro-Winkler match among
    B's tokens — the token-order-insensitive soft string match that sits
    between pure set overlap (Jaccard) and pure edit distance in the
    record-linkage toolbox. Emits both directions plus their mean
    (``me_sym``) since ME is asymmetric.

    Determinism: token lists are sorted-distinct and capped at
    ``max_tokens``; each token-pair JW (the Arrow-batched UDF, verified
    bit-compatible with the oracle's builtin) is quantized to a BIGINT in
    ``quant`` points, so the per-token max and per-pair sum are INTEGER
    reductions — order-independent — and the only floats are one division
    per direction and the final mean, in fixed order.

    Scale shape: the explode is bounded at ``max_tokens²`` rows per pair
    (ids + 2 short tokens wide); both aggregations partially aggregate
    map-side. Pairs where either side has no tokens are dropped (no
    defined ME).
    """
    from entity_matchers_spark.functions.shingles import tokens
    from entity_matchers_spark.functions.similarity import jaro_winkler_udf

    tl = docs.select(
        F.col(id_col).alias("id"),
        F.slice(F.array_sort(F.array_distinct(tokens(F.col(text_col)))), 1, max_tokens).alias("tl"),
    )
    e = (
        pairs.join(tl.select(F.col("id").alias("id_a"), F.col("tl").alias("tla")), "id_a")
        .join(tl.select(F.col("id").alias("id_b"), F.col("tl").alias("tlb")), "id_b")
        .select("id_a", "id_b", F.explode("tla").alias("ta"), "tlb")
        .select("id_a", "id_b", "ta", F.explode("tlb").alias("tb"))
        .withColumn(
            "q",
            F.round(jaro_winkler_udf(F.col("ta"), F.col("tb")) * quant).cast("long"),
        )
    )
    qd = float(quant)

    def _direction(tok: str, out: str) -> DataFrame:
        mx = e.groupBy("id_a", "id_b", tok).agg(F.max("q").alias("mq"))
        return mx.groupBy("id_a", "id_b").agg(
            (F.sum("mq") / (F.count("*") * F.lit(qd))).alias(out)
        )

    ab = _direction("ta", "me_ab")
    ba = _direction("tb", "me_ba")

    # 6-dp quantization via the scaled-floor device (floor(x*1e6+0.5)/1e6):
    # the direction means are rationals over small denominators, so both a
    # direction and their average can land EXACTLY on the 6-dp half grid
    # (observed at sf0.001: me_sym = 0.7863425), where Spark's repr-based
    # round and DuckDB's disagree. The device is plain IEEE ops — identical
    # everywhere given the identical input doubles.
    def q6(c):
        return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    return (
        ab.join(ba, ["id_a", "id_b"])
        .select(
            "id_a", "id_b",
            q6(F.col("me_ab")).alias("me_ab"),
            q6(F.col("me_ba")).alias("me_ba"),
            q6((F.col("me_ab") + F.col("me_ba")) / 2).alias("me_sym"),
        )
    )


def fellegi_sunter_em(
    pairs: DataFrame,
    agreement_cols: list[str],
    n_iter: int = 3,
    quant: int = 10**12,
    init_p: float = 0.1,
    init_m: float = 0.9,
    init_u: float = 0.1,
) -> tuple[DataFrame, dict]:
    """UNSUPERVISED Fellegi-Sunter: EM over agreement patterns (Winkler
    1988; the estimation route production linkers take when no labels
    exist — the supervised ``fellegi_sunter_weights`` above needs y).

    Latent-class EM under conditional independence: E-step gives every
    agreement PATTERN a match posterior g; M-step re-estimates p (match
    prevalence) and per-feature m/u from the g-weighted pattern counts.
    Identical pairs share a pattern, so the whole EM state is the ≤ 2^K
    integer pattern-count table — collected to the driver (bounded rows,
    same loop-control precedent as calibration) and iterated in plain
    Python; the corpus-scale work is ONE partially-aggregated groupBy.

    Cross-engine determinism (the oracle replays the EM itself, unrolled
    one CTE per iteration): every float enters through the same
    fixed-order expression — left-associated products for the class
    likelihoods, posteriors quantized to integer units of 1/quant with
    ``floor(g·quant + 0.5)``, M-step sums taken over INTEGERS (exact,
    order-free), and each update divides explicit float() casts of those
    integers (round-to-nearest conversion then one correctly-rounded IEEE
    division — bit-identical in any engine). Add-one smoothing is one
    whole pair of mass in quantized units.

    Returns (scored_pairs, params): pairs + ``fs_weight`` (log-likelihood
    under the learned m/u, 6 dp), ``match_prob`` (final-iteration
    posterior, 6 dp), ``is_link`` = weight > 0; params carries the learned
    ``{"p": .., "m": [..], "u": [..]}`` for reuse as a fitted model.
    """
    import math

    K = len(agreement_cols)
    rows = pairs.groupBy(*agreement_cols).agg(F.count("*").alias("c")).collect()
    pats = sorted(
        (tuple(bool(r[c]) for c in agreement_cols), int(r["c"])) for r in rows
    )
    n_total = sum(c for _, c in pats)
    Q = quant
    p, ms, us = init_p, [init_m] * K, [init_u] * K
    for _ in range(n_iter):
        sg = 0
        su = 0
        sga = [0] * K
        sua = [0] * K
        for a, c in pats:
            num = p
            den = 1.0 - p
            for k in range(K):
                num *= ms[k] if a[k] else 1.0 - ms[k]
                den *= us[k] if a[k] else 1.0 - us[k]
            g = num / (num + den)
            gq = math.floor(g * Q + 0.5)
            sg += c * gq
            su += c * (Q - gq)
            for k in range(K):
                if a[k]:
                    sga[k] += c * gq
                    sua[k] += c * (Q - gq)
        p = float(sg) / float(n_total * Q)
        ms = [float(sga[k] + Q) / float(sg + 2 * Q) for k in range(K)]
        us = [float(sua[k] + Q) / float(su + 2 * Q) for k in range(K)]

    w = None
    num = F.lit(p)
    den = F.lit(1.0) - F.lit(p)
    for k, cname in enumerate(agreement_cols):
        a = F.col(cname)
        term = F.when(a, F.log(F.lit(ms[k]) / F.lit(us[k]))).otherwise(
            F.log((F.lit(1.0) - F.lit(ms[k])) / (F.lit(1.0) - F.lit(us[k])))
        )
        w = term if w is None else w + term
        num = num * F.when(a, F.lit(ms[k])).otherwise(F.lit(1.0) - F.lit(ms[k]))
        den = den * F.when(a, F.lit(us[k])).otherwise(F.lit(1.0) - F.lit(us[k]))
    out = (
        pairs.withColumn("fs_weight", F.round(w, 6))
        .withColumn("match_prob", F.round(num / (num + den), 6))
        .withColumn("is_link", (F.col("fs_weight") > 0).cast("int"))
    )
    return out, {"p": p, "m": ms, "u": us}
