"""Match decision operators (SURVEY.md §2.5).

The decision rule behind the reference's headline F1 is **mutual best**:
keep (x, y) iff y is x's argmax and x is y's argmax
(/root/reference/OpenEA_Mod/src/openea/modules/finding/alignment.py:239-299;
/root/reference/bert-int/run_full_bert.py:13-21). Ties break on the first
argmax index (alignment.py:259-268) → here a stable orderBy(desc(score), id)
so results are identical at any parallelism.

CSLS hubness rescaling (similarity.py:94-120): 2·s − avg_topk_row −
avg_topk_col, k=10 — two grouped top-k aggregations joined back, no dense
matrix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from entity_matchers_spark.session import default_partitions


def _bipartite_node_exprs(scored: DataFrame):
    """(u_expr, v_expr) collision-free node ids for the bipartite candidate
    graph over (id_a, id_b). Integral id columns get the 2a / 2b+1 long
    encoding — connected-components labels, joins and shuffles then move
    8-byte longs instead of tagged strings — with a string-concat fallback
    for any other id type."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    integral = (ByteType, ShortType, IntegerType, LongType)
    ta = scored.schema["id_a"].dataType
    tb = scored.schema["id_b"].dataType
    if isinstance(ta, integral) and isinstance(tb, integral):
        return (
            F.col("id_a").cast("long") * 2,
            F.col("id_b").cast("long") * 2 + 1,
        )
    return (
        F.concat(F.lit("A:"), F.col("id_a").cast("string")),
        F.concat(F.lit("B:"), F.col("id_b").cast("string")),
    )


def _by_component(scored: DataFrame, score_col: str) -> tuple[DataFrame, DataFrame]:
    """Split the bipartite candidate graph over (id_a, id_b) into connected
    components: one hash-min :func:`connected_components` pass over the
    :func:`_bipartite_node_exprs` node ids. Returns ``(pairs, comp)`` —
    the (id_a, id_b, score, cluster_id) edges, with ``score_col`` renamed
    to ``score``, and the (id, cluster_id) node labels."""
    from entity_matchers_spark.operators.clustering import connected_components

    u_expr, v_expr = _bipartite_node_exprs(scored)
    comp = connected_components(
        scored.select(u_expr.alias("u"), v_expr.alias("v")), src="u", dst="v"
    )
    pairs = (
        scored.select("id_a", "id_b", F.col(score_col).alias("score"))
        .withColumn("u", u_expr)
        .join(comp.withColumnRenamed("id", "u"), "u")
        .drop("u")
    )
    return pairs, comp


def best_per_side(scored: DataFrame, side: str, score_col: str = "score") -> DataFrame:
    """Argmax over the other side for each id on ``side`` ('a' or 'b'),
    deterministic tie-break on the partner id ascending."""
    other = "id_b" if side == "a" else "id_a"
    me = f"id_{side}"
    w = Window.partitionBy(me).orderBy(F.col(score_col).desc(), F.col(other).asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def mutual_best(scored: DataFrame, score_col: str = "score", min_score: float | None = None) -> DataFrame:
    """Pairs that are bidirectional argmaxes (+ optional score floor).

    Two windowed argmaxes + an inner join on pair equality. The windows
    shuffle once each on id_a / id_b; the final join is between two
    ≤|ids|-row tables.
    """
    df = scored if min_score is None else scored.where(F.col(score_col) >= min_score)
    best_a = best_per_side(df, "a", score_col).select("id_a", "id_b")
    best_b = best_per_side(df, "b", score_col).select("id_a", "id_b")
    return best_a.join(best_b, ["id_a", "id_b"]).join(
        df.select("id_a", "id_b", score_col), ["id_a", "id_b"]
    )


def threshold_match(scored: DataFrame, threshold: float, score_col: str = "score") -> DataFrame:
    """Simple thresholded match set (BootEA's sim_th + top-k filter analog,
    /root/reference/OpenEA_Mod/src/openea/modules/bootstrapping/
    alignment_finder.py:28-77)."""
    return scored.where(F.col(score_col) >= threshold).select("id_a", "id_b", score_col)


def topk_per_id(scored: DataFrame, k: int, side: str = "a", score_col: str = "score") -> DataFrame:
    """Top-k candidates per id (the reference's TOPK=50 candidate generation,
    /root/reference/bert-int/basic_bert_unit/Param.py:17)."""
    other = "id_b" if side == "a" else "id_a"
    w = Window.partitionBy(f"id_{side}").orderBy(F.col(score_col).desc(), F.col(other).asc())
    return scored.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= k).drop("_rn")


def csls_rescale(scored: DataFrame, k: int = 10, score_col: str = "score") -> DataFrame:
    """CSLS: 2·s − mean(top-k scores of id_a) − mean(top-k scores of id_b).

    Reference: similarity.py:94-120 (np.partition over the dense matrix);
    here two window-ranked grouped means joined back — works on the sparse
    blocked pair set.
    """
    wa = Window.partitionBy("id_a").orderBy(F.col(score_col).desc())
    wb = Window.partitionBy("id_b").orderBy(F.col(score_col).desc())
    ranked = scored.withColumn("_ra", F.row_number().over(wa)).withColumn(
        "_rb", F.row_number().over(wb)
    )
    ma = (
        ranked.where(F.col("_ra") <= k)
        .groupBy("id_a")
        .agg(F.avg(score_col).alias("_ma"))
    )
    mb = (
        ranked.where(F.col("_rb") <= k)
        .groupBy("id_b")
        .agg(F.avg(score_col).alias("_mb"))
    )
    return (
        scored.join(ma, "id_a")
        .join(mb, "id_b")
        .withColumn("csls", 2 * F.col(score_col) - F.col("_ma") - F.col("_mb"))
        .drop("_ma", "_mb")
    )


def greedy_weighted_matching(
    scored: DataFrame, rounds: int = 3, score_col: str = "score"
) -> DataFrame:
    """Approximate max-weight bipartite matching by iterated mutual-best.

    The reference's MWGM uses graph-tool/igraph exact matching
    (/root/reference/OpenEA_Mod/src/openea/modules/bootstrapping/
    alignment_finder.py:84-140) — driver-bound and unusable at scale. Each
    mutual-best round locks in pairs that are each other's argmax, removes
    their endpoints, and rescans; this is the classic distributed greedy
    1/2-approximation and matches exact MWGM on the near-diagonal score
    structure the pipeline produces.
    """
    remaining = scored
    matched = None
    for _ in range(rounds):
        m = mutual_best(remaining, score_col).select("id_a", "id_b", score_col)
        matched = m if matched is None else matched.unionByName(m)
        remaining = remaining.join(
            matched.select("id_a"), "id_a", "left_anti"
        ).join(matched.select("id_b"), "id_b", "left_anti")
    return matched


def stable_marriage(
    scored: DataFrame,
    max_rounds: int = 100,
    score_col: str = "score",
    stats: dict | None = None,
) -> DataFrame:
    """Suitor-optimal stable matching (distributed Gale–Shapley).

    Reference: ``stable_alignment`` + ``galeshapley``
    (/root/reference/OpenEA_Mod/src/openea/modules/finding/alignment.py:92-148,
    180-233). The reference builds full preference lists from the dense
    similarity matrix with a stable argsort (ties break on the smaller
    partner index) and runs at most ``cut``/``max_iteration`` = 100 rounds of
    deferred acceptance. Here the preference lists are the *sparse* blocked
    candidate set — the natural generalization: a suitor who exhausts their
    candidate list stays unmatched, exactly as if all non-candidates ranked
    below every candidate.

    Spark shape (no dense matrix, no driver dicts):

    - preference ranks are two ``row_number`` windows computed ONCE
      (``rank_a`` = suitor's ordering of reviewers, ``rank_b`` = reviewer's
      ordering of suitors), ties broken on partner id ascending — the
      DataFrame analog of the reference's stable ``(-sim).argsort()``;
    - per round, every free suitor proposes to their best REMAINING
      reviewer (one window over ``rank_a``), each reviewer keeps the
      contender with the smallest ``rank_b`` among proposals ∪ current
      engagement (one window), and the preference table is pruned of every
      entry the reviewer now rejects outright (not strictly better than
      their current partner — reviewers only trade up, so pruned entries
      can never win later);
    - state (``prefs``, ``engaged``) is ``localCheckpoint``ed each round to
      cut lineage; the loop stops when a round makes no proposals.

    Deferred acceptance is proposal-order invariant, so this list-shrinking
    parallel variant reaches the same suitor-optimal matching as the
    reference's sequential loop; pruning makes each round eliminate every
    losing proposal permanently, so rounds ≈ longest chain of distinct
    "trade-up" events rather than the longest preference list. The
    reference's own cap (100) is the default. Each round is three shuffles
    over a monotonically shrinking pair table, so the operator scales with
    the candidate set, not n².

    Pass ``stats`` (a dict) to record loop telemetry: ``rounds`` taken,
    per-round ``proposals`` and remaining ``prefs_sizes`` — the monotone
    shrink + O(longest displacement chain) round count are pinned by an
    adversarial-chain pytest. Cost: the proposals count runs every round
    regardless (it is the termination test), but ``prefs_sizes`` adds a
    second count action per round that also forces the lazily-checkpointed
    ``prefs`` table early — with stats enabled the per-round action count
    roughly doubles; leave None in production.
    """
    wa = Window.partitionBy("id_a").orderBy(F.col(score_col).desc(), F.col("id_b").asc())
    wb = Window.partitionBy("id_b").orderBy(F.col(score_col).desc(), F.col("id_a").asc())
    prefs = (
        scored.select("id_a", "id_b", score_col)
        .withColumn("rank_a", F.row_number().over(wa))
        .withColumn("rank_b", F.row_number().over(wb))
        .localCheckpoint(eager=True)
    )
    engaged: DataFrame | None = None
    w_best_a = Window.partitionBy("id_a").orderBy(F.col("rank_a").asc())
    w_best_b = Window.partitionBy("id_b").orderBy(F.col("rank_b").asc())
    if stats is not None:
        stats["rounds"] = 0
        stats["proposals"] = []
        stats["prefs_sizes"] = [prefs.count()]
    for _ in range(max_rounds):
        # Every free suitor proposes to their best REMAINING reviewer.
        # ``prefs`` only ever contains entries the reviewer would currently
        # accept (see prune below), so each proposal either wins the
        # reviewer or loses to a better simultaneous proposal and is pruned
        # next round — this list-shrinking variant reaches the same
        # suitor-optimal matching as one-at-a-time proposing (deferred
        # acceptance is proposal-order invariant) in far fewer rounds.
        free_prefs = (
            prefs
            if engaged is None
            else prefs.join(engaged.select("id_a"), "id_a", "left_anti")
        )
        proposals = (
            free_prefs.withColumn("_rn", F.row_number().over(w_best_a))
            .where(F.col("_rn") == 1)
            .drop("_rn")
            .localCheckpoint(eager=True)
        )
        n_props = proposals.count()
        if n_props == 0:
            break
        if stats is not None:
            stats["rounds"] += 1
            stats["proposals"].append(n_props)
        contenders = (
            proposals if engaged is None else proposals.unionByName(engaged)
        )
        engaged = (
            contenders.withColumn("_rn", F.row_number().over(w_best_b))
            .where(F.col("_rn") == 1)
            .drop("_rn")
            .localCheckpoint(eager=True)
        )
        # Prune every entry the reviewer now rejects outright: anything not
        # strictly better (for the reviewer) than their current partner.
        # Reviewers only trade up, so pruned entries can never win later;
        # the engaged pair itself is pruned too — if its suitor is bumped,
        # their next proposal must go elsewhere anyway.
        prefs = (
            prefs.join(
                engaged.select("id_b", F.col("rank_b").alias("_cur")), "id_b", "left"
            )
            .where(F.col("_cur").isNull() | (F.col("rank_b") < F.col("_cur")))
            .drop("_cur")
            .localCheckpoint(eager=True)
        )
        if stats is not None:
            stats["prefs_sizes"].append(prefs.count())
    if engaged is None:
        return scored.select("id_a", "id_b", score_col).limit(0)
    return engaged.select("id_a", "id_b", score_col)


def stable_marriage_components(
    scored: DataFrame,
    score_col: str = "score",
    max_component: int = 65536,
) -> DataFrame:
    """Suitor-optimal stable matching, decomposed over connected components.

    Produces the SAME matching as :func:`stable_marriage` (deferred
    acceptance is proposal-order invariant and strictly component-local:
    a suitor's proposals can only ever reach reviewers in their own
    component of the bipartite candidate graph, so the suitor-optimal
    matching is the disjoint union of the per-component ones), but solves
    it with ONE hash-min connected-components pass plus one sequential
    Gale-Shapley per component in the streamed per-component driver
    :func:`_per_component` — collapsing the round-based loop's O(longest
    trade-up chain) scheduler round-trips (~20 jobs at sf0.1) into a few
    shuffles. Reference semantics: ``stable_alignment`` + ``galeshapley``
    (/root/reference/OpenEA_Mod/src/openea/modules/finding/alignment.py:
    92-148,180-233); same tie-break (score desc, partner id asc).

    After a working blocking stage components are tiny — the same
    argument as :func:`mwgm_exact`, and the same :func:`_by_component`
    split. Components larger than ``max_component`` nodes are routed to
    the round-based :func:`stable_marriage` loop, which handles any size
    in bounded per-round memory: one pathological block degrades locally
    instead of OOMing an executor or aborting the job.
    """
    import functools

    pairs, comp = _by_component(scored, score_col)
    out = _per_component(
        pairs,
        functools.partial(_gale_shapley, max_component=max_component),
        pairs.select("id_a", "id_b", "score").schema,
    )
    # Oversize routing decided from the tiny per-component size table (one
    # aggregate over the checkpointed CC labels) — NOT by evaluating the
    # full edges⋈labels join a second time just to test emptiness.
    sizes = comp.groupBy("cluster_id").agg(F.count("*").alias("_csz"))
    max_sz = sizes.agg(F.max("_csz")).first()[0] or 0
    if max_sz > max_component:
        big = pairs.join(sizes.where(F.col("_csz") > max_component), "cluster_id")
        out = out.unionByName(
            stable_marriage(big.select("id_a", "id_b", "score"), score_col="score")
        )
    if score_col != "score":
        out = out.withColumnRenamed("score", score_col)
    return out.select("id_a", "id_b", score_col)


def _gale_shapley(id_a, id_b, score, max_component: int):
    """Suitor-optimal deferred acceptance on ONE component's edge arrays
    (preferences: score desc, partner id asc). Returns the matched
    ``(id_a, id_b, score)`` arrays; empty ones for a component of more
    than ``max_component`` nodes, which the round-based loop solves."""
    import numpy as np

    la, ia = np.unique(id_a, return_inverse=True)
    lb, ib = np.unique(id_b, return_inverse=True)
    s = score.astype(np.float64, copy=False)
    if la.size + lb.size > max_component:
        return id_a[:0], id_b[:0], s[:0]
    m = s.size
    # Suitor preference lists: edges grouped by suitor, each group
    # ordered (score desc, reviewer id asc) — one stable lexsort.
    order_a = np.lexsort((ib, -s, ia))
    ga = ia[order_a]
    astarts = np.r_[0, np.flatnonzero(ga[1:] != ga[:-1]) + 1]
    aends = np.r_[astarts[1:], m]
    # Reviewer ranks: position of each edge within its reviewer's
    # (score desc, suitor id asc) ordering.
    order_b = np.lexsort((ia, -s, ib))
    gb = ib[order_b]
    bstarts = np.r_[0, np.flatnonzero(gb[1:] != gb[:-1]) + 1]
    blens = np.diff(np.r_[bstarts, m])
    rank_b = np.empty(m, dtype=np.int64)
    rank_b[order_b] = np.arange(m) - np.repeat(bstarts, blens)
    # Deferred acceptance: each proposal consumes one list entry, so
    # the loop is O(edges) for the whole component — per-row Python is
    # fine here because max_component bounds the component.
    ptr = astarts.copy()
    cur_edge = np.full(lb.size, -1, dtype=np.int64)
    free = list(range(la.size))
    while free:
        a = free.pop()
        while ptr[a] < aends[a]:
            e = order_a[ptr[a]]
            ptr[a] += 1
            b = ib[e]
            ce = cur_edge[b]
            if ce < 0:
                cur_edge[b] = e
                break
            if rank_b[e] < rank_b[ce]:
                cur_edge[b] = e
                free.append(ia[ce])
                break
        # list exhausted -> suitor stays unmatched
    matched = cur_edge[cur_edge >= 0]
    return la[ia[matched]], lb[ib[matched]], s[matched]


def resolve_conflicts(
    prev: DataFrame, new: DataFrame, score_col: str = "score"
) -> DataFrame:
    """BootEA's bootstrap merge (bootea.py:45-93): union previous and new
    alignments, keep the higher-score pair per id_a
    (``update_labeled_alignment_x``), then the higher-score pair per id_b
    (``update_labeled_alignment_y``). Deterministic ties on partner id."""
    merged = prev.unionByName(new)
    per_x = best_per_side(merged, "a", score_col)
    return best_per_side(per_x, "b", score_col)


def bootstrap(
    scored: DataFrame,
    threshold: float,
    k: int,
    rounds: int = 2,
    score_col: str = "score",
) -> DataFrame:
    """Iterative bootstrapping (bootea.py:24-42): each round thresholds the
    scores, keeps top-k per id_a, extracts mutual-best pairs, and merges
    them into the running alignment with x/y conflict resolution.

    No model retraining here (scores are static), so the loop converges
    once the alignment stops growing — the structural template the
    reference's training loop plugs into. Each round is checkpointed to cut
    lineage (the reference pickles per stage)."""
    aligned = None
    for _ in range(rounds):
        cands = topk_per_id(threshold_match(scored, threshold, score_col), k, "a", score_col)
        new = mutual_best(cands, score_col).select("id_a", "id_b", score_col)
        aligned = new if aligned is None else resolve_conflicts(aligned, new, score_col)
        aligned = aligned.localCheckpoint(eager=True)
    return aligned.select("id_a", "id_b", score_col)


def align_predicates(
    preds1: DataFrame,
    preds2: DataFrame,
    threshold: float = 0.5,
    name_col: str = "p",
) -> DataFrame:
    """Predicate-name alignment by Levenshtein ratio + mutual best
    (/root/reference/OpenEA_Mod/src/openea/approaches/
    predicate_alignmnet.py:46-72). Both sides are predicate *vocabularies*
    (tiny) — the cross join is broadcast."""
    from entity_matchers_spark.functions.similarity import levenshtein_ratio

    a = preds1.select(F.col(name_col).alias("id_a")).distinct()
    b = preds2.select(F.col(name_col).alias("id_b")).distinct()
    scored = (
        a.crossJoin(F.broadcast(b))
        .withColumn("score", levenshtein_ratio(F.col("id_a"), F.col("id_b")))
        .where(F.col("score") >= threshold)
    )
    return mutual_best(scored)


def hard_negatives(
    scored: DataFrame,
    gold: DataFrame,
    k: int = 10,
    side: str = "a",
    score_col: str = "score",
) -> DataFrame:
    """Hard-negative mining pool: per entity, the top-``k`` most similar
    candidates that are NOT its gold match.

    Reference: the periodic ``generate_neighbours`` top-ε neighborhood used
    as the negative-sampling pool
    (/root/reference/OpenEA_Mod/src/openea/approaches/../modules/train/
    batch.py:136-167; refresh loop basic_model.py:285-298). The reference
    scans the dense n×n similarity matrix; here the pool comes from the
    sparse blocked candidate set — an anti-join against gold plus one
    window top-k, so the cost is |candidates| log k, not n².

    gold: (id_a, id_b) true links; returns (id, neg_id, score, rank).
    """
    me, other = (f"id_{side}", "id_b" if side == "a" else "id_a")
    neg = scored.join(gold.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti")
    w = Window.partitionBy(me).orderBy(F.col(score_col).desc(), F.col(other).asc())
    return (
        neg.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col(me).alias("id"),
            F.col(other).alias("neg_id"),
            F.col(score_col).alias("score"),
            "rank",
        )
    )


def _per_component(pairs: DataFrame, solve, schema: StructType) -> DataFrame:
    """Run ``solve(id_a, id_b, score)`` on every connected component of
    ``pairs`` (``id_a``, ``id_b``, ``score``, ``cluster_id``): the one
    per-component driver of :func:`mwgm_exact`, :func:`mwgm_exact_duals`
    and :func:`stable_marriage_components`. ``solve`` takes one
    component's edge arrays and returns its output columns, in
    ``schema``'s order, as arrays.

    The edges are hash-partitioned by ``cluster_id`` into
    ``default_partitions`` — an explicit count, which AQE does not coalesce
    (a grouped shuffle this small is merged into ONE task, although its
    per-component solves are compute-bound) — and sorted within each
    partition by ``(cluster_id, id_a, id_b)``. One ``mapInPandas`` per
    partition then streams the sorted Arrow batches through
    :func:`_stream_components`, so each task pays one Arrow round trip
    per batch rather than one per component.
    """
    ordered = (
        pairs.select("cluster_id", "id_a", "id_b", "score")
        .repartition(default_partitions(pairs.sparkSession), "cluster_id")
        .sortWithinPartitions("cluster_id", "id_a", "id_b")
    )
    names = schema.fieldNames()
    return ordered.mapInPandas(
        lambda batches: _stream_components(batches, solve, names), schema
    )


def _stream_components(batches, solve, names):
    """``solve`` over the components of ``batches``: pandas frames sorted by
    ``cluster_id``, as one task of :func:`_per_component` receives them.
    Each batch is cut where ``cluster_id`` changes; the last component of
    a batch may go on in the next one, so it stays open until a batch
    starts another component or the stream ends. Yields one frame of
    ``names`` columns per batch that completed a component."""
    import numpy as np
    import pandas as pd

    def solved(parts):
        return solve(*(np.concatenate(c) for c in zip(*parts)))

    def frame(outs):
        return pd.DataFrame(
            {n: np.concatenate([o[k] for o in outs]) for k, n in enumerate(names)}
        )

    open_cid, open_parts = None, []
    for pdf in batches:
        cid = pdf["cluster_id"].to_numpy()
        if cid.size == 0:
            continue
        cols = [pdf[c].to_numpy() for c in ("id_a", "id_b", "score")]
        bounds = np.r_[0, np.flatnonzero(cid[1:] != cid[:-1]) + 1, cid.size]
        outs = []
        for lo, hi in zip(bounds[:-1], bounds[1:]):
            if open_parts and cid[lo] != open_cid:
                outs.append(solved(open_parts))
                open_parts = []
            open_cid = cid[lo]
            open_parts.append([c[lo:hi] for c in cols])
        if outs:
            yield frame(outs)
    if open_parts:
        yield frame([solved(open_parts)])


# Components above this many nodes get the greedy 1/2-approximation
# instead of the exact sparse Hungarian (no duals: reported as uncertified).
MAX_COMPONENT = 50_000


def _sparse_hungarian_max(ia, ib, wj, nl, nr):
    """Exact max-weight bipartite matching on ONE component's sparse edge
    list, with LP dual potentials — the LAPJVsp-shaped kernel that solves
    every component up to ``MAX_COMPONENT`` nodes (larger ones take the
    greedy fallback).

    Successive shortest augmenting paths (one Dijkstra per left node over
    reduced costs) on the min-cost formulation ``c = -w`` with a virtual
    zero-cost "stay unmatched" dummy per left (dual pinned at 0).  The
    invariants maintained are exactly the matching-LP KKT conditions the
    certificate checks:

    - ``ya[i] + yb[j] >= w_ij`` on every edge (dual feasibility),
    - equality on matched edges (complementary slackness),
    - ``ya >= 0``, ``yb >= 0``, and ``ya/yb == 0`` on unmatched nodes
      (node-saturation slackness; free rights never receive a potential
      update, a left finishing on its dummy ends at exactly 0).

    By weak LP duality those conditions prove the matching is maximum
    weight, so :func:`mwgm_exact_duals` certifies it with declarative
    edge checks plus these node-side conditions.  Returns
    ``(match_l, ya, yb)`` with ``match_l[i]`` the matched right index or
    -1.  Deterministic for distinct (jittered) weights; heap ties break
    on the right-node index.

    Each search keeps its labels (distance, predecessor, finalized) in
    dicts over the rights it reaches, so it costs the edges it scans, not
    ``nr``: a component's work has no O(nl·nr) floor.
    """
    import heapq

    import numpy as np

    order = np.argsort(ia, kind="stable")
    ib_s = ib[order]
    c_s = -wj[order]
    indptr = np.zeros(nl + 1, dtype=np.int64)
    np.add.at(indptr, ia + 1, 1)
    indptr = np.cumsum(indptr)
    u = np.zeros(nl)
    np.minimum.at(u, ia, -wj)  # u[i] = min_j c_ij (< 0): reduced costs >= 0
    v = np.zeros(nr)
    match_l = np.full(nl, -1, dtype=np.int64)
    match_r = np.full(nr, -1, dtype=np.int64)
    inf = float("inf")
    for s in range(nl):
        if indptr[s] == indptr[s + 1]:
            u[s] = 0.0  # isolated left: unmatched with zero dual
            continue
        dist: dict = {}
        prev_r: dict = {}
        finalized: set = set()
        t_left = {s: 0.0}
        best_dummy_val, best_dummy_left = -u[s], s
        heap: list = []
        lo, hi = indptr[s], indptr[s + 1]
        nd = c_s[lo:hi] - u[s] - v[ib_s[lo:hi]]
        for jj, dd in zip(ib_s[lo:hi].tolist(), nd.tolist()):
            if dd < dist.get(jj, inf):
                dist[jj] = dd
                prev_r[jj] = s
                heapq.heappush(heap, (dd, jj))
        target_right = -1
        target_left = -1
        while True:
            while heap and (heap[0][1] in finalized or heap[0][0] > dist[heap[0][1]]):
                heapq.heappop(heap)
            if not heap or best_dummy_val < heap[0][0]:
                target_left = best_dummy_left
                big_d = best_dummy_val
                break
            d_j, j = heapq.heappop(heap)
            finalized.add(j)
            i2 = match_r[j]
            if i2 < 0:
                target_right = j
                big_d = d_j
                break
            t_left[i2] = d_j  # matched edge: reduced cost 0
            cand = d_j - u[i2]
            if cand < best_dummy_val:
                best_dummy_val, best_dummy_left = cand, i2
            lo, hi = indptr[i2], indptr[i2 + 1]
            nd = d_j + c_s[lo:hi] - u[i2] - v[ib_s[lo:hi]]
            for jj, dd in zip(ib_s[lo:hi].tolist(), nd.tolist()):
                if jj not in finalized and dd < dist.get(jj, inf):
                    dist[jj] = dd
                    prev_r[jj] = i2
                    heapq.heappush(heap, (dd, jj))
        for i2, t in t_left.items():
            u[i2] += big_d - t
        for j in finalized:
            if dist[j] < big_d:
                v[j] += dist[j] - big_d
        if target_right >= 0:
            j = target_right
        elif target_left == s:
            continue  # s stays unmatched; u[s] just landed exactly on 0
        else:
            j = match_l[target_left]
            match_l[target_left] = -1  # u[target_left] is now exactly 0
        while True:
            i2 = prev_r[j]
            nxt = match_l[i2]
            match_l[i2] = j
            match_r[j] = i2
            if i2 == s:
                break
            j = nxt
    return match_l, -u, -v


def _greedy_component_match(ia, ib, wj, n_a, n_b):
    """Vectorized iterated-mutual-best greedy 1/2-approx matching on one
    component's edge list (index arrays ``ia``/``ib`` into the component's
    node labels, jittered weights ``wj``). Each round keeps the
    mutual-best edges among the still-alive ones (the max alive edge is
    always mutual-best, so >=1 edge matches per round; jitter removes
    ties, so rounds are deterministic) and kills every edge touching a
    matched node. Sparse — no dense matrix. Returns (rows, cols) index
    arrays of the matched edges' endpoints."""
    import numpy as np

    alive = np.ones(wj.size, dtype=bool)
    out_a: list = []
    out_b: list = []
    while alive.any():
        idx = np.flatnonzero(alive)
        o = idx[np.lexsort((-wj[idx], ia[idx]))]
        fa = np.ones(o.size, dtype=bool)
        fa[1:] = ia[o][1:] != ia[o][:-1]
        best_a = o[fa]
        o = idx[np.lexsort((-wj[idx], ib[idx]))]
        fb = np.ones(o.size, dtype=bool)
        fb[1:] = ib[o][1:] != ib[o][:-1]
        best_b = o[fb]
        mutual = np.intersect1d(best_a, best_b)
        ma, mb = ia[mutual], ib[mutual]
        out_a.append(ma)
        out_b.append(mb)
        hit_a = np.zeros(n_a, dtype=bool)
        hit_a[ma] = True
        hit_b = np.zeros(n_b, dtype=bool)
        hit_b[mb] = True
        alive &= ~(hit_a[ia] | hit_b[ib])
    rows = np.concatenate(out_a) if out_a else np.empty(0, dtype=np.int64)
    cols = np.concatenate(out_b) if out_b else np.empty(0, dtype=np.int64)
    return rows, cols


def _solve_component(id_a, id_b, score, max_component: int):
    """Match one connected component's edges (arrays ``id_a``, ``id_b``,
    ``score``): the shared per-component solve of :func:`mwgm_exact` and
    :func:`mwgm_exact_duals`.

    Weights are perturbed by ``1e-9 * U(id_a, id_b)`` with U a
    deterministic md5-derived uniform, so tie-breaks among equal-weight
    optima are stable at any parallelism. Components of up to
    ``max_component`` nodes are solved exactly by
    :func:`_sparse_hungarian_max`; larger ones by the greedy
    :func:`_greedy_component_match`, which has no duals.

    Returns ``(la, lb, ia, ib, s, match_l, ya, yb)``: node labels per
    side, each edge's label indices and raw score, ``match_l[i]`` the
    index into ``lb`` matched to ``la[i]`` (or -1), and the dual
    potentials per side — both ``None`` after the greedy fallback.
    """
    import hashlib

    import numpy as np

    la, ia = np.unique(id_a, return_inverse=True)
    lb, ib = np.unique(id_b, return_inverse=True)
    s = score.astype(np.float64, copy=False)
    jitter = np.array(
        [
            int.from_bytes(hashlib.md5(f"{a}\t{b}".encode()).digest()[:4], "big")
            / 2**32
            for a, b in zip(id_a.tolist(), id_b.tolist())
        ]
    )
    wj = s + 1e-9 * jitter
    if la.size + lb.size > max_component:
        rows, cols = _greedy_component_match(ia, ib, wj, la.size, lb.size)
        match_l = np.full(la.size, -1, dtype=np.int64)
        match_l[rows] = cols
        return la, lb, ia, ib, s, match_l, None, None
    match_l, ya, yb = _sparse_hungarian_max(ia, ib, wj, la.size, lb.size)
    return la, lb, ia, ib, s, match_l, ya, yb


def mwgm_exact(
    scored: DataFrame,
    score_col: str = "score",
    max_component: int = MAX_COMPONENT,
) -> DataFrame:
    """EXACT max-weight bipartite matching over the blocked candidate set.

    Reference: ``mwgm_graph_tool`` / ``mwgm_igraph``
    (/root/reference/OpenEA_Mod/src/openea/modules/bootstrapping/
    alignment_finder.py:84-140) solve the whole candidate graph in one
    driver-side library call — unusable at 10^12 docs. The matching
    polytope decomposes over connected components, so the distributed
    shape is: hash-min connected components over the candidate edges, then
    one exact sparse Hungarian solve PER COMPONENT, streamed through the
    per-component driver :func:`_per_component` on every task slot
    (components after blocking are tiny; the all-pairs structure the
    reference feeds graph-tool never arises).

    Determinism among equal-weight optima comes from the deterministic
    weight jitter of :func:`_solve_component` (the reference inherits
    graph-tool's internal order instead).

    Components larger than ``max_component`` nodes fall back to a
    vectorized iterated-mutual-best greedy matching WITHIN the component
    (a 1/2-approximation, the same guarantee as
    ``greedy_weighted_matching``): a petabyte job must degrade locally on
    one pathological block, never abort after hours.

    Returns (id_a, id_b, score) of the optimal (or, for components above
    ``max_component`` only, 1/2-approximate) matching.
    """
    pairs, _ = _by_component(scored, score_col)

    def solve(id_a, id_b, score):
        import numpy as np

        la, lb, ia, ib, s, match_l, _, _ = _solve_component(
            id_a, id_b, score, max_component
        )
        rows = np.flatnonzero(match_l >= 0)
        cols = match_l[rows]
        # each matched (row, col) is an edge: take its score (the last
        # edge's, should the input repeat a pair)
        key = ia * lb.size + ib
        order = np.argsort(key, kind="stable")
        at = np.searchsorted(key[order], rows * lb.size + cols, side="right") - 1
        return la[rows], lb[cols], s[order[at]]

    return _per_component(pairs, solve, pairs.select("id_a", "id_b", "score").schema)


_DUALS_SCHEMA = StructType(
    [
        StructField("kind", StringType()),
        StructField("side", StringType()),
        StructField("node", StringType()),
        StructField("y", DoubleType()),
        StructField("partner", StringType()),
        StructField("viol", LongType()),
    ]
)


def mwgm_exact_duals(
    scored: DataFrame,
    score_col: str = "score",
    max_component: int = MAX_COMPONENT,
    eps: float = 1e-7,
) -> DataFrame:
    """Exact MWGM (same per-component solve as :func:`mwgm_exact`) that
    ALSO emits the sparse Hungarian's dual potentials, so downstream joins
    can verify the LP-optimality certificate declaratively.

    Output rows come in two kinds:

    - ``kind='N'`` — one per bipartite node: (side 'a'/'b', node id as
      string, dual ``y`` with the sign convention ``y_a + y_b >= w`` on
      every candidate edge, and the matched ``partner`` id or NULL).
    - ``kind='G'`` — one per exactly-solved component: ``viol`` counts
      the node-side conditions only the solver sees (``y >= -eps`` on
      every node, ``|y| <= eps`` on unmatched nodes). 0 ⟺ they hold.

    Together with the declarative edge checks (feasibility
    ``y_a + y_b >= w`` on every candidate edge, equality on matched
    edges) these are the complete KKT conditions of the matching LP, so
    by weak LP duality ``viol = 0`` plus zero edge violations prove the
    emitted matching is a maximum-weight matching of the candidate graph
    (up to the 1e-9 deterministic tie-break jitter, which is below
    ``eps``). Reference semantics: mwgm_graph_tool
    (/root/reference/OpenEA_Mod/src/openea/modules/bootstrapping/
    alignment_finder.py:84-140).

    Components larger than ``max_component`` degrade to the greedy
    1/2-approx (same policy and kernel as :func:`mwgm_exact`): their node
    rows carry NULL duals and no ``G`` row, which downstream certificate
    checks treat as "uncertified" rather than violated — a petabyte job
    must degrade locally on one pathological block, never abort. The
    certificate summary exposes the uncertified edge count so the
    degradation is driver-visible, and the SQL oracle recomputes it
    independently from the component structure.
    """
    pairs, _ = _by_component(scored, score_col)

    def solve(id_a, id_b, score):
        import numpy as np

        la, lb, _, _, _, match_l, ya, yb = _solve_component(
            id_a, id_b, score, max_component
        )
        match_r = np.full(lb.size, -1, dtype=np.int64)
        matched = np.flatnonzero(match_l >= 0)
        match_r[match_l[matched]] = matched
        n = la.size + lb.size
        kinds = ["N"] * n
        sides = ["a"] * la.size + ["b"] * lb.size
        nodes = [str(x) for x in la] + [str(x) for x in lb]
        ys = [None] * n if ya is None else [float(y) for y in np.r_[ya, yb]]
        partners = [str(lb[j]) if j >= 0 else None for j in match_l] + [
            str(la[i]) if i >= 0 else None for i in match_r
        ]
        viols = [None] * n
        if ya is not None:
            viol = int((ya < -eps).sum()) + int((yb < -eps).sum())
            viol += int((np.abs(ya[match_l < 0]) > eps).sum())
            viol += int((np.abs(yb[match_r < 0]) > eps).sum())
            kinds, sides, nodes = ["G"] + kinds, [None] + sides, [None] + nodes
            ys, partners, viols = [None] + ys, [None] + partners, [viol] + viols
        cols = (kinds, sides, nodes, ys, partners, viols)
        return tuple(np.array(c, dtype=object) for c in cols)

    return _per_component(pairs, solve, _DUALS_SCHEMA)


def mwgm_exact_certificate(
    scored: DataFrame,
    score_col: str = "score",
    max_component: int = MAX_COMPONENT,
    eps: float = 1e-7,
) -> DataFrame:
    """One-row LP-optimality-certificate summary for the exact MWGM over
    ``scored`` — the driver-checkable face of :func:`mwgm_exact`.

    Columns split in two groups. Input-derived (a SQL oracle recomputes
    them from the same candidate set, pinning the certificate to the real
    input): ``n_edges``, ``n_left``, ``n_right``, ``sum_w_q`` (sum of
    ``floor(w*1e6 + 0.5)``). Certificate invariants (all provably 0 when
    the matching is optimal, asserted as constants by the oracle):

    - ``validity_viol`` — matched pairs that are not reciprocated between
      the two sides, plus duplicate-partner uses per side (matching-ness);
    - ``feas_viol`` — candidate edges with ``y_a + y_b < w − eps`` (dual
      feasibility);
    - ``tight_viol`` — matched edges with ``|y_a + y_b − w| > eps``
      (complementary slackness);
    - ``grid_viol`` — solver-side node conditions: negative duals, and
      nonzero duals on unmatched nodes (the ``G`` rows of
      :func:`mwgm_exact_duals`; the name is kept for the oracle's schema).

    Together these are exactly the Karush-Kuhn-Tucker conditions of the
    matching LP, so a hash-green row certifies optimality without the
    oracle replaying the Hungarian.

    ``uncertified_edges`` counts edges inside components that exceeded
    ``max_component`` and were greedy-matched without duals (their edges
    are excluded from the feasibility/slackness counters, never counted
    as violations) — the oracle recomputes this from the candidate
    graph's component structure, so silent degradation is impossible.
    """
    # the candidate set feeds the CC edge list, the per-component solve AND
    # the certificate joins below — materialize it once instead of
    # recomputing the upstream pruning window per consumer
    scored = scored.localCheckpoint()
    cert = mwgm_exact_duals(scored, score_col, max_component, eps).localCheckpoint()
    nodes = cert.where(F.col("kind") == "N")
    ya = nodes.where(F.col("side") == "a").select(
        F.col("node").alias("na"), F.col("y").alias("y_a"), F.col("partner").alias("pa")
    )
    yb = nodes.where(F.col("side") == "b").select(
        F.col("node").alias("nb"), F.col("y").alias("y_b"), F.col("partner").alias("pb")
    )
    e = scored.select(
        F.col("id_a").cast("string").alias("na"),
        F.col("id_b").cast("string").alias("nb"),
        F.col(score_col).alias("w"),
    )
    j = e.join(ya, "na").join(yb, "nb")
    edge_stats = j.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.countDistinct("na").alias("n_left"),
        F.countDistinct("nb").alias("n_right"),
        F.coalesce(
            F.sum(F.floor(F.col("w") * 1e6 + F.lit(0.5)).cast("long")), F.lit(0)
        ).alias("sum_w_q"),
        F.coalesce(
            F.sum((F.col("y_a") + F.col("y_b") < F.col("w") - eps).cast("long")),
            F.lit(0),
        ).alias("feas_viol"),
        F.coalesce(
            F.sum(
                (
                    (F.col("pa") == F.col("nb"))
                    & (F.abs(F.col("y_a") + F.col("y_b") - F.col("w")) > eps)
                ).cast("long")
            ),
            F.lit(0),
        ).alias("tight_viol"),
        # NULL duals mark greedy-degraded components; null
        # comparisons above are null -> excluded from the sums, counted here
        F.coalesce(
            F.sum((F.col("y_a").isNull() | F.col("y_b").isNull()).cast("long")),
            F.lit(0),
        ).alias("uncertified_edges"),
    )
    ma = ya.where(F.col("pa").isNotNull()).select(
        F.col("na").alias("a"), F.col("pa").alias("b")
    )
    mb = yb.where(F.col("pb").isNotNull()).select(
        F.col("pb").alias("a"), F.col("nb").alias("b")
    )
    recip = ma.join(mb, ["a", "b"], "anti").unionByName(mb.join(ma, ["a", "b"], "anti"))
    dup_a = ma.agg(
        (F.count(F.lit(1)) - F.countDistinct("b")).alias("dup_a")
    )
    dup_b = mb.agg(
        (F.count(F.lit(1)) - F.countDistinct("a")).alias("dup_b")
    )
    validity_viol = (
        recip.agg(F.count(F.lit(1)).alias("recip_viol"))
        .crossJoin(dup_a)
        .crossJoin(dup_b)
        .select(
            (F.col("recip_viol") + F.col("dup_a") + F.col("dup_b")).alias(
                "validity_viol"
            )
        )
    )
    grid = cert.where(F.col("kind") == "G").agg(
        F.coalesce(F.sum("viol"), F.lit(0)).alias("grid_viol")
    )
    return (
        edge_stats.crossJoin(validity_viol)
        .crossJoin(grid)
        .select(
            "n_edges",
            "n_left",
            "n_right",
            "sum_w_q",
            "validity_viol",
            "feas_viol",
            "tight_viol",
            "grid_viol",
            "uncertified_edges",
        )
    )


def incremental_assign(
    scored: DataFrame,
    increment: DataFrame,
    id_col: str = "id",
    threshold: float = 0.5,
    score_col: str = "score",
) -> DataFrame:
    """Match a NEW increment of records against the existing corpus — the
    daily-crawl operational path on top of the batch pipeline: incoming
    docs link to their best existing match or open a new entity.

    ``scored`` is the symmetric blocked-pair score table (id_a, id_b,
    score); ``increment`` is a one-column table of the new ids. Pairs are
    normalized so the increment side is first (pairs between two increment
    docs or two corpus docs are dropped — increment-internal duplicates
    are the near-dup operators' job), then each increment id keeps its
    best corpus partner with score >= threshold, ties on partner id
    ascending. Every increment id is returned: matched_to is NULL and
    is_new = 1 for docs that open a new entity.

    Scale shape: one broadcast-or-shuffle semi-join to split orientations,
    one window argmax on the increment id, one left join back — all keyed
    on ids; the increment is typically tiny relative to the corpus, so at
    production scale the increment side broadcasts and the corpus-side
    score table never reshuffles. Reference analog: the evaluation's
    per-left argmax decision (alignment.py:239-268) applied to a
    corpus-vs-increment split instead of KG1-vs-KG2.
    """
    inc = increment.select(F.col(id_col).alias("_inc_id")).distinct()
    fwd = (
        scored.join(inc, scored["id_a"] == inc["_inc_id"], "left_semi")
        .join(inc.withColumnRenamed("_inc_id", "id_b"), "id_b", "left_anti")
        .select(F.col("id_a").alias("inc_id"), F.col("id_b").alias("corp_id"), score_col)
    )
    rev = (
        scored.join(inc.withColumnRenamed("_inc_id", "id_b"), "id_b", "left_semi")
        .join(inc.withColumnRenamed("_inc_id", "id_a"), "id_a", "left_anti")
        .select(F.col("id_b").alias("inc_id"), F.col("id_a").alias("corp_id"), score_col)
    )
    cands = fwd.unionByName(rev).where(F.col(score_col) >= threshold)
    w = Window.partitionBy("inc_id").orderBy(F.col(score_col).desc(), F.col("corp_id").asc())
    best = (
        cands.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("inc_id", "corp_id", score_col)
    )
    return (
        inc.select(F.col("_inc_id").alias("inc_id"))
        .join(best, "inc_id", "left")
        .select(
            F.col("inc_id").alias(id_col),
            F.col("corp_id").alias("matched_to"),
            F.col(score_col).alias("match_score"),
            F.col("corp_id").isNull().cast("int").alias("is_new"),
        )
    )
