"""Mutual-best / CC / evaluation operator tests on known shapes (FIXTURES.md §4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from entity_matchers_spark.operators.clustering import (
    clusters_with_singletons,
    connected_components,
)
from entity_matchers_spark.operators.evaluation import (
    hits_at_k,
    pairwise_f1_from_clusters,
    precision_recall_f1,
)
from entity_matchers_spark.operators.matching import csls_rescale, mutual_best, topk_per_id


def _scores(spark, rows):
    return spark.createDataFrame(rows, "id_a long, id_b long, score double")


def test_mutual_best_basic(spark):
    # 1↔10 mutual; 2→10 loses to 1; 3↔30 mutual
    scored = _scores(spark, [(1, 10, 0.9), (2, 10, 0.8), (2, 20, 0.5), (3, 30, 0.7)])
    got = {(r.id_a, r.id_b) for r in mutual_best(scored).collect()}
    # 2's best is 10 (0.8) but 10's best is 1 → 2 matches nothing
    # ((2,20) is not 2's argmax, so it is not mutual either)
    assert got == {(1, 10), (3, 30)}


def test_mutual_best_tie_break_deterministic(spark):
    # equal scores → lowest partner id wins on both sides (first-argmax
    # precedent, alignment.py:259-268)
    scored = _scores(spark, [(1, 10, 0.5), (1, 11, 0.5), (2, 10, 0.5)])
    got = {(r.id_a, r.id_b) for r in mutual_best(scored).collect()}
    assert got == {(1, 10)}


def test_topk_per_id(spark):
    scored = _scores(spark, [(1, 10, 0.9), (1, 11, 0.8), (1, 12, 0.7), (2, 10, 0.6)])
    got = {(r.id_a, r.id_b) for r in topk_per_id(scored, 2).collect()}
    assert got == {(1, 10), (1, 11), (2, 10)}


def test_csls_rescale(spark):
    scored = _scores(spark, [(1, 10, 0.8), (1, 11, 0.4), (2, 10, 0.6)])
    got = {(r.id_a, r.id_b): r.csls for r in csls_rescale(scored, k=2).collect()}
    # id_a=1 topk mean = 0.6; id_b=10 topk mean = 0.7
    assert got[(1, 10)] == pytest.approx(2 * 0.8 - 0.6 - 0.7)
    assert got[(2, 10)] == pytest.approx(2 * 0.6 - 0.6 - 0.7)
    assert got[(1, 11)] == pytest.approx(2 * 0.4 - 0.6 - 0.4)


@pytest.mark.parametrize(
    "edges,expected",
    [
        # path 1-2-3-4
        ([(1, 2), (2, 3), (3, 4)], {1: 1, 2: 1, 3: 1, 4: 1}),
        # star centered on 5
        ([(5, 6), (5, 7), (5, 8)], {5: 5, 6: 5, 7: 5, 8: 5}),
        # two cliques with a bridge
        (
            [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)],
            {1: 1, 2: 1, 3: 1, 10: 1, 11: 1, 12: 1},
        ),
        # disjoint edge
        ([(1, 2), (7, 9)], {1: 1, 2: 1, 7: 7, 9: 7}),
    ],
)
def test_connected_components_shapes(spark, edges, expected):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.id: r.cluster_id for r in connected_components(df).collect()}
    assert got == expected


def test_clusters_with_singletons(spark):
    all_ids = spark.createDataFrame([(i,) for i in range(6)], "id long")
    edges = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
    got = {r.id: r.cluster_id for r in clusters_with_singletons(all_ids, edges).collect()}
    assert got == {0: 0, 1: 1, 2: 1, 3: 3, 4: 3, 5: 5}


def test_precision_recall_f1_with_train_exclusion(spark):
    aligns = spark.createDataFrame([(1, 10), (2, 20), (3, 30), (4, 40)], "id_a long, id_b long")
    truth = spark.createDataFrame([(1, 10), (2, 20), (5, 50), (4, 40)], "id_a long, id_b long")
    train = spark.createDataFrame([(4, 40)], "id_a long, id_b long")
    r = precision_recall_f1(aligns, truth, exclude=train).first()
    # aligns\train = {(1,10),(2,20),(3,30)}; truth\train = {(1,10),(2,20),(5,50)}
    assert (r.tp, r.n_align, r.n_truth) == (2, 3, 3)
    assert r.precision == pytest.approx(2 / 3)
    assert r.recall == pytest.approx(2 / 3)
    assert r.f1 == pytest.approx(2 / 3)


def test_pairwise_f1_from_clusters(spark):
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)], "id long, cluster_id long"
    )
    truth = spark.createDataFrame([(1, 2), (2, 3), (1, 3), (4, 5)], "id_a long, id_b long")
    r = pairwise_f1_from_clusters(clusters, truth).first()
    assert (r.tp, r.n_align, r.n_truth) == (4, 4, 4)
    assert r.f1 == pytest.approx(1.0)


def test_hits_at_k(spark):
    scored = _scores(
        spark,
        [(1, 10, 0.9), (1, 11, 0.8), (1, 12, 0.7), (2, 20, 0.9), (2, 21, 0.8)],
    )
    truth = spark.createDataFrame([(1, 11), (2, 20)], "id_a long, id_b long")
    r = hits_at_k(scored, truth, ks=(1, 2)).first()
    assert r.hits_at_1 == pytest.approx(0.5)
    assert r.hits_at_2 == pytest.approx(1.0)
    assert r.mr == pytest.approx(1.5)
    assert r.mrr == pytest.approx((1 / 2 + 1 / 1) / 2)


# --- stable marriage (Gale-Shapley) ----------------------------------------


def _gs_reference(pairs):
    """Independent dict-based deferred acceptance mirroring the reference's
    ``galeshapley`` (alignment.py:180-233): suitor-optimal, stable argsort
    preference order (score desc, partner id asc on ties)."""
    from collections import defaultdict

    sp = defaultdict(list)
    rp = defaultdict(list)
    for a, b, s in pairs:
        sp[a].append((-s, b))
        rp[b].append((-s, a))
    sprefs = {a: [b for _, b in sorted(v)] for a, v in sp.items()}
    rrank = {
        b: {a: i for i, (_, a) in enumerate(sorted(v))} for b, v in rp.items()
    }
    ptr = {a: 0 for a in sprefs}
    match_of_b: dict = {}
    free = list(sprefs)
    while free:
        nxt = []
        for a in free:
            if ptr[a] >= len(sprefs[a]):
                continue  # exhausted: stays unmatched
            b = sprefs[a][ptr[a]]
            ptr[a] += 1
            cur = match_of_b.get(b)
            if cur is None:
                match_of_b[b] = a
            elif rrank[b][a] < rrank[b][cur]:
                match_of_b[b] = a
                nxt.append(cur)
            else:
                nxt.append(a)
        free = [a for a in nxt if ptr[a] < len(sprefs[a])]
    return {(a, b) for b, a in match_of_b.items()}


def test_stable_marriage_matches_reference_gs(spark):
    from entity_matchers_spark.operators.matching import stable_marriage

    import random

    rng = random.Random(11037)
    pairs = []
    seen = set()
    for _ in range(400):
        a, b = rng.randrange(40), 100 + rng.randrange(40)
        if (a, b) in seen:
            continue
        seen.add((a, b))
        pairs.append((a, b, round(rng.random(), 6)))
    scored = _scores(spark, pairs)
    got = {(r.id_a, r.id_b) for r in stable_marriage(scored).collect()}
    assert got == _gs_reference(pairs)


def test_stable_marriage_no_blocking_pair(spark):
    """Stability invariant: no candidate pair (a,b) where both strictly
    prefer each other over their assigned partners (unmatched = worst)."""
    from entity_matchers_spark.operators.matching import stable_marriage

    import random

    rng = random.Random(7)
    pairs = [
        (a, 100 + b, round(rng.random(), 6))
        for a in range(25)
        for b in rng.sample(range(25), 8)
    ]
    scored = _scores(spark, pairs)
    m = {(r.id_a, r.id_b): r.score for r in stable_marriage(scored).collect()}
    score_of_a = {}
    score_of_b = {}
    for (a, b), s in m.items():
        score_of_a[a] = s
        score_of_b[b] = s
    for a, b, s in pairs:
        if (a, b) in m:
            continue
        a_prefers = s > score_of_a.get(a, float("-inf"))
        b_prefers = s > score_of_b.get(b, float("-inf"))
        assert not (a_prefers and b_prefers), f"blocking pair {(a, b, s)}"


def test_stable_marriage_tie_break(spark):
    from entity_matchers_spark.operators.matching import stable_marriage

    # ties everywhere -> suitor-optimal with partner-id-asc preference:
    # 1 proposes to 10 (lowest id) and wins (lowest suitor id preferred)
    scored = _scores(spark, [(1, 10, 0.5), (1, 11, 0.5), (2, 10, 0.5), (2, 11, 0.5)])
    got = {(r.id_a, r.id_b) for r in stable_marriage(scored).collect()}
    assert got == {(1, 10), (2, 11)}


def test_stable_marriage_components_matches_reference_gs(spark):
    """The per-component solver reaches the same suitor-optimal matching as
    the independent dict-based Gale-Shapley (and hence as the round-based
    ``stable_marriage`` — the matching is unique given the preferences)."""
    from entity_matchers_spark.operators.matching import stable_marriage_components

    import random

    rng = random.Random(11037)
    pairs = []
    seen = set()
    for _ in range(400):
        a, b = rng.randrange(40), 100 + rng.randrange(40)
        if (a, b) in seen:
            continue
        seen.add((a, b))
        pairs.append((a, b, round(rng.random(), 6)))
    scored = _scores(spark, pairs)
    got = {(r.id_a, r.id_b) for r in stable_marriage_components(scored).collect()}
    assert got == _gs_reference(pairs)


def test_stable_marriage_components_oversize_fallback(spark):
    """Components above max_component route through the round-based loop;
    the union still equals the reference matching (multi-component input:
    a dense block that trips the cap plus a small separate block)."""
    from entity_matchers_spark.operators.matching import stable_marriage_components

    import random

    rng = random.Random(31)
    pairs = [
        (a, 100 + b, round(rng.random(), 6))
        for a in range(12)
        for b in rng.sample(range(12), 6)
    ] + [(50, 500, 0.9), (50, 501, 0.8), (51, 500, 0.7)]
    scored = _scores(spark, pairs)
    got = {
        (r.id_a, r.id_b)
        for r in stable_marriage_components(scored, max_component=10).collect()
    }
    assert got == _gs_reference(pairs)


def _brute_force_mwgm(edges):
    """Optimal matching weight by exhaustive search (tiny instances only)."""
    best = 0.0
    n = len(edges)

    def rec(i, used_a, used_b, acc):
        nonlocal best
        best = max(best, acc)
        for j in range(i, n):
            a, b, w = edges[j]
            if a not in used_a and b not in used_b:
                rec(j + 1, used_a | {a}, used_b | {b}, acc + w)

    rec(0, frozenset(), frozenset(), 0.0)
    return best


def _hungarian_max(weights):
    """Dense reference for the sparse kernel: exact max-weight assignment
    on a rectangular weight matrix. Returns (rows, cols, u, v): index
    arrays of the optimal assignment of the PADDED square problem plus the
    final dual potentials (0-based, length n = max(shape)) satisfying
    ``u[i] + v[j] <= -w_padded[i, j]`` everywhere with equality on
    assignment cells — the LP-optimality certificate. Callers drop pairs
    with non-positive weight (zero-padded cells = "leave unmatched", valid
    because every real edge weight is > 0).

    Classic O(n^3) shortest-augmenting-path Hungarian (potentials u/v, one
    augmentation per row) with the inner column scan vectorized in numpy.
    """
    import numpy as np

    w = np.asarray(weights, dtype=np.float64)
    n = max(w.shape)
    cost = np.zeros((n + 1, n + 1))
    cost[1 : w.shape[0] + 1, 1 : w.shape[1] + 1] = -w  # maximize -> minimize
    u = np.zeros(n + 1)
    v = np.zeros(n + 1)
    p = np.zeros(n + 1, dtype=np.int64)  # p[j] = row matched to column j
    way = np.zeros(n + 1, dtype=np.int64)
    cols = np.arange(n + 1)
    for i in range(1, n + 1):
        p[0] = i
        j0 = 0
        minv = np.full(n + 1, np.inf)
        used = np.zeros(n + 1, dtype=bool)
        while True:
            used[j0] = True
            i0 = p[j0]
            free = ~used
            free[0] = False
            cur = cost[i0, free] - u[i0] - v[free]
            sub = minv[free]
            upd = cur < sub
            minv[free] = np.where(upd, cur, sub)
            wayf = way[free]
            wayf[upd] = j0
            way[free] = wayf
            fidx = cols[free]
            if fidx.size == 0:
                break
            k = np.argmin(minv[free])
            j1 = int(fidx[k])
            delta = minv[j1]
            u[p[used]] += delta
            v[used] -= delta
            minv[~used] -= delta
            j0 = j1
            if p[j0] == 0:
                break
        while j0 != 0:
            j1 = way[j0]
            p[j0] = p[j1]
            j0 = j1
    rows = np.empty(n, dtype=np.int64)
    rows[p[1:] - 1] = cols[1:] - 1
    # rows[r] = column assigned to row r
    return np.arange(n), rows, u[1:], v[1:]


def test_hungarian_max_equals_brute_force():
    import numpy as np

    rng = np.random.RandomState(7)
    for trial in range(60):
        na, nb = rng.randint(1, 6), rng.randint(1, 6)
        w = rng.rand(na, nb) * (rng.rand(na, nb) > 0.3)  # ~30% non-edges
        rows, cols, u, v = _hungarian_max(w)
        keep = (rows < na) & (cols < nb)
        got = w[rows[keep], cols[keep]]
        got = got[got > 0].sum()
        # LP-optimality certificate of the padded square problem:
        # feasibility everywhere, tightness on assignment cells.
        n = u.size
        cost = np.zeros((n, n))
        cost[:na, :nb] = -w
        grid = u[:, None] + v[None, :]
        assert (grid <= cost + 1e-9).all(), trial
        assert np.abs(grid[rows, cols] - cost[rows, cols]).max() < 1e-9, trial
        edges = [
            (i, j, float(w[i, j]))
            for i in range(na)
            for j in range(nb)
            if w[i, j] > 0
        ]
        want = _brute_force_mwgm(edges)
        assert abs(got - want) < 1e-9, (trial, got, want, w)


@pytest.mark.parametrize("ids", ["str", "int"])
def test_mwgm_exact_spark(spark, ids):
    """Exact per-component matching beats/equals greedy and matches brute
    force on a multi-component candidate graph. Integer ids take the
    2a / 2b+1 long node encoding that the registry and er_align use."""
    from entity_matchers_spark.operators.matching import mwgm_exact

    # component 1: greedy (mutual-best first) is suboptimal:
    #   a1-b1=1.0, a1-b2=0.9, a2-b1=0.9 -> greedy locks a1-b1 (1.0);
    #   exact picks a1-b2 + a2-b1 (1.8)
    # component 2: a disjoint simple pair
    rows = [
        ("a1", "b1", 1.0),
        ("a1", "b2", 0.9),
        ("a2", "b1", 0.9),
        ("a3", "b3", 0.5),
        ("a4", "b3", 0.4),
    ]
    want = {("a1", "b2"), ("a2", "b1"), ("a3", "b3")}
    if ids == "int":
        rows = [(int(a[1:]), int(b[1:]), w) for a, b, w in rows]
        want = {(int(a[1:]), int(b[1:])) for a, b in want}
    scored = spark.createDataFrame(rows, ["id_a", "id_b", "score"])
    got = {(r.id_a, r.id_b) for r in mwgm_exact(scored).collect()}
    assert got == want


def test_mwgm_exact_oversize_greedy_fallback(spark):
    """Components above max_component degrade to the in-component greedy
    1/2-approx (valid matching, deterministic) instead of aborting the
    job."""
    from entity_matchers_spark.operators.matching import mwgm_exact

    # one 6-node component (> max_component=4) + a small exact one
    rows = [
        ("a1", "b1", 1.0),
        ("a1", "b2", 0.9),
        ("a2", "b1", 0.9),
        ("a2", "b3", 0.8),
        ("a3", "b3", 0.7),
        ("a4", "b4", 0.5),
    ]
    scored = spark.createDataFrame(rows, ["id_a", "id_b", "score"])
    got = sorted(
        (r.id_a, r.id_b, r.score)
        for r in mwgm_exact(scored, max_component=4).collect()
    )
    # greedy on the big component: a1-b1 (1.0) first, then a2-b3 (0.8);
    # a3 left unmatched. Small component solved exactly.
    assert got == [("a1", "b1", 1.0), ("a2", "b3", 0.8), ("a4", "b4", 0.5)]
    # matching validity: no node repeated
    ids_a = [a for a, _, _ in got]
    ids_b = [b for _, b, _ in got]
    assert len(ids_a) == len(set(ids_a)) and len(ids_b) == len(set(ids_b))
    # determinism
    again = sorted(
        (r.id_a, r.id_b, r.score)
        for r in mwgm_exact(scored, max_component=4).collect()
    )
    assert again == got


def test_stable_marriage_adversarial_chain(spark):
    """Worst-case displacement chain: an intruder bumps a_0 from b_0, a_0
    bumps a_1 from b_1, ... — one displacement per round, the longest
    trade-up chain the list-shrinking loop can see. Asserts rounds = chain
    length + 1 (O(k), not O(sum of list lengths)), the preference table
    shrinks monotonically every round, and the final matching is the
    fully-shifted suitor-optimal one."""
    from entity_matchers_spark.operators.matching import stable_marriage

    n = 12
    rows = [("z", "b00", 0.999)]
    for i in range(n):
        # strictly decreasing: w(a_i,b_i) > w(a_i,b_{i+1}) > w(a_{i+1},b_{i+1})
        rows.append((f"a{i:02d}", f"b{i:02d}", 1.0 - (2 * i + 1) / (10.0 * n)))
        rows.append((f"a{i:02d}", f"b{i + 1:02d}", 1.0 - (2 * i + 2) / (10.0 * n)))
    scored = spark.createDataFrame(rows, ["id_a", "id_b", "score"])
    stats: dict = {}
    got = {
        (r.id_a, r.id_b)
        for r in stable_marriage(scored, stats=stats).collect()
    }
    want = {("z", "b00")} | {(f"a{i:02d}", f"b{i + 1:02d}") for i in range(n)}
    assert got == want
    # chain of n displacements resolves in n+1 rounds (+1 final empty round
    # is not counted): O(k) in the chain length k, with 2n+1 list entries
    assert stats["rounds"] == n + 1, stats
    sizes = stats["prefs_sizes"]
    assert all(a > b for a, b in zip(sizes, sizes[1:])), sizes
    # one proposal per round after the opening volley
    assert stats["proposals"][0] == n + 1 and all(
        p == 1 for p in stats["proposals"][1:]
    ), stats["proposals"]
    # stability: no blocking pair (edge both endpoints would prefer)
    match_a = dict(got)
    match_b = {b: a for a, b in got}
    score = {(a, b): s for a, b, s in rows}
    for a, b, s in rows:
        cur_a = score.get((a, match_a.get(a, ""))) if a in match_a else -1
        cur_b = score.get((match_b.get(b, ""), b)) if b in match_b else -1
        assert not (s > cur_a and s > cur_b), (a, b)


def test_mwgm_exact_certificate(spark):
    """The one-row certificate summary reports the input stats and zero
    violations on a multi-component graph where greedy would be wrong —
    i.e. the emitted duals really do certify the exact optimum."""
    from entity_matchers_spark.operators.matching import (
        mwgm_exact,
        mwgm_exact_certificate,
    )

    rows = [
        ("a1", "b1", 1.0),
        ("a1", "b2", 0.9),
        ("a2", "b1", 0.9),
        ("a2", "b3", 0.8),
        ("a3", "b3", 0.7),
        ("a4", "b4", 0.5),
    ]
    scored = spark.createDataFrame(rows, ["id_a", "id_b", "score"])
    [r] = mwgm_exact_certificate(scored).collect()
    assert (r.n_edges, r.n_left, r.n_right) == (6, 4, 4)
    assert r.sum_w_q == sum(int(w * 1e6 + 0.5) for _, _, w in rows)
    assert (r.validity_viol, r.feas_viol, r.tight_viol, r.grid_viol) == (0, 0, 0, 0)
    # the certified matching agrees with mwgm_exact (optimal, not greedy):
    got = {(x.id_a, x.id_b) for x in mwgm_exact(scored).collect()}
    assert got == {("a1", "b2"), ("a2", "b1"), ("a3", "b3"), ("a4", "b4")}


def test_mwgm_certificate_oversized_degrades_uncertified(spark):
    """Components beyond max_component greedy-degrade: their edges are
    counted as uncertified (never as violations), small components stay
    fully certified, and the output is still a valid matching — the one
    mwgm_exact emits, on the greedy component too."""
    from entity_matchers_spark.operators.matching import (
        mwgm_exact,
        mwgm_exact_certificate,
        mwgm_exact_duals,
    )

    rows = [
        # 6-node component (oversized at max_component=4)
        ("a1", "b1", 1.0),
        ("a1", "b2", 0.9),
        ("a2", "b1", 0.9),
        ("a2", "b3", 0.8),
        ("a3", "b3", 0.7),
        # small exactly-solved component
        ("a4", "b4", 0.5),
    ]
    scored = spark.createDataFrame(rows, ["id_a", "id_b", "score"])
    [r] = mwgm_exact_certificate(scored, max_component=4).collect()
    assert r.n_edges == 6
    assert r.uncertified_edges == 5  # the whole big component
    assert (r.validity_viol, r.feas_viol, r.tight_viol, r.grid_viol) == (0, 0, 0, 0)
    nodes = mwgm_exact_duals(scored, max_component=4).where(
        (F.col("kind") == "N") & F.col("partner").isNotNull()
    )
    from_a = {(x.node, x.partner) for x in nodes.where(F.col("side") == "a").collect()}
    from_b = {(x.partner, x.node) for x in nodes.where(F.col("side") == "b").collect()}
    want = {(x.id_a, x.id_b) for x in mwgm_exact(scored, max_component=4).collect()}
    assert from_a == from_b == want == {("a1", "b1"), ("a2", "b3"), ("a4", "b4")}


def test_mwgm_certificate_detects_bad_duals(spark):
    """Feasibility/tightness counters are not vacuous: perturbing a dual
    or dropping a matched edge produces nonzero violations."""
    from pyspark.sql import functions as F

    from entity_matchers_spark.operators.matching import mwgm_exact_duals

    rows = [("a1", "b1", 1.0), ("a1", "b2", 0.9), ("a2", "b1", 0.9)]
    scored = spark.createDataFrame(rows, ["id_a", "id_b", "score"])
    cert = mwgm_exact_duals(scored).localCheckpoint()
    nodes = cert.where(F.col("kind") == "N")
    e = scored.select(
        F.col("id_a").alias("na"), F.col("id_b").alias("nb"), F.col("score").alias("w")
    )
    ya = nodes.where(F.col("side") == "a").select(
        F.col("node").alias("na"),
        # corrupt the a-side duals downward: feasibility must break
        (F.col("y") - 0.5).alias("y_a"),
    )
    yb = nodes.where(F.col("side") == "b").select(
        F.col("node").alias("nb"), F.col("y").alias("y_b")
    )
    bad = (
        e.join(ya, "na")
        .join(yb, "nb")
        .where(F.col("y_a") + F.col("y_b") < F.col("w") - 1e-7)
        .count()
    )
    assert bad > 0


def test_incremental_assign_orientations_and_new(spark):
    """Increment ids match their best corpus partner regardless of pair
    orientation; increment-internal pairs are ignored; unmatched increment
    ids come back with matched_to NULL and is_new=1."""
    from entity_matchers_spark.operators.matching import incremental_assign

    scored = spark.createDataFrame(
        [
            (10, 1, 0.9),   # inc 10 vs corpus 1 (forward orientation)
            (10, 2, 0.8),
            (3, 20, 0.85),  # corpus 3 vs inc 20 (reverse orientation)
            (10, 20, 0.99), # increment-internal: must be ignored
            (4, 5, 0.95),   # corpus-internal: irrelevant
            (30, 6, 0.2),   # inc 30: best is below threshold -> new
        ],
        "id_a long, id_b long, score double",
    )
    inc = spark.createDataFrame([(10,), (20,), (30,), (40,)], "id long")
    out = {r.id: r for r in incremental_assign(scored, inc, threshold=0.5).collect()}
    assert len(out) == 4
    assert (out[10].matched_to, out[10].is_new) == (1, 0)
    assert (out[20].matched_to, out[20].is_new) == (3, 0)
    assert out[30].matched_to is None and out[30].is_new == 1
    assert out[40].matched_to is None and out[40].is_new == 1  # no candidates at all


def test_fellegi_sunter_hand_case(spark):
    """m/u with add-one smoothing + fixed-order weight sum, replayed
    driver-side; agreeing matched pairs land positive, disagreeing negative."""
    import math

    from entity_matchers_spark.operators.scoring import fellegi_sunter_weights

    rows = [
        # (id_a, id_b, a1, a2, y)
        (1, 2, True, True, True),
        (3, 4, True, False, True),
        (5, 6, False, False, False),
        (7, 8, True, False, False),
        (9, 10, False, False, False),
    ]
    df = spark.createDataFrame(
        rows, "id_a long, id_b long, a1 boolean, a2 boolean, y boolean"
    )
    got = {(r.id_a, r.id_b): (r.fs_weight, r.is_link)
           for r in fellegi_sunter_weights(df, ["a1", "a2"], "y").collect()}
    nm, nu = 2, 3
    m = [(2 + 1.0) / (nm + 2.0), (1 + 1.0) / (nm + 2.0)]
    u = [(1 + 1.0) / (nu + 2.0), (0 + 1.0) / (nu + 2.0)]
    def w(a1, a2):
        t0 = math.log(m[0] / u[0]) if a1 else math.log((1 - m[0]) / (1 - u[0]))
        t1 = math.log(m[1] / u[1]) if a2 else math.log((1 - m[1]) / (1 - u[1]))
        return round(t0 + t1, 6)
    for (ia, ib, a1, a2, _y) in rows:
        exp = w(a1, a2)
        assert got[(ia, ib)] == (exp, int(exp > 0))
    assert got[(1, 2)][1] == 1 and got[(9, 10)][1] == 0


def test_monge_elkan_hand_case(spark):
    """ME(A->B) = mean of each A-token's best JW match in B, replayed
    driver-side with the same quantization."""
    from entity_matchers_spark.functions.similarity import _jaro_winkler_one
    from entity_matchers_spark.operators.scoring import monge_elkan_scores

    docs = spark.createDataFrame(
        [(1, "peter christen"), (2, "christian pedro")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    r = monge_elkan_scores(pairs, docs).collect()[0]
    A = sorted({"peter", "christen"})
    B = sorted({"christian", "pedro"})
    q = {(a, b): round(_jaro_winkler_one(a, b) * 1_000_000) for a in A for b in B}
    me_ab = sum(max(q[(a, b)] for b in B) for a in A) / (len(A) * 1_000_000.0)
    me_ba = sum(max(q[(a, b)] for a in A) for b in B) / (len(B) * 1_000_000.0)

    def r6(x):
        # Spark's round = HALF_UP on the shortest decimal repr (this hand
        # case lands exactly on a .5 6-dp boundary; python round() is
        # half-even on the binary value and disagrees there)
        from decimal import ROUND_HALF_UP, Decimal

        return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    assert r.me_ab == r6(me_ab)
    assert r.me_ba == r6(me_ba)
    assert r.me_sym == r6((me_ab + me_ba) / 2)


def test_golden_records_survivorship(spark):
    from entity_matchers_spark.operators.clustering import golden_records

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (9, 9)], "doc_id long, cluster_id long"
    )
    recs = spark.createDataFrame(
        [
            (1, "s1", "en", 100),
            (2, "s2", "en", 300),
            (3, "s2", "de", 200),
            (9, "s9", "fr", 50),
        ],
        "doc_id long, source string, lang string, n_chars long",
    )
    got = {r.cluster_id: r for r in golden_records(clusters, recs).collect()}
    g = got[1]
    # majority source s2 (2 votes), lang tie en/de 1-1... en vs de: counts
    # en=2, de=1 -> en; canonical = min id, max_chars = richest member
    assert (g.n_members, g.canonical_id, g.max_chars) == (3, 1, 300)
    assert (g.source, g.lang) == ("s2", "en")
    s = got[9]
    assert (s.n_members, s.canonical_id, s.source, s.lang, s.max_chars) == (
        1, 9, "s9", "fr", 50)


def test_fellegi_sunter_em_separates_mixture(spark):
    """EM with no labels must discover the two latent classes in a planted
    mixture: pairs agreeing on all three features get posterior ~1 and
    positive weight; all-disagree pairs get posterior ~0 and negative
    weight. Learned m_k > u_k for every feature."""
    from entity_matchers_spark.operators.scoring import fellegi_sunter_em

    rows = []
    pid = 0
    # 80 clear matches (agree on everything, occasionally one miss)
    for i in range(80):
        rows.append((pid, True, True, i % 10 != 0)); pid += 1
    # 920 clear non-matches (disagree, occasionally one accidental hit)
    for i in range(920):
        rows.append((pid, i % 20 == 0, False, False)); pid += 1
    df = spark.createDataFrame(rows, "pair_id long, a1 boolean, a2 boolean, a3 boolean")

    out, params = fellegi_sunter_em(df, ["a1", "a2", "a3"])
    got = {r.pair_id: r for r in out.collect()}

    assert all(params["m"][k] > params["u"][k] for k in range(3))
    assert 0.0 < params["p"] < 0.3  # prevalence near the planted 8%
    full_agree = [r for r in got.values() if r.a1 and r.a2 and r.a3]
    full_dis = [r for r in got.values() if not (r.a1 or r.a2 or r.a3)]
    assert full_agree and full_dis
    assert all(r.match_prob > 0.95 and r.is_link == 1 for r in full_agree)
    assert all(r.match_prob < 0.05 and r.is_link == 0 for r in full_dis)

    # determinism: a second run returns bit-identical weights
    out2, params2 = fellegi_sunter_em(df, ["a1", "a2", "a3"])
    assert params2 == params
    got2 = {r.pair_id: (r.fs_weight, r.match_prob) for r in out2.collect()}
    assert got2 == {k: (r.fs_weight, r.match_prob) for k, r in got.items()}


def test_sparse_hungarian_equals_dense_with_kkt_duals():
    """The sparse successive-shortest-paths kernel must (1) find the same
    optimal weight as the dense padded-square Hungarian and (2) emit duals
    satisfying the full matching-LP KKT set the certificate relies on:
    feasibility on every edge, tightness on matched edges, nonnegativity,
    and exact zero on unmatched nodes."""
    import numpy as np

    from entity_matchers_spark.operators.matching import _sparse_hungarian_max

    rng = np.random.RandomState(11)
    for trial in range(120):
        nl, nr = rng.randint(1, 10), rng.randint(1, 10)
        dense = rng.rand(nl, nr) * (rng.rand(nl, nr) > 0.4)
        ia, ib = np.nonzero(dense)
        if ia.size == 0:
            continue
        w = dense[ia, ib]
        rows, cols, _, _ = _hungarian_max(dense)
        keep = (rows < nl) & (cols < nr)
        ref = dense[rows[keep], cols[keep]]
        want = ref[ref > 0].sum()

        ml, ya, yb = _sparse_hungarian_max(ia, ib, w, nl, nr)
        got = sum(dense[i, ml[i]] for i in range(nl) if ml[i] >= 0)
        assert abs(got - want) < 1e-9, trial
        # KKT: edge feasibility + matched tightness
        assert all(
            ya[i] + yb[j] >= ww - 1e-9 for i, j, ww in zip(ia, ib, w)
        ), trial
        assert all(
            abs(ya[i] + yb[ml[i]] - dense[i, ml[i]]) < 1e-7
            for i in range(nl)
            if ml[i] >= 0
        ), trial
        # node conditions: y >= 0 everywhere, exactly 0 when unmatched
        matched_r = {int(x) for x in ml if x >= 0}
        assert (ya > -1e-9).all() and (yb > -1e-9).all(), trial
        assert all(abs(ya[i]) < 1e-7 for i in range(nl) if ml[i] < 0), trial
        assert all(abs(yb[j]) < 1e-7 for j in range(nr) if j not in matched_r), trial
        # a matching: no right used twice
        assert len(matched_r) == int((ml >= 0).sum()), trial


def test_mwgm_exact_sparse_kernel_optimum_certified(spark):
    """Every component goes through the sparse kernel: the matching is the
    exact optimum (greedy would lock in a1-b1 and a5-b5) and its
    certificate holds (all KKT counters zero, nothing uncertified)."""
    from entity_matchers_spark.operators import matching

    rows = [
        ("a1", "b1", 1.0),
        ("a1", "b2", 0.9),
        ("a2", "b1", 0.9),
        ("a3", "b3", 0.5),
        ("a4", "b3", 0.4),
        ("a5", "b5", 0.7),
        ("a5", "b6", 0.65),
        ("a6", "b5", 0.66),
        ("a6", "b6", 0.1),
    ]
    scored = spark.createDataFrame(rows, ["id_a", "id_b", "score"])
    got = {(r.id_a, r.id_b) for r in matching.mwgm_exact(scored).collect()}
    assert got == {
        ("a1", "b2"), ("a2", "b1"), ("a3", "b3"), ("a5", "b6"), ("a6", "b5")
    }
    [c] = matching.mwgm_exact_certificate(scored).collect()
    assert (
        c.validity_viol, c.feas_viol, c.tight_viol, c.grid_viol,
        c.uncertified_edges,
    ) == (0, 0, 0, 0, 0)
    assert c.n_edges == len(rows)


def test_sparse_hungarian_adversarial_shapes():
    """Shapes the random fuzz is unlikely to hit: tie-heavy quantized
    weights (optimal WEIGHT must still match the dense solver even when
    the matching itself is non-unique), a displacement chain forcing a
    full-length augmenting path per phase, and isolated/near-isolated
    nodes. Dual feasibility must hold throughout."""
    import numpy as np

    from entity_matchers_spark.operators.matching import _sparse_hungarian_max

    rng = np.random.RandomState(23)
    for trial in range(60):
        nl, nr = rng.randint(1, 12), rng.randint(1, 12)
        dense = (rng.randint(0, 4, size=(nl, nr)) * 0.25) * (
            rng.rand(nl, nr) > 0.5
        )
        ia, ib = np.nonzero(dense)
        if ia.size == 0:
            continue
        w = dense[ia, ib]
        rows, cols, _, _ = _hungarian_max(dense)
        keep = (rows < nl) & (cols < nr)
        ref = dense[rows[keep], cols[keep]]
        want = ref[ref > 0].sum()
        ml, ya, yb = _sparse_hungarian_max(ia, ib, w, nl, nr)
        got = sum(dense[i, ml[i]] for i in range(nl) if ml[i] >= 0)
        assert abs(got - want) < 1e-9, trial
        mr = [m for m in ml if m >= 0]
        assert len(set(mr)) == len(mr), trial
        assert all(
            ya[i] + yb[j] >= ww - 1e-9 for i, j, ww in zip(ia, ib, w)
        ), trial

    # displacement chain: a_i prefers b_{i-1} (2.0) over its own slot
    # (1 - i*1e-6); optimum is the all-shift matching 2*(L-1) with a_0
    # unmatched — each phase augments along the full chain
    L = 500
    ia, ib, w = [], [], []
    for i in range(L):
        ia.append(i), ib.append(i), w.append(1.0 - 1e-6 * i)
        if i > 0:
            ia.append(i), ib.append(i - 1), w.append(2.0)
    ia, ib, w = np.array(ia), np.array(ib), np.array(w, dtype=float)
    ml, ya, yb = _sparse_hungarian_max(ia, ib, w, L, L)
    lut = {(i, j): x for i, j, x in zip(ia, ib, w)}
    got = sum(lut[(i, ml[i])] for i in range(L) if ml[i] >= 0)
    assert abs(got - 2.0 * (L - 1)) < 1e-6
    assert all(ya[i] + yb[j] >= x - 1e-7 for i, j, x in zip(ia, ib, w))


def _sparse_hungarian_max_dense_labels(ia, ib, wj, nl, nr):
    """The sparse kernel as it was before its search labels became
    reached-set dicts: ``dist``, ``finalized`` and ``prev_r`` are dense
    ``nr``-sized arrays allocated per left node. Kept as the reference the
    bounded kernel must reproduce bit for bit."""
    import heapq

    import numpy as np

    order = np.argsort(ia, kind="stable")
    ib_s = ib[order]
    c_s = -wj[order]
    indptr = np.zeros(nl + 1, dtype=np.int64)
    np.add.at(indptr, ia + 1, 1)
    indptr = np.cumsum(indptr)
    u = np.zeros(nl)
    np.minimum.at(u, ia, -wj)
    v = np.zeros(nr)
    match_l = np.full(nl, -1, dtype=np.int64)
    match_r = np.full(nr, -1, dtype=np.int64)
    for s in range(nl):
        if indptr[s] == indptr[s + 1]:
            u[s] = 0.0
            continue
        dist = np.full(nr, np.inf)
        finalized = np.zeros(nr, dtype=bool)
        prev_r = np.full(nr, -1, dtype=np.int64)
        t_left = {s: 0.0}
        best_dummy_val, best_dummy_left = -u[s], s
        heap: list = []
        lo, hi = indptr[s], indptr[s + 1]
        nd = c_s[lo:hi] - u[s] - v[ib_s[lo:hi]]
        for jj, dd in zip(ib_s[lo:hi], nd):
            if dd < dist[jj]:
                dist[jj] = dd
                prev_r[jj] = s
                heapq.heappush(heap, (dd, int(jj)))
        target_right = -1
        target_left = -1
        while True:
            while heap and (finalized[heap[0][1]] or heap[0][0] > dist[heap[0][1]]):
                heapq.heappop(heap)
            if not heap or best_dummy_val < heap[0][0]:
                target_left = best_dummy_left
                big_d = best_dummy_val
                break
            d_j, j = heapq.heappop(heap)
            finalized[j] = True
            i2 = match_r[j]
            if i2 < 0:
                target_right = j
                big_d = d_j
                break
            t_left[i2] = d_j
            cand = d_j - u[i2]
            if cand < best_dummy_val:
                best_dummy_val, best_dummy_left = cand, i2
            lo, hi = indptr[i2], indptr[i2 + 1]
            nd = d_j + c_s[lo:hi] - u[i2] - v[ib_s[lo:hi]]
            for jj, dd in zip(ib_s[lo:hi], nd):
                if not finalized[jj] and dd < dist[jj]:
                    dist[jj] = dd
                    prev_r[jj] = i2
                    heapq.heappush(heap, (dd, int(jj)))
        for i2, t in t_left.items():
            u[i2] += big_d - t
        fin = finalized & (dist < big_d)
        v[fin] += dist[fin] - big_d
        if target_right >= 0:
            j = target_right
        elif target_left == s:
            continue
        else:
            j = match_l[target_left]
            match_l[target_left] = -1
        while True:
            i2 = prev_r[j]
            nxt = match_l[i2]
            match_l[i2] = j
            match_r[j] = i2
            if i2 == s:
                break
            j = nxt
    return match_l, -u, -v


def test_sparse_hungarian_bounded_labels_equal_dense_labels():
    """Keeping each search's labels over the rights it reaches changes no
    bit of the kernel's output: on seeded random components (distinct and
    tie-heavy weights, isolated nodes) ``match_l``, ``ya`` and ``yb`` are
    identical to the dense-label reference."""
    import numpy as np

    from entity_matchers_spark.operators.matching import _sparse_hungarian_max

    rng = np.random.RandomState(2024)
    for trial in range(150):
        nl, nr = rng.randint(1, 40), rng.randint(1, 40)
        keep = rng.rand(nl, nr) < rng.uniform(0.05, 0.6)
        ia, ib = np.nonzero(keep)
        if ia.size == 0:
            continue
        w = rng.rand(ia.size) if trial % 2 else rng.randint(1, 5, ia.size) * 0.25
        w = w + 1e-9 * rng.rand(ia.size) * (trial % 3 != 0)
        perm = rng.permutation(ia.size)  # edge order as a batch delivers it
        args = (ia[perm], ib[perm], w[perm], nl, nr)
        got = _sparse_hungarian_max(*args)
        want = _sparse_hungarian_max_dense_labels(*args)
        for g, x in zip(got, want):
            assert np.array_equal(g, x), trial


def _solver_outputs(scored):
    """Sorted rows of the three per-component solvers over ``scored``."""
    from entity_matchers_spark.operators.matching import (
        mwgm_exact,
        mwgm_exact_duals,
        stable_marriage_components,
    )

    return {
        f.__name__: sorted(str(tuple(r)) for r in f(scored).collect())
        for f in (mwgm_exact, mwgm_exact_duals, stable_marriage_components)
    }


def _random_components(spark):
    """Candidates over 40 x 40 ids: several components, the largest with
    far more than 3 edges."""
    import random

    rng = random.Random(5)
    edges = {(rng.randrange(40), 100 + rng.randrange(40)) for _ in range(70)}
    return _scores(spark, [(a, b, round(rng.random(), 6)) for a, b in sorted(edges)])


def test_component_solvers_independent_of_arrow_batch_size(spark):
    """With 3-row Arrow batches a component spans several batches; the
    streamed driver carries it across them and all three solvers give the
    same output as with the default batch size."""
    scored = _random_components(spark)
    want = _solver_outputs(scored)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        got = _solver_outputs(scored)
    finally:
        spark.conf.set(key, old)
    assert got == want
    from entity_matchers_spark.operators.matching import _by_component

    pairs, _ = _by_component(scored, "score")
    assert pairs.groupBy("cluster_id").count().agg(F.max("count")).first()[0] > 3


def test_component_solvers_independent_of_partition_count(spark, monkeypatch):
    """One partition (every component in one stream) and eight give the
    same output from all three solvers."""
    from entity_matchers_spark.operators import matching

    scored = _random_components(spark)
    want = _solver_outputs(scored)
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    monkeypatch.setattr(matching, "default_partitions", lambda _spark: 1)
    spark.conf.set(key, "1")
    try:
        got = _solver_outputs(scored)
    finally:
        spark.conf.set(key, old)
    assert got == want


def test_component_solvers_stream_over_explicit_partitioning(spark):
    """Each solver is one ``MapInPandas`` over a hash exchange on
    ``cluster_id`` into ``default_partitions`` — an explicit count AQE
    does not coalesce — and no grouped ``FlatMapGroupsInPandas``."""
    import re

    from entity_matchers_spark.operators.matching import (
        mwgm_exact,
        mwgm_exact_duals,
        stable_marriage_components,
    )
    from entity_matchers_spark.session import default_partitions

    scored = _random_components(spark)
    n = default_partitions(spark)
    for solver in (mwgm_exact, mwgm_exact_duals, stable_marriage_components):
        df = solver(scored)
        plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
        lines = plan.splitlines()
        assert "FlatMapGroupsInPandas" not in plan, plan
        [i] = [i for i, ln in enumerate(lines) if "MapInPandas" in ln]
        below = "\n".join(lines[i + 1 : i + 4])
        assert re.search(
            rf"Exchange hashpartitioning\(cluster_id#\d+L?, {n}\), REPARTITION_BY_NUM", below
        ), plan


def test_connected_components_raises_when_not_converged(spark):
    """A long chain under permuted ids needs more propagation steps than a
    small ``max_iterations`` allows: the distributed loop raises instead
    of returning split components."""
    import random

    ids = list(range(24))  # converges in 12 iterations
    random.Random(3).shuffle(ids)
    edges = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(len(ids) - 1)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="still changing"):
        connected_components(edges, max_iterations=2, driver_max_edges=0)
    got = connected_components(edges, driver_max_edges=0)
    assert {r.cluster_id for r in got.collect()} == {0}
