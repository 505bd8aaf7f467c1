"""Unit tests: sources (§2.1), triple operators (§2.2), matching extras
(§2.5), graph (§2.7), streaming, and multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# --- sources -----------------------------------------------------------------


def test_triple_tsv_roundtrip(spark, tmp_path):
    from entity_matchers_spark.sources.triples import read_relation_triples

    p = tmp_path / "rel.tsv"
    p.write_text("a\tr1\tb\nb\tr2\tc\n")
    df = read_relation_triples(spark, str(p))
    assert sorted(tuple(r) for r in df.collect()) == [("a", "r1", "b"), ("b", "r2", "c")]


def test_triple_tsv_strict_raises(spark, tmp_path):
    from entity_matchers_spark.sources.triples import read_links, read_relation_triples

    # each reader's exact field count: a row with fewer OR more fields is
    # malformed (the 3-field row is a valid triple but a malformed link)
    cases = [
        (read_relation_triples, "a\tr1\tb\nmalformed-line\n", [("a", "r1", "b")]),
        (read_links, "e1\te2\nmalformed-line\na\tr1\tb\n", [("e1", "e2")]),
    ]
    for i, (reader, text, rows) in enumerate(cases):
        p = tmp_path / f"bad{i}.tsv"
        p.write_text(text)
        with pytest.raises(ValueError, match="malformed"):
            reader(spark, str(p), strict=True)
        ok = reader(spark, str(p), strict=False)
        assert [tuple(r) for r in ok.collect()] == rows


def test_attr_tsv_lenient_rejoins_tabs(spark, tmp_path):
    from entity_matchers_spark.sources.triples import read_attribute_triples

    p = tmp_path / "attr.tsv"
    p.write_text('e1\tname\t"Val\twith tab" .\ne2\tname\tplain\n')
    rows = {r["ent"]: r["value"] for r in read_attribute_triples(spark, str(p)).collect()}
    assert rows["e1"] == '"Val\twith tab"'
    assert rows["e2"] == "plain"


def test_ntriples_sink_with_labels(spark, tmp_path):
    from entity_matchers_spark.sources.triples import write_ntriples

    triples = spark.createDataFrame([("a", "r", "b")], "h string, r string, t string")
    links = spark.createDataFrame([("a", "x")], "e1 string, e2 string")
    out = tmp_path / "nt"
    write_ntriples(triples, str(out), label_links=links)
    lines = sorted(r[0] for r in spark.read.text(str(out)).collect())
    assert "<a> <r> <b> ." in lines
    label_lines = [ln for ln in lines if "EntityMatchers:label" in ln]
    # both endpoints share one deterministic label token
    assert len(label_lines) == 2
    tok = label_lines[0].split('"')[1]
    assert all(tok in ln for ln in label_lines)


def test_uri_prefix_expansion(spark):
    from entity_matchers_spark.sources.triples import expand_uri_prefixes

    df = spark.createDataFrame([("dbp:Foo",), ("yago:Bar",), ("plain",)], "u string")
    out = df.select(
        expand_uri_prefixes("u", {"dbp:": "http://dbpedia.org/resource/", "yago:": "http://yago/"}).alias("x")
    )
    assert {r[0] for r in out.collect()} == {
        "http://dbpedia.org/resource/Foo", "http://yago/Bar", "plain",
    }


# --- triple operators --------------------------------------------------------


def test_clean_literal_cases(spark):
    from entity_matchers_spark.operators.triples import clean_literal

    cases = ['"Hello World"@en', '"42"^^<xsd:int>', '  spaced   out  ', '"quoted"']
    df = spark.createDataFrame([(c,) for c in cases], "v string")
    got = [r[0] for r in df.select(clean_literal("v")).collect()]
    assert got == ["Hello World", "42", "spaced out", "quoted"]


def test_select_name_attribute_priority(spark):
    from entity_matchers_spark.operators.triples import select_name_attribute

    attrs = spark.createDataFrame(
        [("e1", "type", "T"), ("e1", "name", "N"), ("e2", "brand", "B"), ("e3", "other", "X")],
        "ent string, attr string, value string",
    )
    got = {r["ent"]: r["name"] for r in
           select_name_attribute(attrs, {"name": 1, "brand": 2, "type": 3}).collect()}
    assert got == {"e1": "N", "e2": "B"}  # e3 has no whitelisted attr


def test_anonymize_consistent(spark):
    from entity_matchers_spark.operators.triples import anonymize_entities

    t = spark.createDataFrame([("a", "r", "b"), ("b", "r", "a")], "h string, r string, t string")
    rows = anonymize_entities(t).collect()
    m = {}
    for r in rows:
        m.setdefault(r["h"], set()).add("h")
        m.setdefault(r["t"], set()).add("t")
    # 2 distinct anonymized entities, each appearing as both head and tail
    assert len(m) == 2 and all(v == {"h", "t"} for v in m.values())
    assert all(k.startswith("L") for k in m)


def test_prune_fixpoint_converges(spark):
    from entity_matchers_spark.operators.triples import prune_links_and_triples

    # link (x1,y1) survives: x1 has triple to x2 which is also linked;
    # link (x3,y3) dies: x3's only triple points to unlinked x9
    t1 = spark.createDataFrame(
        [("x1", "r", "x2"), ("x3", "r", "x9")], "h string, r string, t string")
    t2 = spark.createDataFrame(
        [("y1", "r", "y2"), ("y3", "r", "y2")], "h string, r string, t string")
    links = spark.createDataFrame(
        [("x1", "y1"), ("x2", "y2"), ("x3", "y3")], "e1 string, e2 string")
    out, _a, _b = prune_links_and_triples(links, t1, t2, max_iterations=10)
    assert sorted(tuple(r) for r in out.collect()) == [("x1", "y1"), ("x2", "y2")]


# --- matching extras ---------------------------------------------------------


def test_greedy_weighted_matching_resolves_chain(spark):
    from entity_matchers_spark.operators.matching import greedy_weighted_matching

    # a1-b1 (0.9) locks first; then a2's best remaining is b2 (0.7)
    scored = spark.createDataFrame(
        [(1, 10, 0.9), (2, 10, 0.8), (2, 20, 0.7)], "id_a long, id_b long, score double")
    got = sorted((r["id_a"], r["id_b"]) for r in greedy_weighted_matching(scored).collect())
    assert got == [(1, 10), (2, 20)]


def test_resolve_conflicts_keeps_higher_score(spark):
    from entity_matchers_spark.operators.matching import resolve_conflicts

    prev = spark.createDataFrame([(1, 10, 0.5)], "id_a long, id_b long, score double")
    new = spark.createDataFrame([(1, 20, 0.8), (2, 10, 0.9)], "id_a long, id_b long, score double")
    got = sorted((r["id_a"], r["id_b"]) for r in resolve_conflicts(prev, new).collect())
    # x-conflict on id_a=1 → keep (1,20,0.8); y-conflict on id_b=10 between
    # dropped (1,10) and (2,10) → (2,10) survives
    assert got == [(1, 20), (2, 10)]


def test_align_predicates_mutual_best(spark):
    from entity_matchers_spark.operators.matching import align_predicates

    v1 = spark.createDataFrame([("name",), ("kind",)], "p string")
    v2 = spark.createDataFrame([("names",), ("kinds",)], "p string")
    got = {(r["id_a"], r["id_b"]) for r in align_predicates(v1, v2).collect()}
    assert got == {("name", "names"), ("kind", "kinds")}


# --- graph -------------------------------------------------------------------


def test_pagerank_star(spark):
    from entity_matchers_spark.operators.graph import pagerank

    # 3 leaves all pointing at hub; N=4, d=0.85
    edges = spark.createDataFrame(
        [("l1", "hub"), ("l2", "hub"), ("l3", "hub")], "src string, dst string")
    pr = {r["node"]: r["pr"] for r in pagerank(edges, iterations=3).collect()}
    leaf = (1 - 0.85) / 4
    assert pr["l1"] == pytest.approx(leaf)
    # hub after >=2 iters: base + d * 3 * leaf (leaves are stationary)
    assert pr["hub"] == pytest.approx(leaf + 0.85 * 3 * leaf)


# --- streaming ---------------------------------------------------------------


def test_sessionize_gap_semantics(spark):
    from entity_matchers_spark.streaming.events import sessionize

    rows = [
        (1, "2024-01-01 00:00:00", 1, 1.0),
        (1, "2024-01-01 00:10:00", 2, 2.0),   # same session (10 min gap)
        (1, "2024-01-01 01:00:00", 3, 4.0),   # new session (50 min gap)
        (2, "2024-01-01 00:00:00", 4, 8.0),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts string, event_id long, value double") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    got = sorted(
        (r["user_id"], r["n_events"], r["sum_value"]) for r in sessionize(ev, 30).collect()
    )
    assert got == [(1, 1, 4.0), (1, 2, 3.0), (2, 1, 8.0)]


def test_stream_batch_parity_windowed_counts(spark, tmp_path):
    from entity_matchers_spark.streaming.events import run_stream_to_df, windowed_event_counts

    sf_dir = "/root/testdata/sf0.001"
    streamed = run_stream_to_df(
        spark, f"{sf_dir}/events.parquet", windowed_event_counts, output_mode="complete"
    )
    batch = windowed_event_counts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    s = {tuple(map(str, r)) for r in streamed.collect()}
    b = {tuple(map(str, r)) for r in batch.collect()}
    assert s == b and len(s) > 0


def test_stateful_sessionize_parity(spark):
    """The applyInPandasWithState sessionizer under a real streaming
    trigger (2 triggers: events, then end-of-stream sentinels) must emit
    exactly the batch gap-islands sessions."""
    from entity_matchers_spark.streaming.events import (
        run_sessionize_stateful,
        sessionize,
    )

    sf_dir = "/root/testdata/sf0.001"
    streamed = run_sessionize_stateful(spark, f"{sf_dir}/events.parquet", 30)
    batch = sessionize(spark.read.parquet(f"{sf_dir}/events.parquet"), 30)
    s = sorted(tuple(map(str, r)) for r in streamed.collect())
    b = sorted(tuple(map(str, r)) for r in batch.collect())
    assert s == b and len(s) > 0


# --- multimodal --------------------------------------------------------------


def test_multimodal_fake_features_deterministic(spark):
    from entity_matchers_spark.operators.multimodal import (
        FEATURE_DIM,
        extract_media_features,
        fake_features,
        media_from_documents,
    )

    docs = spark.createDataFrame([(1, "hello"), (2, "")], "doc_id long, text string")
    out = {r["media_id"]: r for r in extract_media_features(media_from_documents(docs)).collect()}
    assert out[1]["feature"] == fake_features(b"hello")
    assert len(out[1]["feature"]) == FEATURE_DIM
    assert out[1]["n_bytes"] == 5 and out[2]["n_bytes"] == 0


def test_multimodal_decode_stub_raises(spark):
    from entity_matchers_spark.operators.multimodal import (
        extract_media_features,
        media_from_documents,
    )

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    media = media_from_documents(docs)
    with pytest.raises(Exception):  # NotImplementedError surfaces as PythonException
        extract_media_features(media, real_decode=True).collect()


def test_frame_sample_plan(spark):
    from entity_matchers_spark.operators.multimodal import frame_sample_plan

    media = spark.createDataFrame([(1, "v", b"", 25_000)],
                                  "media_id long, mime string, payload binary, n_bytes long")
    idxs = sorted(r["frame_idx"] for r in frame_sample_plan(media, every_n=10).collect())
    assert idxs == [0, 10, 20]


# --- kernel-pooled similarity ------------------------------------------------


def test_kernel_features_match_scalar_reference(spark):
    import hashlib
    import numpy as np
    from entity_matchers_spark.operators.kernels import (
        KERNEL_MUS, KERNEL_SIGMAS, _token_vector, kernel_pooled_features,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta delta epsilon")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    row = kernel_pooled_features(pairs, docs, id_col="doc_id").first()
    got = np.array(row["kernel_feats"])
    assert got.shape == (42,)

    # scalar reference from first principles
    def tok_hashes(text):
        hs = sorted({int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
                     for t in text.lower().split()})
        return hs[:32]

    A = [_token_vector(h, 16) for h in tok_hashes("alpha beta gamma")]
    B = [_token_vector(h, 16) for h in tok_hashes("alpha beta delta epsilon")]
    sim = np.array([[float(a @ b) for b in B] for a in A])
    row_pool, col_pool = sim.max(axis=1), sim.max(axis=0)

    def feats(pool):
        return [float(np.log1p(np.exp(-((pool - mu) ** 2) / (2 * s * s)).sum()))
                for mu, s in zip(KERNEL_MUS, KERNEL_SIGMAS)]

    exp = np.array(feats(row_pool) + feats(col_pool))
    assert np.allclose(got, exp, atol=1e-12)
    # two shared tokens -> exact-match kernel (mu=1) sees ~2 hits per side
    assert got[0] == pytest.approx(np.log1p(2.0), abs=1e-6)


# --- salted self-join --------------------------------------------------------


def test_salted_pairs_equal_plain_self_join(spark):
    import random
    from entity_matchers_spark.operators.blocking import block_self_join, salted_candidate_pairs

    random.seed(1)
    rows = [(i, f"b{random.randint(0, 3)}") for i in range(300)]
    rows += [(i, "hot") for i in range(300, 500)]          # one hot block
    rows += [(10_000 - i, "hot2") for i in range(100)]      # chunk order != id order
    blocks = spark.createDataFrame(rows, "id long, block_id string")
    exact = (
        blocks.alias("l").join(blocks.alias("r"), "block_id")
        .where(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b")).distinct()
    )
    salted = salted_candidate_pairs(blocks, chunk_size=37)
    assert exact.exceptAll(salted).count() == 0
    assert salted.exceptAll(exact).count() == 0
    assert sorted(block_self_join(blocks).collect()) == sorted(exact.collect())


def test_word_vector_scan_and_embed(spark, tmp_path):
    """fastText .vec contract: header + malformed lines dropped; embed =
    component-wise mean over in-vocabulary tokens."""
    from entity_matchers_spark.sources.embeddings import embed_texts, read_word_vectors

    vec = tmp_path / "toy.vec"
    vec.write_text(
        "4 3\n"                      # fastText header -> dropped (2 fields)
        "hello 1.0 2.0 3.0\n"
        "world 3.0 2.0 1.0\n"
        "bad-line 1.0\n"             # wrong arity -> dropped
        "spark 0.0 0.0 6.0\n"
    )
    wv = read_word_vectors(spark, str(vec), dim=3)
    assert {r["word"] for r in wv.collect()} == {"hello", "world", "spark"}

    docs = spark.createDataFrame(
        [(1, "Hello world"), (2, "spark"), (3, "nothing matches here")],
        "doc_id long, text string",
    )
    out = {r["id"]: r["vec"] for r in embed_texts(docs, wv).collect()}
    assert out[1] == [2.0, 2.0, 2.0]      # mean(hello, world)
    assert out[2] == [0.0, 0.0, 6.0]
    assert 3 not in out                   # no in-vocab token -> no row


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables written bucketed by the join key with equal bucket counts
    sort-merge-join with ZERO Exchange in the plan (the write paid the
    shuffle once); results equal the plain shuffled join."""
    from pyspark.sql import functions as F

    from entity_matchers_spark.sources.bucketed import co_located_join, write_bucketed

    a = spark.range(10_000).select(F.col("id"), (F.col("id") * 2).alias("x"))
    b = spark.range(0, 10_000, 2).select(F.col("id"), (F.col("id") + 7).alias("y"))
    write_bucketed(a, "bk_a", "id", 8, path=str(tmp_path / "bk_a"))
    write_bucketed(b, "bk_b", "id", 8, path=str(tmp_path / "bk_b"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force SMJ so a broadcast can't mask the exchange question
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = co_located_join(spark, "bk_a", "bk_b", "id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        got = {(r.id, r.x, r.y) for r in joined.collect()}
        want = {(i, i * 2, i + 7) for i in range(0, 10_000, 2)}
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bk_a")
        spark.sql("DROP TABLE IF EXISTS bk_b")


# --- sorted-neighborhood + phonetic blocking ---------------------------------


def test_sorted_neighborhood_matches_single_window_semantics(spark):
    """SNM pairs == the naive global-sort sliding window, including ties
    (equal keys tie-broken by id) and the (window-1)·n - tail count."""
    from entity_matchers_spark.operators.blocking import sorted_neighborhood_pairs

    rows = [
        (7, "smith"), (1, "smyth"), (4, "smith"), (9, "adams"),
        (2, "zhang"), (5, "adamson"), (3, "smitt"), (8, "zhang"),
    ]
    keyed = spark.createDataFrame(rows, "id long, snm_key string")
    got = sorted(
        tuple(r) for r in sorted_neighborhood_pairs(keyed, window=3).collect()
    )
    order = [i for i, _ in sorted(rows, key=lambda r: (r[1], r[0]))]
    exp = set()
    for p in range(len(order)):
        for q in range(p + 1, min(p + 3, len(order))):
            exp.add((min(order[p], order[q]), max(order[p], order[q])))
    assert got == sorted(exp)
    assert len(got) == 2 * len(rows) - 3  # (w-1)*n - (1+2) tail slots


def test_sorted_neighborhood_skewed_key_count(spark):
    """All-identical keys (worst skew): candidate count stays linear,
    exactly (w-1)·n - tail — never the quadratic block join."""
    from entity_matchers_spark.operators.blocking import sorted_neighborhood_pairs

    n, w = 400, 5
    keyed = spark.range(n).select(
        F.col("id"), F.lit("same").alias("snm_key")
    )
    cnt = sorted_neighborhood_pairs(keyed, window=w).count()
    assert cnt == (w - 1) * n - sum(range(1, w))


def test_phonetic_key_values(spark):
    from entity_matchers_spark.operators.blocking import phonetic_block_keys

    rows = [
        (1, "Smith"), (2, "Smyth"), (3, "smeeth"),   # same skeleton
        (4, "Jackson"), (5, "Jaxon"),                 # differ (ck vs x)
        (6, ""), (7, "   "), (8, "O'Neil"),
    ]
    df = spark.createDataFrame(rows, "id long, name string")
    got = {r["id"]: r["block_id"] for r in phonetic_block_keys(df).collect()}
    assert got[1] == got[2] == got[3] == "ph:smt"
    assert got[4] == "ph:jcksn" and got[5] == "ph:jxn"
    assert 6 not in got and 7 not in got
    assert got[8] == "ph:onl"


def test_meta_blocking_wep_and_cnp(spark):
    """CBS weights, integer-exact WEP mean cut, CNP per-node top-k union."""
    from entity_matchers_spark.operators.blocking import meta_blocking_prune

    # ids 1,2 share 3 blocks; 1,3 share 1; 2,3 share 1; 4 shares 1 with 1
    rows = [
        (1, "a"), (2, "a"), (1, "b"), (2, "b"), (1, "c"), (2, "c"),
        (3, "c"), (3, "d"), (4, "d"), (1, "e"), (4, "e"),
    ]
    blocks = spark.createDataFrame(rows, "id long, block_id string")
    wep = {(r.id_a, r.id_b): r.cbs
           for r in meta_blocking_prune(blocks, scheme="wep").collect()}
    # edges: (1,2):3, (1,3):1, (2,3):1, (3,4):1, (1,4):1  -> sum 7, e 5
    # keep cbs*5 >= 7  => cbs >= 1.4 => only (1,2)
    assert wep == {(1, 2): 3}
    cnp = {(r.id_a, r.id_b)
           for r in meta_blocking_prune(blocks, scheme="cnp", k=1).collect()}
    # k=1: node1->(1,2), node2->(1,2), node3->(1,3), node4->(1,4)
    assert cnp == {(1, 2), (1, 3), (1, 4)}
    # js of (1,2): cbs=3, nb1=4, nb2=3 -> 3/4
    js = {(r.id_a, r.id_b): r.js
          for r in meta_blocking_prune(blocks, scheme="cnp", k=1).collect()}
    assert js[(1, 2)] == 0.75


def test_hits_integer_path_counts(spark):
    """Unnormalized HITS == alternating-path counts; verified against a
    driver-side replay of the same update order."""
    from entity_matchers_spark.operators.graph import hits

    E = [("a", "c"), ("b", "c"), ("c", "d")]
    got = {r["node"]: (r["auth"], r["hub"])
           for r in hits(spark.createDataFrame(E, "src string, dst string"),
                         iterations=2).collect()}
    nodes = {n for e in E for n in e}
    auth = {n: 1 for n in nodes}
    hub = {n: 1 for n in nodes}
    for _ in range(2):
        auth = {n: sum(hub[u] for u, v in E if v == n) for n in nodes}
        hub = {n: sum(auth[v] for u, v in E if u == n) for n in nodes}
    assert got == {n: (auth[n], hub[n]) for n in nodes}


def test_kneser_ney_counts_hand_case(spark):
    from entity_matchers_spark.operators.text_analysis import kneser_ney_counts

    docs = spark.createDataFrame(
        [(0, "a b a b c"), (1, "b c")], "doc_id long, text string"
    )
    rows = {(r.w1, r.w2): r for r in
            kneser_ney_counts(docs, min_count=1).collect()}
    # bigrams: (a,b)x2 (b,a)x1 (b,c)x2 -> B=3 types
    r = rows[("a", "b")]
    assert (r.c12, r.c1, r.n_follow, r.n_prec) == (2, 2, 1, 1)
    d = 0.75
    assert r.pkn == round(max(2 - d, 0) / 2 + ((d * 1) / 2) * (1 / 3), 6)
    r = rows[("b", "c")]
    assert (r.c12, r.c1, r.n_follow, r.n_prec) == (2, 3, 2, 1)
    assert r.pkn == round(max(2 - d, 0) / 3 + ((d * 2) / 3) * (1 / 3), 6)


def test_stream_static_enrich_batch_parity(spark):
    from entity_matchers_spark.streaming.events import (
        stream_static_enrich,
        user_profile_dim,
    )

    ev = spark.createDataFrame(
        [(1, 10, "c", 5.0), (2, 10, "c", 9.0), (3, 20, "v", 1.0)],
        "event_id long, user_id long, event_type string, value double",
    )
    got = {r.event_id: (r.user_n, r.vmax, r.is_user_max)
           for r in stream_static_enrich(ev, user_profile_dim(ev)).collect()}
    assert got == {1: (2, 9.0, 0), 2: (2, 9.0, 1), 3: (1, 1.0, 1)}


def test_blocking_quality_rr_pc(spark):
    from entity_matchers_spark.operators.blocking import blocking_quality

    blocks = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "x"), (4, "y"), (5, "y")],
        "id long, block_id string",
    )
    gold = spark.createDataFrame(
        [(1, 2), (4, 5), (1, 4)], "id_a long, id_b long"
    )
    r = blocking_quality(blocks, gold, n_entities=5).collect()[0]
    # budget: C(3,2)+C(2,2)=3+1=4 of C(5,2)=10 total; covered: (1,2),(4,5)
    assert (r.n_cands, r.total_pairs, r.n_gold, r.n_covered) == (4, 10, 3, 2)
    assert r.reduction_ratio == round(1.0 - 4 / 10.0, 6)
    assert r.pairs_completeness == round(2 / 3.0, 6)


def test_stream_stream_attribution_parity(spark, tmp_path):
    """Two watermarked streams joined on user within the horizon must equal
    the batch range join — including a click just past the horizon (excluded)
    and one exactly at it (included: bound is <=)."""
    import datetime as dt

    from entity_matchers_spark.streaming.events import (
        run_two_stream_to_df,
        stream_stream_attribution,
    )
    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 1, 1)
    m = lambda k: t0 + dt.timedelta(minutes=k)
    rows = [
        (1, m(0), 10, "view", 0.0, ""),
        (2, m(5), 10, "click", 1.5, ""),   # in horizon
        (3, m(10), 10, "click", 2.5, ""),  # exactly at horizon -> included
        (4, m(11), 10, "click", 3.5, ""),  # past view-1 horizon, within view-6's
        (5, m(5), 20, "click", 4.5, ""),   # other user -> excluded
        (6, m(3), 10, "view", 0.0, ""),    # second view, pairs with 2, 3, 4
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    p = str(tmp_path / "ev.parquet")
    ev.coalesce(1).write.parquet(p)
    import os
    part = next(os.path.join(p, f) for f in os.listdir(p) if f.endswith(".parquet"))
    out = run_two_stream_to_df(
        spark, part,
        lambda a, b: stream_stream_attribution(
            a.where(F.col("event_type") == "view"),
            b.where(F.col("event_type") == "click"),
            horizon_minutes=10,
        ),
    )
    got = {(r.view_id, r.click_id) for r in out.collect()}
    assert got == {(1, 2), (1, 3), (6, 2), (6, 3), (6, 4)}
