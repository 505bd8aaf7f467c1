"""Unit tests for the function layer vs independent oracles (FIXTURES.md §4)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from entity_matchers_spark.functions.hashing import (
    MINHASH_PRIME,
    minhash_permutation_params,
)
from entity_matchers_spark.functions.shingles import gram_hashes, gram_sets, token_shingles, tokens
from entity_matchers_spark.functions.similarity import (
    _jaro_winkler_one,
    char_jaccard,
    cosine_similarity,
    jaccard_arrays,
    levenshtein_ratio,
    token_set_levenshtein_ratio,
)


def test_gram_builder_matches_md5_reference(spark):
    """The one char-gram builder: every position's md5 prefix in order, and
    each doc's distinct set in first-occurrence order, against pure-Python
    ``hashlib.md5``. Null, empty and too-short text give one null
    position row and an empty set; the cap applies before the grams; and
    grams are built over the lowercased text."""
    import hashlib

    def md5_prefix(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:8], 16)

    texts = {
        0: None, 1: "", 2: "ab", 3: "abc", 4: "aaaaa", 5: "abcdef",
        6: "XyZ xyz abcabc", 7: "abcdefghij" * 3,
    }
    cap = 12
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    hashes = gram_hashes(docs, "doc_id", "text", 3, cap).localCheckpoint()

    def ref_positions(t):
        t = (t or "")[:cap].lower()
        return [(i + 1, md5_prefix(t[i:i + 3])) for i in range(len(t) - 2)]

    got = {}
    for r in hashes.collect():
        got.setdefault(r["id"], []).append((r["i"], r["h"]))
    for doc_id, t in texts.items():
        want = ref_positions(t) or [(None, None)]
        assert sorted(got[doc_id], key=lambda p: p[0] or 0) == want, doc_id

    sets = {r["id"]: (r["grams"], r["sz"]) for r in gram_sets(hashes).collect()}
    for doc_id, t in texts.items():
        want = list(dict.fromkeys(h for _, h in ref_positions(t)))
        assert sets[doc_id] == (want, len(want)), doc_id
    assert sets[0] == sets[1] == sets[2] == ([], 0)
    assert sets[4][1] == 1  # "aaaaa": three positions, one distinct gram
    assert sets[5][0] == [md5_prefix(g) for g in ("abc", "bcd", "cde", "def")]
    assert sets[6][0][0] == md5_prefix("xyz")
    assert len(got[7]) == cap - 2  # text longer than the cap


def test_token_shingles_and_tokens(spark):
    df = spark.createDataFrame([("Hello  world foo",)], "s string")
    row = df.select(tokens("s").alias("t"), token_shingles("s", 2).alias("g")).first()
    assert row["t"] == ["hello", "world", "foo"]
    assert row["g"] == ["hello world", "world foo"]


def test_jaro_winkler_matches_duckdb_fuzz():
    import random

    random.seed(11037)
    vocab = "abcdefg "
    cases = [("martha", "marhta"), ("ab", "ba"), ("", ""), ("a", ""), ("x", "x")]
    for _ in range(1500):
        a = "".join(random.choice(vocab) for _ in range(random.randint(0, 14)))
        b = "".join(random.choice(vocab) for _ in range(random.randint(0, 14)))
        cases.append((a, b))
    con = duckdb.connect()
    con.register("t", pd.DataFrame(cases, columns=["a", "b"]))
    ref = con.sql("select jaro_winkler_similarity(a,b) v from t").df()["v"].to_numpy()
    for (a, b), expected in zip(cases, ref):
        assert _jaro_winkler_one(a, b) == expected, (a, b)


def test_levenshtein_ratio(spark):
    df = spark.createDataFrame([("kitten", "sitting"), ("", ""), ("abc", "abc")], "a string, b string")
    got = [r[0] for r in df.select(levenshtein_ratio("a", "b")).collect()]
    assert got[0] == 1 - 3 / 7
    assert got[1] == 1.0
    assert got[2] == 1.0


def test_token_set_levenshtein_order_insensitive(spark):
    df = spark.createDataFrame(
        [("world hello hello", "hello world"), ("a b c", "c b x")], "a string, b string"
    )
    got = [r[0] for r in df.select(token_set_levenshtein_ratio("a", "b")).collect()]
    assert got[0] == 1.0  # same token set after dedup+sort
    assert got[1] == pytest.approx(1 - 3 / 5)  # lev('a b c','b c x') = 3 substitutions


def test_jaccard_and_cosine(spark):
    df = spark.createDataFrame(
        [(["a", "b", "c"], ["b", "c", "d"], [1.0, 2.0], [2.0, 4.0])],
        "x array<string>, y array<string>, u array<double>, v array<double>",
    )
    row = df.select(
        jaccard_arrays(F.col("x"), F.col("y")).alias("j"),
        cosine_similarity(F.col("u"), F.col("v")).alias("c"),
    ).first()
    assert row["j"] == 0.5
    assert row["c"] == pytest.approx(1.0)
    empty = spark.createDataFrame([([], [])], "x array<string>, y array<string>")
    assert empty.select(jaccard_arrays(F.col("x"), F.col("y"))).first()[0] == 0.0


def test_char_jaccard_matches_duckdb(spark):
    cases = [("duck", "luck"), ("abc", "xyz"), ("aabb", "ab")]
    df = spark.createDataFrame(cases, "a string, b string")
    got = [r[0] for r in df.select(char_jaccard("a", "b")).collect()]
    con = duckdb.connect()
    con.register("t", pd.DataFrame(cases, columns=["a", "b"]))
    ref = [r[0] for r in con.sql("select jaccard(a,b) from t").fetchall()]
    assert got == ref


def test_minhash_signature_pure_python_oracle(spark):
    """Signature equals a from-first-principles Python reference."""
    import hashlib

    from entity_matchers_spark.operators.blocking import minhash_signatures

    text = "hello world foo"
    df = spark.createDataFrame([(1, text)], "id long, text string")
    row = minhash_signatures(df, "id", "text", num_perm=6).first()

    grams = sorted({text[i : i + 3] for i in range(len(text) - 2)})
    bases = [int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % MINHASH_PRIME for g in grams]
    params = minhash_permutation_params(6)
    for i, (a, b) in enumerate(params):
        expected = min((a * h + b) % MINHASH_PRIME for h in bases)
        assert row[f"s{i}"] == expected

    # empty text → sentinel
    empty = minhash_signatures(
        spark.createDataFrame([(2, "ab")], "id long, text string"), "id", "text", num_perm=3
    ).first()
    assert [empty[f"s{i}"] for i in range(3)] == [MINHASH_PRIME] * 3


def test_myers_levenshtein_equals_builtin(spark):
    """The bit-parallel Myers kernel must equal Spark's JVM levenshtein on
    arbitrary unicode strings (hypothesis) — it is a drop-in physical
    replacement inside levenshtein_ratio_fast, so any divergence is a
    correctness bug, not a tuning knob. Covers multi-block patterns
    (>64/>128 chars), carries, padding lanes and the swap-to-shorter."""
    from hypothesis import given, settings, strategies as st

    from entity_matchers_spark.functions.similarity import _myers_distance_batch

    text = st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)), max_size=150
    )
    long_text = st.text(alphabet=st.sampled_from("ab x"), min_size=60, max_size=200)

    # null parity: the fast ratio must be null-in -> null-out like the builtin
    from entity_matchers_spark.functions.similarity import (
        levenshtein_ratio,
        levenshtein_ratio_fast,
    )
    from pyspark.sql import functions as F

    nulls = spark.createDataFrame(
        [(None, "abc"), ("abc", None), (None, None), ("", ""), ("ab", "ba"),
         (None, ""), ("", None)],  # greatest() ignores nulls: mx=0 -> 1.0
        "a string, b string",
    )
    got_f = [r.r for r in nulls.select(levenshtein_ratio_fast("a", "b").alias("r")).collect()]
    got_n = [r.r for r in nulls.select(levenshtein_ratio("a", "b").alias("r")).collect()]
    assert got_f == got_n

    @settings(max_examples=40, deadline=None)
    @given(st.lists(st.tuples(text, text) | st.tuples(long_text, long_text),
                    min_size=1, max_size=30))
    def case(pairs):
        import pandas as pd

        a = pd.Series([p[0] for p in pairs])
        b = pd.Series([p[1] for p in pairs])
        got = list(_myers_distance_batch(a, b))
        df = spark.createDataFrame(list(pairs), "a string, b string")
        from pyspark.sql import functions as F

        want = [
            r.d for r in df.select(F.levenshtein("a", "b").alias("d")).collect()
        ]
        assert got == want

    case()


def test_jaro_winkler_vectorized_hypothesis():
    """Property: the numpy-vectorized batch JW is bit-identical to the
    scalar reference on arbitrary unicode-ish strings."""
    from hypothesis import given, settings, strategies as st
    import numpy as np
    import pandas as pd
    from entity_matchers_spark.functions.similarity import (
        _jaro_winkler_batch,
        _jaro_winkler_one,
    )

    text = st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF), max_size=80)

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.tuples(text, text), min_size=1, max_size=40))
    def check(batch):
        a = pd.Series([x for x, _ in batch])
        b = pd.Series([y for _, y in batch])
        got = _jaro_winkler_batch(a, b).to_numpy()
        exp = np.array([_jaro_winkler_one(x, y) for x, y in batch])
        assert (got == exp).all()

    check()


def test_jaccard_hashed_batch_null_safe():
    """Null arrays (from null text) must yield null, not crash the batch —
    and must not disturb neighboring rows."""
    import math

    import numpy as np
    import pandas as pd

    from entity_matchers_spark.functions.similarity import _jaccard_hashed_batch

    a = pd.Series([np.array([1, 2, 3]), None, np.array([], dtype=np.int64), None])
    b = pd.Series([np.array([2, 3, 4]), np.array([1, 2]), np.array([], dtype=np.int64), None])
    out = _jaccard_hashed_batch(a, b).tolist()
    assert out[0] == 0.5  # |{2,3}| / |{1,2,3,4}|
    assert math.isnan(out[1]) and math.isnan(out[3])
    assert out[2] == 0.0  # both empty -> defined 0.0, not null


def test_prefix_filter_full_recall(spark):
    """AllPairs/PPJoin prefix filtering must find EVERY pair with J >= t —
    compare against the brute-force all-pairs Jaccard on a corpus with
    planted near-dups, padding variety, and stop-gram-heavy rows."""
    from pyspark.sql import functions as F

    from entity_matchers_spark.functions.similarity import jaccard_arrays
    from entity_matchers_spark.operators.dedup import prefix_filtered_jaccard_pairs

    base = "the quick brown fox jumps over the lazy dog near the old stone bridge"
    rows = []
    for i in range(30):
        if i % 3 == 0:
            txt = base + f" variant {i}"          # near-dups of base
        elif i % 3 == 1:
            txt = f"completely different text number {i} with its own words"
        else:
            txt = "the the the the the " + str(i)  # stop-gram heavy
        rows.append((i, txt))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        (r["id_a"], r["id_b"])
        for r in prefix_filtered_jaccard_pairs(docs, threshold=0.5).collect()
    }
    g = gram_sets(gram_hashes(docs, "doc_id", "text"))
    a = g.select(F.col("id").alias("id_a"), F.col("grams").alias("ga"))
    b = g.select(F.col("id").alias("id_b"), F.col("grams").alias("gb"))
    brute = {
        (r["id_a"], r["id_b"])
        for r in a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("j", jaccard_arrays(F.col("ga"), F.col("gb")))
        .where(F.col("j") >= 0.5)
        .collect()
    }
    assert got == brute and len(brute) > 0


def test_bitmap_jaccard_matches_sorted_kernel():
    """The dense-bitmap popcount path and the sorted-array merge path must
    compute identical Jaccard values for any gram sets (hypothesis over
    random small-vocab sets)."""
    import numpy as np
    import pandas as pd
    from hypothesis import given, settings, strategies as st

    from entity_matchers_spark.functions.similarity import _jaccard_hashed_batch
    from entity_matchers_spark.operators.dedup import _bitmap_jaccard_udf

    bitmap_fn = _bitmap_jaccard_udf().func
    V = 96
    width_bytes = max(2, -(-V // 16) * 2)

    def to_bitmap(ids):
        bits = np.zeros(width_bytes * 8, dtype=np.uint8)
        if ids:
            bits[np.array(sorted(ids))] = 1
        return np.packbits(bits).tobytes()

    sets = st.sets(st.integers(min_value=0, max_value=V - 1), max_size=40)

    @settings(max_examples=150, deadline=None)
    @given(st.lists(st.tuples(sets, sets), min_size=1, max_size=20))
    def check(batch):
        a_sets = [sorted(a) for a, _ in batch]
        b_sets = [sorted(b) for _, b in batch]
        sorted_out = _jaccard_hashed_batch(
            pd.Series([np.array(a, dtype=np.int64) for a in a_sets]),
            pd.Series([np.array(b, dtype=np.int64) for b in b_sets]),
        ).to_numpy()
        bm_out = bitmap_fn(
            pd.Series([to_bitmap(a) for a, _ in batch]),
            pd.Series([to_bitmap(b) for _, b in batch]),
            pd.Series([len(a) for a in a_sets], dtype=np.int64),
            pd.Series([len(b) for b in b_sets], dtype=np.int64),
        ).to_numpy()
        assert (sorted_out == bm_out).all()

    check()


def test_prefix_filter_recall_at_integral_threshold(spark):
    """t=0.8 with gram-set sizes making t*sz exactly integral: IEEE noise
    (0.8*5 = 4.0000000000000004) must not shorten the prefix and drop a
    pair whose Jaccard is exactly the threshold (ADVICE r2)."""
    from pyspark.sql import functions as F

    from entity_matchers_spark.functions.similarity import jaccard_arrays
    from entity_matchers_spark.operators.dedup import prefix_filtered_jaccard_pairs

    # 7-char strings -> five 3-grams each; pairs sharing 4 of 6 distinct
    # grams have J = 4/6; engineered exact-threshold pairs below use
    # overlapping windows so J lands exactly on 0.8 for some pair sizes.
    rows = [
        (0, "abcdefg"),    # grams: abc bcd cde def efg  (sz=5)
        (1, "abcdefh"),    # shares abc bcd cde def -> J = 4/6
        (2, "abcdefg"),    # identical to 0 -> J = 1.0
        (3, "zabcdefg"),   # superset: 6 grams, shares all 5 -> J = 5/6
        (4, "qrstuvw"),
        (5, "qrstuvw"),    # identical -> J = 1.0
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.8, 0.75, 5.0 / 6.0):
        got = {
            (r["id_a"], r["id_b"])
            for r in prefix_filtered_jaccard_pairs(docs, threshold=t).collect()
        }
        g = gram_sets(gram_hashes(docs, "doc_id", "text"))
        a = g.select(F.col("id").alias("id_a"), F.col("grams").alias("gA"))
        b = g.select(F.col("id").alias("id_b"), F.col("grams").alias("gB"))
        brute = {
            (r["id_a"], r["id_b"])
            for r in a.crossJoin(b)
            .where(F.col("id_a") < F.col("id_b"))
            .withColumn("j", jaccard_arrays(F.col("gA"), F.col("gB")))
            .where(F.col("j") >= t)
            .collect()
        }
        assert got == brute, f"t={t}: {got} != {brute}"
        assert len(brute) > 0


def test_jaccard_verify_non_broadcast_path(spark):
    """broadcast_bytes_cap=0 forces the plain shuffled-join verify: results
    must be identical to the broadcast plan (the graceful-degrade path for
    corpora whose per-doc representation exceeds broadcast scale)."""
    from entity_matchers_spark.operators.dedup import prefix_filtered_jaccard_pairs

    rows = [(i, f"the quick brown fox number {i % 4}") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bcast = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in prefix_filtered_jaccard_pairs(docs, threshold=0.5).collect()
    }
    shuffled = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in prefix_filtered_jaccard_pairs(
            docs, threshold=0.5, broadcast_bytes_cap=0
        ).collect()
    }
    assert bcast == shuffled and len(bcast) > 0


def test_ivf_neardup_candidates_scale_linearly(spark):
    """The VERDICT-r2 scale criterion for embedding near-dup: candidate
    count must grow ~linearly with corpus size (fixed-plane LSH grew ∝ n²).
    embeddings: 500 vectors at sf0.01 → 2000 at sf0.1 (4×); the IVF route's
    candidates-per-vector must stay within a constant factor."""
    from entity_matchers_spark.operators.similarity_search import ivf_neardup_audit

    rows = {}
    for sf in ("sf0.01", "sf0.1"):
        emb = spark.read.parquet(f"/root/testdata/{sf}/embeddings.parquet")
        rows[sf] = ivf_neardup_audit(emb).collect()[0]
    n_ratio = rows["sf0.1"]["n_vectors"] / rows["sf0.01"]["n_vectors"]
    cand_ratio = rows["sf0.1"]["n_candidates"] / max(1, rows["sf0.01"]["n_candidates"])
    assert n_ratio == 4.0
    # linear: candidate growth tracks corpus growth (allow 2x constant-factor
    # drift from cell-size variance); quadratic would be n_ratio² = 16
    assert cand_ratio <= 2.0 * n_ratio, (rows["sf0.01"], rows["sf0.1"])
    # cells grow with the corpus (centroids are a stride sample)
    assert rows["sf0.1"]["n_cells"] > rows["sf0.01"]["n_cells"]


def test_semantic_dedup_keeps_least_typical_member(spark):
    """Hand-built geometry: ids 0 and 37 are centroids (stride 37). Vectors
    1 and 2 are near-copies of centroid 0 (pairwise cos > tau → one group);
    vector 3 is orthogonal-ish (its own group); the kept member of the dup
    group is the one with the LOWEST cosine to the centroid."""
    from entity_matchers_spark.operators.similarity_search import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0]),          # centroid of cell 0
        (37, [0.0, 1.0, 0.0]),         # centroid of cell 37
        (1, [1.0, 0.01, 0.0]),         # dup of 2, cos_c ≈ 0.99995
        (2, [1.0, 0.05, 0.0]),         # dup of 1, lower cos_c → keeper
        (3, [0.7, -0.7, 0.1]),         # same cell, not a dup of anything
        (38, [0.01, 1.0, 0.0]),        # cell 37, dup of the centroid itself
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.id: r for r in semantic_dedup(emb, tau=0.9, centroid_stride=37).collect()}
    assert len(out) == 6
    # 0,1,2 form one dup group (all pairwise cos > 0.9); 3 is a singleton
    g012 = {out[0].group_id, out[1].group_id, out[2].group_id}
    assert g012 == {0}
    assert out[3].group_id == 3 and out[3].keep == 1
    # keeper of {0,1,2}: lowest cos to centroid 0 → vector 2
    assert out[2].keep == 1 and out[0].keep == 0 and out[1].keep == 0
    # cell 37: centroid + 38 are mutual dups; keeper is the lower cos_c
    assert out[37].group_id == 37 and out[38].group_id == 37
    assert out[38].keep == 1 and out[37].keep == 0  # 38 less typical than 37 itself
    # exactly one keeper per group
    keeps = {}
    for r in out.values():
        keeps[r.group_id] = keeps.get(r.group_id, 0) + r.keep
    assert all(v == 1 for v in keeps.values())


def test_segment_dedup_semantics(spark):
    """Known shape: one shared 2-token boilerplate segment across two docs
    is removed everywhere; unique segments survive; a doc that is ALL
    boilerplate comes back with empty clean_text."""
    from entity_matchers_spark.operators.dedup import segment_dedup

    docs = spark.createDataFrame(
        [
            (1, "click here unique alpha beta"),   # segs: "click here", "unique alpha", "beta"
            (2, "click here other gamma delta"),   # segs: "click here", "other gamma", "delta"
            (3, "click here click here"),          # segs: "click here", "click here" -> all dup
            (4, "totally fresh content words x"),
        ],
        "doc_id long, text string",
    )
    out = {r.id: r for r in segment_dedup(docs, seg_tokens=2).collect()}
    assert out[1].clean_text == "unique alpha beta"
    assert (out[1].n_segments, out[1].n_removed) == (3, 1)
    assert out[2].clean_text == "other gamma delta"
    assert out[3].clean_text == ""
    assert (out[3].n_segments, out[3].n_removed) == (2, 2)
    assert out[4].clean_text == "totally fresh content words x"
    assert out[4].n_removed == 0


def test_neardup_resolve_transitive_keeper(spark):
    """A~B and B~C near-dups (A,C may fall below the threshold) must land in
    ONE cluster keeping only the min id; unrelated docs are kept singletons."""
    from entity_matchers_spark.operators.dedup import neardup_resolve

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [
            (10, base),
            (11, base + " x"),
            (12, base + " x y"),
            (20, "completely different content about spark shuffles and joins"),
        ],
        "doc_id long, text string",
    )
    out = {r.id: r for r in neardup_resolve(docs, threshold=0.7).collect()}
    assert len(out) == 4
    assert out[10].cluster_id == out[11].cluster_id == out[12].cluster_id == 10
    assert (out[10].keep, out[11].keep, out[12].keep) == (1, 0, 0)
    assert out[20].cluster_id == 20 and out[20].keep == 1


def test_contamination_flags(spark):
    """Docs sharing a 5-token gram with the benchmark are flagged with the
    DISTINCT shared-gram count; clean docs come back contaminated=0."""
    from entity_matchers_spark.operators.text_analysis import contamination_flags

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # shares grams "alpha beta gamma delta epsilon" AND "beta gamma delta epsilon zeta"
            (1, "x alpha beta gamma delta epsilon zeta y"),
            # shares exactly one 5-gram
            (2, "alpha beta gamma delta epsilon nothing else here"),
            (3, "no overlap with anything benchmark related at all"),
            (4, "short doc"),  # fewer than 5 tokens -> no grams
        ],
        "doc_id long, text string",
    )
    out = {r.id: r for r in contamination_flags(corpus, bench, n=5).collect()}
    assert len(out) == 4
    assert out[1].n_hits == 2 and out[1].contaminated == 1
    assert out[2].n_hits == 1 and out[2].contaminated == 1
    assert out[3].n_hits == 0 and out[3].contaminated == 0
    assert out[4].n_hits == 0 and out[4].contaminated == 0


def test_stratified_sample_deterministic_and_stratum_exact(spark):
    """Rate 1.0 keeps every row, rate 0.0 drops every row, partial rates
    keep a deterministic subset (same result on re-run), and the kept
    fraction lands near the rate."""
    from entity_matchers_spark.operators.sampling import stratified_sample

    rows = [(i, "en" if i % 2 == 0 else ("de" if i % 4 == 1 else "zh")) for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out1 = stratified_sample(df, {"en": 0.5, "de": 1.0, "zh": 0.0})
    got1 = sorted(r.doc_id for r in out1.collect())
    got2 = sorted(r.doc_id for r in stratified_sample(df, {"en": 0.5, "de": 1.0, "zh": 0.0}).collect())
    assert got1 == got2  # hash-uniform, not rand(): retry-stable
    by_lang = {r.lang: r.n for r in out1.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert by_lang.get("de") == 500  # rate 1.0: all 500 'de' rows
    assert "zh" not in by_lang  # rate 0.0: none
    assert 380 <= by_lang.get("en", 0) <= 620  # 1000 rows at rate .5


def test_epoch_upsample_copies_and_expectation(spark):
    """floor(e) copies always, frac(e) share gets one more; copy index is
    0-based and dense; e<1 downsamples."""
    from entity_matchers_spark.operators.sampling import epoch_upsample

    rows = [(i, "hi" if i < 1000 else "lo") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = epoch_upsample(df, {"hi": 2.5, "lo": 0.5})
    per_doc = {r.doc_id: r.n for r in out.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    hi_counts = [per_doc.get(i, 0) for i in range(1000)]
    lo_counts = [per_doc.get(i, 0) for i in range(1000, 2000)]
    assert set(hi_counts) <= {2, 3} and min(hi_counts) == 2  # floor=2 guaranteed
    assert set(lo_counts) <= {0, 1}
    assert 2300 <= sum(hi_counts) <= 2700  # E = 2.5 per doc
    assert 380 <= sum(lo_counts) <= 620  # E = 0.5 per doc
    # copy indices dense 0..n-1 per doc
    copies = out.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("copy")).alias("cs"), F.count("*").alias("n")
    )
    bad = copies.where(F.col("cs") != F.sequence(F.lit(0), F.col("n") - 1)).count()
    assert bad == 0


def test_domain_cap_bounds_and_determinism(spark):
    """Each key keeps at most k rows, keys under the cap keep everything,
    and the kept subset is identical across runs."""
    from entity_matchers_spark.operators.sampling import domain_cap

    rows = [(i, f"src{i % 3}") for i in range(30)] + [(100, "tiny")]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out1 = sorted(r.doc_id for r in domain_cap(df, 4).collect())
    out2 = sorted(r.doc_id for r in domain_cap(df, 4).collect())
    assert out1 == out2
    sizes = {r.source: r.n for r in domain_cap(df, 4).groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert sizes == {"src0": 4, "src1": 4, "src2": 4, "tiny": 1}


def test_remove_dup_passages_keeps_first_occurrence(spark):
    """The globally-first occurrence of a duplicated n-gram survives; every
    other occurrence's covered tokens are cut; unique docs pass through;
    sub-n docs have no grams and are untouched."""
    from entity_matchers_spark.operators.text_analysis import remove_dup_passages

    span = "a b c d e"  # 5 tokens, n=5: exactly one window per occurrence
    docs = spark.createDataFrame(
        [
            (1, f"{span} tail1 tail2"),        # keeper (min doc_id, start=1)
            (2, f"head1 head2 {span} done"),   # dup: tokens 3..7 removed
            (3, "unique words only in this document right here"),
            (4, "too short"),
            (5, f"{span} middle {span}"),      # self-dup: 2nd occurrence cut
        ],
        "doc_id long, text string",
    )
    out = {r.id: r for r in remove_dup_passages(docs, n=5).collect()}
    assert out[1].n_removed == 0 and out[1].clean_text == "a b c d e tail1 tail2"
    assert out[2].n_removed == 5 and out[2].clean_text == "head1 head2 done"
    assert out[3].n_removed == 0
    assert out[4].n_tokens == 2 and out[4].n_removed == 0
    # doc 5: doc 1 holds the global keeper occurrence, so BOTH doc-5
    # occurrences are non-keeper and removed
    assert out[5].clean_text == "middle"
    assert out[5].n_removed == 10


def test_dsir_weights_rank_target_like_docs_higher(spark):
    """Raw docs written in the target's vocabulary get higher importance
    weights than off-distribution docs; weights are deterministic; Gumbel
    top-k resample returns exactly k rows biased toward high logw."""
    from entity_matchers_spark.operators.sampling import dsir_resample, dsir_weights

    target = spark.createDataFrame(
        [(100 + i, "the quick brown fox jumps over the lazy dog") for i in range(8)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [(0, "quick brown fox and lazy dog again"),
         (1, "the quick brown fox jumps high"),
         (2, "zzz qqq www unrelated noise tokens xxx yyy"),
         (3, "completely different vocabulary about spaceships and quasars"),
         (4, "")],
        "doc_id long, text string",
    )
    w = {r.id: r.logw for r in dsir_weights(raw, target, buckets=256).collect()}
    assert len(w) == 5
    assert w[0] > w[2] and w[0] > w[3]  # fox-y docs look like the target
    assert w[1] > w[2] and w[1] > w[3]
    assert w[4] == 0.0  # empty doc: no features, weight 0 by convention
    w2 = {r.id: r.logw for r in dsir_weights(raw, target, buckets=256).collect()}
    assert w == w2  # deterministic (no rand() anywhere)
    sel = dsir_resample(raw, target, k=2, buckets=256).collect()
    assert len(sel) == 2
    assert {r.id for r in sel} <= {0, 1, 2, 3, 4}
    # expected: the two target-like docs dominate the Gumbel keys here
    assert {r.id for r in sel} == {0, 1}


def test_dup_passage_stats_shared_span(spark):
    """Docs sharing a >=n-token span score dup_frac > 0 on exactly the
    shared grams; a unique doc scores 0; a too-short doc scores 0 over 0."""
    from entity_matchers_spark.operators.text_analysis import dup_passage_stats

    span = "one two three four five"
    docs = spark.createDataFrame(
        [
            (1, f"{span} alpha beta"),
            (2, f"prefix words here {span}"),
            (3, "totally different text with no shared spans at all ok"),
            (4, "short"),
        ],
        "doc_id long, text string",
    )
    out = {r.id: r for r in dup_passage_stats(docs, n=5).collect()}
    assert out[1].dup_frac > 0 and out[2].dup_frac > 0
    assert out[3].dup_frac == 0.0 and out[3].n_grams > 0
    assert out[4].n_grams == 0 and out[4].dup_frac == 0.0
    # doc1: grams = 3 ("one..five","two..alpha","three..beta"); only the first is shared
    assert abs(out[1].dup_frac - 1 / 3) < 1e-9


def test_temperature_mix_hand_check(spark):
    """Targets = budget * sqrt(n_s)*1e6 // sum, integer-exact; copies =
    target//n guaranteed plus hash-uniform fractional extras; per-source
    copies sum within [floor, ceil] expectation bounds."""
    import hashlib
    import math

    from entity_matchers_spark.operators.sampling import temperature_mix

    rows = [(i, "big") for i in range(90)] + [(90 + i, "small") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = {r["id"]: r for r in temperature_mix(df, budget=100).collect()}

    s_big, s_small = round(math.sqrt(90) * 1e6), round(math.sqrt(10) * 1e6)
    tot = s_big + s_small
    t_big, t_small = 100 * s_big // tot, 100 * s_small // tot

    def u(i):
        return int(hashlib.md5(f"tmix:{i}".encode()).hexdigest()[:8], 16) / 2**32

    for i, src in rows:
        n, t = (90, t_big) if src == "big" else (10, t_small)
        want = t // n + int(u(i) < (t % n) / n)
        assert out[i]["copies"] == want, (i, src)
    # temperature 0.5 upsamples the small source, downsamples the big one
    assert t_small > 10 and t_big < 90
    assert sum(out[i]["copies"] for i in range(90, 100)) >= t_small // 10 * 10


def test_temperature_mix_targets_partition_budget(spark):
    """Sum of per-source targets never exceeds the budget (integer floor)."""
    from entity_matchers_spark.operators.sampling import temperature_mix

    rows = [(i, f"s{i % 7}") for i in range(70)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = temperature_mix(df, budget=35).collect()
    # 7 equal sources -> equal targets of 5 each, exactly 35 expected copies
    assert sum(r["copies"] for r in out) <= 35 + 7  # frac extras bounded by 1/src


def test_prefix_jaccard_exact_threshold_boundary(spark):
    """A pair whose Jaccard equals the threshold EXACTLY with t*|d|
    integral must be returned: both the prefix length and the length
    filter carry epsilon guards because t*sz can round up past an
    exactly-integral product and silently drop the boundary pair.
    grams('abcdefghijkl') = 10 distinct 3-grams, grams('abcdefghi') = 7,
    a strict subset -> J = 7/10 = 0.7 at threshold 0.7."""
    from entity_matchers_spark.operators.dedup import prefix_filtered_jaccard_pairs

    docs = spark.createDataFrame(
        [(1, "abcdefghijkl"), (2, "abcdefghi")], "doc_id long, text string"
    )
    got = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in prefix_filtered_jaccard_pairs(docs, n=3, threshold=0.7).collect()
    }
    assert got == {(1, 2, 0.7)}
