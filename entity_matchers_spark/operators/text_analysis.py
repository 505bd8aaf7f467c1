"""Text analysis operators: language ID, quality scoring, token stats,
document fingerprinting — the per-document featurization a training-data
pipeline runs before dedup/filtering.

All native column expressions (whole-stage codegen); no Python in the path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from entity_matchers_spark.functions.hashing import MINHASH_PRIME
from entity_matchers_spark.functions.shingles import gram_hashes, tokens

# Tiny deterministic stopword marker sets per language — an n-gram/stopword
# heuristic language identifier (fasttext-style lid is a model; this is the
# rule-based fallback that needs no artifacts).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that"),
    "fr": ("le", "la", "les", "de", "et", "un", "une", "est"),
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "nicht"),
    "es": ("el", "la", "los", "de", "y", "un", "una", "es"),
}


def _marker_ratio(toks: Column, markers: tuple[str, ...]) -> Column:
    hits = F.size(F.filter(toks, lambda t: t.isin(*markers)))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        hits / F.size(toks).cast("double")
    )


def language_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, score_<lang>..., lang_pred): stopword-marker ratios per language
    and the argmax (ties broken by language code order, deterministic)."""
    toks = tokens(F.col(text_col))
    out = df.select(F.col(id_col).alias("id"), toks.alias("_t"))
    for lang, markers in LANG_MARKERS.items():
        out = out.withColumn(f"score_{lang}", _marker_ratio(F.col("_t"), markers))
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.lit("und")
    for lang in reversed(langs):
        pred = F.when(F.col(f"score_{lang}") == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best == 0, F.lit("und")).otherwise(pred)
    return out.withColumn("lang_pred", pred).drop("_t")


def quality_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc quality signals: char/token counts, mean token length,
    punctuation ratio, stopword ratio, alpha ratio — the usual C4/Gopher-rule
    inputs, all computable in one projection."""
    t = F.col(text_col)
    toks = tokens(t)
    n_chars = F.length(t)
    n_tokens = F.size(toks)
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    n_alpha = F.length(t) - F.length(F.regexp_replace(t, r"[^a-zA-Z]", ""))
    stop = _marker_ratio(toks, LANG_MARKERS["en"])
    return df.select(
        F.col(id_col).alias("id"),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.when(n_tokens == 0, F.lit(0.0))
        .otherwise((n_chars - n_tokens + 1) / n_tokens.cast("double"))
        .alias("mean_token_len"),
        F.when(n_chars == 0, F.lit(0.0)).otherwise(n_punct / n_chars.cast("double")).alias("punct_ratio"),
        F.when(n_chars == 0, F.lit(0.0)).otherwise(n_alpha / n_chars.cast("double")).alias("alpha_ratio"),
        stop.alias("stopword_ratio"),
    )


def token_counts(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, n_ws_tokens, n_bpe_ish_tokens): whitespace tokens plus a
    BPE-ish count = number of matches of a subword regex (letter runs,
    digit runs, single punctuation) — a deterministic proxy for tokenizer
    budgeting without shipping a vocab."""
    t = F.col(text_col)
    ws = F.size(tokens(t))
    # pieces = alnum runs + individual non-space punctuation chars (RE2-safe
    # pattern, so the same regex runs in any oracle engine)
    pieces = F.size(F.regexp_extract_all(t, F.lit(r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]"), 0))
    return df.select(F.col(id_col).alias("id"), ws.alias("n_ws_tokens"), pieces.alias("n_pieces"))


def fingerprint_mink(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, fp): bottom-k sketch fingerprint — the k smallest md5-derived
    hashes of the doc's char shingles, concatenated. A compact, deterministic
    document fingerprint (rolling-hash winnowing analog) whose equality ≈
    near-identity; groupBy(fp) is an aggressive near-dedup."""
    h = F.col("h") % MINHASH_PRIME
    bottom = (
        gram_hashes(df, id_col, text_col, shingle_n)
        .groupBy("id")
        .agg(F.slice(F.sort_array(F.collect_set(h)), 1, k).alias("mins"))
    )
    # a doc without shingles has only a null h: collect_set skips it, and
    # concat_ws over the empty mins array gives its fp ""
    return bottom.select("id", F.concat_ws("-", F.col("mins").cast("array<string>")).alias("fp"))


def _max_token_multiplicity(toks: Column) -> Column:
    """Max multiplicity of any token = longest equal-run in the sorted
    array — a per-row native expression (sort_array + aggregate), never an
    explode/groupBy: a per-document statistic must not cost a full-corpus
    token shuffle at 10^12 docs."""
    acc0 = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )
    return F.aggregate(
        F.sort_array(toks),
        acc0,
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )


def repetition_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition signals per doc:

    - ``top_token_share``: mass of the single most frequent token — the
      "fraction of characters in most common word" family of rules;
    - ``dup_bigram_frac``: 1 − |distinct bigrams| / |bigrams| — the
      duplicated-n-gram fraction rules.

    Both are pure per-row native expressions — the per-doc max token count
    is a run-length scan over the SORTED token array (sort_array +
    aggregate), not an explode/groupBy: a per-document statistic must not
    cost a full-corpus token shuffle at 10^12 docs. A doc with fewer tokens
    than the n-gram width scores 0.0 on that signal.
    """
    from entity_matchers_spark.functions.shingles import tokens

    t = F.col(text_col)
    toks = tokens(t)
    # zipped struct pairs instead of joined strings — same distinct counts
    # (tokens are whitespace-free), no interpreted per-element slice; see
    # the identical device in gopher_filter
    bigrams = F.arrays_zip(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
    )
    max_count = _max_token_multiplicity(toks)
    return df.select(
        F.col(id_col).alias("id"),
        F.size(toks).alias("n_tokens"),
        F.when(F.size(toks) <= 0, F.lit(0.0))
        .otherwise(max_count / F.size(toks).cast("double"))
        .alias("top_token_share"),
        F.when(F.size(bigrams) <= 0, F.lit(0.0))
        .otherwise(
            1.0 - F.size(F.array_distinct(bigrams)) / F.size(bigrams).cast("double")
        )
        .alias("dup_bigram_frac"),
    )


def contamination_flags(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing any token
    ``n``-gram with a held-out benchmark set (the GPT-3/PaLM-style 13-gram
    overlap check, scaled down to the synthetic corpus's short docs).

    ``benchmark`` is a DataFrame with the same ``text_col``. Returns one row
    per corpus doc: (id, n_hits = count of DISTINCT shared n-grams,
    contaminated ∈ {0,1}).

    Scale shape: benchmark suites are tiny (thousands of docs) next to a
    100 TB corpus, so their distinct gram set is broadcast — the corpus side
    is one map-side shingle + explode, one broadcast-hash semi-join, one
    groupBy(id) count; nothing pairwise, no corpus-side shuffle besides the
    final per-doc count. Grams travel as 32-bit md5-derived ints (engine-
    reproducible, 4x smaller than strings). Reference analog: the train/test
    leak guard in the reference's split handling
    (/root/reference/src/experiments/dataset_division.py) lifted from id
    space to content space.
    """
    from entity_matchers_spark.functions.shingles import token_shingles

    def hashed_grams(c):
        return F.array_distinct(
            F.transform(
                token_shingles(c, n=n),
                lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long"),
            )
        )

    bench_grams = (
        benchmark.select(F.explode(hashed_grams(F.col(text_col))).alias("g")).distinct()
    )
    doc_grams = df.select(
        F.col(id_col).alias("id"), F.explode(hashed_grams(F.col(text_col))).alias("g")
    )
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "g")
        .groupBy("id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(hits, "id", "left")
        .select(
            "id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).cast("int").alias("contaminated"),
        )
    )


def remove_dup_passages(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """Exact duplicated-passage REMOVAL (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — the rewrite counterpart
    of ``dup_passage_stats``): every corpus-duplicated token ``n``-gram
    occurrence is removed except its globally-first occurrence (keeper =
    min (doc_id, start) per gram), and the doc is re-emitted without the
    covered tokens.

    Returns (id, n_tokens, n_removed, clean_text) where ``clean_text`` is
    the normalized (lowercased, single-space) token stream minus removed
    spans — normalization is inherent to token-level dedup; the original
    byte stream stays in the source table.

    Scale shape: one posexplode to gram occurrences (hashed to longs
    map-side), one groupBy(gram) for (count, keeper), one join back, one
    collect_list(start) per doc — all bounded equi-shuffles, nothing
    pairwise. The final rewrite is a pure per-row expression: token j is
    kept iff no removable start s satisfies s <= j < s+n (O(tokens ×
    removable-spans) per doc, spans are few for real docs). Keeper choice
    is deterministic, so retries and both engines agree.
    """
    from entity_matchers_spark.functions.shingles import tokens

    docs = df.select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("ts"))
    grams = F.when(
        F.size("ts") < n, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size("ts") - n + 1),
            lambda i: F.concat_ws(" ", F.slice("ts", i, n)),
        )
    )
    occ = docs.select(
        "id", F.posexplode(grams).alias("p0", "gram")
    ).select(
        "id",
        (F.col("p0") + 1).alias("s"),
        F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10).cast("long").alias("g"),
    )
    keepers = occ.groupBy("g").agg(
        F.count("*").alias("c"),
        F.min(F.struct(F.col("id").alias("d"), F.col("s").alias("p"))).alias("kp"),
    )
    removable = (
        occ.join(keepers, "g")
        .where(
            (F.col("c") >= 2)
            & ~((F.col("id") == F.col("kp.d")) & (F.col("s") == F.col("kp.p")))
        )
        .select("id", "s")
    )
    starts = removable.groupBy("id").agg(F.sort_array(F.collect_list("s")).alias("starts"))
    joined = docs.join(starts, "id", "left").select(
        "id", "ts", F.coalesce("starts", F.array().cast("array<int>")).alias("starts")
    )
    # sequence(1, 0) counts DOWN in Spark — guard the empty-token case.
    idx = F.when(F.size("ts") == 0, F.array().cast("array<int>")).otherwise(
        F.sequence(F.lit(1), F.size("ts"))
    )
    kept_idx = F.filter(
        idx, lambda j: ~F.exists("starts", lambda s: (s <= j) & (j < s + n))
    )
    kept = F.transform(kept_idx, lambda j: F.element_at("ts", j))
    return joined.select(
        "id",
        F.size("ts").alias("n_tokens"),
        (F.size("ts") - F.size(kept)).alias("n_removed"),
        F.array_join(kept, " ").alias("clean_text"),
    )


def dup_passage_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """Corpus-internal duplicated-passage fraction per doc: the share of a
    doc's DISTINCT token n-grams that occur in at least one other doc
    (RefinedWeb/MassiveText-style exact-substring signal at n=13 tokens;
    distinct from ``contamination_flags``, which checks overlap against a
    held-out benchmark rather than within the corpus).

    Shape: grams are md5-hashed to longs map-side (shrinks the shuffle ~4x
    vs strings), one explode -> groupBy(gram) document-frequency, one join
    back, one per-doc aggregate — every stage is a bounded equi-shuffle.
    Docs with fewer than ``n`` tokens have no grams and score 0.0 over 0.
    """
    from entity_matchers_spark.functions.shingles import token_shingles

    gram_long = F.transform(
        token_shingles(F.col(text_col), n=n),
        lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long"),
    )
    grams = df.select(F.col(id_col).alias("id"), F.explode(gram_long).alias("g")).distinct()
    # document frequency per gram; a gram is "duplicated" iff df >= 2.
    gdf = grams.groupBy("g").agg(F.count("*").alias("df"))
    per_doc = (
        grams.join(gdf, "g")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum((F.col("df") >= 2).cast("int")).alias("n_dup"),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(per_doc, "id", "left")
        .select(
            "id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.when(F.coalesce(F.col("n_grams"), F.lit(0)) <= 0, F.lit(0.0))
            .otherwise(F.col("n_dup") / F.col("n_grams").cast("double"))
            .alias("dup_frac"),
        )
    )


def corpus_rollup(
    df: DataFrame,
    dims: tuple[str, str] = ("lang", "source"),
    text_col: str = "text",
    all_label: str = "(all)",
) -> DataFrame:
    """Dataset-card rollup: corpus statistics at every grain of
    ``ROLLUP(dims)`` — per (lang, source), per lang, and grand total in ONE
    aggregation pass. The summary table every corpus release ships ("N docs,
    M tokens per language/source"), and the repo's multi-dimensional
    aggregate surface (Spark ``rollup``/grouping sets; the oracle replays it
    with ``GROUP BY ROLLUP``).

    Emits ``(d1, d2, n_docs, total_tokens, avg_chars, median_chars,
    max_chars)`` with rolled-up dimension values shown as ``all_label``
    (the fixture dims are non-null, so the label is unambiguous).

    Scale shape: ``rollup`` is ONE shuffle with map-side partial
    aggregation — Spark expands the grouping sets before the exchange, so
    the cost is (#grains)× the map-side combine, never multiple passes over
    the corpus. ``median_chars`` is the exact interpolated percentile; at
    10^12 docs per-group sorting is the cost driver, and the swap to
    ``approx_percentile`` is a one-line degrade the docstring owns rather
    than hides. Reference analog: the per-fold mean/std result aggregation
    (/root/reference/src/run_experiment.py:10-53) — corpus-level summary
    stats as a first-class output table.
    """
    d1, d2 = dims
    base = df.select(
        F.col(d1).alias("_d1"),
        F.col(d2).alias("_d2"),
        F.size(tokens(F.col(text_col))).cast("long").alias("_ntok"),
        F.length(text_col).cast("long").alias("_nchr"),
    )
    return (
        base.rollup("_d1", "_d2")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_ntok").alias("total_tokens"),
            F.round(F.avg("_nchr"), 6).alias("avg_chars"),
            F.round(F.percentile("_nchr", F.lit(0.5)), 6).alias("median_chars"),
            F.max("_nchr").alias("max_chars"),
        )
        .select(
            F.coalesce("_d1", F.lit(all_label)).alias(d1),
            F.coalesce("_d2", F.lit(all_label)).alias(d2),
            "n_docs", "total_tokens", "avg_chars", "median_chars", "max_chars",
        )
    )


def bpe_merge_counts(
    df: DataFrame, text_col: str = "text", top_n: int = 20
) -> DataFrame:
    """(rank, pair, cnt): the corpus-wide adjacent-pair frequency table —
    ONE merge-selection step of BPE tokenizer training (Sennrich et al.
    2016) run distributed over the whole corpus, returning the ``top_n``
    most frequent adjacent token pairs (the next merges a BPE trainer
    would pick). Whitespace tokens stand in for the byte/character units;
    full training iterates this count + re-segment loop driver-side.

    Plan shape: adjacent pairs come from zip_with over two slices of the
    token array (pure native expressions, stays in codegen), one explode,
    one partial-agg'd groupBy. The final top-n window runs over the
    AGGREGATED pair table (vocab²-bounded, Zipf-distributed — tiny next to
    the corpus), not over token instances; ties rank lexicographically so
    the result is deterministic.
    """
    ts = tokens(F.col(text_col))
    pairs = F.when(
        F.size(ts) >= 2,
        F.zip_with(
            F.slice(ts, 1, F.size(ts) - 1),
            F.slice(ts, 2, F.size(ts) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    cnt = (
        df.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("pair"))
    return (
        cnt.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_n)
        .select("rank", "pair", "cnt")
    )


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 7,
    w: int = 8,
) -> DataFrame:
    """(id, pos, fp): winnowing document fingerprints (Schleimer et al.
    2003 — the MOSS scheme): hash every character ``k``-gram, slide a
    ``w``-wide window over the hash sequence, keep each window's minimum
    (RIGHTMOST position on ties, the paper's robust-winnowing rule), and
    deduplicate. Guarantees every ``w+k-1``-char match between two docs
    shares a fingerprint, at expected density 2/(w+1) — the positional
    complement of :func:`fingerprint_mink`'s bottom-k sketch.

    Plan shape: the gram positions of ``shingles.gram_hashes`` → one
    window min over each doc's hash sequence (partitioned BY DOC — per-doc
    sequences are KB-bounded, so the sort never sees corpus-scale data)
    → one distinct. Docs with fewer than ``w`` grams emit the min of what
    they have (one window).
    All integers end to end — engine-exact.
    """
    g = (
        gram_hashes(df, id_col, text_col, k)
        .where(F.col("i").isNotNull())
        .select("id", (F.col("i") - 1).alias("pos"), "h")
    )

    # Rightmost-min per window in ONE window aggregate: min over the
    # struct (h, -pos) is lexicographic, so it picks the smallest hash and,
    # among ties, the largest position — the robust-winnowing rule — with
    # no join back to the gram rows (the previous equi-join shape was a
    # second shuffle over the full gram table).
    wspec = Window.partitionBy("id").orderBy("pos").rowsBetween(0, w - 1)
    whole = Window.partitionBy("id")
    wins = g.select(
        "id",
        F.col("pos").alias("start"),
        F.min(F.struct(F.col("h").alias("h"), (-F.col("pos")).alias("np")))
        .over(wspec)
        .alias("m"),
        F.count("*").over(whole).alias("n_grams"),
    ).where(
        (F.col("start") <= F.col("n_grams") - w)
        | ((F.col("n_grams") < w) & (F.col("start") == 0))
    )
    return wins.select(
        "id", (-F.col("m.np")).alias("pos"), F.col("m.h").alias("fp")
    ).distinct()


def gopher_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 25,
    max_tokens: int = 100_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    max_top_share: float = 0.12,
    max_dup_bigrams: float = 0.05,
) -> DataFrame:
    """(id, n_tokens, fail_*, keep): the Gopher/C4 rule-based quality
    filter (Rae et al. 2021 §A1.1) as a single decision pass with
    PER-RULE PROVENANCE — each rule emits its own 0/1 ``fail_`` flag so a
    pipeline can report *why* documents were dropped, not just how many:

    - ``fail_tokens``: token count outside [min_tokens, max_tokens];
    - ``fail_mean_len``: mean token length outside [min_mean_len,
      max_mean_len] (Gopher: 3..10);
    - ``fail_stop``: no stop words at all (Gopher's "≥ 2 stop words"
      English-evidence rule, scaled to the tiny marker set);
    - ``fail_rep_token``: top-token mass > max_top_share;
    - ``fail_rep_bigram``: duplicate-bigram fraction > max_dup_bigrams;
    - ``keep`` = 1 iff every rule passes.

    All signals are computed in ONE whole-stage-codegen projection
    (array expressions per row — no explode, no join, no shuffle): the
    filter runs at scan speed on 10^12 docs. Thresholds compare doubles
    derived from per-doc integers, so decisions are engine-exact.
    """
    from entity_matchers_spark.functions.shingles import token_shingles, tokens

    t = F.col(text_col)
    toks = tokens(t)
    n = F.size(toks)
    n_chars = F.length(t)
    mean_len = F.when(n == 0, F.lit(0.0)).otherwise(
        (n_chars - n + 1) / n.cast("double")
    )
    # bigrams as zipped (w1, w2) struct pairs, NOT joined strings: the
    # string form needs an interpreted transform-lambda with an O(n) slice
    # per element (measured 3.6 s alone at sf0.1 vs ~0.2 s for this shape);
    # tokens contain no whitespace, so struct-distinct counts equal
    # joined-string-distinct counts exactly.
    bigrams = F.arrays_zip(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
    )
    top_share = F.when(n <= 0, F.lit(0.0)).otherwise(
        _max_token_multiplicity(toks) / n.cast("double")
    )
    dup_frac = F.when(F.size(bigrams) <= 0, F.lit(0.0)).otherwise(
        1.0 - F.size(F.array_distinct(bigrams)) / F.size(bigrams).cast("double")
    )
    stop = _marker_ratio(toks, LANG_MARKERS["en"])

    fail_tokens = ((n < min_tokens) | (n > max_tokens)).cast("int")
    fail_mean_len = ((mean_len < min_mean_len) | (mean_len > max_mean_len)).cast("int")
    fail_stop = (stop == 0.0).cast("int")
    fail_rep_token = (top_share > max_top_share).cast("int")
    fail_rep_bigram = (dup_frac > max_dup_bigrams).cast("int")
    keep = (
        (fail_tokens == 0)
        & (fail_mean_len == 0)
        & (fail_stop == 0)
        & (fail_rep_token == 0)
        & (fail_rep_bigram == 0)
    ).cast("int")
    return df.select(
        F.col(id_col).alias("id"),
        n.alias("n_tokens"),
        fail_tokens.alias("fail_tokens"),
        fail_mean_len.alias("fail_mean_len"),
        fail_stop.alias("fail_stop"),
        fail_rep_token.alias("fail_rep_token"),
        fail_rep_bigram.alias("fail_rep_bigram"),
        keep.alias("keep"),
    )


def kneser_ney_counts(
    df: DataFrame,
    text_col: str = "text",
    discount: float = 0.75,
    min_count: int = 3,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram statistics over the corpus — the
    count tables an n-gram LM trainer materializes (Kneser & Ney 1995;
    the CCNet/DSIR-style hashed LMs in ``web.py``/``sampling.py`` are the
    scoring-side consumers of exactly these tables):

    ``(w1, w2, c12, c1, n_follow, n_prec, pkn)`` where ``c12`` is the
    bigram count, ``c1`` the left-unigram's total bigram mass,
    ``n_follow`` = |{w : c(w1, w) > 0}| (the escape weight's type count),
    ``n_prec`` = |{w : c(w, w2) > 0}| (the continuation count — KN's
    signature: "how many contexts has w2 followed"), and

        pkn = max(c12 - D, 0)/c1 + (D·n_follow/c1) · (n_prec/B)

    with B = total distinct bigram types. Every input to ``pkn`` is an
    exact integer and the float expression tree is written identically in
    the oracle, so the 6-dp values agree bit-for-bit.

    Rows with ``c12 < min_count`` are filtered AFTER aggregation (their
    mass still shapes c1/n_follow/B) to bound the emitted table — the
    standard count-cutoff in n-gram LM toolkits.

    Scale shape: one explode + three partially-aggregated groupBys (pair,
    left unigram, right unigram) and a 1-row broadcast for B. The pair
    table is vocab²-bounded and Zipf-thin — nothing rescans the corpus.
    """
    ts = tokens(F.col(text_col))
    pairs = F.when(
        F.size(ts) >= 2,
        F.zip_with(
            F.slice(ts, 1, F.size(ts) - 1),
            F.slice(ts, 2, F.size(ts) - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    big = (
        df.select(F.explode(pairs).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
    )
    left = big.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count("*").alias("n_follow")
    )
    right = big.groupBy("w2").agg(F.count("*").alias("n_prec"))
    total = big.agg(F.count("*").alias("nb"))
    d = F.lit(float(discount))
    return (
        big.join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "pkn",
            F.round(
                F.greatest(F.col("c12") - d, F.lit(0.0)) / F.col("c1")
                + ((d * F.col("n_follow")) / F.col("c1"))
                * (F.col("n_prec") / F.col("nb")),
                6,
            ),
        )
        .where(F.col("c12") >= min_count)
        .select("w1", "w2", "c12", "c1", "n_follow", "n_prec", "pkn")
    )


def corpus_percentiles(
    docs: DataFrame,
    group_col: str = "lang",
    value_col: str = "n_chars",
    ps: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9, 0.99),
) -> DataFrame:
    """(group, p, value, n): EXACT per-group percentiles of ``value_col``
    (linear interpolation, the quantile_cont contract — Spark's
    ``percentile`` matches DuckDB bit-for-bit on BIGINT inputs) plus the
    group row count — the distribution-drift monitoring table a curation
    pipeline emits per snapshot next to its counts.

    Scale shape: ``percentile`` is an exact sort-buffer aggregate — per
    GROUP state is O(group size), which is fine for the monitoring grain
    (languages, sources, snapshot dates: few groups, each reduced on one
    task after map-side combine is unavailable). For percentiles over a
    HIGH-CARDINALITY grain or where a single group is the whole corpus,
    swap ``percentile`` for ``approx_percentile`` (t-digest, mergeable,
    bounded memory) and give up oracle-exactness — the trade is documented
    here rather than silently made.
    """
    p_arr = "array(" + ",".join(repr(p) for p in ps) + ")"
    agg = docs.groupBy(F.col(group_col).alias("grp")).agg(
        F.expr(f"percentile({value_col}, {p_arr})").alias("vals"),
        F.count("*").alias("n"),
    )
    pos = F.array(*[F.lit(float(p)) for p in ps])
    return (
        agg.select("grp", "n", F.explode(F.arrays_zip(pos.alias("p"), F.col("vals").alias("value"))).alias("z"))
        .select(
            "grp",
            F.col("z.p").alias("p"),
            F.round(F.col("z.value"), 6).alias("value"),
            "n",
        )
    )
