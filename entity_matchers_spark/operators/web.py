"""Web-corpus operators: URL canonicalization, PII scrubbing, unigram
language-model quality scoring.

The reference pipeline's inputs are entity dumps keyed by URI
(/root/reference/src/experiment_yago.py and the DBpedia/YAGO preprocess
scripts normalize URI prefixes before matching); at Common-Crawl scale the
same normalization problem appears as URL canonicalization — the first
dedup key of any crawl pipeline. PII scrubbing and LM-based quality
scoring are the standard filters that sit next to dedup in a training-data
pipeline (C4/CCNet-style).

All three operators are native column expressions or plain joins — no
Python in the data path. Regex patterns are restricted to the
Java-regex ∩ RE2 common subset so the DuckDB oracles replay them exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from entity_matchers_spark.functions.hashing import stable_hash32
from entity_matchers_spark.functions.shingles import tokens

# Tracking parameters dropped during canonicalization (the common subset
# every crawl pipeline strips). Checked as `name=` prefixes on each query
# pair, so `utm_sourcery=1` is NOT dropped.
TRACKING_PARAMS: tuple[str, ...] = (
    "utm_source",
    "utm_medium",
    "utm_campaign",
    "utm_term",
    "utm_content",
    "fbclid",
    "gclid",
)

_URL_RE = r"^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$"


def canonicalize_urls(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Append ``url_canon`` + ``domain`` columns.

    Canonicalization rules (each a pure native expression, so the whole
    thing is one whole-stage-codegen projection — embarrassingly parallel
    at any scale):

    - scheme and host lowercased; path/query case preserved
    - ``www.`` host prefix dropped
    - default ports stripped (``:80`` for http, ``:443`` for https)
    - fragment dropped
    - tracking query params dropped (``TRACKING_PARAMS``), remaining
      params kept in original order; an emptied query string disappears
    - trailing ``/`` stripped from non-root paths; empty path → ``/``

    ``domain`` is the registrable domain approximated as the last two
    host labels (correct for gTLDs; a public-suffix list would slot in as
    a broadcast join without changing the plan shape).
    """
    u = F.col(url_col)
    scheme = F.lower(F.regexp_extract(u, _URL_RE, 1))
    hostport = F.lower(F.regexp_extract(u, _URL_RE, 2))
    path = F.regexp_extract(u, _URL_RE, 3)
    query = F.regexp_extract(u, _URL_RE, 4)  # includes leading '?', '' if none

    host = F.regexp_replace(hostport, r":[0-9]+$", "")
    port = F.regexp_extract(hostport, r":([0-9]+)$", 1)
    host = F.regexp_replace(host, r"^www\.", "")
    keep_port = (port != "") & ~(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
    )
    hostport_c = F.when(keep_port, F.concat(host, F.lit(":"), port)).otherwise(host)

    path_c = F.when(path == "", F.lit("/")).otherwise(
        F.when(
            (F.length(path) > 1) & path.endswith("/"),
            path.substr(F.lit(1), F.length(path) - 1),
        ).otherwise(path)
    )

    params = F.filter(
        F.split(F.regexp_replace(query, r"^\?", ""), "&"),
        lambda p: (p != "")
        & ~F.exists(
            F.array(*[F.lit(t) for t in TRACKING_PARAMS]),
            lambda t: p.startswith(F.concat(t, F.lit("="))),
        ),
    )
    query_c = F.when(
        F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&"))
    ).otherwise(F.lit(""))

    canon = F.concat(scheme, F.lit("://"), hostport_c, path_c, query_c)
    domain = F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)
    return df.withColumn("url_canon", canon).withColumn("domain", domain)


def url_duplicates(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Canonical-URL dedup audit: per row, the canonical form, registrable
    domain, and how many corpus rows share that canonical URL. One
    groupBy(url_canon) shuffle + one join back — at 10^12 rows the count
    side is a partial-aggregated shuffle on an (almost) unique key, the
    classic crawl URL-dedup plan."""
    canon = canonicalize_urls(df, url_col)
    counts = canon.groupBy("url_canon").agg(F.count("*").alias("n_same_url"))
    return canon.join(counts, "url_canon")


def url_filter(
    df: DataFrame,
    blocked_domains: DataFrame,
    keywords: tuple[str, ...] = (),
    url_col: str = "url",
) -> DataFrame:
    """RefinedWeb-style URL filtering: flag rows whose registrable domain is
    on a blocklist or whose canonical URL contains an adult/spam keyword.

    Appends ``blocked_domain`` / ``blocked_kw`` / ``keep`` (0/1) next to the
    ``url_canon``/``domain`` columns from :func:`canonicalize_urls` — an
    audit projection; ``.where("keep = 1")`` is the filter form.

    ``blocked_domains`` is a DataFrame with a ``domain`` column of
    registrable domains (both sides normalized to last-two-labels, so a
    blocked ``adsite.io`` catches ``cdn.adsite.io``). Real blocklists are
    a few million rows — comfortably broadcast (the UT1/adult lists are
    ~4M domains ≈ 100 MB); beyond that the same equi-join shuffles.
    Keywords are a few dozen literals compiled into one native boolean
    chain — no Python in the data path either way.
    """
    canon = canonicalize_urls(df, url_col)
    bl = blocked_domains.select(F.col("domain").alias("_bl_domain")).distinct()
    out = canon.join(F.broadcast(bl), canon["domain"] == F.col("_bl_domain"), "left")
    lower_url = F.lower(F.col("url_canon"))
    kw = F.lit(False)
    for k in keywords:
        kw = kw | lower_url.contains(k.lower())
    return (
        out.withColumn("blocked_domain", F.col("_bl_domain").isNotNull().cast("int"))
        .withColumn("blocked_kw", kw.cast("int"))
        .withColumn(
            "keep",
            ((F.col("blocked_domain") == 0) & (F.col("blocked_kw") == 0)).cast("int"),
        )
        .drop("_bl_domain")
    )


# --- PII scrubbing ------------------------------------------------------------

# Java-regex ∩ RE2 subset (no backrefs / lookaround), so DuckDB replays
# them byte-identically.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "phone": r"\+[0-9]{7,15}\b",
}


def pii_scrub(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, n_email, n_ipv4, n_phone, clean_text): count each PII class and
    replace every occurrence with a typed placeholder (``<EMAIL>`` etc.).

    Counting uses ``regexp_count``-equivalent ``size(regexp_extract_all)``;
    redaction chains three global ``regexp_replace``es — all JVM-side, one
    projection, no shuffle. Order matters: emails first (an email contains
    no ipv4/phone match under these anchored patterns, but redacting
    narrower classes first could split a wider match)."""
    t = F.col(text_col)
    out = df.select(
        F.col(id_col).alias("id"),
        *[
            F.size(F.regexp_extract_all(t, F.lit(pat), 0)).alias(f"n_{name}")
            for name, pat in PII_PATTERNS.items()
        ],
        t.alias("_t"),
    )
    clean = F.col("_t")
    for name, pat in PII_PATTERNS.items():
        clean = F.regexp_replace(clean, pat, f"<{name.upper()}>")
    return out.withColumn("clean_text", clean).drop("_t")


# --- unigram LM quality score -------------------------------------------------


def nb_quality_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    hq_mod: int = 4,
    min_count: int = 2,
) -> DataFrame:
    """(id, n_tokens, label_hq, score, pred_hq): a trained quality
    classifier — multinomial Naive Bayes over whitespace tokens, fit on
    source-derived weak labels (the GPT-3/CCNet recipe: "curated sources
    are positives, the rest of the crawl is negative", here sources whose
    md5 hash ≡ 0 mod ``hq_mod`` stand in for the curated set so the whole
    fit is deterministic and engine-replayable).

    Fit and score are one distributed pass each:

    - explode tokens → per-(token, class) counts with map-side partial
      aggregation; vocabulary pruned to tokens seen ≥ ``min_count`` times
      (the Zipf tail carries no signal and would dominate the weight
      table's size at crawl scale);
    - per-token Laplace log-likelihood-ratio weight computed as ONE ``ln``
      of an exact integer ratio, then fixed-pointed to a BIGINT in
      micro-nats (``round(llr * 1e6)``) so the per-doc reduction is an
      integer sum — order-independent, bit-exact across engines and
      partitionings (a float sum would drift ULPs per reduction order);
    - score = class-prior (same fixed-point) + token-weight sum via a
      shuffle join of the exploded tokens against the weight table
      (Zipf-bounded vocab: AQE broadcasts it when it fits, shuffles
      otherwise), then one partial-aggregated groupBy(id).

    The fastText classifier this stands in for is also a linear model over
    token counts; the NB fit keeps training inside two groupBys instead of
    SGD. Reference analog: the attribute-overlap weak supervision of IMUSE
    (/root/reference/src/imuse/run_imuse.py) — weak labels in, calibrated
    decision out.
    """
    lbl = (stable_hash32(F.col(source_col), salt="nbq:") % hq_mod == 0).cast("int")
    base = df.select(
        F.col(id_col).alias("id"),
        lbl.alias("label_hq"),
        tokens(F.col(text_col)).alias("_toks"),
    )
    toks = base.select("id", "label_hq", F.explode("_toks").alias("tok"))

    # vocabulary + per-class counts, one shuffle (partial-agg'd map-side)
    cnt = (
        toks.groupBy("tok")
        .agg(
            F.sum("label_hq").alias("c_pos"),
            F.sum(1 - F.col("label_hq")).alias("c_neg"),
        )
        .where(F.col("c_pos") + F.col("c_neg") >= min_count)
    )
    # class token totals + vocab size: one row, broadcast everywhere
    stats = cnt.agg(
        F.sum("c_pos").alias("n_pos"),
        F.sum("c_neg").alias("n_neg"),
        F.count("*").alias("v"),
    )
    # doc-level class prior from the label split (fixed-point micro-nats)
    prior = base.agg(
        F.round(
            F.log(
                F.sum("label_hq").cast("double")
                / F.sum(1 - F.col("label_hq")).cast("double")
            )
            * 1e6
        )
        .cast("long")
        .alias("prior_fp")
    )
    # w = ln( ((c_pos+1) * (n_neg+V)) / ((c_neg+1) * (n_pos+V)) ), one ln of
    # an exact-integer ratio -> identical doubles in any IEEE engine
    weights = cnt.crossJoin(F.broadcast(stats)).select(
        "tok",
        F.round(
            F.log(
                ((F.col("c_pos") + 1) * (F.col("n_neg") + F.col("v"))).cast("double")
                / ((F.col("c_neg") + 1) * (F.col("n_pos") + F.col("v"))).cast("double")
            )
            * 1e6
        )
        .cast("long")
        .alias("w_fp"),
    )
    scored = (
        toks.join(weights, "tok", "left")
        .groupBy("id", "label_hq")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.coalesce(F.col("w_fp"), F.lit(0))).alias("sum_fp"),
        )
        .crossJoin(F.broadcast(prior))
    )
    score_fp = F.col("prior_fp") + F.col("sum_fp")
    return scored.select(
        "id",
        "n_tokens",
        "label_hq",
        F.round(score_fp / 1e6, 6).alias("score"),
        (score_fp > 0).cast("int").alias("pred_hq"),
    )


def unigram_lm_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, n_tokens, mean_logprob): score each document by the mean
    log-probability of its tokens under the corpus's own unigram model —
    the cheap stand-in for the KenLM perplexity filter in CCNet-style
    pipelines (low mean_logprob = rare-token gibberish, high = boilerplate).

    Plan shape: explode → two-level aggregate. The unigram table is
    aggregated map-side first (partial aggregation on token), and the
    token→count join runs as a plain shuffle join: at web scale the vocab
    is Zipf-bounded (~10^8 rows) — too big to assume broadcastable, small
    enough that AQE will broadcast it when it actually fits. The final
    per-doc mean is one more partial-aggregated shuffle on doc id.
    """
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    cnt = toks.groupBy("tok").agg(F.count("*").alias("c"))
    total = cnt.agg(F.sum("c").alias("n_total"))
    scored = toks.join(cnt, "tok").crossJoin(F.broadcast(total))
    return scored.groupBy("id").agg(
        F.count("*").alias("n_tokens"),
        F.round(
            F.avg(F.log(F.col("c") / F.col("n_total").cast("double"))), 6
        ).alias("mean_logprob"),
    )


# --- CCNet-style per-language perplexity buckets -------------------------------


def ccnet_lm_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """(id, lang, n_tokens, mean_logprob, bucket): CCNet's head/middle/tail
    split (Wenzek et al. 2020) — score every document under a PER-LANGUAGE
    unigram LM (the KenLM stand-in), then bucket each language's documents
    into the best third ("head"), middle third, worst third ("tail") of
    that language's perplexity distribution.

    Scale-first bucketing: CCNet assigns buckets by comparing each doc's
    perplexity against per-language CUTOFFS, not by globally sorting docs.
    We do the same — the tercile boundaries come from a window over the
    per-(lang, score) DISTINCT-VALUE histogram (Zipf-bounded: at most one
    row per distinct doc score, aggregated map-side first), and the final
    assignment is a hash join of docs against that small cutoff table.
    A naive ntile() would instead sort EVERY document of a language inside
    one window partition — a single-task sort on a 90%-English crawl.

    Ties share a bucket (cutoff semantics, like CCNet), so the result is
    insensitive to sort nondeterminism. Determinism: per-token weights are
    ln of an exact integer ratio fixed-pointed to micro-nats (BIGINT); the
    per-doc reduction is an integer sum; the bucket rule compares integer
    products (3 * n_better vs n_lang).
    """
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(lang_col).alias("lang"),
        tokens(F.col(text_col)).alias("_toks"),
    )
    toks = base.select("id", "lang", F.explode("_toks").alias("tok"))

    cnt = toks.groupBy("lang", "tok").agg(F.count("*").alias("c"))
    lang_tot = cnt.groupBy("lang").agg(F.sum("c").alias("n_lang"))
    weights = cnt.join(F.broadcast(lang_tot), "lang").select(
        "lang",
        "tok",
        F.round(F.log(F.col("c") / F.col("n_lang").cast("double")) * 1e6)
        .cast("long")
        .alias("w_fp"),
    )

    scored = (
        toks.join(weights, ["lang", "tok"])
        .groupBy("id", "lang")
        .agg(F.count("*").alias("n_tokens"), F.sum("w_fp").alias("sum_fp"))
        .withColumn("mean_fp", F.col("sum_fp") / F.col("n_tokens"))
    )

    # distinct-score histogram per language -> cumulative docs-better count
    dist = scored.groupBy("lang", "mean_fp").agg(F.count("*").alias("c"))
    w = (
        Window.partitionBy("lang")
        .orderBy(F.desc("mean_fp"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cutoffs = dist.select(
        "lang",
        "mean_fp",
        (F.sum("c").over(w) - F.col("c")).alias("n_better"),
        F.sum("c").over(Window.partitionBy("lang")).alias("n_lang_docs"),
    ).select(
        "lang",
        "mean_fp",
        F.when(3 * F.col("n_better") < F.col("n_lang_docs"), F.lit("head"))
        .when(3 * F.col("n_better") < 2 * F.col("n_lang_docs"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )

    return scored.join(cutoffs, ["lang", "mean_fp"]).select(
        "id",
        "lang",
        "n_tokens",
        F.round(F.col("mean_fp") / 1e6, 6).alias("mean_logprob"),
        "bucket",
    )


# --- crawl snapshot delta -------------------------------------------------------


def crawl_delta(
    new: DataFrame,
    old: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, status): diff two crawl snapshots by content hash — the
    incremental-ingestion primitive for monthly Common-Crawl-style dumps
    (process only ``added``/``changed`` docs downstream; retire
    ``removed`` ones from the index).

    status ∈ {added, removed, changed, unchanged}. One full-outer join on
    the id with md5 content digests computed map-side — at warehouse scale
    both snapshots are bucketed on the id so this join is co-located and
    shuffle-free (see sources' bucketed-table support); nothing else
    shuffles.
    """
    n = new.select(F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("h_new"))
    o = old.select(F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("h_old"))
    return n.join(o, "id", "full_outer").select(
        "id",
        F.when(F.col("h_old").isNull(), F.lit("added"))
        .when(F.col("h_new").isNull(), F.lit("removed"))
        .when(F.col("h_new") != F.col("h_old"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )
