"""Deduplication operators for training-data pipelines.

Beyond the reference's entity-alignment scope, a 100 TB corpus pipeline
needs document-level dedup. Four families, all DataFrame-native:

- exact: hash-groupBy on the full text (md5 → keep min id)
- MinHash-LSH near-dup: band-bucket candidates (the blocking layer's
  ``lsh_band_keys`` index and ``block_self_join``) verified with exact
  shingle Jaccard — verification makes the result set *deterministic*
  (LSH only affects which pairs get checked, never which pass)
- SimHash: 60-bit signature from token hashes; near-dups = pairs within
  Hamming distance k, found via the pigeonhole band trick (k+1 chunks →
  candidates must share one chunk exactly)
- n-gram Jaccard: exact token-shingle Jaccard join (the reference's q-gram
  rule blocker semantics, create_dataset_deepmatchers.py:243-260, as a
  dedup predicate)

Scale notes: every family reduces to (key materialization → equi-join →
cheap verify). Hot keys are the only risk; the exact/Jaccard paths inherit
the frequency cap from the blocking layer, and SimHash chunks are
16-bit-bounded by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_matchers_spark.functions.shingles import gram_hashes, gram_sets, tokens
from entity_matchers_spark.functions.similarity import jaccard_hashed_udf
from entity_matchers_spark.operators.blocking import block_self_join, lsh_band_keys

SIMHASH_BITS = 60
SIMHASH_CHUNKS = 4  # pigeonhole: hamming <= 3 pairs share >= 1 of 4 chunks


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(text_hash, keep_id, n_dups): one row per distinct text, keeping the
    min id — the canonical exact-dedup hash-groupBy."""
    return (
        df.select(F.md5(F.col(text_col).cast("binary")).alias("text_hash"), F.col(id_col).alias("id"))
        .groupBy("text_hash")
        .agg(F.min("id").alias("keep_id"), F.count("*").alias("n_dups"))
    )


import numpy as np
import pandas as pd

# 16-bit popcount lookup table (numpy < 2.0 has no bitwise_count)
_POPCOUNT16 = np.array([bin(i).count("1") for i in range(1 << 16)], dtype=np.uint16)


def _pack_bitmap_from_grams_udf(width_bytes: int, vocab_bc):
    """pandas UDF: array<bigint> of hashed grams -> fixed-width bitmap
    bytes, numbering each gram by its rank in the broadcast sorted vocab
    (``searchsorted`` — the same ascending-g order the former relabeling
    join produced). Runs once per DOCUMENT (not per pair), so the per-row
    loop is bounded by corpus size, never candidate count."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BinaryType

    nbits = width_bytes * 8

    @pandas_udf(BinaryType())
    def _pack(grams: pd.Series) -> pd.Series:
        vocab = vocab_bc.value
        out = []
        for arr in grams:
            bits = np.zeros(nbits, dtype=np.uint8)
            if arr is not None and len(arr):
                gids = np.searchsorted(vocab, np.asarray(arr, dtype=np.int64))
                bits[gids] = 1
            out.append(np.packbits(bits).tobytes())
        return pd.Series(out)

    return _pack


def _bitmap_overlap_udf(measure: str = "jaccard"):
    """pandas UDF (bm_a, bm_b, sz_a, sz_b) -> similarity: popcount(AND) via
    a 16-bit LUT — one C-speed pass per Arrow batch, ~100x cheaper than the
    per-pair sorted-array merge when the gram vocabulary is dense-mappable.
    ``measure``: 'jaccard' = inter/union, 'containment' = inter/|a|."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    contain = measure == "containment"

    @pandas_udf(DoubleType())
    def _sim(ba: pd.Series, bb: pd.Series, sza: pd.Series, szb: pd.Series) -> pd.Series:
        n = len(ba)
        if n == 0:
            return pd.Series([], dtype=np.float64)
        wb = len(ba.iloc[0])
        A = np.frombuffer(b"".join(ba.tolist()), dtype=np.uint8).reshape(n, wb)
        B = np.frombuffer(b"".join(bb.tolist()), dtype=np.uint8).reshape(n, wb)
        anded = A & B
        inter = _POPCOUNT16[anded.view(np.uint16)].sum(axis=1).astype(np.int64)
        den = sza.to_numpy() if contain else sza.to_numpy() + szb.to_numpy() - inter
        with np.errstate(divide="ignore", invalid="ignore"):
            sim = inter / den.astype(np.float64)
        return pd.Series(np.where(den > 0, sim, 0.0))

    return _sim


def _bitmap_jaccard_udf():
    return _bitmap_overlap_udf("jaccard")


def prefix_filtered_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_bitmap_vocab: int = 1 << 20,
    broadcast_bytes_cap: int = 64 << 20,
    candidates_only: bool = False,
    min_shared: int = 20,
) -> DataFrame:
    """EXACT (id_a, id_b, jaccard) for char n-gram Jaccard ≥ threshold via
    MULTI-prefix filtering (the AllPairs/PPJoin bound extended a la
    Adapt-Join) — no recall loss, no stop-gram blow-up.

    Every doc indexes its ``|d| - ceil(t*|d|) + l`` RAREST grams with
    ``l = min_shared`` (global document-frequency ascending, gram value as
    tie-break): for a pair with J ≥ t, each side has at most
    ``|d| - ceil(t*|d|)`` non-shared grams, so any ``l`` extra slots must
    hold shared grams, and the j-th smallest shared gram sits within both
    extended prefixes — the pair shares at least ``min(l, alpha)`` grams
    in the prefix-to-prefix equi-join (``alpha`` = the pair's minimum
    required overlap ``ceil(t/(1+t)*(|A|+|B|))``). Counting join hits per
    pair and keeping only those with ``cnt >= min(l, alpha)`` is therefore
    still EXACT, but prunes the one-lucky-rare-gram background pairs a
    single-prefix filter lets through on low-vocabulary corpora (the
    measured quadratic regime in the growth audit): sharing one rare gram
    is common, sharing ``l`` independently is exponentially rarer.
    Stop-grams ("the") are the most frequent grams and thus essentially
    never appear in a prefix — the quadratic bucket the naive gram join
    dies on at web scale simply doesn't form. Candidates are then verified
    exactly with the vectorized sort-based Jaccard kernel over the full
    gram arrays (same shape as the MinHash verify stage).

    Replaces the frequency-capped join for the threshold family: the cap
    turned near-clique corpora into 0 rows (every gram hot), while the
    prefix bound adapts — rare-gram mass is exactly what discriminates.
    """
    from pyspark.sql import Window

    grams_arr = gram_sets(gram_hashes(df, id_col, text_col, n))
    # one md5 pass: prefix index, df table, and the verify stage all read
    # the materialized gram table instead of re-hashing the corpus per action
    grams_arr = grams_arr.localCheckpoint()
    e = grams_arr.select("id", "sz", F.explode("grams").alias("g"))
    dfreq = e.groupBy("g").agg(F.count("*").alias("df")).localCheckpoint()
    w = Window.partitionBy("id").orderBy(F.col("df").asc(), F.col("g").asc())
    # ceil(t*sz) computed with an epsilon guard: in pure floating point,
    # exactly-integral products round UP (0.8*5 = 4.0000000000000004 →
    # ceil 5), shortening the prefix by one gram and silently dropping
    # pairs whose Jaccard equals the threshold exactly. The epsilon is far
    # below any representable t*sz gap, so non-integral products are
    # unaffected.
    min_overlap = F.ceil(F.lit(threshold) * F.col("sz") - F.lit(1e-9))
    ell = max(1, int(min_shared))
    prefix = (
        e.join(dfreq, "g")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= F.col("sz") - min_overlap + ell)
        .select("id", "sz", "g")
    )
    # PPJoin length filter (exact): J >= t forces t*|A| <= |B| and
    # t*|B| <= |A|; then the multi-prefix count filter: a qualifying pair
    # must share >= min(l, ceil(t/(1+t)*(|A|+|B|))) extended-prefix grams
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold))
        * (F.col("sz_a") + F.col("sz_b"))
        - F.lit(1e-9)
    )
    cands = (
        prefix.alias("l")
        .join(prefix.alias("r"), "g")
        .where(
            (F.col("l.id") < F.col("r.id"))
            # same epsilon guard as the prefix bound: t*sz can round UP past
            # an exactly-integral product (observed 0.8*5 = 4.0000000000000004)
            # and silently drop a pair whose Jaccard equals t exactly;
            # loosening only ever ADDS candidates — verify stays exact
            & (F.col("l.sz") * threshold <= F.col("r.sz") + F.lit(1e-9))
            & (F.col("r.sz") * threshold <= F.col("l.sz") + F.lit(1e-9))
        )
        .groupBy(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.sz").alias("sz_a"),
            F.col("r.sz").alias("sz_b"),
        )
        .agg(F.count(F.lit(1)).alias("_shared"))
        .where(F.col("_shared") >= F.least(F.lit(ell), alpha))
        .select("id_a", "id_b")
    )
    if candidates_only:
        return cands
    return _exact_jaccard_verify(
        cands, grams_arr, threshold, dfreq=dfreq,
        max_bitmap_vocab=max_bitmap_vocab, broadcast_bytes_cap=broadcast_bytes_cap,
    )


def _exact_jaccard_verify(
    cands: DataFrame,
    grams_arr: DataFrame,
    threshold: float,
    dfreq: DataFrame | None = None,
    max_bitmap_vocab: int = 1 << 20,
    broadcast_bytes_cap: int = 64 << 20,
    measure: str = "jaccard",
    out_col: str | None = None,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs, shared by the prefix
    and MinHash near-dup paths.

    The candidate set is O(true pairs) rows but each side needs its full
    gram set. The per-doc representation table is SIZE-ESTIMATED and only
    broadcast when it fits ``broadcast_bytes_cap`` (map-side verify);
    beyond that the verify degrades gracefully to a plain shuffled
    equi-join on id — never a driver/executor OOM from an unconditional
    hint.

    Representation is ADAPTIVE on actual BYTES, not vocab size alone
    (every doc's bitmap is V/8 bytes regardless of its gram count, so a
    near-cutoff V with many small docs would be far LARGER than the gram
    arrays it replaces):
    - dense V-bit bitmaps (n_docs·width bytes total) when the vocabulary
      fits ``max_bitmap_vocab`` AND the bitmap table is at most ~2× the
      8-bytes-per-gram arrays; Jaccard = popcount(AND) via a 16-bit LUT,
      ~100x cheaper than the per-pair merge.
    - else: sorted-hash arrays + the vectorized merge kernel.
    Both paths compute identical integer counts -> identical similarity, so
    callers' oracles are representation-independent. The driver-side
    fetches here (doc/gram counts, the vocab-size sketch, and — on the
    bitmap path only — the vocab itself, capped at ``max_bitmap_vocab``
    entries by the decision it serves) are physical-plan decisions plus a
    bounded broadcast build, the same role AQE's runtime statistics play.

    ``measure`` selects the set similarity: 'jaccard' (inter/union,
    symmetric, unordered pairs) or 'containment' (inter/|a|, asymmetric —
    the caller supplies ORDERED candidate pairs). ``out_col`` names the
    similarity column (defaults to the measure name).
    """
    out_col = out_col or measure
    sc = cands.sparkSession.sparkContext
    cands = cands.repartition(3 * sc.defaultParallelism, "id_a", "id_b")
    e = grams_arr.select("id", F.explode("grams").alias("g"))
    if dfreq is None:
        # The vocab size only steers the representation choice; a one-pass
        # sketch (no shuffle) is enough for that, and the exact dfreq table
        # — only needed to NUMBER the vocab — is built inside the bitmap
        # branch, so the (common) array path never pays a groupBy over the
        # full gram explode just to be told it doesn't need one. The ±rsd
        # fuzz moves a physical-plan boundary, never a result.
        vocab_size = int(e.agg(F.approx_count_distinct("g")).first()[0])
    else:
        vocab_size = dfreq.count()
    stats = grams_arr.agg(
        F.count("*").alias("n_docs"),
        F.coalesce(F.sum("sz"), F.lit(0)).alias("total_grams"),
    ).collect()[0]
    n_docs, total_grams = int(stats["n_docs"]), int(stats["total_grams"])
    width_bytes = max(2, -(-vocab_size // 16) * 2)  # even, for uint16 view
    gram_bytes = total_grams * 8
    use_bitmap = (
        vocab_size <= max_bitmap_vocab and n_docs * width_bytes <= 2 * gram_bytes
    )
    rep_bytes = n_docs * width_bytes if use_bitmap else gram_bytes

    def _maybe_bcast(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if rep_bytes <= broadcast_bytes_cap else df

    if use_bitmap:
        # The sketch (or the caller's dfreq count) CHOSE the representation;
        # the bitmap itself is built from the EXACT vocabulary, collected
        # once — the decision above bounds it near max_bitmap_vocab, so the
        # driver footprint is a few MB by construction — and shipped as a
        # broadcast sorted array. gid = searchsorted(vocab, gram) replicates
        # the ascending-g numbering with no relabeling shuffle: the previous
        # explode→join→groupBy→collect_list chain was most of this
        # function's scheduler wall. Re-check the decision with the exact
        # size (the sketch can undershoot) before committing to the width.
        src = dfreq.select("g") if dfreq is not None else e.select("g").distinct()
        vocab_arr = np.sort(
            np.fromiter((r[0] for r in src.collect()), dtype=np.int64)
        )
        vocab_size = int(vocab_arr.size)
        width_bytes = max(2, -(-vocab_size // 16) * 2)
        rep_bytes = n_docs * width_bytes
        use_bitmap = (
            vocab_size <= max_bitmap_vocab and n_docs * width_bytes <= 2 * gram_bytes
        )
    if use_bitmap:
        vocab_bc = sc.broadcast(vocab_arr)
        # both join sides (ba, bb) read this table: materialize the pack-UDF
        # pass once instead of once per side
        bitmaps = grams_arr.select(
            "id",
            _pack_bitmap_from_grams_udf(width_bytes, vocab_bc)(F.col("grams")).alias("bm"),
            "sz",
        ).localCheckpoint()
        ba = bitmaps.select(F.col("id").alias("id_a"), F.col("bm").alias("bm_a"), F.col("sz").alias("sz_a"))
        bb = bitmaps.select(F.col("id").alias("id_b"), F.col("bm").alias("bm_b"), F.col("sz").alias("sz_b"))
        sim = _bitmap_overlap_udf(measure)
        return (
            cands.join(_maybe_bcast(ba), "id_a")
            .join(_maybe_bcast(bb), "id_b")
            .withColumn(out_col, sim(F.col("bm_a"), F.col("bm_b"), F.col("sz_a"), F.col("sz_b")))
            .where(F.col(out_col) >= threshold)
            .select("id_a", "id_b", out_col)
        )
    if measure == "containment":
        from entity_matchers_spark.functions.similarity import containment_hashed_udf

        array_udf = containment_hashed_udf
    else:
        array_udf = jaccard_hashed_udf
    ga = grams_arr.select(F.col("id").alias("id_a"), F.col("grams").alias("ga"))
    gb = grams_arr.select(F.col("id").alias("id_b"), F.col("grams").alias("gb"))
    return (
        cands.join(_maybe_bcast(ga), "id_a")
        .join(_maybe_bcast(gb), "id_b")
        .withColumn(out_col, array_udf(F.col("ga"), F.col("gb")))
        .where(F.col(out_col) >= threshold)
        .select("id_a", "id_b", out_col)
    )


def minhash_band_blocks(
    grams_arr: DataFrame,
    num_bands: int = 40,
    rows_per_band: int = 4,
    seed: int = 11037,
) -> DataFrame:
    """(id, block_id) MinHash band table from a hashed-gram table — the
    LSH INDEX both the batch near-dup join and the incremental delta probe
    read (in production this IS the stored index table, partitioned by
    band). The grams feed ``blocking.lsh_band_keys``, the ER blocker's
    builder; a doc with no grams has no explode row, so it never enters
    the index."""
    return lsh_band_keys(
        grams_arr.select("id", F.explode("grams").alias("h")), num_bands, rows_per_band, seed
    )


def minhash_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    num_bands: int = 40,
    rows_per_band: int = 4,
    shingle_n: int = 7,
    text_cap: int = 10_000,
    seed: int = 11037,
    grams_arr: DataFrame | None = None,
    blocks: DataFrame | None = None,
    candidates_only: bool = False,
) -> DataFrame:
    """Near-dup pairs via MinHash-LSH candidates + exact Jaccard verify.

    ``candidates_only=True`` returns the pre-verify candidate pair set —
    the quantity whose growth rate the scale audit (bench.py --growth)
    tracks across scale factors.

    ``grams_arr`` optionally supplies an already-MATERIALIZED hashed-gram
    table ``(id, grams, sz)`` with the same shingle/cap semantics, so
    callers running several near-dup queries over one corpus (the registry
    runs pairs AND resolve) hash the corpus once.

    The verify step makes output independent of LSH parameters *given*
    sufficient recall (banding only generates candidates; Jaccard decides).
    With 40×4 bands, P(candidate | J=0.7) ≈ 1 - (1-0.24)^40 ≈ 1 - 1.7e-5
    (true pairs here sit at J ≥ 0.9: miss ≈ (1-0.656)^40 ≈ 4e-19).

    Shingle width is the SELECTIVITY knob, and it must be wide enough that
    unrelated documents don't look alike: on web-style prose, char-3-gram
    Jaccard between *random* doc pairs is ~0.4-0.65 (every doc draws from
    the same trigram vocabulary), so at t=0.7 NO banding scheme can prune —
    measured at sf0.1, a 3-gram 16×2 configuration emitted 11.3M candidates
    out of 12.5M possible pairs: an all-pairs join in disguise. At n=7 the
    background drops to ~0.06 (p99 0.13) while true near-dups stay ≥0.9, so
    the same corpus yields a ~0.06% candidate rate (40×4 bands: 7.4k
    candidates for 5k docs vs 11.3M under 3-gram 16×2 — measured) and the
    join grows with the near-dup mass, not n². Same reasoning as Broder's ~10-char shingles; the
    reference's 3-grams are an ES *blocking* choice (recall-oriented, top-k
    capped per doc, /root/reference/README.md:378), not a near-dup metric.

    The md5 gram hash is computed in ONE pass: the hashed-gram table is
    localCheckpoint-ed and BOTH the signatures (explode →
    ``num_bands × rows_per_band`` declarative mins over ``h % p``, 160 at
    the defaults) and the exact verify derive from it. The previous
    shape rebuilt the gram DAG from raw text per downstream action — five
    full md5 passes (signatures, df count, stats, bitmap build, final
    join) measured 65 s vs ~15 s for the whole query at sf0.1. Docs with
    no shingles never enter the block table (a doc absent from the gram
    explode simply has no signature row), which also retires the sentinel
    substring filter.
    """
    if grams_arr is None:
        grams_arr = gram_sets(gram_hashes(df, id_col, text_col, shingle_n, text_cap))
        # ONE md5 pass over the corpus; every downstream stage reads these bytes
        grams_arr = grams_arr.localCheckpoint()
    if blocks is None:
        blocks = minhash_band_blocks(grams_arr, num_bands, rows_per_band, seed)
    cands = block_self_join(blocks)
    if candidates_only:
        return cands
    return _exact_jaccard_verify(cands, grams_arr, threshold)


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, simhash) — 60-bit SimHash over whitespace tokens.

    bit_j = sign of sum over tokens of (±1 from the token hash's bit j).
    Token hash = md5-derived 60-bit int (cross-engine stable). Native:
    explode tokens → one hash each → 60 conditional-sum aggregates packed
    into a single long via shifts.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("t"),
    )
    h = F.conv(F.substring(F.md5("t"), 1, 15), 16, 10).cast("long")
    hashed = toks.select("id", h.alias("h"))
    bit_sums = hashed.groupBy("id").agg(
        *[
            F.sum(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"b{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    packed = sum(
        F.when(F.col(f"b{j}") > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
        for j in range(SIMHASH_BITS)
    )
    sig = bit_sums.select("id", packed.alias("simhash"))
    # docs with no tokens → simhash 0
    empty = df.select(F.col(id_col).alias("id")).join(sig.select("id"), "id", "left_anti").select(
        "id", F.lit(0).cast("long").alias("simhash")
    )
    return sig.unionByName(empty)


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs within Hamming distance ``max_hamming``.

    Pigeonhole blocking: split the 60-bit signature into SIMHASH_CHUNKS
    15-bit chunks; any pair within distance SIMHASH_CHUNKS-1 must agree on
    at least one chunk → equi-join per chunk, verify with bit_count(xor).
    """
    sig = simhash(df, id_col, text_col)
    chunk_bits = SIMHASH_BITS // SIMHASH_CHUNKS
    chunks = sig.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(f"c{c}:"),
                        F.shiftright(F.col("simhash"), c * chunk_bits)
                        .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                        .cast("string"),
                    )
                    for c in range(SIMHASH_CHUNKS)
                ]
            )
        ).alias("chunk_key"),
    )
    cands = (
        chunks.alias("l")
        .join(chunks.alias("r"), "chunk_key")
        .where(F.col("l.id") < F.col("r.id"))
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.simhash").alias("sh_a"),
            F.col("r.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return (
        cands.withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def segment_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_tokens: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Corpus-level segment dedup (CCNet/RefinedWeb-style boilerplate
    removal): split every document into consecutive ``seg_tokens``-token
    segments, count the DISTINCT documents containing each segment across
    the whole corpus, and rebuild each document keeping only segments seen
    in fewer than ``min_docs`` documents.

    Beyond the reference's entity-alignment scope — the standard web-corpus
    cleaning step between exact and near dedup (paragraph-hash dedup in
    CCNet; the reference's nearest analog is its per-attribute literal
    cleaning, /root/reference/src/preprocess_datasets/preprocess_dataset.py).

    Returns (id, clean_text, n_segments, n_removed) — one row per input
    document, ``clean_text = ''`` when every segment was boilerplate.

    Scale shape: one map-side explode (segments are derived per-doc, no
    data crosses the wire to *create* them), one distinct+count on the
    64-bit segment key, one anti-join of segments against the duplicated
    key set, one groupBy(id) rebuild. The duplicated-key set is the
    corpus's boilerplate vocabulary — tiny relative to the corpus (it is
    bounded by n_docs·n_segs/min_docs but in practice by the amount of
    shared template text), so AQE turns the anti-join into a broadcast at
    real scale; no pair-wise work anywhere, everything is linear in corpus
    size. The rebuild shuffles only KEPT segment text, grouped by doc id.
    """
    toks = F.split(F.col(text_col), " ")
    n_seg = F.ceil(F.size(toks) / F.lit(float(seg_tokens))).cast("int")
    segs = (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_seg - 1),
                    lambda i: F.concat_ws(
                        " ", F.slice(toks, i * seg_tokens + 1, seg_tokens)
                    ),
                )
            ).alias("seg_idx", "seg"),
        )
    )
    # duplicated-segment vocabulary: distinct (seg, id) -> per-seg doc count
    dup = (
        segs.select("seg", "id")
        .distinct()
        .groupBy("seg")
        .count()
        .where(F.col("count") >= min_docs)
        .select("seg")
    )
    kept = segs.join(dup, "seg", "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                lambda x: x["seg"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    totals = segs.groupBy("id").agg(F.count("*").alias("n_segments"))
    return (
        totals.join(rebuilt, "id", "left")
        .select(
            "id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_segments",
            (F.col("n_segments") - F.coalesce("n_kept", F.lit(0))).alias("n_removed"),
        )
    )


def neardup_resolve(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    shingle_n: int = 7,
    num_bands: int = 40,
    rows_per_band: int = 4,
    grams_arr: DataFrame | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """End-to-end near-dup resolution: MinHash-LSH pairs → connected
    components → one canonical keeper per duplicate cluster.

    ``pairs`` optionally supplies an already-computed duplicate-pair table
    (id_a, id_b) — e.g. the output of ``minhash_neardup_pairs`` a caller
    has materialized for its own purposes — skipping the LSH stage
    entirely; ``grams_arr`` (see ``minhash_neardup_pairs``) shares just
    the hashed-gram pass.

    This is the step that actually SHRINKS the corpus: `minhash_neardup_pairs`
    emits the duplicate graph, hash-min CC groups transitively-linked docs
    (A~B, B~C ⇒ {A,B,C} even when J(A,C) < t — the standard web-dedup
    semantics), and the min doc id in each component is kept. Reference
    analog: the alignment→cluster step the north rule adds on top of
    entity-matchers' pairwise decisions; same CC machinery as
    `clustering.connected_components`.

    Returns one row per input document: (id, cluster_id, keep ∈ {0,1}).
    keep = 1 iff the doc is its component's min id (singletons keep).

    Scale shape: the pair stage is the banded-LSH join (bounded buckets),
    CC is O(diameter) shuffles on id only — near-dup components are
    near-cliques so diameter is tiny — and keeper selection is a projection
    of the CC labels (id == cluster_id), no extra shuffle.
    """
    from entity_matchers_spark.operators.clustering import clusters_with_singletons

    if pairs is None:
        pairs = minhash_neardup_pairs(
            df,
            id_col=id_col,
            text_col=text_col,
            threshold=threshold,
            shingle_n=shingle_n,
            num_bands=num_bands,
            rows_per_band=rows_per_band,
            grams_arr=grams_arr,
        )
    cc = clusters_with_singletons(df, pairs.select("id_a", "id_b"), id_col=id_col)
    return cc.select(
        "id",
        "cluster_id",
        (F.col("id") == F.col("cluster_id")).cast("int").alias("keep"),
    )


def containment_neardup_pairs(
    df: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 7,
    threshold: float = 0.8,
    grams_arr: DataFrame | None = None,
    candidates_only: bool = False,
    min_shared: int = 20,
) -> DataFrame:
    """EXACT ordered near-containment pairs: (id_a, id_b, containment) with
    C(a→b) = |grams(a) ∩ grams(b)| / |grams(a)| ≥ threshold, a ≠ b.

    The ASYMMETRIC dedup measure (Broder 1997's containment, beside
    resemblance): a syndicated article, quoted passage, or truncated
    mirror is CONTAINED in its host page even when Jaccard is far below
    any near-dup threshold (small |A| vs huge |B| caps J at |A|/|B|).
    Jaccard-LSH families structurally CANNOT find these pairs — banding
    recalls high-resemblance pairs only — so a crawl pipeline needs this
    as its own operator, not a Jaccard parameter tweak.

    Exactness via the asymmetric MULTI-prefix filter (SSJoin/PPJoin family
    extended a la Adapt-Join): C(a→b) ≥ t forces |A ∩ B| ≥ ⌈t|A|⌉, i.e. A
    has at most ``|A| − ⌈t|A|⌉`` non-shared grams, so among A's
    ``|A| − ⌈t|A|⌉ + l`` globally-RAREST grams (``l = min_shared``) at
    least ``min(l, ⌈t|A|⌉)`` must be in B — the A-prefix join against B's
    FULL gram postings COUNTED per ordered pair finds every qualifying
    pair while dropping the one-lucky-rare-gram background mass a
    single-gram hit lets through, then the shared pack-sort-bincount
    kernel verifies the exact count.
    (No symmetric length filter exists here — B may be arbitrarily
    LARGER — but the one-sided bound |A ∩ B| ≤ |B| still forces
    |B| ≥ ⌈t|A|⌉, so pairs with a too-small B are dropped pre-verify:
    on the low-vocabulary worst case this cuts the candidate mass the
    weak prefix lets through.)

    Scale shape: the probe side indexes only prefixes (rare grams by
    construction — stop-gram buckets never form on the A side); the B-side
    posting list of a rare gram is short by definition of rare, so bucket
    cost is (few A-prefix entries) × (short B postings) for discriminative
    grams and (near-zero A-prefix entries) × n for stop grams. The verify
    join inherits the size-estimated broadcast-or-shuffle choice of the
    Jaccard verify. Candidates are ordered pairs, so a dense clique costs
    2× the Jaccard join's pair count — same asymptotics.
    """
    from pyspark.sql import Window

    if grams_arr is None:
        grams_arr = gram_sets(gram_hashes(df, id_col, text_col, n)).localCheckpoint()
    e = grams_arr.select("id", "sz", F.explode("grams").alias("g"))
    # read three times (prefix join + verify's vocab count and collect):
    # materialize the document-frequency table once
    dfreq = e.groupBy("g").agg(F.count("*").alias("df")).localCheckpoint()
    w = Window.partitionBy("id").orderBy(F.col("df").asc(), F.col("g").asc())
    # epsilon guard as in prefix_filtered_jaccard_pairs: exactly-integral
    # t*sz must not round up and shorten the prefix
    min_overlap = F.ceil(F.lit(threshold) * F.col("sz") - F.lit(1e-9))
    ell = max(1, int(min_shared))
    prefix = (
        e.join(dfreq, "g")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= F.col("sz") - min_overlap + ell)
        .select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"), "g")
    )
    alpha = F.ceil(F.lit(threshold) * F.col("sz_a") - F.lit(1e-9))
    cands = (
        prefix.join(e.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"), "g"), "g")
        .where(
            (F.col("id_a") != F.col("id_b"))
            # |A ∩ B| <= |B| and C >= t needs overlap >= ceil(t|A|)
            & (F.col("sz_b") >= F.ceil(F.lit(threshold) * F.col("sz_a") - F.lit(1e-9)))
        )
        .groupBy("id_a", "id_b", "sz_a")
        .agg(F.count(F.lit(1)).alias("_shared"))
        .where(F.col("_shared") >= F.least(F.lit(ell), alpha))
        .select("id_a", "id_b")
    )
    if candidates_only:
        return cands
    # the adaptive verify: bitmap+LUT popcount when the vocabulary is
    # dense-mappable (the low-vocabulary regime is ALSO where the prefix
    # filter is weakest and the candidate count largest — exactly when the
    # ~100x cheaper kernel matters), sorted-array merge otherwise
    return _exact_jaccard_verify(
        cands, grams_arr, threshold, dfreq=dfreq,
        measure="containment", out_col="containment",
    )


def incremental_neardup_pairs(
    df: DataFrame,
    delta_ids: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    num_bands: int = 40,
    rows_per_band: int = 4,
    shingle_n: int = 7,
    text_cap: int = 10_000,
    seed: int = 11037,
    grams_arr: DataFrame | None = None,
    blocks: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs INVOLVING NEW DOCUMENTS only: delta×indexed ∪
    delta×delta, never indexed×indexed — the daily-crawl dedup step.

    A 10^12-doc corpus is not re-deduped from scratch per snapshot; the
    standing corpus keeps a materialized MinHash band index and each new
    crawl delta is (1) banded, (2) probed against the index + itself,
    (3) exact-verified. The full-corpus re-dedup is quadratic-ish in
    candidate mass; this is proportional to the DELTA's candidate mass —
    the only shape that holds when the delta is 0.1% of the corpus.

    ``delta_ids`` is one column ``id`` marking the new docs. Both sides'
    signatures are computed here from the shared gram table; in production
    the indexed side's ``(id, block_id)`` rows come from the stored index
    (a parquet/Iceberg table partitioned by band — the signature build
    below is the one-time indexing cost, not a per-delta cost).

    Output: (id_a, id_b, jaccard) with id_a < id_b, J ≥ threshold, at
    least one side in the delta; verification makes the result exact given
    banding recall (same 40×4 argument as ``minhash_neardup_pairs``).
    """
    if grams_arr is None:
        grams_arr = gram_sets(gram_hashes(df, id_col, text_col, shingle_n, text_cap))
        grams_arr = grams_arr.localCheckpoint()
    if blocks is None:
        # The full band table is the INDEX; the delta's slice of it is the
        # probe. Materialize once — the probe side reads it, not re-derives.
        blocks = minhash_band_blocks(grams_arr, num_bands, rows_per_band, seed).localCheckpoint()
    # no broadcast hint: the delta can itself be 10^9 rows at target scale;
    # AQE picks broadcast when the id list is actually small
    probe = blocks.join(
        delta_ids.select(F.col(delta_ids.columns[0]).alias("id")), "id", "semi"
    )
    cands = (
        probe.alias("l")
        .join(blocks.alias("r"), "block_id")
        .where(F.col("l.id") != F.col("r.id"))
        .select(
            F.least(F.col("l.id"), F.col("r.id")).alias("id_a"),
            F.greatest(F.col("l.id"), F.col("r.id")).alias("id_b"),
        )
        .distinct()
    )
    return _exact_jaccard_verify(cands, grams_arr, threshold)
