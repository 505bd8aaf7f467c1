"""Pairwise similarity functions.

Reference precedents: Levenshtein.ratio scoring
(/root/reference/OpenEA_Mod/src/openea/approaches/imuse.py:195-198), 3-gram
Jaccard (/root/reference/deepmatcher/notebooks/create_dataset_neighbor.py:94-109),
cosine over embeddings
(/root/reference/OpenEA_Mod/src/openea/modules/finding/similarity.py:12-91).

Everything that Spark can express natively IS native (levenshtein, Jaccard
over arrays, cosine via zip_with/aggregate — all whole-stage codegen).
Jaro-Winkler has no Spark builtin, so it is an Arrow-batched pandas UDF
(never row-at-a-time Python) implementing the standard algorithm with
boost-threshold 0.7 / prefix ≤ 4 / weight 0.1 — verified bit-compatible with
DuckDB's ``jaro_winkler_similarity`` in tests.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType


def levenshtein_ratio(a: Column | str, b: Column | str) -> Column:
    """1 - lev(a,b)/max(len) — the reference's Levenshtein.ratio analog,
    via the native ``levenshtein`` builtin. Both empty → 1.0."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    mx = F.greatest(F.length(ca), F.length(cb))
    return F.when(mx == 0, F.lit(1.0)).otherwise(
        1.0 - F.levenshtein(ca, cb) / mx.cast("double")
    )


def _myers_distance_batch(pats: "pd.Series", texts: "pd.Series") -> "np.ndarray":
    """EXACT Levenshtein distances for a batch of string pairs via the
    bit-parallel Myers/Hyyrö algorithm, vectorized ACROSS PAIRS.

    Classic DP costs O(m·n) cells per pair; Myers packs a DP column into
    ⌈m/64⌉ machine words and advances it with ~15 word ops per text char —
    ~64× fewer operations. Here the word ops run as numpy expressions over
    the whole batch at once (state arrays shaped (batch, blocks)), so the
    Python interpreter executes ~n_max·blocks statements per BATCH, not
    per pair. Multi-block carries (the D0 addition's ripple carry and the
    HP/HN horizontal shift bits) propagate block-by-block per step;
    per-pair text lengths freeze their lanes via an active mask; the score
    bit is gathered at each pair's own top block/bit. Distances operate on
    CODE POINTS (utf-32 view) — the same unit as Spark's ``levenshtein``
    and DuckDB's — and equality with the JVM builtin is hypothesis-pinned
    in tests/test_functions.py.
    """
    n_pairs = len(pats)
    out = np.zeros(n_pairs, dtype=np.int64)
    pa = [("" if p is None else p) for p in pats]
    tb = [("" if t is None else t) for t in texts]
    # pattern = the shorter side (distance is symmetric): fewer blocks
    swap = [len(a) > len(b) for a, b in zip(pa, tb)]
    pa, tb = (
        [b if s else a for a, b, s in zip(pa, tb, swap)],
        [a if s else b for a, b, s in zip(pa, tb, swap)],
    )
    mlens = np.fromiter((len(x) for x in pa), dtype=np.int64, count=n_pairs)
    nlens = np.fromiter((len(x) for x in tb), dtype=np.int64, count=n_pairs)
    # trivial lanes: empty pattern -> distance = |text|
    out[mlens == 0] = nlens[mlens == 0]
    live = np.flatnonzero(mlens > 0)
    if live.size == 0:
        return out
    pa = [pa[i] for i in live]
    tb = [tb[i] for i in live]
    mlens = mlens[live]
    nlens = nlens[live]
    nb = len(pa)
    m_max = int(mlens.max())
    n_max = int(nlens.max())
    if n_max == 0:  # every live text empty -> distance = |pattern|
        out[live] = mlens
        return out
    B = (m_max + 63) // 64

    def codes(strings, width):
        arr = np.zeros((len(strings), width), dtype=np.int64)
        for r, s in enumerate(strings):
            if s:
                arr[r, : len(s)] = np.frombuffer(
                    s.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
        return arr

    pat_uniq, pat_idx = np.unique(np.array(pa, dtype=object), return_inverse=True)
    pcodes = codes(list(pat_uniq), m_max)
    tcodes = codes(tb, n_max)
    # batch-local alphabet over TEXT chars (pattern chars absent from every
    # text never get probed); pattern positions with foreign chars -> 0 rows
    vocab = np.unique(tcodes)
    C = vocab.size
    pmap = np.searchsorted(vocab, pcodes)
    np.minimum(pmap, C - 1, out=pmap)
    pmap[vocab[pmap] != pcodes] = C
    tmap = np.searchsorted(vocab, tcodes)  # always found (vocab built from texts)
    P = pat_uniq.size
    # route padding positions to the sentinel row too, then build Peq with
    # one sort + bitwise_or.reduceat over linearized (pattern, char, block)
    # keys — ~6x faster than a bitwise_or.at scatter on these sizes
    plens = np.fromiter((len(s) for s in pat_uniq), dtype=np.int64, count=P)
    pmap[np.arange(m_max) >= plens[:, None]] = C
    pos = np.arange(m_max, dtype=np.int64)
    key = ((np.arange(P, dtype=np.int64)[:, None] * (C + 1) + pmap) * B + (pos >> 6)).ravel()
    bit = np.broadcast_to(np.uint64(1) << (pos & 63).astype(np.uint64), (P, m_max)).ravel()
    order_k = np.argsort(key, kind="stable")
    key_s = key[order_k]
    bit_s = bit[order_k]
    starts = np.flatnonzero(np.r_[True, key_s[1:] != key_s[:-1]])
    peq = np.zeros(P * (C + 1) * B, dtype=np.uint64)
    peq[key_s[starts]] = np.bitwise_or.reduceat(bit_s, starts)
    peq = peq.reshape(P, C + 1, B)
    peq[:, C, :] = 0  # padding / foreign-char sentinel row

    # Lanes sorted by text length: once j passes a lane's length its state
    # must freeze — with the sort, "frozen" is a contiguous tail, so each
    # step simply SHRINKS the working view (no per-step masking at all).
    order = np.argsort(-nlens, kind="stable")
    inv_live = live[order]
    VP = np.full((nb, B), ~np.uint64(0), dtype=np.uint64)
    VN = np.zeros((nb, B), dtype=np.uint64)
    score = mlens[order].copy()
    top_blk = ((mlens[order] - 1) // 64).astype(np.int64)
    top_bit = (np.uint64(1) << ((mlens[order] - 1) % 64).astype(np.uint64))
    sel_b = [np.flatnonzero(top_blk == b) for b in range(B)]
    pat_of = pat_idx[order]
    tmap = tmap[order]
    nlens_s = nlens[order]
    one = np.uint64(1)
    sixty3 = np.uint64(63)
    # preallocated scratch (in-place ops: the naive expression form spends
    # ~40% of the wall allocating 80 KB temporaries 20k times per batch)
    buf = [np.empty(nb, dtype=np.uint64) for _ in range(6)]
    cbuf = [np.empty(nb, dtype=bool) for _ in range(2)]
    n_active = nb
    for j in range(n_max):
        while n_active and nlens_s[n_active - 1] <= j:
            n_active -= 1
        if n_active == 0:
            break
        a = slice(0, n_active)
        eq_all = peq[pat_of[a], tmap[a, j], :]  # (n_active, B)
        x, s2, d0, hp, hn, tmpu = (bf[a] for bf in buf)
        c1, c2 = (cb[a] for cb in cbuf)
        add_c = np.zeros(n_active, dtype=np.uint64)
        hp_c = np.full(n_active, one, dtype=np.uint64)  # block 0 shifts in a 1
        hn_c = np.zeros(n_active, dtype=np.uint64)
        for b in range(B):
            eq = eq_all[:, b]
            vp = VP[a, b]
            vn = VN[a, b]
            np.bitwise_and(eq, vp, out=x)
            np.add(x, vp, out=s2)
            np.less(s2, x, out=c1)
            np.add(s2, add_c, out=s2)
            np.less(s2, add_c, out=c2)  # s2 wrapped below the carry added
            np.bitwise_or(c1, c2, out=c1)
            add_c = c1.astype(np.uint64)
            np.bitwise_xor(s2, vp, out=d0)
            np.bitwise_or(d0, eq, out=d0)
            np.bitwise_or(d0, vn, out=d0)
            np.bitwise_or(d0, vp, out=tmpu)
            np.bitwise_not(tmpu, out=tmpu)
            np.bitwise_or(vn, tmpu, out=hp)
            np.bitwise_and(vp, d0, out=hn)
            sel = sel_b[b]
            if sel.size:
                sel = sel[sel < n_active]
                if sel.size:
                    inc = ((hp[sel] & top_bit[sel]) != 0).view(np.int8).astype(
                        np.int64
                    ) - ((hn[sel] & top_bit[sel]) != 0).view(np.int8).astype(np.int64)
                    score[sel] += inc
            hp_out = hp >> sixty3
            hn_out = hn >> sixty3
            np.left_shift(hp, one, out=hp)
            np.bitwise_or(hp, hp_c, out=hp)
            np.left_shift(hn, one, out=hn)
            np.bitwise_or(hn, hn_c, out=hn)
            hp_c, hn_c = hp_out, hn_out
            np.bitwise_or(d0, hp, out=tmpu)
            np.bitwise_not(tmpu, out=tmpu)
            np.bitwise_or(hn, tmpu, out=VP[a, b])
            np.bitwise_and(hp, d0, out=VN[a, b])
    out[inv_live] = score
    return out


def levenshtein_distance_udf():
    """Arrow-batched EXACT Levenshtein distance (bit-parallel Myers kernel,
    :func:`_myers_distance_batch`) — the fast path for long-string hot
    loops where the JVM's O(m·n) DP dominates the stage (the 192-char
    token-set-ratio feature measured ~64% of the whole scoring pass)."""
    from pyspark.sql.types import LongType

    @pandas_udf(LongType())
    def _lev(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(_myers_distance_batch(a, b))

    return _lev


def levenshtein_ratio_fast(a: Column | str, b: Column | str) -> Column:
    """Value-identical to :func:`levenshtein_ratio` (the distance is the
    same exact integer; the ratio expression is unchanged), computed with
    the batched Myers kernel instead of the JVM DP. Null handling matches
    the builtin exactly, INCLUDING the (null, '') edge: ``greatest``
    ignores nulls, so a null beside an empty string gives mx = 0 -> 1.0
    (checked before the null guard, as the builtin's expression order
    implies); any other null operand -> null (the kernel itself maps None
    to "" for lane packing, so the guard is explicit here).

    The guards pick the value, not the work: Spark evaluates the pandas
    UDF in an ``ArrowEvalPython`` node below the CASE, so the kernel runs
    on every row, whatever the guards decide."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    mx = F.greatest(F.length(ca), F.length(cb))
    return F.when(mx == 0, F.lit(1.0)).otherwise(
        F.when(ca.isNull() | cb.isNull(), F.lit(None).cast("double")).otherwise(
            1.0 - levenshtein_distance_udf()(ca, cb) / mx.cast("double")
        )
    )


def token_set_levenshtein_ratio(a: Column | str, b: Column | str) -> Column:
    """Levenshtein ratio over the sorted deduped token sets.

    Canonicalizes word order/duplication first (token-set semantics), then
    compares — deterministic and order-insensitive, unlike fuzzy
    token_set_ratio variants. Fully native: sort_array + concat_ws +
    levenshtein.
    """
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b

    def canon(c: Column) -> Column:
        return F.concat_ws(
            " ", F.sort_array(F.array_distinct(F.filter(F.split(F.lower(c), r"\s+"), lambda t: t != "")))
        )

    return levenshtein_ratio(canon(ca), canon(cb))


def jaccard_arrays(a: Column, b: Column) -> Column:
    """Jaccard over two (deduped) arrays via array_intersect/array_union sizes.
    Both empty → 0.0 (matches strsimpy's 3-gram-Jaccard-on-empty behavior)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union.cast("double"))


def char_jaccard(a: Column | str, b: Column | str) -> Column:
    """Jaccard over distinct single characters (DuckDB ``jaccard`` parity)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b

    def chars(c: Column) -> Column:
        return F.array_distinct(F.filter(F.split(c, ""), lambda t: t != ""))

    return jaccard_arrays(chars(ca), chars(cb))


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine over two ``array<float|double>`` columns — native zip_with +
    aggregate (no UDF). Zero-norm vectors → 0.0."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))
    return F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(dot / (na * nb))


def euclidean_similarity(a: Column, b: Column) -> Column:
    """``1 - euclidean_distance`` — similarity.py:50-53
    (``1 - euclidean_distances(embed1, embed2)``)."""
    sq = F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.lit(1.0) - F.sqrt(sq)


def manhattan_similarity(a: Column, b: Column) -> Column:
    """``1 - cityblock_distance`` — similarity.py:58-61; manhattan is the
    best-config metric for RDGCN (args_best/rdgcn_args_DBP_YG_15K.json)."""
    l1 = F.aggregate(
        F.zip_with(a, b, lambda x, y: F.abs(x.cast("double") - y.cast("double"))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.lit(1.0) - l1


def _codes_matrix(s: pd.Series, width: int) -> tuple[np.ndarray, np.ndarray]:
    """(n, width) int32 codepoint matrix (0-padded) + (n,) lengths — built
    with pandas C string kernels (pad + join + utf-32 decode), no per-row
    Python."""
    s = s.fillna("").str.slice(0, width)
    lens = s.str.len().to_numpy(dtype=np.int64)
    padded = s.str.pad(width, side="right", fillchar="\x00")
    buf = "".join(padded.tolist()).encode("utf-32-le")
    codes = np.frombuffer(buf, dtype=np.uint32).reshape(len(s), width)
    return codes, lens


def _jaro_winkler_batch(s1: pd.Series, s2: pd.Series) -> pd.Series:
    """Batch Jaro-Winkler, fully numpy-vectorized (no per-row Python, per
    the north star): the greedy character-matching loop runs over *string
    positions* (≤ width iterations), each step a vectorized op across the
    whole batch. Bit-identical to the scalar reference ``_jaro_winkler_one``
    / DuckDB's ``jaro_winkler_similarity``: empty either side → 0.0; boost
    iff jaro > 0.7; prefix ≤ 4; weight 0.1.

    Processed in row chunks so the ~8 live (chunk, width) temporaries stay
    cache-resident: with 32 concurrent workers the full-batch version is
    memory-bandwidth-bound and core-count scaling collapses.
    """
    n = len(s1)
    if n == 0:
        return pd.Series([], dtype=np.float64)
    width = max(int(s1.fillna("").str.len().max() or 0), int(s2.fillna("").str.len().max() or 0))
    if width == 0:
        return pd.Series(np.zeros(n, dtype=np.float64))
    a, la = _codes_matrix(s1, width)
    b, lb = _codes_matrix(s2, width)

    chunk = max(1, 262144 // max(width, 1))  # ~1MB of uint32 codes per side
    if n > chunk:
        parts = [
            _jw_codes_block(a[i : i + chunk], la[i : i + chunk], b[i : i + chunk], lb[i : i + chunk], width)
            for i in range(0, n, chunk)
        ]
        return pd.Series(np.concatenate(parts))
    return pd.Series(_jw_codes_block(a, la, b, lb, width))


def _jw_codes_block(a, la, b, lb, width) -> np.ndarray:
    n = len(la)
    window = np.maximum(np.maximum(la, lb) // 2 - 1, 0)
    cols = np.arange(width, dtype=np.int64)
    b_matched = np.zeros((n, width), dtype=bool)
    a_matched = np.zeros((n, width), dtype=bool)
    valid_b = cols[None, :] < lb[:, None]

    for i in range(width):
        active = i < la
        if not active.any():
            break
        lo = i - window
        hi = i + window + 1
        cand = (
            (b == a[:, i : i + 1])
            & ~b_matched
            & valid_b
            & (cols[None, :] >= lo[:, None])
            & (cols[None, :] < hi[:, None])
            & active[:, None]
        )
        hit = cand.any(axis=1)
        j = cand.argmax(axis=1)
        rows = np.nonzero(hit)[0]
        b_matched[rows, j[rows]] = True
        a_matched[rows, i] = True

    m = a_matched.sum(axis=1)

    # k-th matched char of a (in i order) vs k-th matched char of b (in j
    # order): scatter by per-row match rank, count half-transpositions.
    rank_a = np.cumsum(a_matched, axis=1) - 1
    rank_b = np.cumsum(b_matched, axis=1) - 1
    am = np.zeros((n, width), dtype=a.dtype)
    bm = np.zeros((n, width), dtype=b.dtype)
    ra, ca = np.nonzero(a_matched)
    rb, cb = np.nonzero(b_matched)
    am[ra, rank_a[ra, ca]] = a[ra, ca]
    bm[rb, rank_b[rb, cb]] = b[rb, cb]
    in_m = cols[None, :] < m[:, None]
    t = ((am != bm) & in_m).sum(axis=1) // 2

    m_f = m.astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        jaro = (m_f / la + m_f / lb + (m_f - t) / m_f) / 3.0
    jaro = np.where(m > 0, jaro, 0.0)

    pw = min(4, width)
    eq4 = (a[:, :pw] == b[:, :pw]) & (cols[None, :pw] < np.minimum(la, lb)[:, None])
    prefix = np.cumprod(eq4, axis=1).sum(axis=1).astype(np.float64)
    out = np.where(jaro > 0.7, jaro + 0.1 * prefix * (1.0 - jaro), jaro)

    equal = (la == lb) & (a == b).all(axis=1)
    out = np.where(equal, 1.0, out)
    out = np.where((la == 0) | (lb == 0), 0.0, out)
    return out


def _jaro_winkler_one(a: str, b: str) -> float:
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0
    if a == b:
        return 1.0
    window = max(la, lb) // 2 - 1
    if window < 0:
        window = 0
    b_matched = bytearray(lb)
    a_matched_chars = []
    for i, ch in enumerate(a):
        lo = i - window if i - window > 0 else 0
        hi = i + window + 1 if i + window + 1 < lb else lb
        for j in range(lo, hi):
            if not b_matched[j] and b[j] == ch:
                b_matched[j] = 1
                a_matched_chars.append(ch)
                break
    m = len(a_matched_chars)
    if m == 0:
        return 0.0
    b_matched_chars = [b[j] for j in range(lb) if b_matched[j]]
    t = sum(ca != cb for ca, cb in zip(a_matched_chars, b_matched_chars)) // 2
    jaro = (m / la + m / lb + (m - t) / m) / 3.0
    if jaro <= 0.7:
        return jaro
    prefix = 0
    for ca, cb in zip(a[:4], b[:4]):
        if ca == cb:
            prefix += 1
        else:
            break
    return jaro + 0.1 * prefix * (1.0 - jaro)


@pandas_udf(DoubleType())
def jaro_winkler_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return _jaro_winkler_batch(a, b)


def _jaccard_hashed_batch(sa: pd.Series, sb: pd.Series) -> pd.Series:
    """Batch Jaccard over distinct-int-hash arrays, fully vectorized.

    The native ``array_intersect`` builds a boxed hash set per row; at 6M+
    pairs x ~250 elements that allocation rate collapses into GC and the
    stage scales INVERSELY with cores (measured 24s@8 -> 96s@32 on
    identical input). Here: pack (row, value) into one uint64 per element
    (value < 2^32 by construction, row < 2^32 per Arrow batch), sort the
    concatenated a+b keys, count adjacent duplicates per row — one C-speed
    sort per batch, zero per-row Python in the element math.
    """
    inter, la, lb, null_mask = _inter_counts_batch(sa, sb)
    n = len(sa)
    if n == 0:
        return pd.Series([], dtype=np.float64)
    union = la + lb - inter
    with np.errstate(divide="ignore", invalid="ignore"):
        jac = inter / union.astype(np.float64)
    out = np.where(union > 0, jac, 0.0)
    if null_mask.any():
        out = np.where(null_mask, np.nan, out)
    return pd.Series(out)


def _inter_counts_batch(
    sa: pd.Series, sb: pd.Series
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(inter, |a|, |b|, null_mask) per row — the shared pack-sort-bincount
    intersection kernel behind the Jaccard and containment UDFs."""
    n = len(sa)
    if n == 0:
        z = np.array([], dtype=np.int64)
        return z, z, z, np.array([], dtype=bool)
    a_arrays = sa.to_numpy()
    b_arrays = sb.to_numpy()
    # Null-safe: a null text column yields a None array element; treat it as
    # empty for the math and emit null (NaN) for that row, matching the
    # native expression's null-in -> null-out contract. pandas isna is a C
    # kernel (element-is-None on object dtype) — no per-row Python.
    null_mask = sa.isna().to_numpy() | sb.isna().to_numpy()
    if null_mask.any():
        empty = np.array([], dtype=np.int64)
        a_arrays = np.array([empty if x is None else x for x in a_arrays], dtype=object)
        b_arrays = np.array([empty if x is None else x for x in b_arrays], dtype=object)
    la = np.fromiter((len(x) for x in a_arrays), dtype=np.int64, count=n)
    lb = np.fromiter((len(x) for x in b_arrays), dtype=np.int64, count=n)
    rows_a = np.repeat(np.arange(n, dtype=np.uint64), la)
    rows_b = np.repeat(np.arange(n, dtype=np.uint64), lb)
    vals_a = (np.concatenate(a_arrays) if la.sum() else np.array([], dtype=np.int64)).astype(np.uint64)
    vals_b = (np.concatenate(b_arrays) if lb.sum() else np.array([], dtype=np.int64)).astype(np.uint64)
    both = np.concatenate([(rows_a << np.uint64(32)) | vals_a, (rows_b << np.uint64(32)) | vals_b])
    both.sort()
    dup = both[1:] == both[:-1]
    shared_rows = (both[1:][dup] >> np.uint64(32)).astype(np.int64)
    inter = np.bincount(shared_rows, minlength=n)
    return inter, la, lb, null_mask


@pandas_udf(DoubleType())
def jaccard_hashed_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return _jaccard_hashed_batch(a, b)


@pandas_udf(DoubleType())
def containment_hashed_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Broder containment C(a→b) = |a ∩ b| / |a| over distinct-int-hash
    arrays — the asymmetric near-dup measure (a quote or syndicated article
    is CONTAINED in its host page even when Jaccard is tiny). Same
    pack-sort-bincount kernel as the Jaccard UDF; |a| = 0 → 0.0."""
    inter, la, _lb, null_mask = _inter_counts_batch(a, b)
    if len(a) == 0:
        return pd.Series([], dtype=np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        c = inter / la.astype(np.float64)
    out = np.where(la > 0, c, 0.0)
    if null_mask.any():
        out = np.where(null_mask, np.nan, out)
    return pd.Series(out)
