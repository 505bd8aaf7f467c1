"""Mergeable distinct-count sketch (HyperLogLog) with a fully
deterministic, engine-portable register layout.

At 100 TB, "how many distinct URLs / domains / users per slice" is a
daily question and an exact ``COUNT(DISTINCT …)`` is a full shuffle of
the key column. An HLL sketch answers it in one map-side pass + a
4096-row-per-group reduce, and — the property this module is built
around — per-group register tables MERGE by ``max``: compute registers
once per (day, source) cell, then roll any coarser grain up from the
cells without rescanning the data. That mergeability is what makes the
sketch a *table*, not a scalar: it checkpoints, unions across crawls,
and backfills.

Spark ships ``approx_count_distinct`` (HLL++), but its hash and register
encoding are JVM-internal — unverifiable against any other engine and
not stable across versions, which fails this repo's oracle bar. This
implementation pins every bit: register index = first 3 hex chars of
``md5(value)`` (p=12, m=4096 registers, keyed by the hex STRING so no
engine-specific hex→int parsing is involved), rho = 1 + leading zero
bits of the next 64 hash bits (computed by string ops on the hex tail —
identical in Spark and DuckDB), and the harmonic-mean reduction runs in
INTEGER units of 2**-60 (a ``sum`` over exact powers of two in
DECIMAL(38,0) / HUGEINT) so no float-accumulation order can perturb the
estimate. The only floats are one division and (on the standard
small-range branch) one ``ln`` — both single-rounding, emitted rounded.

Estimator is classic Flajolet–Fux–Gandouet–Meunier HLL:
``E = alpha_m * m^2 / sum(2^-M_j)`` with the small-range linear-counting
correction ``m * ln(m/V)`` when ``E <= 2.5m`` and V (empty registers)
> 0. Expected relative error ~1.04/sqrt(4096) ≈ 1.6%.

Reference anchor: the reference audits blocking coverage with exact
distinct counts over candidate tables (stats.csv,
/root/reference/process_blocking_result.py); this sketch is the
same audit made feasible at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

P_BITS = 12
M_REGISTERS = 1 << P_BITS  # 4096
_ALPHA = 0.7213 / (1.0 + 1.079 / M_REGISTERS)
# All register contributions are summed in integer units of 2**-60;
# rho is capped at 60 (the cap is part of the pinned layout, applied
# identically by the SQL oracle — the estimate shift is ~2**-60).
_UNIT_POW = 60
# alpha * m^2 * 2**60 — the numerator of the harmonic-mean estimate in
# integer units. A Python float literal, so both engines parse the exact
# same double.
EST_NUMERATOR = _ALPHA * M_REGISTERS * M_REGISTERS * float(1 << _UNIT_POW)


def _rho_expr(tail: Column) -> Column:
    """1 + count of leading zero BITS of the 64-bit hex-string ``tail``.

    Pure string algebra so Spark and DuckDB agree bit-for-bit: 4 bits per
    leading '0' hex char, plus 0–3 from the first non-zero hex digit
    ('8'..'f' → 0, '4'..'7' → 1, '2'..'3' → 2, '1' → 3; ASCII order makes
    the comparisons correct for 0-9a-f).
    """
    z = F.regexp_replace(tail, "^0+", "")
    c = F.substring(z, 1, 1)
    extra = (
        F.when(c >= "8", 0).when(c >= "4", 1).when(c >= "2", 2).otherwise(3)
    )
    return F.when(F.length(z) == 0, F.lit(65)).otherwise(
        (16 - F.length(z)) * 4 + extra + 1
    )


def hll_registers(
    df: DataFrame, value_col: str, group_cols: list[str]
) -> DataFrame:
    """(group_cols…, reg, m_r): the sketch itself — max rho per register
    per group. ≤4096 rows per group; merge any set of groups with
    ``groupBy(reg).agg(max(m_r))``.

    Scale shape: one partial-aggregating shuffle on (group…, reg) — the
    map side already collapses to ≤4096 rows per group per task, so the
    shuffle volume is bounded by tasks × 4096, independent of row count.
    """
    h = F.md5(F.col(value_col).cast("string"))
    return (
        df.select(
            *group_cols,
            F.substring(h, 1, 3).alias("reg"),
            _rho_expr(F.substring(h, 4, 16)).alias("rho"),
        )
        .groupBy(*group_cols, "reg")
        .agg(F.max("rho").alias("m_r"))
    )


def hll_estimate(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """Collapse a register table to (group_cols…, est_distinct).

    The harmonic mean accumulates in exact integer units (DECIMAL(38,0)
    of ``2**(60-min(m_r,60))``), empty registers contribute ``2**60``
    each; then one double division + the standard small-range
    linear-counting branch. Emitted rounded to 4 decimals — the two
    engines' only possible divergence is a sub-ulp ``ln`` difference,
    orders of magnitude below the rounding grid.
    """
    # PySpark's shiftleft() only takes a literal bit count; the SQL form
    # accepts an expression.
    unit = F.expr(
        f"cast(shiftleft(1L, {_UNIT_POW} - least(m_r, {_UNIT_POW})) as decimal(38,0))"
    )
    per_group = registers.groupBy(*group_cols).agg(
        F.sum(unit).alias("_units"),
        F.count("*").alias("_nregs"),
    )
    empty = (F.lit(M_REGISTERS) - F.col("_nregs")).cast("decimal(38,0)")
    raw = (
        F.col("_units")
        + empty * F.lit(1 << _UNIT_POW).cast("decimal(38,0)")
    ).cast("double")
    e_raw = F.lit(EST_NUMERATOR) / raw
    v = F.lit(M_REGISTERS) - F.col("_nregs")
    small = F.lit(float(M_REGISTERS)) * F.log(
        F.lit(float(M_REGISTERS)) / v.cast("double")
    )
    est = F.when(
        (e_raw <= F.lit(2.5 * M_REGISTERS)) & (v > 0), small
    ).otherwise(e_raw)
    return per_group.select(
        *group_cols, F.round(est, 4).alias("est_distinct")
    )


def hll_distinct(
    df: DataFrame, value_col: str, group_cols: list[str]
) -> DataFrame:
    """One-call convenience: registers → per-group estimate."""
    return hll_estimate(hll_registers(df, value_col, group_cols), group_cols)


def hll_merge(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge register tables across groups (max per register) — the HLL
    of the UNION of the merged groups' value sets, without rescanning."""
    return registers.groupBy(*group_cols, "reg").agg(
        F.max("m_r").alias("m_r")
    )


def hll_sql(
    source_sql: str,
    value_expr: str,
    group_expr: str,
    group_alias: str = "grp",
) -> str:
    """The DuckDB replay of hll_distinct for oracle strings: identical
    register layout, HUGEINT unit sum, same literals."""
    return f"""
WITH hh AS (
  SELECT {group_expr} AS {group_alias},
         md5(CAST({value_expr} AS VARCHAR)) AS h
  FROM {source_sql}
),
rho AS (
  SELECT {group_alias}, substr(h, 1, 3) AS reg,
    CASE WHEN ltrim(substr(h, 4, 16), '0') = '' THEN 65
         ELSE (16 - length(ltrim(substr(h, 4, 16), '0'))) * 4
              + CASE WHEN substr(ltrim(substr(h, 4, 16), '0'), 1, 1) >= '8' THEN 0
                     WHEN substr(ltrim(substr(h, 4, 16), '0'), 1, 1) >= '4' THEN 1
                     WHEN substr(ltrim(substr(h, 4, 16), '0'), 1, 1) >= '2' THEN 2
                     ELSE 3 END
              + 1 END AS rho
  FROM hh
),
regs AS (
  SELECT {group_alias}, reg, max(rho) AS m_r FROM rho GROUP BY 1, 2
),
agg AS (
  SELECT {group_alias},
         sum((1::HUGEINT) << ({_UNIT_POW} - least(m_r, {_UNIT_POW}))) AS units,
         count(*) AS nregs
  FROM regs GROUP BY 1
),
est AS (
  SELECT {group_alias},
         ({EST_NUMERATOR!r})
           / ((units + ({M_REGISTERS} - nregs)::HUGEINT * (1::HUGEINT << {_UNIT_POW}))::DOUBLE)
           AS e_raw,
         {M_REGISTERS} - nregs AS v
  FROM agg
)
SELECT {group_alias},
       round(CASE WHEN e_raw <= {2.5 * M_REGISTERS!r} AND v > 0
                  THEN {float(M_REGISTERS)!r} * ln({float(M_REGISTERS)!r} / v::DOUBLE)
                  ELSE e_raw END, 4) AS est_distinct
FROM est
"""


# ---------------------------------------------------------------------------
# Bloom filter: fixed-memory membership sketch for cross-corpus filtering.
# ---------------------------------------------------------------------------
# Position layout (pinned, engine-portable), over a gram's 32-bit
# md5-derived int g (the repo's standard gram hash):
#     h1    = ((g & 0xFFFFFFFF) * A1 + B1) mod (2^61 - 1) mod M
#     h2    = (((g & 0xFFFFFFFF) * A2 + B2) mod (2^61 - 1) mod (M - 1)) | 1
#     pos_j = (h1 + j*h2 + (j^3 - j)/6) mod M          for j in 0..K-1
# — enhanced double hashing (Kirsch & Mitzenmacher 2006 + Dillinger &
# Manolios' cubic term): K independent affine maps of the same 32-bit g
# correlate badly (measured 15% FP where ideal is 2.9% at n=2000, m=2^14,
# k=3); deriving all K positions from two mixes restores near-ideal FP
# (measured 4.8%) at the same cost. A1/A2 < 2^30 so g*A < 2^62 can NEVER
# wrap an int64: a wrapped product goes negative, and numpy's floor-mod
# then disagrees with Java's/DuckDB's truncated-mod. All arithmetic is
# plain BIGINT ops, so false positives are deterministic and identical
# across the vectorized bitmap probe, the join-based Spark expression,
# and the SQL oracle.

BLOOM_MOD = (1 << 61) - 1


def bloom_params(seed: int = 20177) -> list[tuple[int, int]]:
    """The two (A, B) mix pairs; A odd and < 2^30, B < 2^31. Same LCG
    discipline as minhash_permutation_params, separate stream."""
    params = []
    state = seed & 0x7FFFFFFF
    for _ in range(2):
        state = (1103515245 * state + 12345) % (1 << 31)
        a = (state % (1 << 30)) | 1
        state = (1103515245 * state + 12345) % (1 << 31)
        b = state
        params.append((a, b))
    return params


def _cubic(j: int) -> int:
    return (j * j * j - j) // 6


def bloom_position(gram: Column, j: int, params, m_bits: int) -> Column:
    """Native-expression pos_j per the pinned layout above."""
    (a1, b1), (a2, b2) = params
    g32 = gram.bitwiseAND(F.lit(0xFFFFFFFF))
    h1 = ((g32 * F.lit(a1) + F.lit(b1)) % F.lit(BLOOM_MOD)) % F.lit(m_bits)
    h2 = (((g32 * F.lit(a2) + F.lit(b2)) % F.lit(BLOOM_MOD)) % F.lit(m_bits - 1)).bitwiseOR(F.lit(1))
    return (h1 + F.lit(j) * h2 + F.lit(_cubic(j))) % F.lit(m_bits)


def _np_positions(g, params, k: int, m_bits: int):
    """(k, n) int64 position matrix for a masked int64 gram vector."""
    import numpy as np

    (a1, b1), (a2, b2) = params
    h1 = ((g * np.int64(a1) + np.int64(b1)) % np.int64(BLOOM_MOD)) % np.int64(m_bits)
    h2 = (((g * np.int64(a2) + np.int64(b2)) % np.int64(BLOOM_MOD)) % np.int64(m_bits - 1)) | np.int64(1)
    return [(h1 + np.int64(j) * h2 + np.int64(_cubic(j))) % np.int64(m_bits) for j in range(k)]


def bloom_build(
    reference_grams: DataFrame,
    gram_col: str = "g",
    m_bits: int = 1 << 18,
    k: int = 3,
    seed: int = 20177,
):
    """Build the bitmap: one map-side pass over the reference gram table ->
    per-slice numpy bitmaps -> OR-merge -> one ``bytes`` value (m_bits/8
    bytes) for the driver to broadcast.

    Scale shape: the reference side is scanned ONCE; each Arrow batch
    reduces to an m/8-byte array; the merge is an OR over #batches
    bitmaps (associative — a two-level tree merge drops in unchanged if
    #batches x m/8 outgrows one task). The result is fixed-size no matter
    how many grams went in — the property that lets a 10^12-doc corpus's
    gram membership ride along as a broadcast instead of a shuffle side.
    """
    import numpy as np
    import pandas as pd

    params = bloom_params(seed)
    words = m_bits // 64

    def to_bitmaps(it):
        bm = np.zeros(words, dtype=np.uint64)
        saw = False
        for pdf in it:
            if len(pdf) == 0:
                continue
            saw = True
            g = pdf[gram_col].to_numpy(dtype=np.int64) & np.int64(0xFFFFFFFF)
            for pos in _np_positions(g, params, k, m_bits):
                # unbuffered OR: plain fancy-index |= collapses duplicate
                # word indices (each reads the ORIGINAL word), dropping bits
                np.bitwise_or.at(
                    bm, pos // 64, np.uint64(1) << (pos.astype(np.uint64) % np.uint64(64))
                )
        if saw:
            yield pd.DataFrame({"bm": [bm.tobytes()]})

    parts = reference_grams.select(gram_col).mapInPandas(to_bitmaps, "bm binary")
    merged = np.zeros(words, dtype=np.uint64)
    for row in parts.collect():  # one m/8-byte row per input slice (bounded)
        merged |= np.frombuffer(row.bm, dtype=np.uint64)
    return merged.tobytes()


def bloom_probe_flags(
    grams: DataFrame,
    bitmap: bytes,
    gram_col: str = "g",
    m_bits: int = 1 << 18,
    k: int = 3,
    seed: int = 20177,
) -> DataFrame:
    """Input rows + ``hit`` (1 = all K positions set: PROBABLY in the
    reference set; 0 = definitely not). Vectorized pandas UDF over the
    driver-broadcast bitmap — no per-row Python, no join, no shuffle."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    params = bloom_params(seed)
    sc = grams.sparkSession.sparkContext
    bc = sc.broadcast(bitmap)

    # annotation-free signature: this module uses postponed annotations
    # (PEP 563), which turns `pd.Series` hints into strings pandas_udf
    # cannot resolve for a locally-imported pandas
    @pandas_udf("int")
    def probe(s):
        bm = np.frombuffer(bc.value, dtype=np.uint64)
        g = s.to_numpy(dtype=np.int64) & np.int64(0xFFFFFFFF)
        hit = np.ones(len(s), dtype=bool)
        for pos in _np_positions(g, params, k, m_bits):
            bit = (bm[pos // 64] >> (pos.astype(np.uint64) % np.uint64(64))) & np.uint64(1)
            hit &= bit.astype(bool)
        return pd.Series(hit.astype("int32"))

    return grams.withColumn("hit", probe(F.col(gram_col)))


def bloom_membership_join(
    grams: DataFrame,
    reference_grams: DataFrame,
    gram_col: str = "g",
    m_bits: int = 1 << 18,
    k: int = 3,
    seed: int = 20177,
) -> DataFrame:
    """The SAME membership function as bitmap-probe, expressed as K
    semi-joins against the ONE occupied-bit set (all K hashes share the
    bitmap, so the occupied set is the union over hash index and
    reference gram) — bit-identical to :func:`bloom_probe_flags` by
    construction, and directly replayable as the SQL oracle. Used for
    verification; the bitmap path is the one a 100 TB job runs
    (broadcast bytes beat K shuffled semi-joins)."""
    params = bloom_params(seed)
    occupied = None
    for j in range(k):
        ps = reference_grams.select(
            bloom_position(F.col(gram_col), j, params, m_bits).alias("_p")
        )
        occupied = ps if occupied is None else occupied.unionAll(ps)
    occupied = occupied.distinct().withColumn("_in", F.lit(1))
    out = grams
    hit = F.lit(1)
    for j in range(k):
        out = out.withColumn("_p", bloom_position(F.col(gram_col), j, params, m_bits))
        out = out.join(
            occupied.withColumnRenamed("_in", f"_in{j}"), "_p", "left"
        ).drop("_p")
        hit = hit * F.coalesce(F.col(f"_in{j}"), F.lit(0))
    return out.withColumn("hit", hit).drop(*[f"_in{j}" for j in range(k)])


# --- Count-Min frequency sketch -------------------------------------------------

CM_DEPTH = 4
CM_WIDTH = 1 << 14  # 16384 counters per row
CM_MOD = (1 << 31) - 1  # Mersenne prime, same modulus family as minhash


def cm_params(seed: int = 30103, depth: int = CM_DEPTH) -> list[tuple[int, int]]:
    """``depth`` (A, B) mix pairs, A odd < 2^30, B < 2^31 — the same LCG
    discipline as bloom_params/minhash_permutation_params, its own stream."""
    params = []
    state = seed & 0x7FFFFFFF
    for _ in range(depth):
        state = (1103515245 * state + 12345) % (1 << 31)
        a = (state % (1 << 30)) | 1
        state = (1103515245 * state + 12345) % (1 << 31)
        b = state
        params.append((a, b))
    return params


def _cm_item_hash(value: Column) -> Column:
    """Pinned 32-bit item hash: first 8 hex chars of md5 — the exact
    construction every other sketch/sampler in this repo uses, so the
    DuckDB oracle replays it verbatim."""
    return F.conv(F.substring(F.md5(value.cast("string")), 1, 8), 16, 10).cast("long")


def cm_cell(value: Column, j: int, params, width: int = CM_WIDTH) -> Column:
    """Row-``j`` counter index for ``value`` per the pinned layout."""
    a, b = params[j]
    return ((_cm_item_hash(value) * F.lit(a) + F.lit(b)) % F.lit(CM_MOD)) % F.lit(width)


def cm_build(
    items: DataFrame,
    item_col: str,
    group_cols: list[str] | None = None,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
    seed: int = 30103,
) -> DataFrame:
    """Mergeable Count-Min sketch TABLE (group_cols..., j, cell, cnt):
    Cormode & Muthukrishnan 2005, the frequency analog of the HLL register
    table above. ``est(x) = min_j cnt[j][cell_j(x)]`` never underestimates
    and overestimates by ≤ 2N/width with prob ≥ 1 − 2^-depth.

    Why a table, not a UDF blob: per-(day, source) sketch tables MERGE by
    ``sum`` over (j, cell) — compute once per cell of the finest grain,
    roll any coarser grain up without rescanning the corpus, checkpoint,
    union across crawls. At most depth×width rows per group regardless of
    input size; one map-side partially-aggregated groupBy builds it.

    Reference anchor: the reference's blocking audit counts per-key
    frequencies exactly (process_blocking_result.py); this is that audit
    at 10^12-doc scale, where "which tokens/domains/URLs are heavy" cannot
    afford an exact global groupBy per question asked.
    """
    params = cm_params(seed, depth)
    gcols = list(group_cols or [])
    v = F.col(item_col)
    cells = F.array(*[
        F.struct(F.lit(j).alias("j"), cm_cell(v, j, params, width).alias("cell"))
        for j in range(depth)
    ])
    return (
        items.select(*gcols, F.explode(cells).alias("_jc"))
        .select(*gcols, F.col("_jc.j").alias("j"), F.col("_jc.cell").alias("cell"))
        .groupBy(*gcols, "j", "cell")
        .agg(F.count("*").alias("cnt"))
    )


def cm_merge(sketch: DataFrame, group_cols: list[str]) -> DataFrame:
    """Roll sketch tables up to a coarser grain: sum counters per (j, cell).
    Exact by linearity — merging per-slice sketches equals sketching the
    union (the property that makes the sketch a checkpointable table)."""
    return sketch.groupBy(*group_cols, "j", "cell").agg(F.sum("cnt").alias("cnt"))


def cm_estimate(
    probes: DataFrame,
    sketch: DataFrame,
    item_col: str,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
    seed: int = 30103,
) -> DataFrame:
    """``probes`` + ``est`` (the Count-Min upper-bound frequency estimate).

    Shape: explode each probe into its ``depth`` (j, cell) coordinates,
    LEFT-join the sketch table (missing counter ⇒ 0 — only reachable when
    the probe item never appeared), take the min per probe. The sketch
    side is ≤ depth×width rows — broadcast-size by construction at any
    corpus scale (the whole point of a sketch), so the join never
    shuffles the probe side."""
    params = cm_params(seed, depth)
    v = F.col(item_col)
    cells = F.array(*[
        F.struct(F.lit(j).alias("j"), cm_cell(v, j, params, width).alias("cell"))
        for j in range(depth)
    ])
    exploded = probes.select(item_col, F.explode(cells).alias("_jc")).select(
        item_col, F.col("_jc.j").alias("j"), F.col("_jc.cell").alias("cell")
    )
    return (
        exploded.join(F.broadcast(sketch.select("j", "cell", "cnt")), ["j", "cell"], "left")
        .groupBy(item_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )
