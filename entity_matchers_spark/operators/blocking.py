"""Blocking — the join-avoidance layer (SURVEY.md §2.3).

The reference blocks with per-column q-gram rule blockers union'd + deduped
(/root/reference/deepmatcher/notebooks/create_dataset_deepmatchers.py:243-260,
337-415), ElasticSearch 2/3-gram top-k (README.md:295-383), and random-
hyperplane LSH (/root/reference/OpenEA_Mod/src/openea/modules/blocking/
lshash.py:27-120). All of those assume one machine and ≤500K entities.

Here blocking is a *key-materialization problem*: produce a (id, block_id)
table whose equi-self-join yields the candidate pairs. Two key families,
union'd (the reference's multi-blocker-union precedent):

1. Normalized URL-domain key — the analog of URI-tail naming
   (/root/reference/OpenEA_Mod/src/openea/approaches/rdgcn.py:529-532).
2. MinHash-LSH band keys over character shingles of the extracted text
   (capped at 300 chars, the ES query cap: README.md:378). Their builder,
   ``lsh_band_keys``, and the pair join, ``block_self_join``, are also the
   near-dup family's MinHash index and its IVF-cell candidate join.

Scale discipline (the part the reference never faces, SURVEY.md §4):
- **Frequency cap**: blocks larger than ``max_block_size`` are dropped — a
  hot shingle band ("the the the") would otherwise produce a quadratic
  pair explosion. Dropped mass is observable in the blocking-metrics table.
- **Pair dedup at the source**: self-join emits ``id_a < id_b`` only, and
  duplicate pairs from multiple shared blocks are collapsed with a
  groupBy on (id_a, id_b) — never materializing the duplicates downstream.
- **Skew**: AQE skew-join splitting is on (session default); with the
  frequency cap, per-block pair counts are bounded at
  max_block_size·(max_block_size−1)/2, so no single shuffle partition can
  explode even at 10^12 docs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from entity_matchers_spark.functions.hashing import MINHASH_PRIME, minhash_permutation_params
from entity_matchers_spark.functions.shingles import gram_hashes, gram_sets


def normalized_domain(url: Column | str) -> Column:
    """Registrable-ish domain key: host, lowercased, ``www.`` stripped.

    ``parse_url`` is JVM-native; the regexp fallback keeps the expression
    oracle-translatable.
    """
    c = F.col(url) if isinstance(url, str) else url
    host = F.regexp_extract(c, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)", 1)
    return F.regexp_replace(F.lower(host), r"^www\.", "")


def domain_keys(docs: DataFrame) -> DataFrame:
    """(id, block_id) = ``dom:<domain>`` over docs with ``id`` and ``domain``;
    docs with an empty domain get none."""
    return docs.select(
        "id", F.concat(F.lit("dom:"), F.col("domain")).alias("block_id")
    ).where(F.col("block_id") != "dom:")


def domain_block_keys(df: DataFrame, id_col: str = "id", url_col: str = "url") -> DataFrame:
    """(id, block_id) from the normalized URL domain."""
    return domain_keys(
        df.select(F.col(id_col).alias("id"), normalized_domain(url_col).alias("domain"))
    )


def lsh_signatures(hashes: DataFrame, num_perm: int, seed: int) -> DataFrame:
    """(id, s0..s{num_perm-1}) MinHash signatures of an (id, h) gram-hash
    table: ``num_perm`` declarative ``min((a_i·(h % p) + b_i) % p)``
    aggregates (map-side partial aggregation, one shuffle on id). min()
    over duplicate grams equals min() over distinct grams, so the table
    may hold one row per gram position or per distinct gram. An id whose
    only ``h`` is null gets the sentinel ``MINHASH_PRIME`` in every column
    (never a real min: hashes are < p)."""
    base = hashes.select("id", (F.col("h") % MINHASH_PRIME).alias("h"))
    return base.groupBy("id").agg(
        *[
            F.coalesce(
                F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_PRIME), F.lit(MINHASH_PRIME)
            ).alias(f"s{i}")
            for i, (a, b) in enumerate(minhash_permutation_params(num_perm, seed))
        ]
    )


def lsh_band_keys(
    hashes: DataFrame, num_bands: int, rows_per_band: int, seed: int
) -> DataFrame:
    """(id, block_id) MinHash-LSH band keys of an (id, h) gram-hash table —
    the one LSH index builder: the ER blocker feeds it gram positions, the
    near-dup family its hashed-gram sets. Band ``b``'s key is
    ``mh:b:`` + its ``rows_per_band`` signature values, each followed by
    ``-``, exploded into one row per band."""
    sig = lsh_signatures(hashes, num_bands * rows_per_band, seed)
    keys = [
        F.concat(
            F.lit(f"mh:{band}:"),
            *[
                F.concat(F.col(f"s{band * rows_per_band + r}").cast("string"), F.lit("-"))
                for r in range(rows_per_band)
            ],
        )
        for band in range(num_bands)
    ]
    return sig.select("id", F.explode(F.array(*keys)).alias("block_id"))


def minhash_signatures(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    num_perm: int = 32,
    shingle_n: int = 3,
    text_cap: int = 300,
    seed: int = 11037,
) -> DataFrame:
    """(id, s0..s{num_perm-1}) MinHash signature columns of the capped text.

    Shape chosen for scale: explode gram POSITIONS → row-wise
    substring+hash → declarative ``min()`` aggregates. Two rejected
    alternatives, both measured: nested higher-order-function expressions
    re-inline the shingle array per permutation and fall out of codegen
    (~500× slower); and even ONE ``transform()`` building a gram array
    first runs its lambda interpreted per element — the positional form is
    ~3× faster warm and avoids a multi-second first-call JIT penalty.

    Docs whose text yields no shingles get the sentinel signature
    ``MINHASH_PRIME`` in every column.
    """
    return lsh_signatures(gram_hashes(df, id_col, text_col, shingle_n, text_cap), num_perm, seed)


def minhash_block_keys(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    num_bands: int = 16,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    text_cap: int = 300,
    seed: int = 11037,
) -> DataFrame:
    """(id, block_id) via MinHash-LSH banding over char shingles.

    Default 16 bands × 2 rows targets high recall at Jaccard ≥ ~0.3
    (P(hit) = 1-(1-s^2)^16: s=0.3 → 77%, s=0.5 → 99%, s=0.7 → 100%).
    Shingle-less docs carry the sentinel signature, so they share one key
    per band (dropped by the block cap once there are many of them).
    """
    return lsh_band_keys(
        gram_hashes(df, id_col, text_col, shingle_n, text_cap), num_bands, rows_per_band, seed
    )


def cap_block_sizes(blocks: DataFrame, max_block_size: int) -> DataFrame:
    """Drop blocks with more than ``max_block_size`` members (hot-key guard).

    A count-aggregate + broadcast-able join on the *oversized* keys only
    (the set of hot keys is tiny by definition, so this is an anti-join
    against a small side, not a full shuffle of the block table).
    """
    hot = (
        blocks.groupBy("block_id")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > max_block_size)
        .select("block_id")
    )
    return blocks.join(F.broadcast(hot), "block_id", "left_anti")


def block_self_join(blocks: DataFrame) -> DataFrame:
    """Self-join (id, block_id) on block_id → distinct (id_a, id_b) with
    id_a < id_b: the one candidate-pair join of the ER blocker, the MinHash
    near-dup index and the IVF cells. Pairs sharing several blocks are
    collapsed in the same shuffle."""
    return (
        blocks.alias("l")
        .join(blocks.alias("r"), "block_id")
        .where(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )


def candidate_pairs(
    blocks: DataFrame,
    max_block_size: int = 64,
) -> DataFrame:
    """Frequency-capped ``block_self_join``. With the cap, the worst block
    contributes O(max_block_size²) pairs — bounded regardless of corpus
    size."""
    return block_self_join(cap_block_sizes(blocks, max_block_size))


def blocking_metrics(
    blocks: DataFrame,
    labeled_pairs: DataFrame | None = None,
    max_block_size: int = 64,
) -> DataFrame:
    """Blocking audit table — the analog of the reference's ES ``stats.csv``
    (README.md:380-383): block count, size distribution, capped-block mass,
    and (when labels are given) pair recall of the blocking stage."""
    sizes = blocks.groupBy("block_id").agg(F.count("*").alias("n"))
    agg = sizes.agg(
        F.count("*").alias("num_blocks"),
        F.sum("n").alias("total_keys"),
        F.max("n").alias("max_block"),
        F.sum(F.when(F.col("n") > max_block_size, F.col("n")).otherwise(0)).alias("capped_keys"),
        F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("pair_budget"),
    )
    if labeled_pairs is not None:
        cands = candidate_pairs(blocks, max_block_size)
        pos = labeled_pairs.where(F.col("label") == 1)
        hit = pos.join(cands, ["id_a", "id_b"], "left_semi").count()
        tot = pos.count()
        agg = agg.withColumn("label_pairs", F.lit(tot)).withColumn(
            "blocked_label_pairs", F.lit(hit)
        ).withColumn("pair_recall", F.lit(hit / tot if tot else None))
    return agg


def topk_jaccard_candidates(
    blocks_or_grams: DataFrame,
    k: int = 5,
    max_block_size: int = 1000,
) -> DataFrame:
    """Top-k gram-Jaccard neighbors per id — the scalable re-expression of
    the reference's per-entity full-scan weighted-Jaccard blocking
    (/root/reference/deepmatcher/notebooks/create_dataset_neighbor.py:74-135
    compares every entity against the whole other table in a 20-process
    pool; /root/reference/src/preprocess_datasets/
    create_test_cross_product_truncated.py:89-147 same shape).

    Input: (id, block_id) where block_id is a gram/hash key. Shared-key
    counting via the equi-self-join (frequency-capped), Jaccard from set
    sizes, then a row_number window keeps k neighbors per id. Pairs are
    emitted in both directions before the window — the reference's
    bidirectional union of reversed pairs.
    """
    from pyspark.sql import Window

    sizes = blocks_or_grams.groupBy("id").agg(F.count("*").alias("sz"))
    capped = cap_block_sizes(blocks_or_grams, max_block_size)
    shared = (
        capped.alias("l")
        .join(capped.alias("r"), "block_id")
        .where(F.col("l.id") != F.col("r.id"))
        .groupBy(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .agg(F.count("*").alias("shared"))
    )
    scored = (
        shared.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("shared") / (F.col("sz_a") + F.col("sz_b") - F.col("shared")).cast("double"),
        )
    )
    w = Window.partitionBy("id_a").orderBy(F.col("jaccard").desc(), F.col("id_b").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("id_a", "id_b", "jaccard", "rnk")
    )


def weighted_topk_jaccard_cascade(
    docs: DataFrame,
    columns: list[tuple[str, float]],
    id_col: str = "id",
    k: int = 5,
    max_block_size: int = 1000,
    min_len: int = 3,
    n: int = 3,
) -> DataFrame:
    """Weighted multi-column top-k Jaccard neighbor blocking — the
    reference's coefficient cascade (/root/reference/deepmatcher/notebooks/
    create_dataset_neighbor.py:42-45,74-105: names=1.0, other_attributes=
    0.75, one_hop_names=0.5, one_hop_other_attributes=0.25, first level
    where BOTH sides exceed ``min_len`` chars wins; score = that level's
    char-3-gram Jaccard × its coefficient; top-``neighbors`` per entity).

    ``columns``: [(column_name, coefficient)] in priority order.

    Plan: ALL levels share ONE frequency-capped gram self-join on the
    composite (level, gram) key — a single shuffle instead of one
    self-join per level — then one groupBy pivots per-level Jaccards into
    jac0..jacN columns (max-of-when; each (pair, level) occurs once so
    this is just a reshape). Candidates ∝ block sizes, never the n²
    scan-per-entity of the reference's 20-process pool. The cascade is a
    CASE chain over a single per-id length table; window top-k. Pairs are
    emitted in both directions (the reference scores a→b per left
    entity). Zero-score pairs are dropped — identical positives, the
    reference only pads ranks with arbitrary zero-score ids.
    """
    from functools import reduce

    from pyspark.sql import Window

    # one per-id meta table: length per level
    meta_cols = [F.col(id_col).alias("id")]
    for i, (c, _w) in enumerate(columns):
        meta_cols.append(F.length(F.col(c)).alias(f"len{i}"))
    meta = docs.select(*meta_cols)

    nlev = len(columns)
    grams = reduce(
        DataFrame.unionAll,
        [
            gram_sets(gram_hashes(docs, id_col, c, n)).select(
                "id", F.lit(i).alias("lvl"), F.explode("grams").alias("block_id")
            )
            for i, (c, _w) in enumerate(columns)
        ],
    )
    sizes = grams.groupBy("lvl", "id").agg(F.count("*").alias("sz"))
    # hot-key guard per (level, gram) — the hot set is tiny, broadcast it
    hot = (
        grams.groupBy("lvl", "block_id")
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") > max_block_size)
        .select("lvl", "block_id")
    )
    capped = grams.join(F.broadcast(hot), ["lvl", "block_id"], "left_anti")
    shared = (
        capped.alias("l")
        .join(capped.alias("r"), ["lvl", "block_id"])
        .where(F.col("l.id") != F.col("r.id"))
        .groupBy("lvl", F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .agg(F.count("*").alias("shared"))
    )
    jac = (
        shared.join(sizes.select("lvl", F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), ["lvl", "id_a"])
        .join(sizes.select("lvl", F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), ["lvl", "id_b"])
        .select(
            "lvl",
            "id_a",
            "id_b",
            (F.col("shared") / (F.col("sz_a") + F.col("sz_b") - F.col("shared")).cast("double")).alias("jac"),
        )
    )
    piv = jac.groupBy("id_a", "id_b").agg(
        *[F.max(F.when(F.col("lvl") == i, F.col("jac"))).alias(f"jac{i}") for i in range(nlev)]
    )

    out = (
        piv.join(meta.select(F.col("id").alias("id_a"), *[F.col(f"len{i}").alias(f"la{i}") for i in range(nlev)]), "id_a")
        .join(meta.select(F.col("id").alias("id_b"), *[F.col(f"len{i}").alias(f"lb{i}") for i in range(nlev)]), "id_b")
    )

    score = F.lit(0.0)
    level = F.lit(-1)
    # build the CASE chain from lowest priority up so level 0 ends outermost
    for i in range(len(columns) - 1, -1, -1):
        usable = (F.col(f"la{i}") > min_len) & (F.col(f"lb{i}") > min_len)
        score = F.when(usable, F.coalesce(F.col(f"jac{i}"), F.lit(0.0)) * columns[i][1]).otherwise(score)
        level = F.when(usable, F.lit(i)).otherwise(level)

    w = Window.partitionBy("id_a").orderBy(F.col("score").desc(), F.col("id_b").asc())
    return (
        out.withColumn("score", score)
        .withColumn("level", level)
        .where(F.col("score") > 0)
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("id_a", "id_b", "score", "level", "rnk")
    )


def salted_candidate_pairs(
    blocks: DataFrame,
    chunk_size: int = 64,
) -> DataFrame:
    """EXACT self-join on block_id with hot-key salting — no dropped blocks.

    ``candidate_pairs`` bounds skew by *dropping* oversized blocks; when the
    pairs of a hot block are required (the north rule's "salted, skew-aware
    self-join"), the block is decomposed into chunks of ``chunk_size`` and
    every chunk-pair cell (i <= j) becomes its own join key:

      - each member gets a deterministic chunk index ci (row_number within
        its block, mod n_chunks — stable order on id);
      - the LEFT side replicates each member once per cell row (ci, j>=ci),
      - the RIGHT side replicates once per cell column (i<=cj, cj),
      - the equi-join key is (block_id, i, j), so one cell's pairs land in
        one task and no task ever sees more than chunk_size^2 pairs.

    Replication factor is n_chunks per row — total work stays the exact
    pair count O(n^2) but the largest shuffle partition is bounded, which
    is what dies at 10^12 docs otherwise. Output: distinct (id_a < id_b).
    """
    from pyspark.sql import Window

    sizes = blocks.groupBy("block_id").agg(F.count("*").alias("_n"))
    b = blocks.join(sizes, "block_id")
    w = Window.partitionBy("block_id").orderBy("id")
    b = b.withColumn("_nchunks", F.ceil(F.col("_n") / chunk_size).cast("int"))
    b = b.withColumn("_ci", ((F.row_number().over(w) - 1) % F.col("_nchunks")).cast("int"))

    left = b.select(
        "block_id", "id", "_ci",
        F.explode(F.sequence(F.col("_ci"), F.col("_nchunks") - 1)).alias("_j"),
    ).select("block_id", F.col("id").alias("id_a"), F.col("_ci").alias("_i"), "_j")
    right = b.select(
        "block_id", "id", "_ci",
        F.explode(F.sequence(F.lit(0), F.col("_ci"))).alias("_i"),
    ).select("block_id", F.col("id").alias("id_b"), "_i", F.col("_ci").alias("_j"))
    # The cell join's INPUTS are small in bytes (ids + two ints) while its
    # OUTPUT is the full pair explosion, so AQE's byte-based coalescing
    # funnels the explosion into a couple of tasks; spread the cells across
    # the cluster explicitly before joining (measured 14.6s -> 8.0s on the
    # same 9.45M-pair input at local[32]).
    sc = blocks.sparkSession.sparkContext
    left = left.repartition(3 * sc.defaultParallelism, "block_id", "_i", "_j")
    joined = left.join(right, ["block_id", "_i", "_j"])
    # cross-chunk cells (i<j) hold each pair exactly once but in chunk
    # order, not id order — normalize with least/greatest; same-chunk cells
    # hold both orderings, so keep the ordered half only
    return (
        joined.where((F.col("_i") != F.col("_j")) | (F.col("id_a") < F.col("id_b")))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .where(F.col("id_a") != F.col("id_b"))
        .distinct()
    )


def sorted_neighborhood_pairs(
    keyed: DataFrame,
    key_col: str = "snm_key",
    id_col: str = "id",
    window: int = 4,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez & Stolfo 1998): sort the
    corpus on a blocking key and pair every record with the ``window - 1``
    records that follow it in sort order. The classic third blocker family
    beside q-gram keys and LSH bands — it catches near-misses that share a
    PREFIX but no common q-gram band (typos late in the string), and its
    candidate count is exactly ``(window - 1) * n`` regardless of key skew,
    the property the reference's ES top-k blocking approximates with its
    per-entity candidate cap (/root/reference/README.md:366-383).

    Spark shape: the global sort position comes from
    :func:`~entity_matchers_spark.operators.packing.global_rank` (two-level
    distributed prefix sum — no single-task ``Window.orderBy``), then each
    row emits ``window - 1`` successor slots via ``explode(sequence(...))``
    and an equi-join on the slot rank pairs them up. Both sides of the join
    carry (rank, id) only — a few bytes per row at any corpus size — and
    the join key is the unique rank, so the shuffle is perfectly uniform
    even when the blocking KEY is pathologically skewed (every record
    identical). Multi-pass SNM = union of calls with different keys.

    Output: distinct ``(id_a < id_b)`` — rank adjacency normalized to id
    order so downstream pair consumers see the canonical form.
    """
    from entity_matchers_spark.operators.packing import global_rank

    ranked = global_rank(keyed, key_col, id_col).select(
        F.col(id_col).alias("id"), "rank"
    )
    probes = ranked.select(
        F.col("id").alias("id_l"),
        F.explode(
            F.sequence(F.col("rank") + 1, F.col("rank") + (window - 1))
        ).alias("rank"),
    )
    return (
        probes.join(ranked.withColumnRenamed("id", "id_r"), "rank")
        .select(
            F.least("id_l", "id_r").alias("id_a"),
            F.greatest("id_l", "id_r").alias("id_b"),
        )
    )


def phonetic_key(c: Column | str) -> Column:
    """Consonant-skeleton phonetic blocking key: lowercase, letters only,
    first letter kept, vowels and the near-silent ``h w y`` dropped from
    the tail, truncated to 6 chars — the Soundex family's skeleton step
    without the digit classes (those need run-collapsing backreferences,
    which the oracle's RE2 engine lacks; the skeleton alone already merges
    vowel-substitution typos, the dominant error class in person/org
    names). Pure native expressions — blocking keys for 10^12 rows must
    never enter Python.
    """
    s = F.regexp_replace(F.lower(F.col(c) if isinstance(c, str) else c), "[^a-z]", "")
    tail = F.regexp_replace(F.substring(s, 2, 1_000_000), "[aeiouhwy]", "")
    return F.substring(F.concat(F.substring(s, 1, 1), tail), 1, 6)


def phonetic_block_keys(
    df: DataFrame, id_col: str = "id", name_col: str = "name"
) -> DataFrame:
    """(id, block_id) from the phonetic key — empty names produce no key,
    mirroring ``domain_block_keys``' empty-domain drop."""
    return df.select(
        F.col(id_col).alias("id"),
        F.concat(F.lit("ph:"), phonetic_key(name_col)).alias("block_id"),
    ).where(F.col("block_id") != "ph:")


def meta_blocking_prune(
    blocks: DataFrame,
    max_block_size: int = 64,
    scheme: str = "wep",
    k: int = 5,
) -> DataFrame:
    """Meta-blocking (Papadakis et al., TKDE 2014): re-weight the comparison
    graph implied by a (id, block_id) table and prune low-evidence edges —
    the standard recall-preserving way to shrink a dirty blocking's pair
    count by 1-2 orders of magnitude before pairwise scoring.

    Edge weight is CBS (common-blocks count: how many blocks both ids
    share); ``js`` (Jaccard of the two ids' block sets) is emitted alongside
    for downstream schemes. Pruning:

    - ``wep`` (weighted edge pruning): keep edges with weight >= the global
      mean. The comparison is done in INTEGER cross-multiplied form
      (``cbs * n_edges >= sum_cbs``) so both engines decide boundary edges
      identically — never compare against a floating mean.
    - ``cnp`` (cardinality node pruning): each node retains its ``k``
      highest-CBS edges (ties: lower neighbor id wins); an edge survives if
      EITHER endpoint retains it (the paper's redefined CNP).

    Scale shape: one capped equi-self-join (same bound as
    ``candidate_pairs``) + a groupBy on the pair key; WEP adds a 1-row
    broadcast aggregate, CNP two per-node windows whose partitions are each
    node's edge list (bounded by max_block_size · blocks-per-id). Nothing
    sees the uncapped block graph.
    """
    capped = cap_block_sizes(blocks, max_block_size)
    nblocks = capped.groupBy("id").agg(F.count("*").alias("nb"))
    edges = (
        capped.alias("l")
        .join(capped.alias("r"), "block_id")
        .where(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("cbs"))
        # per-id block counts grow with the corpus — plain joins (AQE picks
        # broadcast when the dim actually fits), never an unconditional hint
        .join(nblocks.withColumnRenamed("id", "id_a")
              .withColumnRenamed("nb", "nb_a"), "id_a")
        .join(nblocks.withColumnRenamed("id", "id_b")
              .withColumnRenamed("nb", "nb_b"), "id_b")
        .withColumn(
            "js",
            F.round(F.col("cbs") / (F.col("nb_a") + F.col("nb_b") - F.col("cbs")), 6),
        )
    )
    if scheme == "wep":
        # the mean comparison reads the comparison graph once for the
        # aggregate and once for the filter — materialize it instead of
        # running the capped self-join + groupBy twice (at scale this is
        # the candidate-pair table: recomputing it is the dominant cost)
        edges = edges.localCheckpoint()
        tot = edges.agg(
            F.sum("cbs").alias("_s"), F.count("*").alias("_e")
        )
        return (
            edges.crossJoin(F.broadcast(tot))
            .where(F.col("cbs") * F.col("_e") >= F.col("_s"))
            .select("id_a", "id_b", "cbs", "js")
        )
    if scheme == "cnp":
        from pyspark.sql import Window

        ends = edges.select(
            F.col("id_a").alias("node"), "id_a", "id_b", "cbs",
            F.col("id_b").alias("other"),
        ).unionByName(edges.select(
            F.col("id_b").alias("node"), "id_a", "id_b", "cbs",
            F.col("id_a").alias("other"),
        ))
        w = Window.partitionBy("node").orderBy(
            F.col("cbs").desc(), F.col("other").asc()
        )
        kept = (
            ends.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= k)
            .select("id_a", "id_b")
            .distinct()
        )
        return kept.join(edges, ["id_a", "id_b"]).select("id_a", "id_b", "cbs", "js")
    raise ValueError(f"unknown meta-blocking scheme: {scheme!r}")


def blocking_quality(
    blocks: DataFrame, gold_pairs: DataFrame, n_entities: int
) -> DataFrame:
    """One-row blocking-quality audit in the standard vocabulary
    (Christen 2012): **reduction ratio** RR = 1 − candidates / all-pairs
    and **pairs completeness** PC = gold pairs co-blocked / gold pairs.

    The candidate count is the per-block pair budget Σ nb·(nb−1)/2 computed
    from block SIZES — never materializing the pairs (the audit must stay
    linear even when the blocking it audits would explode; exact when each
    id carries one key per block family, an upper bound under overlap).
    PC comes from a bounded semi-join: gold × blocks(id_a) semi-joined on
    (block_id, id_b) — a gold pair is covered iff some block holds both
    sides. Both ratios are single divisions of exact integers."""
    sizes = blocks.groupBy("block_id").agg(F.count("*").alias("nb"))
    budget = sizes.agg(
        F.sum((F.col("nb") * (F.col("nb") - 1) / 2).cast("long")).alias("n_cands")
    )
    ba = blocks.select(F.col("id").alias("id_a"), "block_id")
    bb = blocks.select(F.col("id").alias("id_b"), "block_id")
    covered = (
        gold_pairs.join(ba, "id_a")
        .join(bb, ["block_id", "id_b"], "left_semi")
        .select("id_a", "id_b")
        .distinct()
    )
    total_pairs = n_entities * (n_entities - 1) // 2
    return (
        gold_pairs.agg(F.count("*").alias("n_gold"))
        .crossJoin(covered.agg(F.count("*").alias("n_covered")))
        .crossJoin(F.broadcast(budget))
        .select(
            F.lit(int(n_entities)).cast("long").alias("n_entities"),
            F.lit(int(total_pairs)).cast("long").alias("total_pairs"),
            F.col("n_cands").cast("long").alias("n_cands"),
            F.col("n_gold").cast("long").alias("n_gold"),
            F.col("n_covered").cast("long").alias("n_covered"),
            F.round(
                F.lit(1.0) - F.col("n_cands") / F.lit(float(total_pairs)), 6
            ).alias("reduction_ratio"),
            F.round(F.col("n_covered") / F.col("n_gold"), 6).alias(
                "pairs_completeness"
            ),
        )
    )


def blocking_rule_audit(
    blocks: DataFrame, gold_pairs: DataFrame, rule_col: str = "rule"
) -> DataFrame:
    """Per-RULE blocking contribution audit — one row per blocking rule
    with its key count, pair budget, gold coverage, and UNIQUE coverage
    (gold pairs no other rule co-blocks). The decision table for tuning a
    union-of-rules blocker: a rule whose unique coverage is ~0 can be
    dropped for its entire pair budget; one with high unique coverage is
    load-bearing. (The per-rule analysis production linkage tools ship for
    composing blocking rules; the reference tunes its union blocker by the
    aggregate stats.csv only, README.md:295-383.)

    Scale shape: the pair budget comes from block SIZES (never
    materializing candidates); coverage joins are gold-bounded. Columns:
    (rule, n_keys, n_cands, n_gold, n_covered, n_unique, completeness).
    """
    sizes = blocks.groupBy(rule_col, "block_id").agg(F.count("*").alias("nb"))
    budget = sizes.groupBy(rule_col).agg(
        F.count("*").alias("n_keys"),
        F.sum((F.col("nb") * (F.col("nb") - 1) / 2).cast("long")).alias("n_cands"),
    )
    ba = blocks.select(F.col("id").alias("id_a"), rule_col, "block_id")
    bb = blocks.select(F.col("id").alias("id_b"), rule_col, "block_id")
    rule_cov = (
        gold_pairs.join(ba, "id_a")
        .join(bb, [rule_col, "block_id", "id_b"], "left_semi")
        .select(rule_col, "id_a", "id_b")
        .distinct()
    )
    n_rules_per_pair = rule_cov.groupBy("id_a", "id_b").agg(
        F.count("*").alias("_nr")
    )
    cov_stats = (
        rule_cov.join(n_rules_per_pair, ["id_a", "id_b"])
        .groupBy(rule_col)
        .agg(
            F.count("*").alias("n_covered"),
            F.sum(F.when(F.col("_nr") == 1, 1).otherwise(0)).cast("long").alias("n_unique"),
        )
    )
    n_gold = gold_pairs.count()
    return (
        budget.join(cov_stats, rule_col, "left")
        .select(
            rule_col,
            "n_keys",
            "n_cands",
            F.lit(int(n_gold)).cast("long").alias("n_gold"),
            F.coalesce(F.col("n_covered"), F.lit(0)).cast("long").alias("n_covered"),
            F.coalesce(F.col("n_unique"), F.lit(0)).cast("long").alias("n_unique"),
            F.round(
                F.coalesce(F.col("n_covered"), F.lit(0)) / F.lit(float(n_gold)), 6
            ).alias("completeness"),
        )
    )
