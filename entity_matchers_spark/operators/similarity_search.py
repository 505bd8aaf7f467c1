"""Similarity search over embedding columns (``array<float>``).

The reference's embedding-cosine top-k candidate generation
(/root/reference/bert-int/interaction_model/get_entity_embedding.py:20-35,
utils.py:71-110: batched GPU matmul + topk) — re-expressed without a dense
matrix:

- brute-force cosine top-k: query×corpus join pruned to a query subset;
  native zip_with/aggregate dot product; window top-k. The *correctness
  baseline* — O(|Q|·n), fine for |Q| small or one-off audits.
- LSH-bucketed ANN: random-hyperplane sign bits (the in-repo precedent is
  lshash.py's hyperplanes) from deterministic md5-derived plane vectors;
  multi-table union of same-bucket candidates, cosine-ranked. The scale
  path: candidates ∝ bucket size, not corpus size.
- IVF inverted lists: deterministic centroid sample, nprobe probing — the
  billion-scale layout; also backs the near-dup pair generator, whose
  candidate count grows LINEARLY in n (cell count ∝ n, cell size ∝ the
  stride constant), unlike fixed-plane hyperplane bucketing whose bucket
  count is constant and therefore quadratic at scale.

Norm discipline: the L2 norm is a per-VECTOR quantity. Every ranker here
computes it map-side once and ships the scalar, so the per-pair cosine is a
single zip_with dot — not three array traversals (the scoring.py:109-114
pattern; recomputing norms per pair was a measured 6× regression).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from entity_matchers_spark.functions.hashing import minhash_permutation_params
from entity_matchers_spark.operators.blocking import block_self_join


def vector_norm(c: Column) -> Column:
    """L2 norm of an ``array<float|double>`` column — identical fold order
    to ``cosine_similarity``'s internal norms, so precomputed-norm cosines
    are bit-equal to the inline form."""
    return F.sqrt(
        F.aggregate(c, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _rounded_cosine_from_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine from precomputed norms, rounded to 6 dp: ranking keys must be
    stable across engines whose float summation order may differ by a ULP.
    One array traversal per pair (the dot); zero-norm vectors → 0.0."""
    return F.round(
        F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(_dot(a, b) / (na * nb)), 6
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, cos) — exact top-k by cosine, excluding self.

    Queries are broadcast (small side by contract); the corpus streams
    through one stage computing the dot products, then a window takes top-k
    per query. No n×n materialization; norms precomputed map-side on both
    sides (per-vector, not per-pair).
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).withColumn("qn", vector_norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    ).withColumn("cn", vector_norm(F.col("cv")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _rounded_cosine_from_norms(
                F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos", "rnk")
    )


def multimetric_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rank_metric: str = "manhattan",
) -> DataFrame:
    """(query_id, neighbor_id, inner, cos, euc, man, rnk) — the reference's
    full bulk-similarity metric set (/root/reference/OpenEA_Mod/src/openea/
    modules/finding/similarity.py:12-91: inner / cosine / 1-euclidean /
    1-manhattan), ranked on ``rank_metric`` (manhattan = RDGCN's best
    config, args_best/rdgcn_args_DBP_YG_15K.json).

    Same plan shape as cosine_topk: broadcast query side, one streaming
    stage computes all four metrics, window top-k. The dot product is
    computed ONCE and reused for both inner and cosine (norms precomputed
    map-side), so each pair costs three array traversals (dot, euclidean,
    manhattan) instead of five. No n×n matrix, no UDF."""
    from pyspark.sql import Window

    from entity_matchers_spark.functions.similarity import (
        euclidean_similarity,
        manhattan_similarity,
    )

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).withColumn("qn", vector_norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    ).withColumn("cn", vector_norm(F.col("cv")))
    qv, cv = F.col("qv"), F.col("cv")
    dot = _dot(qv, cv)
    cos = F.when((F.col("qn") == 0) | (F.col("cn") == 0), F.lit(0.0)).otherwise(
        dot / (F.col("qn") * F.col("cn"))
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot, 6).alias("inner"),
            F.round(cos, 6).alias("cos"),
            F.round(euclidean_similarity(qv, cv), 6).alias("euc"),
            F.round(manhattan_similarity(qv, cv), 6).alias("man"),
        )
    )
    rank_col = {"inner": "inner", "cosine": "cos", "euclidean": "euc", "manhattan": "man"}[rank_metric]
    w = Window.partitionBy("query_id").orderBy(F.col(rank_col).desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "inner", "cos", "euc", "man", "rnk")
    )


def _plane_signs(dim: int, num_planes: int, num_tables: int, seed: int):
    """(num_tables*num_planes, dim) ±1 matrix from the seeded LCG — plan
    constants, identical on every executor; no artifacts to ship."""
    params = minhash_permutation_params(num_tables * num_planes * dim, seed)
    signs = np.array([1.0 if a % 2 == 0 else -1.0 for a, _b in params], dtype=np.float64)
    return signs.reshape(num_tables * num_planes, dim)


def hyperplane_bucket_keys_udf(
    dim: int, num_planes: int, num_tables: int, seed: int = 11037
):
    """Vectorized bucketing: one Arrow batch → all tables' bucket keys.

    Sign-bit LSH as ONE numpy matmul per batch instead of
    tables×planes×dim unrolled column expressions — the expression form
    generates megabytes of codegen (Janino compile dominates runtime) and
    falls off the fast path. Bucket key for table t: ``"t<t>:<packed sign
    bits of v·r_i>"``, bit i weighted 2^i, strictly-positive dot = 1.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    planes_t = _plane_signs(dim, num_planes, num_tables, seed).T  # (dim, T*P)
    weights = 1 << np.arange(num_planes, dtype=np.int64)

    @pandas_udf(ArrayType(StringType()))
    def _bucket_keys(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        m = np.vstack(vecs.to_numpy()).astype(np.float64)  # (n, dim)
        bits = (m @ planes_t) > 0  # (n, T*P)
        codes = (bits.reshape(len(m), num_tables, num_planes) * weights).sum(axis=2)
        return pd.Series([[f"t{t}:{row[t]}" for t in range(num_tables)] for row in codes])

    return _bucket_keys


def _centroids(corpus: DataFrame, id_col: str, vec_col: str, centroid_stride: int) -> DataFrame:
    """Deterministic 1-in-``centroid_stride`` centroid sample.

    Centroid COUNT therefore grows linearly with the corpus — the property
    that keeps IVF cell sizes bounded (≈ stride) at any scale. Integral id
    columns sample by ``id % stride`` (cheap, and what the SQL oracles
    replay); any other id type samples by the md5-prefix uniform hash used
    throughout the repo (``md5(id)[:8] % stride``) — deterministic,
    engine-portable, and independent of id density, so string/sparse ids
    need no remapping. Raises if the sample comes back empty (stride
    larger than the corpus would otherwise silently produce zero rows
    downstream)."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    if isinstance(
        corpus.schema[id_col].dataType, (ByteType, ShortType, IntegerType, LongType)
    ):
        pred = F.col(id_col) % centroid_stride == 0
    else:
        pred = (
            F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
            .cast("long")
            % centroid_stride
            == 0
        )
    cents = corpus.where(pred).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")
    )
    if cents.isEmpty():
        raise ValueError(
            f"IVF centroid sample is empty: no `{id_col}` hashes to "
            f"0 mod {centroid_stride} — lower centroid_stride (corpus smaller "
            "than the stride?)"
        )
    return cents


def _l2_rounded(a: Column, b: Column) -> Column:
    # HALF_UP at 6 dp via floor(x*1e6 + 0.5)/1e6 — plain IEEE ops, so the
    # numpy fast path, this fold, and the DuckDB oracle produce identical
    # doubles (Spark's round() is shortest-decimal-repr based and can
    # disagree with the scaled-floor device on knife-edge values).
    return (
        F.floor(
            F.sqrt(
                F.aggregate(
                    F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                               * (x.cast("double") - y.cast("double"))),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
            )
            * F.lit(1e6)
            + F.lit(0.5)
        )
        / F.lit(1e6)
    )


_ASSIGN_UDF_MAX_CENTROIDS = 65536


def _assign_cells(
    df: DataFrame, cents: DataFrame, id_col: str, vec_col: str, prefix: str, n: int
) -> DataFrame:
    """(prefix_id, prefix_vec, prefix_norm, cid): each vector's ``n``
    nearest centroids by 6-dp-rounded L2, ties on centroid id. The norm is
    computed here, once per vector, so downstream cosines are single-dot.

    Two physical paths, value-identical by construction:

    - **vectorized** (centroid count ≤ ~65k, i.e. collectable — true up to
      ~10^9-vector corpora at the √n-to-n/stride centroid regimes): one
      Arrow-batched pandas UDF holds the (C, D) centroid matrix and
      computes all C distances per vector with numpy. The squared-diff
      accumulation runs as an explicit per-dimension loop (vectorized
      across CENTROIDS) so the float-add ORDER equals the crossJoin
      path's sequential ``aggregate`` fold — identical doubles into the
      rounding step. Both paths (and the SQL oracles) round with the
      SAME scaled-floor device ``floor(x·1e6 + 0.5)/1e6`` — plain IEEE
      ops, bit-identical everywhere, no repr-based-round knife edge
      (parity asserted in tests/test_similarity_search.py).
    - **crossJoin + interpreted HOF fold** beyond that cap: the
      centroid table stays distributed (broadcast), nothing collects.
      ~40× slower per pair at test scale (HOF lambdas run interpreted per
      element) but shape-correct at any centroid count.
    """
    from pyspark.sql import Window

    d = df.select(
        F.col(id_col).alias(f"{prefix}_id"), F.col(vec_col).alias(f"{prefix}_vec")
    ).withColumn(f"{prefix}_norm", vector_norm(F.col(f"{prefix}_vec")))

    cent_rows = cents.limit(_ASSIGN_UDF_MAX_CENTROIDS + 1).collect()
    if len(cent_rows) <= _ASSIGN_UDF_MAX_CENTROIDS:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

        cent_rows.sort(key=lambda r: r["cid"])  # cid-ascending = tiebreak order
        # (Python str sort == Spark UTF8 binary order for valid UTF-8, so the
        # tie-break matches the crossJoin path for string ids too.)
        if isinstance(
            cents.schema["cid"].dataType, (ByteType, ShortType, IntegerType, LongType)
        ):
            cids = np.fromiter((r["cid"] for r in cent_rows), dtype=np.int64)
            ret_type = "array<bigint>"
        else:
            cids = np.array([r["cid"] for r in cent_rows], dtype=object)
            ret_type = "array<string>"
        C = np.asarray([np.asarray(r["cvec"], dtype=np.float64) for r in cent_rows])
        sc = df.sparkSession.sparkContext
        bc = sc.broadcast((cids, C))
        k = int(n)

        @pandas_udf(ret_type)
        def _nearest(vecs: pd.Series) -> pd.Series:
            cids_v, cmat = bc.value
            ncent, dim = cmat.shape
            kk = min(k, ncent)
            out = []
            rows = len(vecs)
            # vectorized across rows AND centroids; chunk rows so the
            # (rows, C) temporaries stay ≤ ~64 MB
            chunk = max(1, (64 << 20) // max(1, ncent * 8))
            for lo in range(0, rows, chunk):
                sub = vecs.iloc[lo : lo + chunk]
                A = np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in sub]
                ).reshape(len(sub), dim)
                acc = np.zeros((len(sub), ncent), dtype=np.float64)
                for dd in range(dim):  # sequential fold over dims: the same
                    diff = A[:, dd, None] - cmat[None, :, dd]  # add order as
                    acc += diff * diff  # the zip_with/aggregate fold
                # HALF_UP at 6 dp (Spark round semantics), not banker's
                dist = np.floor(np.sqrt(acc) * 1e6 + 0.5) / 1e6
                # rank by (dist, cid): cids_v is sorted ascending, so a
                # STABLE argsort on dist breaks ties on cid automatically
                idx = np.argsort(dist, axis=1, kind="stable")[:, :kk]
                for r in range(len(sub)):
                    out.append(list(cids_v[idx[r]]))
            return pd.Series(out)

        return d.withColumn("_cids", _nearest(F.col(f"{prefix}_vec"))).select(
            f"{prefix}_id", f"{prefix}_vec", f"{prefix}_norm",
            F.explode("_cids").alias("cid"),
        )

    w = Window.partitionBy(f"{prefix}_id").orderBy(F.col("_d").asc(), F.col("cid").asc())
    return (
        d.crossJoin(F.broadcast(cents))
        .withColumn("_d", _l2_rounded(F.col(f"{prefix}_vec"), F.col("cvec")))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= n)
        .select(f"{prefix}_id", f"{prefix}_vec", f"{prefix}_norm", "cid")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 3,
    centroid_stride: int = 37,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidates_only: bool = False,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus into inverted lists, probe
    the ``nprobe`` nearest lists per query, exact cosine top-k within.
    ``candidates_only=True`` returns the deduped probe-join candidate set
    (the scale-audit quantity) before scoring.

    The standard billion-scale ANN layout (IVF/Faiss family): candidates
    per query ∝ probed-list sizes (≈ nprobe·stride with n/stride
    centroids), never the corpus. Centroids are a deterministic corpus
    sample (the k-means training step replaced by a seedless deterministic
    choice so the oracle reproduces the exact partition). The inverted-list
    assignment is computed once and is the natural partitioning key for a
    materialized index table.
    """
    from pyspark.sql import Window

    cents = _centroids(corpus, id_col, vec_col, centroid_stride)
    lists = _assign_cells(corpus, cents, id_col, vec_col, "neighbor", 1)
    probes = _assign_cells(queries, cents, id_col, vec_col, "query", nprobe)
    cands = (
        probes.join(lists, "cid")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "query_vec", "neighbor_vec",
                "query_norm", "neighbor_norm")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    if candidates_only:
        return cands.select("query_id", "neighbor_id")
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        cands.select(
            "query_id", "neighbor_id",
            _rounded_cosine_from_norms(
                F.col("query_vec"), F.col("neighbor_vec"),
                F.col("query_norm"), F.col("neighbor_norm"),
            ).alias("cos"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos", "rnk")
    )


def _ivf_cells(
    corpus: DataFrame, nprobe: int, centroid_stride: int, id_col: str, vec_col: str
) -> DataFrame:
    """(id, block_id): each vector's ``nprobe`` nearest centroid cells, as
    a block table for ``block_self_join``."""
    cents = _centroids(corpus, id_col, vec_col, centroid_stride)
    return _assign_cells(corpus, cents, id_col, vec_col, "m", nprobe).select(
        F.col("m_id").alias("id"), F.col("cid").alias("block_id")
    )


def ivf_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.35,
    nprobe: int = 2,
    centroid_stride: int = 37,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs routed through the IVF cells:
    every vector joins its ``nprobe`` nearest centroid cells, candidates
    are same-cell pairs, verification is the exact cosine ≥ threshold.

    THE scale property (vs fixed-plane hyperplane bucketing): the number of
    cells grows with n (centroids are a stride sample) while expected cell
    size stays ≈ nprobe·stride, so candidate pairs ≈ n·nprobe²·stride/2 —
    LINEAR in corpus size. Fixed sign-bit bucketing has a constant number
    of buckets, making candidates ∝ n² — an all-pairs join in disguise at
    web scale. Recall is tuned by nprobe (probing 2 cells ≈ MinHash's
    multi-band trick); verification keeps the output exact for whatever
    candidates form.

    The pair join ships ids only; vectors+norms are joined back per side
    afterwards (pairs ≫ docs at scale, so candidates stay narrow through
    the shuffle).
    """
    cands = block_self_join(_ivf_cells(corpus, nprobe, centroid_stride, id_col, vec_col))
    base = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    ).withColumn("norm", vector_norm(F.col("vec")))
    a = base.select(F.col("id").alias("id_a"), F.col("vec").alias("va"), F.col("norm").alias("na"))
    b = base.select(F.col("id").alias("id_b"), F.col("vec").alias("vb"), F.col("norm").alias("nb"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a", "id_b",
            _rounded_cosine_from_norms(
                F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
            ).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_planes: int = 8,
    num_tables: int = 4,
    seed: int = 11037,
) -> DataFrame:
    """Approximate top-k: union of same-bucket candidates over ``num_tables``
    hyperplane tables, cosine-ranked per query.

    Each table is an equi-join on a 8-bit bucket id → expected candidate set
    n/256 per table. Recall grows with tables; cost stays ∝ bucket sizes.
    Bucket bits must grow ~log2(n) at scale: with a fixed plane count the
    bucket count is constant (2^planes per table), so candidates grow ∝ n².
    """
    from pyspark.sql import Window

    keys_udf = hyperplane_bucket_keys_udf(dim, num_planes, num_tables, seed)

    def bucketed(df: DataFrame, prefix: str) -> DataFrame:
        base = df.select(
            F.col(id_col).alias(f"{prefix}_id"), F.col(vec_col).alias(f"{prefix}_vec")
        ).withColumn(f"{prefix}_norm", vector_norm(F.col(f"{prefix}_vec")))
        return base.select(
            f"{prefix}_id", f"{prefix}_vec", f"{prefix}_norm",
            F.explode(keys_udf(F.col(f"{prefix}_vec"))).alias("bucket"),
        )

    qb = bucketed(queries, "query")
    cb = bucketed(corpus, "neighbor")
    cands = (
        cb.join(qb, "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "query_vec", "neighbor_vec",
                "query_norm", "neighbor_norm")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cands.select(
        "query_id",
        "neighbor_id",
        _rounded_cosine_from_norms(
            F.col("query_vec"), F.col("neighbor_vec"),
            F.col("query_norm"), F.col("neighbor_norm"),
        ).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos", "rnk")
    )


def ivf_neardup_audit(
    corpus: DataFrame,
    nprobe: int = 2,
    centroid_stride: int = 37,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One-row audit of the IVF near-dup candidate generator — the
    embedding analog of ``blocking_metrics``' stats.csv: corpus size,
    centroid/cell counts, the largest cell, and the DISTINCT candidate
    pair count the verify stage would score.

    This is the linear-scaling evidence at a glance: n_candidates /
    n_vectors should stay ≈ nprobe²·stride/2 as the corpus grows (it
    would grow ∝ n under fixed-bucket LSH)."""
    cells = _ivf_cells(corpus, nprobe, centroid_stride, id_col, vec_col)
    sizes = cells.groupBy("block_id").agg(F.count("*").alias("n"))
    return (
        corpus.agg(F.count("*").alias("n_vectors"))
        .crossJoin(sizes.agg(
            F.count("*").alias("n_cells"),
            F.max("n").alias("max_cell"),
        ))
        .crossJoin(block_self_join(cells).agg(F.count("*").alias("n_candidates")))
    )


def semantic_dedup(
    corpus: DataFrame,
    tau: float = 0.35,
    centroid_stride: int = 37,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication in embedding space. Vectors are coarse-clustered (each to
    its single nearest centroid — the paper's k-means replaced by the same
    deterministic stride-sample IVF uses, so the oracle replays the exact
    partition), pairs WITHIN a cluster with cosine > tau form duplicate
    groups (transitively), and each group keeps exactly one member — the
    one with the LOWEST cosine to its centroid (the paper's choice: keep
    the most atypical example to preserve diversity; ties on id).

    Returns (id, cid, group_id, cos_c, keep) for every corpus vector:
    cluster assignment, duplicate group (connected component; singletons
    are their own group), rounded cosine-to-centroid, and the 0/1 keep
    decision.

    Scale shape: pairwise work is confined inside cells whose expected
    size is the stride constant, so candidate pairs grow LINEARLY in n
    (same argument as ivf_neardup_pairs); the group step is hash-min
    connected components over the sparse >tau edge set, and the keeper is
    one window per group. The paper dedups 40% of LAION at this exact
    plan shape (clusters ≪ corpus, within-cluster pairwise).
    """
    from pyspark.sql import Window

    from entity_matchers_spark.operators.clustering import connected_components

    cents = _centroids(corpus, id_col, vec_col, centroid_stride)
    cents_n = cents.withColumn("c_norm", vector_norm(F.col("cvec")))
    assigned = _assign_cells(corpus, cents, id_col, vec_col, "m", 1)
    members = (
        assigned.join(F.broadcast(cents_n), "cid")
        .select(
            F.col("m_id").alias("id"),
            "cid",
            "m_vec",
            "m_norm",
            _rounded_cosine_from_norms(
                F.col("m_vec"), F.col("cvec"), F.col("m_norm"), F.col("c_norm")
            ).alias("cos_c"),
        )
        # referenced three times below (both pair sides + final projection):
        # materialize the assignment once instead of re-running the
        # centroid cross-join per branch
        .localCheckpoint()
    )
    l = members.select(
        F.col("id").alias("id_a"), "cid",
        F.col("m_vec").alias("va"), F.col("m_norm").alias("na"),
    )
    r = members.select(
        F.col("id").alias("id_b"), "cid",
        F.col("m_vec").alias("vb"), F.col("m_norm").alias("nb"),
    )
    edges = (
        l.join(r, "cid")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            _rounded_cosine_from_norms(
                F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
            ).alias("cos"),
        )
        .where(F.col("cos") > tau)
        .select("id_a", "id_b")
    )
    cc = connected_components(edges)
    w = Window.partitionBy("group_id").orderBy(F.col("cos_c").asc(), F.col("id").asc())
    return (
        members.join(cc, "id", "left")
        .withColumn("group_id", F.coalesce("cluster_id", "id"))
        .withColumn("keep", (F.row_number().over(w) == 1).cast("int"))
        .select("id", "cid", "group_id", "cos_c", "keep")
    )
