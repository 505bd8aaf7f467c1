"""Shingling / tokenization as native column expressions.

The reference shingles with strsimpy 3-grams in a 20-process pool
(/root/reference/deepmatcher/notebooks/create_dataset_neighbor.py:94-119) and
its ES blocking uses 2+3-grams capped at 300 chars (reference README.md:378).

Character n-grams have ONE builder: ``gram_hashes`` explodes each doc's gram
POSITIONS and hashes every gram row-wise, and ``gram_sets`` folds those rows
into per-doc distinct sets. The MinHash-LSH blocker, the scorer's 3-gram
Jaccard, the near-dup family and the fingerprint queries all read it. Every
per-gram operation is a plain projection inside whole-stage codegen; a
``transform`` lambda over ``sequence(...)`` would build the same grams, but
Spark interprets higher-order-function lambdas per element.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from entity_matchers_spark.functions.hashing import stable_hash32
from entity_matchers_spark.session import spread_docs


def gram_hashes(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, text_cap: int | None = None
) -> DataFrame:
    """(id, i, h): one row per char n-gram POSITION ``i`` (1-based) of the
    lowercased text, first capped at ``text_cap`` chars when given. ``h`` is
    the gram's 32-bit md5 prefix, the DuckDB oracles'
    ``('0x'||substr(md5(g),1,8))::UBIGINT::BIGINT``. A doc whose text is
    null or shorter than ``n`` gets ONE row with null ``i`` and ``h``.

    The docs are spread by id after the capped text is projected
    (``session.spread_docs``), so only that text moves, the hashing runs on
    every task slot, and a per-id aggregate over the result needs no
    shuffle of its own."""
    t = F.substring(F.col(text_col), 1, text_cap) if text_cap else F.col(text_col)
    capped = spread_docs(df.select(F.col(id_col).alias("id"), F.lower(t).alias("t")))
    positions = capped.select(
        "id",
        "t",
        F.explode_outer(
            F.when(F.length("t") >= n, F.sequence(F.lit(1), F.length("t") - F.lit(n - 1)))
        ).alias("i"),
    )
    return positions.select(
        "id", "i", stable_hash32(F.substring(F.col("t"), F.col("i"), n)).alias("h")
    )


def gram_sets(hashes: DataFrame) -> DataFrame:
    """(id, grams: array<bigint>, sz) of a ``gram_hashes`` table: each doc's
    distinct ``h`` in first-occurrence order, the order of the oracles'
    ``list_distinct``. Grams whose md5 prefixes collide count once, alike
    in both engines. A doc without grams gets an EMPTY array, sz 0."""
    first = F.sort_array(F.collect_list(F.when(F.col("i").isNotNull(), F.struct("i", "h"))))
    return (
        hashes.groupBy("id")
        .agg(F.array_distinct(first.getField("h")).alias("grams"))
        .withColumn("sz", F.size("grams"))
    )


def tokens(col: Column | str, lowercase: bool = True) -> Column:
    """Whitespace tokens, empties dropped (nltk-tokenize analog,
    /root/reference/deepmatcher/deepmatcher/data/process.py:56-62)."""
    c = F.col(col) if isinstance(col, str) else col
    if lowercase:
        c = F.lower(c)
    return F.filter(F.split(c, r"\s+"), lambda t: t != "")


def token_shingles(col: Column | str, n: int = 2, distinct: bool = True) -> Column:
    """Array of word n-grams joined by a single space."""
    toks = tokens(col)
    grams = F.when(
        F.size(toks) < n, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - n + 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )
    return F.array_distinct(grams) if distinct else grams
