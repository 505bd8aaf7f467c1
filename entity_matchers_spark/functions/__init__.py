"""Column-level function library (native Spark expressions + pandas UDFs)."""

from entity_matchers_spark.functions.hashing import (
    MINHASH_PRIME,
    minhash_permutation_params,
    stable_hash32,
    stable_hash64,
)
from entity_matchers_spark.functions.shingles import token_shingles, tokens
from entity_matchers_spark.functions.similarity import (
    char_jaccard,
    cosine_similarity,
    jaccard_arrays,
    jaro_winkler_udf,
    levenshtein_ratio,
    token_set_levenshtein_ratio,
)

__all__ = [
    "MINHASH_PRIME",
    "char_jaccard",
    "cosine_similarity",
    "jaccard_arrays",
    "jaro_winkler_udf",
    "levenshtein_ratio",
    "minhash_permutation_params",
    "stable_hash32",
    "stable_hash64",
    "token_set_levenshtein_ratio",
    "token_shingles",
    "tokens",
]
