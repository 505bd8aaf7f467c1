"""Word-embedding scan (fastText ``.vec`` text format) + broadcast lookup
(SURVEY.md §2.1 "word-embedding scan").

The reference loads wiki-news-300d-1M.vec into a python dict
(/root/reference/OpenEA_Mod/src/openea/approaches/rdgcn.py:151-162
``read_word2vec``: split on space, SKIP lines whose field count != dim+1 —
which also drops the fastText "count dim" header) and feeds the vectors to
its literal encoder (literal_encoder.py:22-37). Here:

- ``read_word_vectors``: the same lenient line contract as a declarative
  text scan — splittable, no driver-side parsing, tolerates the header and
  malformed rows exactly like the reference.
- ``embed_texts``: tokens → vector lookup → mean vector per row. The
  vector table is broadcast (a 1M × 300 float table is ~1.2 GB — within
  executor budgets; drop the hint beyond that and the join degrades to a
  shuffle, not wrong results). Out-of-vocabulary tokens are skipped, rows
  with no in-vocabulary token get a null vector (the reference's encoder
  pads/skips equivalently).

The scoring pipeline's default stays the hashing-trick vectors
(operators/scoring.py) — deterministic and oracle-checkable with no
artifact file; this scan exists for parity with the reference's
pre-trained-vector path when a .vec artifact IS available.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_word_vectors(spark: SparkSession, path: str, dim: int) -> DataFrame:
    """(word: string, vec: array<float>) from a fastText-style text file.

    Lines with a field count != dim+1 (including the header) are dropped,
    mirroring read_word2vec's ``len(line) != vector_dimension + 1`` skip.
    """
    lines = spark.read.text(path)
    parts = F.split(F.col("value"), " ")
    return (
        lines.where(F.size(parts) == dim + 1)
        .select(
            F.element_at(parts, 1).alias("word"),
            F.slice(parts, 2, dim).cast("array<float>").alias("vec"),
        )
    )


def embed_texts(
    df: DataFrame,
    word_vectors: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
) -> DataFrame:
    """(id, vec): mean word vector per row over in-vocabulary tokens.

    One explode + one broadcast join + one aggregation; the mean is
    computed component-wise with native aggregates (posexplode over the
    vector), never a Python loop.
    """
    from entity_matchers_spark.functions.shingles import tokens

    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col), lowercase=lowercase)).alias("word"),
    )
    matched = toks.join(F.broadcast(word_vectors), "word")
    comp = matched.select(
        "id", F.posexplode("vec").alias("pos", "x")
    ).groupBy("id", "pos").agg(F.avg("x").alias("m"))
    return (
        comp.groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            "id",
            F.transform(F.col("pm"), lambda s: s.getField("m").cast("float")).alias("vec"),
        )
    )
