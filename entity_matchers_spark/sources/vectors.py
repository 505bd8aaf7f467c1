"""Embedding-table checkpoint source/sink — the ``(id, vector)`` contract.

The reference checkpoints entity embeddings to ``.npy`` + an id index and
every downstream stage resumes from that artifact
(/root/reference/OpenEA_Mod/src/openea/modules/load/read.py:360-395
``save_embeddings`` writes ent_embeds.npy/kg1_ent_ids, read.py:6-9 loads
them back); BERT-INT's interaction model does the same per stage. Here the
inter-stage contract is a columnar TABLE, not a dense matrix file:

- ``write_embedding_table``: (id, vector[, partition cols]) → parquet (or
  Iceberg when a catalog is configured — same writer API). Parquet/Iceberg
  give per-column stats + predicate pushdown on the id, so a resuming
  stage that needs a slice reads a slice — the .npy analog must load the
  whole matrix.
- ``read_embedding_table``: scan it back with the schema contract
  enforced (an id column + an array<float|double> vector column).

At cluster scale the table is written ``repartition(id)`` so lookups and
self-joins co-locate; a dense 10^9 × 64-float corpus is ~256 GB — far past
any driver/.npy path, trivially fine as a distributed columnar table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, DoubleType, FloatType


def write_embedding_table(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    format: str = "parquet",
    mode: str = "overwrite",
    num_partitions: int | None = None,
) -> None:
    """Persist an (id, vector) table as the inter-stage checkpoint.

    Columns other than ``id_col``/``vec_col`` are preserved (lineage tags,
    fold ids). ``num_partitions`` controls file count; by default the
    writer repartitions on the id so a resuming stage's id-joins start
    co-located."""
    cols = df.columns
    if id_col not in cols or vec_col not in cols:
        raise ValueError(f"embedding table needs `{id_col}` and `{vec_col}`; got {cols}")
    out = (
        df.repartition(num_partitions, id_col)
        if num_partitions
        else df.repartition(id_col)
    )
    out.write.format(format).mode(mode).save(path)


def read_embedding_table(
    spark: SparkSession,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    format: str = "parquet",
) -> DataFrame:
    """Scan an embedding checkpoint back, enforcing the schema contract:
    ``id_col`` present, ``vec_col`` an array of float/double. Fails loudly
    at read time (the reference's .npy loader equivalently dies on a shape
    mismatch) rather than letting a malformed table poison a pipeline."""
    df = spark.read.format(format).load(path)
    if id_col not in df.columns or vec_col not in df.columns:
        raise ValueError(
            f"embedding table at {path} lacks `{id_col}`/`{vec_col}`: {df.columns}"
        )
    vec_type = df.schema[vec_col].dataType
    if not (
        isinstance(vec_type, ArrayType)
        and isinstance(vec_type.elementType, (FloatType, DoubleType))
    ):
        raise ValueError(
            f"`{vec_col}` must be array<float|double>, got {vec_type.simpleString()}"
        )
    return df
