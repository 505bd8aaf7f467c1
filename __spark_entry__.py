"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship record-linkage query (blocking →
pairwise scoring → threshold match → connected components) on the sf0.001
documents table. ``queries()`` / ``oracle_sql()`` expose every implemented
operator from SURVEY.md §2 with a DuckDB-verifiable oracle.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from entity_matchers_spark.queries import QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: full ER pipeline → (doc_id, cluster_id) on sf0.001."""
    from entity_matchers_spark.queries import q_er_clusters

    return q_er_clusters(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: builder for name, (builder, _oracle) in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: oracle for name, (_builder, oracle) in QUERIES.items() if oracle is not None
    }
