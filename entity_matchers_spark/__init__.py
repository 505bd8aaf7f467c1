"""entity_matchers_spark — a from-scratch PySpark-native record-linkage engine.

Re-expresses the query/data-processing capabilities of epfl-dlab/entity-matchers
(reference at /root/reference, studied in SURVEY.md) as an idiomatic Spark
DataFrame pipeline: blocking (MinHash-LSH + normalized URL-domain keys) →
pairwise scoring (vectorized pandas/Arrow UDFs) → thresholded match decision →
transitive clustering (iterative hash-min connected components) → set-based
P/R/F1 evaluation — plus the training-data-pipeline operator families a
100 TB corpus needs: deduplication (exact / MinHash-LSH / SimHash / n-gram
Jaccard), similarity search over embeddings, text analysis, and multimodal
column plumbing.

Design rules (see SURVEY.md §7):
- DataFrame/SQL only; no RDDs. Catalyst plans the physical execution.
- Python appears only in Arrow-batched pandas UDFs, never row-at-a-time.
- Every hash used in signatures is cross-engine stable (md5-derived) so that
  results are verifiable against an independent SQL oracle.
- Self-joins emit pairs with id_a < id_b; hot blocking keys are frequency
  capped and salted; AQE is enabled for skew-join handling.
"""

__version__ = "0.1.0"
