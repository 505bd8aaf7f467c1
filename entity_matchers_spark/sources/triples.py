"""Triple / link TSV scans and N-Triples sink (SURVEY.md §2.1).

Reference semantics re-expressed declaratively:

- relation-triple scan: 3-column TSV, hard 3-field contract
  (/root/reference/OpenEA_Mod/src/openea/modules/load/read.py:230-261 —
  ``assert len(params) == 3``). Here: explicit schema + a ``strict`` switch
  (raise on malformed) or drop-and-count (malformed rows observable in the
  metrics, never silently kept).
- attribute-triple scan (lenient): values may contain tabs; fields beyond
  the 3rd are re-joined into the value and a trailing ``.`` is stripped
  (read.py:398-433, 420-429).
- link scan: 2-column TSV (read.py:264-292).
- N-Triples sink: ``<h> <r> <t> .`` lines, with optional seed-label
  injection so a downstream fixpoint aligner can bootstrap from known links
  (/root/reference/src/utils.py:31-44 ``turn_and_write``, 78-93
  ``create_nt``, 47-75 label triples).
- YAGO URI rewrite: prefix expansion via a broadcast literal map
  (/root/reference/src/utils.py:6-28 ``turn_yg``).

Scale: TSV scans are plain ``spark.read.csv`` — splittable, predicate
pushdown on the parsed columns; the sink is ``format_string`` + text write
(one shuffle-free pass).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _read_tsv_exact(
    spark: SparkSession, path: str, names: list[str], strict: bool, what: str
) -> DataFrame:
    """Text scan + split with an EXACT field-count contract. ``spark.read.csv``
    PERMISSIVE silently drops extra columns, so a 4-field row would pass a
    null-check as a truncated row — weaker than the reference's
    ``assert len(params) == N`` (read.py:230-261). Counting split fields on
    the raw line catches both too-few and too-many."""
    n = len(names)
    lines = spark.read.text(path)
    parts = F.split(F.col("value"), "\t")
    clean = lines.where(F.size(parts) == n).select(
        *[F.element_at(parts, i + 1).alias(name) for i, name in enumerate(names)]
    )
    if strict:
        bad = lines.count() - clean.count()
        if bad:
            raise ValueError(f"{bad} malformed {what} rows in {path}")
    return clean


def read_relation_triples(spark: SparkSession, path: str, strict: bool = True) -> DataFrame:
    """(h, r, t) from a tab-separated file. ``strict`` mirrors the
    reference's ``assert len(params) == 3``: any row with != 3 fields fails
    the read; otherwise malformed rows are dropped."""
    return _read_tsv_exact(spark, path, ["h", "r", "t"], strict, "triple")


def read_attribute_triples(spark: SparkSession, path: str) -> DataFrame:
    """(ent, attr, value) — lenient: extra tab-separated fields re-join into
    the value; trailing ``.`` stripped; quotes kept for the cleaning layer
    (operators.triples.clean_literal)."""
    lines = spark.read.text(path)
    parts = F.split(F.col("value"), "\t")
    return (
        lines.where(F.size(parts) >= 3)
        .select(
            F.element_at(parts, 1).alias("ent"),
            F.element_at(parts, 2).alias("attr"),
            F.rtrim(
                F.regexp_replace(
                    F.concat_ws("\t", F.slice(parts, 3, 1_000_000)), r"\s*\.\s*$", ""
                )
            ).alias("value"),
        )
    )


def read_links(spark: SparkSession, path: str, strict: bool = True) -> DataFrame:
    """(e1, e2) ground-truth link scan — exact 2-field contract."""
    return _read_tsv_exact(spark, path, ["e1", "e2"], strict, "link")


def write_ntriples(
    triples: DataFrame,
    path: str,
    label_links: DataFrame | None = None,
    label_rel: str = "EntityMatchers:label",
) -> None:
    """Serialize ``<h> <r> <t> .`` lines; if ``label_links`` is given, both
    endpoints of every link additionally get a shared label triple
    ``<e> <label_rel> "link_<i>"`` — the reference's seed-injection trick so
    PARIS-style aligners can anchor on training links."""
    out = triples.select(
        F.format_string("<%s> <%s> <%s> .", "h", "r", "t").alias("value")
    )
    if label_links is not None:
        tokens = label_links.select(
            "e1", "e2", F.concat(F.lit("link_"), F.md5(F.concat_ws("\t", "e1", "e2"))).alias("tok")
        )
        lab = tokens.selectExpr("e1 AS e", "tok").unionAll(tokens.selectExpr("e2 AS e", "tok"))
        out = out.unionAll(
            lab.select(
                F.format_string('<%s> <%s> "%s" .', "e", F.lit(label_rel), "tok").alias("value")
            )
        )
    out.write.mode("overwrite").text(path)


def expand_uri_prefixes(col: Column | str, prefixes: dict[str, str]) -> Column:
    """Prefix expansion (``dbp:Foo`` → ``http://dbpedia.org/.../Foo``) as a
    chain of conditional replaces — plan constants, no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    # All branches are computed from the ORIGINAL column and only the
    # leading prefix is stripped (substring from len(short)+1), so a value
    # like 'dbp:A/dbp:B' expands to '<full>A/dbp:B' and an already-expanded
    # value can never be re-expanded by a later prefix. First match wins.
    branches = [
        F.when(
            c.startswith(short),
            F.concat(F.lit(full), F.substr(c, F.lit(len(short) + 1))),
        )
        for short, full in prefixes.items()
    ]
    return F.coalesce(*branches, c)
