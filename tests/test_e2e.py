"""End-to-end acceptance tests (BASELINE.md targets).

- blocking pair-recall on planted duplicates
- pairwise F1 ≥ 0.99 on labeled pairs sharing a blocking key
- kill-and-rerun resume: identical final cluster table (FIXTURES.md §4),
  with each stage's ``_metrics`` lineage describing its committed files
- oracle parity: the chain's blocks → pairs and ``score_pairs`` equal the
  DuckDB ``er_candidate_pairs`` and ``er_pair_scores`` oracles
"""

from __future__ import annotations

import glob
import json
import shutil
import time

import pytest
from pyspark.sql import functions as F

from entity_matchers_spark.corpus import labeled_pairs, web_pages
from entity_matchers_spark.operators import blocking, scoring
from entity_matchers_spark.operators.evaluation import pairwise_f1_from_clusters
from entity_matchers_spark.plans.pipeline import CheckpointedPipeline, PipelineConfig

N_ENTITIES = 250


@pytest.fixture(scope="module")
def corpus(spark):
    pages = web_pages(spark, N_ENTITIES).localCheckpoint()
    labels = labeled_pairs(spark, N_ENTITIES).withColumnRenamed("id_a", "id_a").localCheckpoint()
    return pages, labels


def test_blocking_recall_on_planted_duplicates(spark, corpus):
    pages, labels = corpus
    cfg = PipelineConfig()
    docs = pages.select(F.col("page_id").alias("id"), "url", "text")
    metrics = blocking.blocking_metrics(
        cfg.minhash_keys(docs), labels.where("label = 1"), max_block_size=cfg.max_block_size
    ).first()
    assert metrics.pair_recall >= 0.98, metrics
    assert metrics.max_block is not None


def test_neardup_feed_bands_like_the_er_blocker(spark, corpus):
    """One LSH builder serves both feeds: banding the hashed 3-gram set
    table of the capped text through the near-dup feed gives exactly the
    chain's MinHash keys for every doc that has shingles. Shingle-less docs
    keep their sentinel keys on the ER side and never enter the index."""
    from entity_matchers_spark.functions.shingles import hashed_shingle_table
    from entity_matchers_spark.operators.dedup import minhash_band_blocks

    pages, _ = corpus
    cfg = PipelineConfig()
    docs = pages.select(F.col("page_id").alias("id"), "text").unionByName(
        spark.createDataFrame([(-1, "ab"), (-2, None)], "id long, text string")
    )
    grams = hashed_shingle_table(docs, "id", "text", n=cfg.shingle_n, text_cap=cfg.text_cap)
    got = minhash_band_blocks(grams, cfg.num_bands, cfg.rows_per_band, cfg.seed)
    keys = cfg.minhash_keys(docs)
    want = keys.where("id >= 0")
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    assert keys.where("id < 0").select("block_id").distinct().count() == cfg.num_bands


def test_pairwise_f1_on_labeled_same_block_pairs(spark, corpus):
    """The BASELINE.json acceptance metric: score labeled pairs that share a
    blocking key, threshold, F1 ≥ 0.99."""
    pages, labels = corpus
    cfg = PipelineConfig()
    docs = pages.select(F.col("page_id").alias("id"), "text")
    cands = cfg.pairs(cfg.minhash_keys(docs))
    same_block = labels.join(cands, ["id_a", "id_b"], "left_semi")
    scored = cfg.scores(same_block, docs)
    labeled_scored = scored.join(labels.select("id_a", "id_b", "label"), ["id_a", "id_b"])
    threshold, f1 = scoring.fit_threshold(labeled_scored)
    assert f1 >= 0.99, (threshold, f1)


def test_pipeline_resume_identical(spark, corpus, tmp_path_factory):
    pages, labels = corpus
    root_a = str(tmp_path_factory.mktemp("pipe_a"))
    root_b = str(tmp_path_factory.mktemp("pipe_b"))
    cfg = PipelineConfig()

    # full run
    full = CheckpointedPipeline(spark, root_a, cfg).run(pages)
    full_rows = sorted(tuple(r) for r in full.collect())

    # killed-after-stage-3 run: execute through 'scores', blow away nothing,
    # then resume with a FRESH pipeline object
    p1 = CheckpointedPipeline(spark, root_b, cfg)
    p1.run(pages, through="scores")
    assert p1.is_committed("scores") and not p1.is_committed("matches")
    # the resume opens only the committed tables the rest of the run reads
    # (scores for matches, extract for clusters), each with its recorded
    # schema: no Spark job runs before the matches body
    sc = spark.sparkContext
    p2 = CheckpointedPipeline(spark, root_b, cfg)
    build, seen = p2._build, {}

    def spy(stage, pages_, tables):
        if stage == "matches":
            seen["jobs"] = sc.statusTracker().getJobIdsForGroup("resume")
            seen["tables"] = set(tables)
        return build(stage, pages_, tables)

    p2._build = spy
    sc.setJobGroup("resume", "resume at matches")
    try:
        resumed = p2.run(pages)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert seen == {"jobs": [], "tables": {"extract", "scores"}}, seen
    assert sc.statusTracker().getJobIdsForGroup("resume")  # the tracker sees jobs
    resumed_rows = sorted(tuple(r) for r in resumed.collect())

    assert full_rows == resumed_rows
    for root in (root_a, root_b):
        _assert_metrics_describe_tables(spark, root)

    # cluster quality vs planted truth on the full run
    truth = labels.where("label = 1").select("id_a", "id_b")
    r = pairwise_f1_from_clusters(full, truth).first()
    assert r.f1 >= 0.99, (r.tp, r.n_align, r.n_truth, r.f1)

    shutil.rmtree(root_a, ignore_errors=True)
    shutil.rmtree(root_b, ignore_errors=True)


def _assert_metrics_describe_tables(spark, root):
    """Every stage's ``_metrics/<stage>.json`` counts the committed table's
    rows, one lineage entry per committed ``part-*`` file."""
    for stage in CheckpointedPipeline.STAGES:
        with open(f"{root}/_metrics/{stage}.json") as f:
            m = json.load(f)
        rows = spark.read.parquet(f"{root}/{stage}").count()
        files = glob.glob(f"{root}/{stage}/part-*")
        assert m["stage"] == stage
        assert m["rows"] == rows, (stage, m["rows"], rows)
        assert m["partitions"] == len(files), (stage, m["partitions"], len(files))
        assert sum(m["partition_rows"].values()) == rows, stage


def test_pipeline_commit_refuses_lineage_it_cannot_read(spark, tmp_path):
    """A root the writer accepts but the driver cannot list (a ``file://``
    URI) fails the commit instead of recording zero rows."""
    pipe = CheckpointedPipeline(spark, f"file://{tmp_path}")
    with pytest.raises(ValueError, match="part-"):
        pipe._commit("extract", spark.range(3), time.time())
    assert not (tmp_path / "_metrics").exists()


def test_pipeline_read_refuses_stage_without_recorded_schema(spark, tmp_path):
    """A committed stage whose metrics record holds no schema is refused,
    not opened by schema inference."""
    pipe = CheckpointedPipeline(spark, str(tmp_path))
    pipe._commit("extract", spark.range(3), time.time())
    assert pipe.read("extract").count() == 3
    record_path = tmp_path / "_metrics" / "extract.json"
    record = json.loads(record_path.read_text())
    del record["schema"]
    record_path.write_text(json.dumps(record))
    with pytest.raises(ValueError, match="no schema"):
        pipe.read("extract")


def test_score_pairs_plan_one_arrow_node_over_spread_docs(spark):
    """The three scoring UDFs share ONE ``ArrowEvalPython`` node, and a
    one-partition docs input reaches the side-table projection through a
    hash exchange on the id."""
    docs = spark.createDataFrame(
        [(i, f"doc {i} text") for i in range(6)], "id long, text string"
    ).coalesce(1)
    pairs = spark.createDataFrame([(0, 1), (2, 3)], "id_a long, id_b long")
    scored = scoring.score_pairs(pairs, docs)
    plan = spark._jvm.PythonSQLUtils.explainString(scored._jdf.queryExecution(), "simple")
    arrow = [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln]
    assert len(arrow) == 1, plan
    # the Myers levenshtein kernel's UDF is named _lev
    for udf in ("jaro_winkler_udf(", "_lev(", "jaccard_hashed_udf("):
        assert udf in arrow[0], (udf, arrow[0])
    lines = plan.splitlines()
    side = [i for i, ln in enumerate(lines) if " AS canon_" in ln]
    assert side, plan
    for i in side:
        below = lines[i + 1].strip(" :+-")
        assert below.startswith("Exchange hashpartitioning(id#"), (lines[i], lines[i + 1])


def _assert_chain_matches_oracle(spark, build, oracle_sql):
    """``build`` over the ER chain's sf0.001 documents equals the DuckDB
    oracle bit for bit (full-precision repr, as the correctness gate
    compares them)."""
    import duckdb

    from entity_matchers_spark import queries as Q
    from tools.check_correctness import canon_rows

    sf_dir = "/root/testdata/sf0.001"
    df = build(Q._er_docs(spark, sf_dir))
    cols, got = canon_rows(df.columns, [tuple(r) for r in df.collect()])
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    oracle = con.sql(oracle_sql)
    ocols, want = canon_rows(oracle.columns, oracle.fetchall())
    assert cols == ocols
    assert len(got) == len(want) > 0, (len(got), len(want))
    bad = [(g, w) for g, w in zip(got, want) if g != w]
    assert not bad, f"{len(bad)} of {len(want)} rows differ; first (spark, oracle): {bad[0]}"


def test_candidate_pairs_match_sql_oracle(spark):
    """The chain's blocks → pairs, at the pipeline's spec, are what the
    registry's ``er_candidate_pairs`` oracle generates."""
    from entity_matchers_spark.queries import Q_ER_CANDIDATE_PAIRS_SQL

    cfg = PipelineConfig()
    _assert_chain_matches_oracle(
        spark, lambda docs: cfg.pairs(cfg.blocks(docs)), Q_ER_CANDIDATE_PAIRS_SQL
    )


def test_score_pairs_matches_sql_oracle(spark):
    """``score_pairs`` is the one pair scorer the registry, the pipeline and
    the benchmarks run: over the chain's candidate pairs its features and
    blend must equal the ``er_pair_scores`` oracle."""
    from entity_matchers_spark.queries import Q_ER_PAIR_SCORES_SQL

    cfg = PipelineConfig()
    _assert_chain_matches_oracle(
        spark, lambda docs: cfg.scores(cfg.pairs(cfg.blocks(docs)), docs), Q_ER_PAIR_SCORES_SQL
    )
