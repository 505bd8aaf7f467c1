"""The traced run: per-layer metrics of one workload.

Every layer is measured from outside, by timing calls into the public
functions of ``plans.pipeline``, ``extraction``, ``operators.blocking``,
``operators.scoring`` / ``functions.similarity``, ``operators.matching``,
``operators.clustering`` and ``session``. Each call runs under a Spark job
group named after its layer (``pipeline.<stage>`` for the staged pipeline
run), and Spark's own event log, folded by ``fold_event_log`` after the
session stops, gives each layer's task counts, shuffle, spill, GC and skew.

Spans: the staged run calls ``CheckpointedPipeline.run(through=stage)`` once
per stage, so each stage gets its own wall time; a stage's span is the self
time of the layer that stage belongs to, and the traced wall minus all
stage spans (``trace.remainder_s``) is the pipeline runner's own time
(``pipeline.self_s``). On ``er_align`` the spans are the threshold/top-k
and MWGM calls. The traced wall minus an untraced call's wall is
``trace.overhead_s``. A layer a workload never calls reports 0.

The scoring split times ``score_pairs`` itself. Selecting only the ids, or
the ids and one feature, from its output lets Spark's column pruning drop
every other feature's UDF and per-document columns. So ``scoring.join_s``
is the id joins alone, and each ``scoring.<feature>_s`` is one such pass
minus ``join_s``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from unittest import mock

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen

LAYERS = ("session", "extraction", "blocking", "scoring", "matching", "clustering", "pipeline")
STAGES = ("extract", "blocks", "pairs", "scores", "matches", "clusters")
STAGE_LAYER = {
    "extract": "extraction",
    "blocks": "blocking",
    "pairs": "blocking",
    "scores": "scoring",
    "matches": "matching",
    "clusters": "clustering",
}
FEATURES = ("jw", "tslr", "jac3", "cos")  # score_pairs' feature columns
UDFS = ("jw", "tslr", "jac3")  # the features computed by a Python UDF
UDF_SAMPLE = 8192  # candidate pairs whose UDF inputs are recorded
EVENT_METRICS = (  # folded from the event log for every layer
    ("tasks", "count"),
    ("failed_tasks", "count"),
    ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("gc_s", "s"),
    ("task_skew", "ratio"),
)


def _m(name: str, unit: str, better: str = "lower") -> dict:
    return {"name": name, "unit": unit, "better": better}


PER_LAYER = (
    [_m("session.start_s", "s"), _m("session.warmup_s", "s")]
    + [_m("extraction.wall_s", "s"), _m("extraction.rows_out", "count", "higher")]
    + [
        _m("blocking.keys_s", "s"),
        _m("blocking.pairs_s", "s"),
        _m("blocking.key_rows", "count"),
        _m("blocking.max_block", "count"),
        _m("blocking.candidate_pairs", "count"),
        _m("blocking.capped_key_share", "ratio"),
        _m("blocking.match_yield", "ratio", "higher"),
        _m("blocking.pair_recall", "ratio", "higher"),
    ]
    + [
        _m("scoring.wall_s", "s"),
        _m("scoring.pairs_per_s", "1/s", "higher"),
        _m("scoring.join_s", "s"),
        _m("scoring.jw_s", "s"),
        _m("scoring.tslr_s", "s"),
        _m("scoring.jac3_s", "s"),
        _m("scoring.cos_s", "s"),
    ]
    + [_m(f"scoring.{u}.{part}_s", "s") for u in UDFS for part in ("kernel", "transfer")]
    + [_m("scoring.tslr_shortcut_share", "ratio", "higher")]
    + [
        _m("matching.threshold_s", "s"),
        _m("matching.mwgm_s", "s"),
        _m("matching.components", "count"),
        _m("matching.max_component_nodes", "count"),
        _m("matching.groups_per_s", "1/s", "higher"),
    ]
    + [
        _m("clustering.wall_s", "s"),
        _m("clustering.distributed", "flag"),
        _m("clustering.jobs", "count"),
    ]
    + [_m(f"pipeline.{s}.wall_s", "s") for s in STAGES]
    + [_m(f"pipeline.{s}.bytes_committed", "bytes") for s in STAGES]
    + [_m("pipeline.resume_open_s", "s")]
    + [_m(f"{layer}.self_s", "s") for layer in LAYERS]
    + [
        _m("trace.wall_s", "s"),
        _m("trace.untraced_wall_s", "s"),
        _m("trace.overhead_s", "s"),
        _m("trace.remainder_s", "s"),
    ]
    + [_m(f"{layer}.{k}", unit) for layer in LAYERS for k, unit in EVENT_METRICS]
)


class Tracer:
    """Times calls under Spark job groups and keeps the metric table."""

    def __init__(self, spark, scratch: str):
        self.spark = spark
        self.scratch = scratch
        self.values = {m["name"]: 0.0 for m in PER_LAYER}
        self.failures: list[str] = []
        self.reference: float | None = None  # the pinned F1, else the untraced call's

    @contextmanager
    def group(self, name: str):
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        try:
            yield
        finally:
            sc.setJobGroup("", "")

    def timed(self, group: str, fn):
        with self.group(group):
            t = time.perf_counter()
            out = fn()
            return out, time.perf_counter() - t

    def noop(self, group: str, build) -> float:
        """Time ``build()`` and running the DataFrame it returns to
        completion, without keeping its rows. Building is inside the timed
        region because some operators run jobs when called."""
        return self.timed(group, lambda: build().write.format("noop").mode("overwrite").save())[1]

    def checked(self, wl, out) -> None:
        self.failures.extend(wl.verify(out, self.reference)[0])


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(f"{path}/*") if os.path.isfile(p))


def staged_pipeline(tr: Tracer, wl, pages) -> None:
    """One pipeline run, one stage per span, plus the resume-open probe."""
    v = tr.values
    pipe = wl.pipeline()
    spans = {}
    t = time.perf_counter()
    for stage in STAGES:
        spans[stage] = tr.timed(f"pipeline.{stage}", lambda: pipe.run(pages, through=stage))[1]
    traced = time.perf_counter() - t
    for stage, s in spans.items():
        v[f"pipeline.{stage}.wall_s"] = s
        v[f"{STAGE_LAYER[stage]}.self_s"] += s
        v[f"pipeline.{stage}.bytes_committed"] = _dir_bytes(pipe._path(stage))
    v["trace.wall_s"] = traced
    v["pipeline.self_s"] = v["trace.remainder_s"] = traced - sum(spans.values())
    v["pipeline.resume_open_s"] = tr.timed("pipeline", lambda: pipe.run(pages, through="scores"))[1]


def _recording(udf, out_dir: str):
    """The pandas UDF ``udf``, also writing each Arrow batch of its inputs
    to a parquet file in ``out_dir``."""
    from pyspark.sql.functions import pandas_udf

    func = udf.func

    def record(a: pd.Series, b: pd.Series) -> pd.Series:
        import uuid

        pq.write_table(pa.table({"a": a, "b": b}), f"{out_dir}/{uuid.uuid4().hex}.parquet")
        return func(a, b)

    return pandas_udf(record, udf.returnType)


def udf_split(tr: Tracer, sample, docs, c) -> None:
    """Kernel vs transfer for each Python UDF of ``score_pairs``.

    ``score_pairs`` runs over ``sample`` with its UDFs swapped for recording
    copies, so the inputs each UDF received are stored as Spark passed them.
    ``kernel_s`` is the UDF's ``.func`` on the driver over those inputs, in
    batches of ``maxRecordsPerBatch`` rows; ``transfer_s`` is the same UDF in
    one Spark task over the same rows, minus ``kernel_s``: the Arrow
    transfer plus the Python-worker overhead."""
    from entity_matchers_spark.functions import similarity
    from entity_matchers_spark.operators import scoring

    v = tr.values
    lev = similarity.levenshtein_distance_udf()
    real = {"jw": scoring.jaro_winkler_udf, "tslr": lev, "jac3": scoring.jaccard_hashed_udf}
    dirs = {k: os.path.join(tr.scratch, "udf_inputs", k) for k in UDFS}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    rec = {k: _recording(real[k], dirs[k]) for k in UDFS}
    with (
        mock.patch.object(scoring, "jaro_winkler_udf", rec["jw"]),
        mock.patch.object(scoring, "jaccard_hashed_udf", rec["jac3"]),
        mock.patch.object(similarity, "levenshtein_distance_udf", lambda: rec["tslr"]),
    ):
        recorded = scoring.score_pairs(sample, docs, "id", "text", name_cap=c.name_cap)
    with tr.group("scoring"):
        recorded.write.format("noop").mode("overwrite").save()
    batch = int(tr.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    for k in UDFS:
        if not os.listdir(dirs[k]):
            tr.failures.append(f"scoring: score_pairs no longer calls the {k} UDF")
            continue
        rows = pq.read_table(dirs[k]).to_pandas()
        t = time.perf_counter()
        for i in range(0, len(rows), batch):
            real[k].func(rows["a"].iloc[i : i + batch], rows["b"].iloc[i : i + batch])
        v[f"scoring.{k}.kernel_s"] = time.perf_counter() - t
        one_task = tr.spark.read.parquet(dirs[k]).coalesce(1)
        in_spark = tr.noop("scoring", lambda: one_task.select(real[k]("a", "b").alias(k)))
        v[f"scoring.{k}.transfer_s"] = in_spark - v[f"scoring.{k}.kernel_s"]


def cluster(tr: Tracer, edges, group: str = "clustering"):
    """``connected_components`` over ``edges`` under ``group``, collected:
    (labels, seconds)."""
    from entity_matchers_spark.operators import clustering

    return tr.timed(group, lambda: clustering.connected_components(edges).toPandas())


def fresh_layers(tr: Tracer, wl) -> None:
    """Direct calls into extraction, blocking, scoring, matching and
    clustering, over the tables the staged run committed."""
    from entity_matchers_spark.extraction import with_extracted_text
    from entity_matchers_spark.operators import blocking, matching, scoring

    v = tr.values
    pipe = wl.pipeline()
    c = pipe.config
    docs, blocks, pairs = pipe.read("extract"), pipe.read("blocks"), pipe.read("pairs")

    v["extraction.wall_s"] = tr.noop(
        "extraction", lambda: with_extracted_text(wl.pages, "html", "t")
    )
    v["extraction.rows_out"] = pq.read_table(pipe._path("extract")).num_rows

    keys = blocking.minhash_block_keys(
        docs, "id", "text", num_bands=c.num_bands, rows_per_band=c.rows_per_band,
        shingle_n=c.shingle_n, text_cap=c.text_cap, seed=c.seed,
    ).unionByName(blocking.domain_block_keys(docs, "id", "url"))
    v["blocking.keys_s"] = tr.noop("blocking", lambda: keys)
    v["blocking.pairs_s"] = tr.noop(
        "blocking", lambda: blocking.candidate_pairs(blocks, c.max_block_size)
    )
    block_rows = pq.read_table(pipe._path("blocks")).to_pandas()
    sizes = block_rows.groupby("block_id").size()
    cand = pq.read_table(pipe._path("pairs")).to_pandas()
    n_matches = pq.read_table(pipe._path("matches")).num_rows
    v["blocking.key_rows"] = len(block_rows)
    v["blocking.max_block"] = int(sizes.max())
    v["blocking.capped_key_share"] = float(sizes[sizes > c.max_block_size].sum() / len(block_rows))
    v["blocking.candidate_pairs"] = len(cand)
    v["blocking.match_yield"] = n_matches / max(1, len(cand))
    truth = wl.truth.rename("entity_id").reset_index()
    true_pairs = truth.merge(truth, on="entity_id").query("page_id_x < page_id_y")
    found = true_pairs.merge(cand, left_on=["page_id_x", "page_id_y"], right_on=["id_a", "id_b"])
    v["blocking.pair_recall"] = len(found) / max(1, len(true_pairs))

    scored = scoring.score_pairs(pairs, docs, "id", "text", name_cap=c.name_cap, weights=c.weights)
    v["scoring.wall_s"] = tr.noop("scoring", lambda: scored)
    v["scoring.pairs_per_s"] = len(cand) / v["scoring.wall_s"]
    v["scoring.join_s"] = tr.noop("scoring", lambda: scored.select("id_a", "id_b"))
    for k in FEATURES:
        one = tr.noop("scoring", lambda: scored.select("id_a", "id_b", k))
        v[f"scoring.{k}_s"] = one - v["scoring.join_s"]
    # tslr is 1.0 exactly when the canonical strings are equal
    tslr = pq.read_table(pipe._path("scores"), columns=["tslr"]).to_pandas()["tslr"]
    v["scoring.tslr_shortcut_share"] = float((tslr == 1.0).mean())
    udf_split(tr, pairs.orderBy("id_a", "id_b").limit(UDF_SAMPLE), docs, c)

    v["matching.threshold_s"] = tr.noop(
        "matching", lambda: matching.threshold_match(pipe.read("scores"), c.edge_threshold)
    )
    v["clustering.wall_s"] = cluster(tr, pipe.read("matches"))[1]


def align_layers(tr: Tracer, wl) -> None:
    """The align call split into its two matching spans; the component
    structure mwgm_exact solves over; and connected_components on a planted
    chain graph above its driver-side size limit, so the distributed
    hash-min loop runs too."""
    from entity_matchers_spark.operators import clustering, matching

    v = tr.values
    pruned_path = os.path.join(tr.scratch, "pruned")
    t = time.perf_counter()
    v["matching.threshold_s"] = tr.timed(
        "matching", lambda: wl.pruned().write.mode("overwrite").parquet(pruned_path)
    )[1]
    pruned = tr.spark.read.parquet(pruned_path)
    out, v["matching.mwgm_s"] = tr.timed("matching", lambda: matching.mwgm_exact(pruned).toPandas())
    v["trace.wall_s"] = time.perf_counter() - t
    v["matching.self_s"] = v["matching.threshold_s"] + v["matching.mwgm_s"]
    v["trace.remainder_s"] = v["trace.wall_s"] - v["matching.self_s"]
    tr.checked(wl, out)
    u, w = matching._bipartite_node_exprs(pruned)
    with tr.group("matching"):
        comp = clustering.connected_components(
            pruned.select(u.alias("u"), w.alias("v")), "u", "v"
        ).toPandas()
    sizes = comp.groupby("cluster_id").size()
    v["matching.components"] = len(sizes)
    v["matching.max_component_nodes"] = int(sizes.max())
    v["matching.groups_per_s"] = len(sizes) / v["matching.mwgm_s"]

    info = gen.write_graph(os.path.join(tr.scratch, "graph"), wl.seed)
    edges = tr.spark.read.parquet(os.path.join(tr.scratch, "graph", "edges"))
    labels, v["clustering.wall_s"] = cluster(tr, edges)
    if labels["cluster_id"].nunique() != info["components"]:
        tr.failures.append(
            f"graph: {labels['cluster_id'].nunique()} components, planted {info['components']}"
        )


def traced_run(wl, spark, session_s: float, scratch: str, warm) -> dict:
    """Warm up, make one untraced call, then the traced calls. Returns the
    metric table (without the event-log metrics; see ``fold_event_log``)."""
    import workloads

    tr = Tracer(spark, scratch)
    v = tr.values
    v["session.start_s"] = session_s
    wl.prepare()
    _, v["session.warmup_s"] = tr.timed("session", warm)
    wl.reset()
    out, v["trace.untraced_wall_s"] = tr.timed("untraced", wl.call)
    tr.reference = workloads.pinned_f1(wl.name, wl.seed)
    if tr.reference is None:
        tr.reference = wl.check(out)[1]
    tr.checked(wl, out)
    wl.reset()
    if wl.name == "er_align":
        align_layers(tr, wl)
    else:
        staged_pipeline(tr, wl, wl.pages)
        tr.checked(wl, f"{wl.warehouse}/clusters")
        fresh_layers(tr, wl)
    # a one-edge graph takes connected_components' driver-side path; its job
    # count is the baseline that clustering.distributed compares against
    one_edge = os.path.join(scratch, "one_edge")
    gen.write_parquet({"id_a": [0], "id_b": [1]}, gen.EDGES_SCHEMA, one_edge)
    cluster(tr, spark.read.parquet(one_edge), "clustering.baseline")
    v["session.self_s"] = v["session.start_s"] + v["session.warmup_s"]
    v["trace.overhead_s"] = v["trace.wall_s"] - v["trace.untraced_wall_s"]
    return {"workload": wl.name, "metrics": v, "failures": tr.failures}


def fold_event_log(path: str) -> dict:
    """Per-layer task metrics from a finished Spark event log: tasks, failed
    tasks, shuffle bytes written, bytes spilled, GC seconds and task skew
    (max task time / median task time), grouped by the job group prefix."""
    stage_layer: dict[int, str] = {}
    jobs: dict[str, int] = {}
    tasks: dict[str, list[dict]] = {}
    files = [f for f in glob.glob(os.path.join(path, "*")) if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {path}, found {files}")
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                layer = group.split(".")[0]
                jobs[group] = jobs.get(group, 0) + 1
                for sid in ev.get("Stage IDs", []):
                    stage_layer.setdefault(sid, layer)
            elif kind == "SparkListenerTaskEnd":
                layer = stage_layer.get(ev["Stage ID"], "")
                tasks.setdefault(layer, []).append(ev)
    out = {}
    for layer in LAYERS:
        evs = tasks.get(layer, [])
        times = [e["Task Info"]["Finish Time"] - e["Task Info"]["Launch Time"] for e in evs]
        tm = [e.get("Task Metrics") or {} for e in evs]
        out[f"{layer}.tasks"] = len(evs)
        out[f"{layer}.failed_tasks"] = sum(
            1 for e in evs
            if e["Task Info"].get("Failed")
            or (e.get("Task End Reason") or {}).get("Reason") != "Success"
        )
        out[f"{layer}.shuffle_write_bytes"] = sum(
            (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) for m in tm
        )
        out[f"{layer}.spill_bytes"] = sum(
            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0) for m in tm
        )
        out[f"{layer}.gc_s"] = sum(m.get("JVM GC Time", 0) for m in tm) / 1000.0
        out[f"{layer}.task_skew"] = max(times) / max(1, statistics.median(times)) if times else 0.0
    out["clustering.jobs"] = jobs.get("clustering", 0)
    # the distributed loop runs more jobs than the driver-side path does
    out["clustering.distributed"] = int(out["clustering.jobs"] > jobs.get("clustering.baseline", 0))
    return out
