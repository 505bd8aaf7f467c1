"""The benchmark workloads: inputs, one timed call, output check.

Each workload writes its seeded inputs with ``gen`` (untimed set-up), then
``call()`` runs the system once and returns what ``check()`` verifies. The
timed region is exactly ``call()``; clearing the previous call's output is
done before it, in ``reset()``.
"""

from __future__ import annotations

import json
import os
import shutil

import pandas as pd
import pyarrow.parquet as pq

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
F1_FLOOR = 0.8  # any workload's F1 below this is a failed output check


def pinned_f1(name: str, seed: int) -> float | None:
    """The F1 pinned for ``name`` at ``seed`` in pinned.json, if any."""
    with open(os.path.join(HERE, "pinned.json")) as f:
        return json.load(f).get(name, {}).get(str(seed))


def pairwise_f1(pred: pd.Series, truth: pd.Series) -> float:
    """Pairwise F1 of a clustering ``pred`` against planted ``truth`` labels
    (both indexed by the same ids): pairs in one predicted cluster vs pairs
    of one planted entity."""

    def pairs(sizes: pd.Series) -> int:
        return int((sizes * (sizes - 1) // 2).sum())

    both = pd.DataFrame({"p": pred, "t": truth})
    tp = pairs(both.groupby(["p", "t"]).size())
    n_pred, n_true = pairs(both.groupby("p").size()), pairs(both.groupby("t").size())
    if tp == 0:
        return 0.0
    prec, rec = tp / n_pred, tp / n_true
    return 2 * prec * rec / (prec + rec)


class Workload:
    """One seeded input set and the call the benchmark times on it."""

    name = ""

    def __init__(self, spark, root: str, seed: int):
        self.spark = spark
        self.root = root
        self.seed = seed
        self.info: dict = {}

    def prepare(self) -> None:
        """Generate and commit the inputs (part of set-up)."""
        shutil.rmtree(self.root, ignore_errors=True)
        self.info = gen.WRITERS[self.name](self.root, self.seed)

    def reset(self) -> None:
        """Undo the previous call's output (untimed)."""

    def call(self):
        raise NotImplementedError

    def warm(self) -> list[str]:
        """The untimed warm-up call; returns its failed checks."""
        return self.verify(self.call(), None)[0]

    def check(self, out) -> tuple[list[str], float]:
        """(failed checks, quality) of one call's output."""
        raise NotImplementedError

    def verify(self, out, reference: float | None) -> tuple[list[str], float]:
        """``check`` plus the quality checks: F1 equals ``reference`` (the
        pinned F1, or the run's first F1 for a seed that is not pinned) and
        is at least F1_FLOOR."""
        failed, quality = self.check(out)
        if reference is not None and quality != reference:
            failed.append(f"{self.name}: F1 {quality!r} != reference {reference!r}")
        if quality < F1_FLOOR:
            failed.append(f"{self.name}: F1 {quality!r} below {F1_FLOOR}")
        return failed, quality

    def items(self) -> int:
        """Input edges one call processes, for ``edges_per_s``."""
        raise NotImplementedError


class ErFresh(Workload):
    """A full CheckpointedPipeline.run into an empty warehouse."""

    name = "er_fresh"

    def prepare(self) -> None:
        super().prepare()
        self.pages = self.spark.read.parquet(f"{self.root}/pages")
        truth = pq.read_table(f"{self.root}/truth").to_pandas()
        self.truth = truth.set_index("page_id")["entity_id"]

    @property
    def warehouse(self) -> str:
        return f"{self.root}/warehouse"

    def pipeline(self):
        from entity_matchers_spark.plans.pipeline import CheckpointedPipeline

        return CheckpointedPipeline(self.spark, self.warehouse)

    def reset(self) -> None:
        shutil.rmtree(self.warehouse, ignore_errors=True)

    def call(self):
        self.pipeline().run(self.pages)
        return f"{self.warehouse}/clusters"

    def warm(self) -> list[str]:
        """The pipeline over the pages of the first quarter of the entities:
        every stage runs and pays the session's cold costs, which are
        nearly all fixed, for less than a cold call over all pages."""
        from pyspark.sql import functions as F

        cut = gen.FRESH_ENTITIES // 4 * gen.MAX_VARIANTS
        self.pipeline().run(self.pages.where(F.col("page_id") < cut))
        rows = pq.read_table(f"{self.warehouse}/clusters").num_rows
        if rows != (self.truth.index < cut).sum():
            return ["er_fresh: warm-up cluster table is not one row per page"]
        return []

    def check(self, out) -> tuple[list[str], float]:
        clusters = pq.read_table(out).to_pandas()
        failed = []
        if len(clusters) != len(self.truth) or set(clusters["id"]) != set(self.truth.index):
            failed.append("er_fresh: cluster table is not one row per page")
        pred = clusters.set_index("id")["cluster_id"].reindex(self.truth.index)
        return failed, pairwise_f1(pred, self.truth)

    def items(self) -> int:
        return pq.read_table(f"{self.warehouse}/pairs").num_rows


class ErAlign(Workload):
    """The two-KG 1-1 decision: threshold -> top-k -> exact MWGM."""

    name = "er_align"

    def prepare(self) -> None:
        super().prepare()
        self.truth = pq.read_table(f"{self.root}/truth").to_pandas()

    def candidates(self):
        return self.spark.read.parquet(f"{self.root}/candidates")

    def pruned(self):
        from entity_matchers_spark.operators import matching

        return matching.topk_per_id(
            matching.threshold_match(self.candidates(), gen.ALIGN_THRESHOLD), gen.ALIGN_TOPK, "a"
        )

    def call(self):
        from entity_matchers_spark.operators import matching

        return matching.mwgm_exact(self.pruned()).toPandas()

    def check(self, out) -> tuple[list[str], float]:
        failed = []
        if out["id_a"].duplicated().any() or out["id_b"].duplicated().any():
            failed.append("er_align: an id is matched twice")
        hits = len(out.merge(self.truth, on=["id_a", "id_b"]))
        if hits == 0:
            return failed, 0.0
        prec, rec = hits / len(out), hits / len(self.truth)
        return failed, 2 * prec * rec / (prec + rec)

    def items(self) -> int:
        return self.info["edges"]


WORKLOADS = {w.name: w for w in (ErFresh, ErAlign)}


def make(name: str, spark, work: str, seed: int) -> Workload:
    return WORKLOADS[name](spark, os.path.join(work, name), seed)
