"""The benchmark's own tests; no Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import re
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import layers  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
    SPEC = json.load(f)
ALL_METRICS = SPEC["end_to_end"] + SPEC["per_layer"]


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            h.update(os.path.relpath(os.path.join(d, name), root).encode())
            with open(os.path.join(d, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()


@pytest.mark.parametrize("name", sorted(gen.WRITERS))
def test_same_seed_gives_byte_identical_inputs(tmp_path, name):
    write = gen.WRITERS[name]
    info_a = write(str(tmp_path / "a"), 7)
    info_b = write(str(tmp_path / "b"), 7)
    write(str(tmp_path / "c"), 8)
    assert info_a == info_b
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")


def test_every_metric_name_is_well_formed():
    names = [m["name"] for m in ALL_METRICS]
    assert len(names) == len(set(names))
    for n in names:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n), n


def test_every_metric_has_a_unit_and_a_direction():
    for m in ALL_METRICS:
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m
        assert m["better"] in ("lower", "higher"), m
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def test_traced_table_covers_every_layer():
    assert SPEC["per_layer"] == layers.PER_LAYER
    names = {m["name"] for m in layers.PER_LAYER}
    for layer in layers.LAYERS:
        assert f"{layer}.self_s" in names
        for k, _ in layers.EVENT_METRICS:
            assert f"{layer}.{k}" in names
    for stage in layers.STAGES:
        assert f"pipeline.{stage}.wall_s" in names
    assert set(layers.Tracer(None, "").values) == names


def test_event_log_fold_groups_tasks_by_layer(tmp_path):
    def task(stage, ms, failed=False):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Info": {"Launch Time": 0, "Finish Time": ms, "Failed": failed},
            "Task End Reason": {"Reason": "ExceptionFailure" if failed else "Success"},
            "Task Metrics": {
                "JVM GC Time": 500,
                "Memory Bytes Spilled": 1,
                "Disk Bytes Spilled": 2,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 10},
            },
        }

    def job(stages, group):
        return {"Event": "SparkListenerJobStart", "Stage IDs": stages,
                "Properties": {"spark.jobGroup.id": group}}

    events = [
        job([0, 1], "pipeline.scores"),
        job([2], "clustering"),
        job([3], "clustering"),
        job([4], "clustering.baseline"),
        task(0, 10), task(1, 10), task(1, 40, failed=True), task(2, 5),
    ]
    (tmp_path / "local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    out = layers.fold_event_log(str(tmp_path))
    assert out["pipeline.tasks"] == 3
    assert out["pipeline.failed_tasks"] == 1
    assert out["pipeline.shuffle_write_bytes"] == 30
    assert out["pipeline.spill_bytes"] == 9
    assert out["pipeline.gc_s"] == 1.5
    assert out["pipeline.task_skew"] == 4.0
    assert out["clustering.tasks"] == 1
    assert out["clustering.jobs"] == 2
    assert out["clustering.distributed"] == 1  # more jobs than the one-edge baseline
    assert out["scoring.tasks"] == 0
    expected = {f"{layer}.{k}" for layer in layers.LAYERS for k, _ in layers.EVENT_METRICS}
    assert expected | {"clustering.jobs", "clustering.distributed"} == set(out)


def test_pairwise_f1():
    truth = pd.Series([1, 1, 1, 2, 2])
    assert workloads.pairwise_f1(truth, truth) == 1.0
    pred = pd.Series([1, 1, 3, 2, 2])  # one page split off: P = 1, R = 2/4
    assert workloads.pairwise_f1(pred, truth) == pytest.approx(2 * 0.5 / 1.5)


def test_planted_graph_sizes():
    from entity_matchers_spark.operators.clustering import connected_components

    driver_max = inspect.signature(connected_components).parameters["driver_max_edges"].default
    edges, components = gen.chain_graph(3, gen.GRAPH_MATCH_EDGES)
    assert len(edges["id_a"]) > driver_max
    assert (edges["id_a"] < edges["id_b"]).all()
    nodes = len(set(edges["id_a"]) | set(edges["id_b"]))
    assert nodes - len(edges["id_a"]) == components  # a forest of chains
    t = gen.align_tables(3, 20)
    truth = pd.DataFrame(t["truth"])
    assert truth["id_a"].is_unique and truth["id_b"].is_unique
