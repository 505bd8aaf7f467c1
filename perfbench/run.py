#!/usr/bin/env python3
"""End-to-end record-linkage benchmark.

    python3 perfbench/run.py --workload er_fresh --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1

Run from the repository root. One run starts a local Spark session sized to
the host's cores, generates the workload's inputs from ``--seed``, makes one
untimed warm-up call, then times calls one at a time (closed loop) for
``--seconds`` and checks every call's output. The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics of BENCHMARK.json, or its per-layer metrics with
``--trace 1``). The exit code is 1 when an output check fails.

Everything the run writes goes under ``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DRIVER_MEM = "2g"
MIN_CALLS = 1  # timed calls per run even when --seconds is short


def pin_environment(work: str) -> None:
    """Environment for the Spark process this run starts: the repository on
    the Python workers' path (without it the UDF stages fail with
    ModuleNotFoundError), task slots from the host's core count instead of
    get_spark's default of 32, a bounded driver heap, and every temp dir
    inside ``work``.

    One core is left free. A Python UDF task keeps its JVM task thread and
    its Python worker busy at once, and the JVM adds GC and compiler
    threads; with a slot per core these outnumber the cores, and er_fresh
    timings then spread 2-3x wider between runs."""
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) - 1))
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # read by every JVM spark-submit starts (its launcher and the driver);
    # without -UsePerfData each one writes under /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def start_session(work: str, event_log: str | None = None):
    from entity_matchers_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.dir"] = "file://" + event_log
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM (and so its Python workers) exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _hwm_kb(pid: int) -> int:
    """Peak resident memory of one process (VmHWM), 0 if it has exited."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        out.append(p)
        frontier.extend(c for c, pp in parent.items() if pp == p)
    return out


def peak_rss_mb() -> float:
    """Peak resident memory of the Spark JVM plus its Python workers: the
    sum of each live process's kernel-recorded peak. Python workers are
    reused for the whole session, so they are all still alive here."""
    from pyspark import SparkContext

    jvm = SparkContext._gateway.proc.pid
    return sum(_hwm_kb(p) for p in _descendants(jvm)) / 1024.0


def timed(fn):
    t = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t


def warm_up(wl) -> None:
    """One untimed call before the timed ones: the first call in a session
    runs 25-60% slower."""
    wl.reset()
    failed = wl.warm()
    if failed:
        raise RuntimeError("warm-up call failed its check: " + "; ".join(failed))


def measure(wl, seconds: float, reference: float | None) -> dict:
    """Closed loop: one timed call at a time until ``seconds`` have passed
    (at least MIN_CALLS calls), every output checked. Without a pinned F1
    for the seed, the first call's F1 is the reference for the others."""
    walls, failures, qualities, bad, attempted = [], [], [], 0, 0
    deadline = time.perf_counter() + seconds
    while len(walls) < MIN_CALLS or time.perf_counter() + statistics.median(walls) <= deadline:
        wl.reset()
        attempted += 1
        try:
            out, wall = timed(wl.call)
            failed, quality = wl.verify(out, reference)
        except Exception as e:  # a failed call is counted, not fatal
            failures.append(f"{wl.name}: call raised {type(e).__name__}: {e}")
            bad += 1
            if bad > MIN_CALLS:
                break
            continue
        walls.append(wall)
        qualities.append(quality)
        reference = quality if reference is None else reference
        failures.extend(failed)
        bad += bool(failed)
    return {
        "walls": walls,
        "failures": failures,
        "qualities": qualities,
        "bad": bad,
        "attempted": attempted,
    }


def end_to_end(wl, spark, session_s: float, seconds: float) -> tuple[dict, list, int, int]:
    import workloads

    _, gen_s = timed(wl.prepare)
    _, warm_s = timed(lambda: warm_up(wl))
    m = measure(wl, seconds, workloads.pinned_f1(wl.name, wl.seed))
    rss_mb = peak_rss_mb()
    if not m["walls"]:
        raise RuntimeError("no call succeeded: " + "; ".join(m["failures"]))
    wall = statistics.median(m["walls"])
    print(
        f"session {session_s:.2f} s, warm-up {warm_s:.2f} s, inputs {gen_s:.2f} s, "
        f"calls " + " ".join(f"{w:.2f}" for w in m["walls"]) + " s",
        file=sys.stderr,
    )
    values = {
        "wall_s": wall,
        "setup_s": session_s + warm_s + gen_s,
        "edges_per_s": wl.items() / wall,
        "pairwise_f1": statistics.median(m["qualities"]),
        "peak_rss_mb": rss_mb,
    }
    return values, m["failures"], m["attempted"], m["bad"]


def run_workload(name: str, seed: int, seconds: float, trace: bool, spec: dict) -> dict:
    import workloads

    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work)
    event_log = os.path.join(work, "eventlog") if trace else None
    spark, session_s = timed(lambda: start_session(work, event_log))
    try:
        wl = workloads.make(name, spark, os.path.join(work, "data"), seed)
        if trace:
            import layers

            table = layers.traced_run(wl, spark, session_s, work, lambda: warm_up(wl))
        else:
            values, failures, attempted, bad = end_to_end(wl, spark, session_s, seconds)
    finally:
        stop_session(spark)
    if trace:
        values, failures = table["metrics"], table["failures"]
        values.update(layers.fold_event_log(event_log))
        attempted, bad = 1, int(bool(failures))
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        with open(os.path.join(WORK, "trace", f"{name}.json"), "w") as f:
            json.dump(table, f, indent=1, sort_keys=True)
    declared = spec["per_layer" if trace else "end_to_end"]
    missing = [d["name"] for d in declared if d["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics not produced: {missing}")
    for f in failures:
        print("CHECK FAILED:", f, file=sys.stderr)
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": bad,
        "metrics": {d["name"]: {"value": values[d["name"]], "unit": d["unit"]} for d in declared},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"] if args.seconds is None else args.seconds
    names = [w["name"] for w in spec["workloads"]]
    if args.workload == "all":
        # one process per workload: each gets its own Spark JVM
        codes = [
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", n, "--seed",
                 str(args.seed), "--seconds", str(seconds), "--trace", str(args.trace)]
            ).returncode
            for n in names
        ]
        return max(codes)
    if args.workload not in names:
        ap.error(f"--workload must be one of {names} or all")
    result = run_workload(args.workload, args.seed, seconds, bool(args.trace), spec)
    print(f"[{args.workload}]", file=sys.stderr)
    for k, v in result["metrics"].items():
        print(f"  {k} = {v['value']:.6g} {v['unit']}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
