"""SparkSession factory with scale-oriented defaults.

The reference repo hand-manages parallelism with multiprocessing pools
(/root/reference/OpenEA_Mod/src/openea/modules/utils/util.py:19-34); in Spark
that collapses into partition parallelism — the knobs that matter are shuffle
partitioning, AQE (runtime re-planning + skew-join splitting), and Arrow batch
size for the pandas-UDF scoring stage.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# the directory that holds the ``entity_matchers_spark`` package
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "entity-matchers-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox; on a
    real cluster, leave it unset and let spark-submit supply it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # local[N] → N shuffle partitions; a cluster would use 2-3x total cores.
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else cpus
        shuffle_partitions = int(cpus) if n == "*" else int(n)
    heap = os.environ.get("SPARK_DRIVER_MEM", "12g")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing is sized by shuffle *bytes*; compute-bound stages
        # (pandas-UDF scoring, levenshtein over long strings) have tiny
        # inputs but huge CPU cost — keep small shuffles wide rather than
        # collapsing them to 1 task. At 100 TB these floors are no-ops.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.files.maxPartitionBytes", "32m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Small Arrow batches: the vectorized UDF kernels allocate ~10-30x
        # the batch's bytes in numpy temporaries; at 10k rows that is
        # ~300 MB per worker per batch and on hosts with slow first-touch
        # faults (this sandbox: ~40 MB/s under concurrent mmap_lock
        # pressure) the fault storm dwarfs compute — measured 76 s -> 4.2 s
        # on a 105k-pair scoring stage by dropping 10000 -> 2048. Warm
        # throughput is unchanged (kernels are C-speed either way).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode: driver == executor — size the heap for all cores
        # (32 threads on 8g thrash GC and flatten the core-count scaling)
        # Heap sizing against slow-first-touch hosts (memory-overcommitted
        # VMs: high %sys + steal, kcompactd churn; measured fault-in at
        # ~40 MB/s under concurrency). Two failure modes bracket the choice:
        # a small heap (8g) thrashes GC at 32 threads; a huge pinned heap
        # (Xms48g) makes G1 size a ~29 GB young gen whose first-touch
        # zeroing took a 4-core probe from 206 s to 29 min. 16g pinned is
        # the measured sweet spot: the whole heap faults in once (~GBs),
        # G1 never uncommits (uncommit → refault storm turned a 4 s scoring
        # stage into 90-180 s, non-deterministically), young gen stays
        # bounded. On a real cluster with healthy kernels this is simply a
        # sane executor heap.
        .config("spark.driver.memory", heap)
        # First-touch page faults on this class of host (memory-
        # overcommitted VM: high %sys + steal, kcompactd churn) run as slow
        # as ~40 MB/s under concurrency, and G1 both lazily faults pages in
        # AND uncommits idle heap (refaulting it later) — measured as the
        # same 105k-pair scoring stage swinging 4 s ↔ 180 s run-to-run.
        # Three levers, all load-bearing:
        #   -Xms pinned   → every page faults at most once per session;
        #   THP (madvise) → 512× fewer faults (2 MB granularity) when the
        #                   kernel can supply huge pages;
        #   12g, not 48g  → bounds the unique pages a session can ever
        #                   touch; 8g thrashes GC at 32 threads, 48g made
        #                   G1 zero a ~29 GB young gen.
        #   -Xmn heap/8   → G1 rotates young regions across the whole
        #                   committed heap, so an adaptive young gen
        #                   touches more of the pinned heap with every
        #                   call; a fixed one keeps eden at 1/8 of it. At
        #                   a 2g heap (perfbench, 4-vCPU host, 6
        #                   interleaved pairs) er_fresh peak RSS, JVM plus
        #                   Python workers, fell from 3.22 to 2.14 GB
        #                   (medians) at unchanged call time.
        # Measured with this config (quiet phase): blocks 9.6 s / pairs
        # 7.6 s / scores 7.1 s first-execution, ~3-7 s warm. On a cluster
        # put the same flags in spark.executor.defaultJavaOptions.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{heap} -Xmn{_eighth(heap)} -XX:+UseTransparentHugePages",
        )
        # Python workers (not the JVM): keep glibc from munmapping freed
        # kernel buffers so Arrow-batch temporaries are faulted once per
        # worker and reused, instead of refaulted per batch. Reaches
        # local-mode workers too (verified: executorEnv is part of the
        # python worker env).
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", str(1 << 30))
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "-1")
        # ... and fault what they do allocate as 2 MB huge pages (glibc
        # madvises THP for its arenas) — same 512× fault-count cut for the
        # numpy temporaries as UseTransparentHugePages gives the JVM heap.
        .config("spark.executorEnv.GLIBC_TUNABLES", "glibc.malloc.hugetlb=1")
        # JVM <-> Python-worker transport over Unix domain sockets
        # (Spark 4.1+). The channel is same-host by construction (each
        # executor forks its own workers), so UDS is strictly better than
        # loopback TCP: no window/congestion machinery to misbehave.
        # Observed here: the kernel collapsed a loopback connection's
        # receive buffer to ~1.8 KB mid-stage (rwnd_limited 98.8%,
        # retransmits + reordering on lo), freezing an Arrow transfer at
        # ~2 KB/RTT until the probe's 1800 s timeout killed it. AF_UNIX
        # has no receive window, so the failure mode is structurally gone.
        # SPARK_GRAFT_NO_UDS=1 restores TCP (escape hatch).
        .config(
            "spark.python.unix.domain.socket.enabled",
            "false" if os.environ.get("SPARK_GRAFT_NO_UDS") else "true",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    # Python workers import the UDF modules by name; put the package's
    # parent on their path, ahead of (not instead of) any inherited one,
    # so a driver that found the package only through its own sys.path
    # does not fail its first UDF stage with ModuleNotFoundError.
    worker_path = os.pathsep.join(
        p for p in (PACKAGE_PARENT, os.environ.get("PYTHONPATH")) if p
    )
    builder = builder.config("spark.executorEnv.PYTHONPATH", worker_path)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _eighth(size: str) -> str:
    """One eighth of a JVM memory size (``2g``, ``4096m``, ``1073741824``),
    in MiB, as a JVM size: ``2g`` -> ``256m``."""
    scale = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}
    unit = size[-1].lower()
    mib = float(size[:-1]) * scale[unit] if unit in scale else int(size) / 2**20
    return f"{int(mib // 8)}m"


def warmup_python_workers(spark: SparkSession, mb_per_worker: int = 96) -> None:
    """Pre-fault each Python worker's numpy arena before heavy UDF stages.

    On hosts with slow first-touch page faults, the FIRST vectorized-UDF
    batch per worker pays the whole fault cost of its numpy temporaries,
    and all workers faulting at once serialize on the kernel's mmap_lock —
    measured here as a 105k-pair scoring stage running 55-90 s when it is
    the session's first UDF stage vs 6-10 s afterwards. One warmup task per
    core touches ``mb_per_worker`` of pages per worker up front (kept by
    the MALLOC_TRIM pin above), so real stages start warm. On a healthy
    kernel this is ~100 ms of memset per executor core — harmless.
    """
    n = spark.sparkContext.defaultParallelism

    def _touch(it):
        import numpy as np

        for _ in it:
            # a few distinct sizes so glibc's bins cover the kernels' shapes
            for size_mb in (mb_per_worker // 2, mb_per_worker // 4, mb_per_worker // 4):
                a = np.ones((size_mb, 1 << 20), dtype=np.int8)  # size_mb MB, touched
                del a
        yield 0

    spark.sparkContext.parallelize(range(n), n).mapPartitions(_touch).count()


def warmup_jvm_heap(spark: SparkSession, rows_per_core: int = 120_000) -> None:
    """Pre-fault the JVM young generation before timed query runs.

    The heap is pinned (``-Xms``) but G1 still first-touches young-gen
    regions lazily as allocation waves arrive; on this host's slow-fault
    kernel the first few string-heavy stages each pay tens of seconds of
    page faults (measured: an explode(split(...)) over 160k tokens ran
    25 s cold / 0.7 s warm, and the NEXT two differently-shaped queries
    still paid 15-20 s each until ~2-3 GB of young gen had been touched).
    One untimed churn query — explode + split + groupBy across every core —
    walks those pages up front. Warm cost is a couple of seconds; on a
    healthy kernel it is noise.
    """
    from pyspark.sql import functions as F

    n = spark.sparkContext.defaultParallelism
    df = (
        spark.range(n * rows_per_core, numPartitions=n)
        .select(
            F.explode(
                F.filter(
                    F.split(
                        F.repeat(
                            F.concat(F.col("id").cast("string"), F.lit("lorem ")), 24
                        ),
                        " ",
                    ),
                    lambda t: t != "",
                )
            ).alias("t")
        )
        .groupBy("t")
        .agg(F.count("*").alias("c"))
    )
    df.write.mode("overwrite").format("noop").save()


def default_partitions(spark: SparkSession) -> int:
    """Compute-stage width: total cores in local mode, defaultParallelism on
    a cluster. Used to repartition compute-bound stages whose *data* is too
    small for size-based planning to parallelize (scoring UDFs, verify
    joins) — at production scale the same repartition is the shuffle the
    stage would do anyway."""
    return spark.sparkContext.defaultParallelism


def spread_docs(docs: DataFrame, id_col: str = "id") -> DataFrame:
    """``docs`` hash-partitioned by ``id_col`` across ``default_partitions``.

    Per-document work (shingling, MinHash, the scoring side table) is
    compute-bound on small data: a documents table that is one parquet row
    group scans as ONE task, and size-based planning never widens it, so
    that work would run serially. Spreading by id puts it on every task
    slot, and an aggregate keyed by the same id (MinHash's per-doc
    ``min()``) then needs no shuffle of its own. Measured only on such a
    one-row-group input (perfbench er_fresh); what the extra exchange costs
    on a many-file table, where the scan is already wide, is unmeasured."""
    return docs.repartition(default_partitions(docs.sparkSession), id_col)
