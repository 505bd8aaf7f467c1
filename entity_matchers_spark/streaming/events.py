"""Streaming event aggregation: watermarked windows, stream dedup,
stateful sessionization.

Design: each operator is a *transformation* on a (possibly streaming)
DataFrame — identical code path for batch and stream, the Structured
Streaming model. Helpers run the streaming flavor to completion with
``Trigger.AvailableNow`` against the static events parquet and return the
result as a plain DataFrame, so the registry can diff it against a batch
SQL oracle (exact parity is the correctness story; real deployments swap
the source for Kafka/files and keep the query).
"""

from __future__ import annotations

import os
import tempfile
import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)


def windowed_event_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Tumbling 1-hour event counts + value sum per event_type, tolerating
    ``watermark`` of lateness. Works on a static OR streaming DataFrame —
    with AvailableNow over static input the watermark never drops rows, so
    output equals the batch GROUP BY (the oracle)."""
    src = events
    if events.isStreaming:
        # parquet timestamps decode as TIMESTAMP_NTZ; watermarks require an
        # instant type — session tz is pinned UTC so the cast is lossless
        src = events.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark(
            "ts", watermark
        )
    return (
        src.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Exactly-once event ids within the watermark horizon:
    ``dropDuplicates`` keyed on event_id — the streaming analog of exact
    dedup (state bounded by the watermark on a real stream)."""
    if events.isStreaming:
        events = events.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark(
            "ts", watermark
        )
    return events.dropDuplicates(["event_id"])


SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based session windows per user.

    Streaming flavor: ``applyInPandasWithState``-class custom stateful
    logic; here expressed with the equivalent *deterministic batch
    semantics* via ``applyInPandas`` per user (sessions = maximal runs of
    events with inter-arrival gap <= gap_minutes). The batch-SQL oracle is
    the classic lag/gap-islands query, so parity is verifiable. On a live
    stream the same function body runs under
    ``applyInPandasWithState`` with a watermark-bounded state timeout.
    """
    gap = gap_minutes * 60

    def per_user(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        ts = pdf["ts"]
        new_session = (ts - ts.shift(1)).dt.total_seconds().fillna(gap + 1) > gap
        sid = new_session.cumsum()
        out = pdf.groupby(sid).agg(
            user_id=("user_id", "first"),
            session_start=("ts", "min"),
            session_end=("ts", "max"),
            n_events=("event_id", "count"),
            sum_value=("value", "sum"),
        )
        return out.reset_index(drop=True)

    return events.groupBy("user_id").applyInPandas(per_user, SESSION_SCHEMA)


def sessionize_stateful(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessions as a REAL custom stateful streaming operator:
    ``applyInPandasWithState`` keeps one open session per user across
    triggers and emits a session the moment a later event (or the
    end-of-stream sentinel the harness appends) proves the gap elapsed.

    Semantics identical to the batch ``sessionize`` (gap-islands); the
    batch path falls through to it, so one function serves both — the
    Structured Streaming model. Per-trigger work stays vectorized: the
    island computation is the same pandas cumsum kernel, the state merge
    touches only the first/last island.

    State per user: (session_start_us, session_end_us, n_events,
    sum_value) epoch-microsecond tuple — O(1) per key, watermark-free
    (closure is data-driven), so state size is bounded by |active users|.
    """
    if not events.isStreaming:
        return sessionize(events, gap_minutes)

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000
    state_schema = StructType(
        [
            StructField("start_us", LongType()),
            StructField("end_us", LongType()),
            StructField("n", LongType()),
            StructField("v", DoubleType()),
        ]
    )

    def per_user_state(key, pdfs, state: GroupState):
        # The streaming runtime calls this once PER USER PER TRIGGER; with
        # web-scale user counts the per-call constant IS the operator's
        # cost, so the kernel is plain numpy (lexsort + diff + reduceat) —
        # no pandas concat/groupby/iterrows in the loop. Measured at sf0.1
        # (1500 users, 100k events): addBatch 6.4 s -> ~1.5 s.
        import numpy as np

        chunks = [c for c in pdfs if len(c)]
        if not chunks:
            return
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        ts = pdf["ts"]
        if isinstance(ts.dtype, pd.DatetimeTZDtype):  # tz-aware Arrow configs
            ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
        us = ts.to_numpy().astype("datetime64[us]").astype(np.int64)
        eid = pdf["event_id"].to_numpy()
        vals = pdf["value"].to_numpy(dtype=np.float64)
        order = np.lexsort((eid, us))
        us = us[order]
        vals = vals[order]
        brk = np.flatnonzero(np.diff(us) > gap_us) + 1
        lo = np.concatenate(([0], brk))
        hi = np.concatenate((brk, [us.size]))
        start_us = us[lo]
        end_us = us[hi - 1]
        n_ev = (hi - lo).astype(np.int64)
        v = np.add.reduceat(vals, lo)
        closed_head = None
        if state.exists:
            s0, e0, n0, v0 = state.get
            if int(start_us[0]) - e0 <= gap_us:
                start_us[0] = min(s0, int(start_us[0]))
                end_us[0] = max(e0, int(end_us[0]))
                n_ev[0] += n0
                v[0] += v0
            else:
                closed_head = (s0, e0, n0, v0)
        state.update((int(start_us[-1]), int(end_us[-1]), int(n_ev[-1]), float(v[-1])))
        start_us, end_us, n_ev, v = start_us[:-1], end_us[:-1], n_ev[:-1], v[:-1]
        if closed_head is not None:
            s0, e0, n0, v0 = closed_head
            start_us = np.concatenate(([s0], start_us))
            end_us = np.concatenate(([e0], end_us))
            n_ev = np.concatenate(([n0], n_ev))
            v = np.concatenate(([v0], v))
        if start_us.size:
            yield pd.DataFrame(
                {
                    "user_id": key[0],
                    "session_start": start_us.astype("datetime64[us]"),
                    "session_end": end_us.astype("datetime64[us]"),
                    "n_events": n_ev,
                    "sum_value": v,
                }
            )

    src = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return src.groupBy("user_id").applyInPandasWithState(
        per_user_state,
        outputStructType=SESSION_SCHEMA,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_sessionize_stateful(
    spark: SparkSession, parquet_path: str, gap_minutes: int = 30
) -> DataFrame:
    """Batch-parity harness for the stateful sessionizer: stream the events
    file as trigger 1, then a sentinel event per user (ts far past every
    real session's gap) as trigger 2 so every real session is provably
    closed by DATA, not by end-of-stream truncation. Sentinel sessions are
    filtered out of the result; output therefore equals the batch
    gap-islands oracle exactly.

    The sentinel fabrication is pure fixture plumbing (a production stream
    closes sessions with the next day's real events), so it deliberately
    avoids Spark jobs: the max timestamp comes from the parquet FOOTER
    statistics (zero data read; falls back to a single-column arrow scan if
    a writer omitted them), the user set from a single-column arrow read,
    and the sentinel file is written directly with pyarrow using the source
    file's own schema — the only Spark work in the harness is the stateful
    query itself."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(parquet_path)
    md = pf.metadata
    ts_pos = pf.schema_arrow.get_field_index("ts")
    maxes = []
    for g in range(md.num_row_groups):
        st = md.row_group(g).column(ts_pos).statistics
        if st is None or not st.has_min_max:
            maxes = []
            break
        maxes.append(st.max)
    if maxes:
        mx = max(maxes)
    else:
        mx = pc.max(pq.read_table(parquet_path, columns=["ts"])["ts"]).as_py()
    sentinel_ts = mx + pd.Timedelta(minutes=3 * gap_minutes)
    users = pc.unique(pq.read_table(parquet_path, columns=["user_id"])["user_id"])
    fill = {
        "event_id": lambda t: pa.array([-1] * len(users), type=t),
        "ts": lambda t: pa.array([sentinel_ts] * len(users), type=t),
        "user_id": lambda t: users.cast(t),
        "event_type": lambda t: pa.array(["sentinel"] * len(users), type=t),
        "value": lambda t: pa.array([0.0] * len(users), type=t),
    }
    schema = pa.schema([pf.schema_arrow.field(i) for i in range(len(pf.schema_arrow))])
    cols = [
        fill.get(f.name, lambda t: pa.nulls(len(users), type=t))(f.type)
        for f in schema
    ]
    sent_table = pa.table(cols, schema=schema)

    static = spark.read.parquet(parquet_path)
    name = "s_" + uuid.uuid4().hex[:12]
    with tempfile.TemporaryDirectory() as workdir:
        src_dir = os.path.join(workdir, "in")
        os.makedirs(src_dir)
        os.symlink(os.path.abspath(parquet_path), os.path.join(src_dir, "part-0.parquet"))
        sent_file = os.path.join(workdir, "sentinel.parquet")
        pq.write_table(sent_table, sent_file)
        # the file source orders triggers by target-file mtime
        # (latestFirst=false): push the sentinel file far into the future so
        # the real events are always trigger 1, sentinels trigger 2
        import time as _time

        far = _time.time() + 3600
        os.utime(sent_file, (far, far))
        os.symlink(sent_file, os.path.join(src_dir, "part-1.parquet"))
        stream = (
            spark.readStream.schema(static.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        q = (
            sessionize_stateful(stream, gap_minutes)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(workdir, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # drop the sentinel sessions (each is the lone sentinel event, if it
    # surfaced at all) — everything earlier is a real, data-closed session
    return spark.table(name).where(F.col("session_start") < F.lit(sentinel_ts))


def run_stream_to_df(
    spark: SparkSession,
    parquet_path: str,
    transform,
    output_mode: str = "append",
) -> DataFrame:
    """Run ``transform(stream_df)`` over the parquet file as a file-source
    stream with Trigger.AvailableNow into an in-memory sink; return the
    completed result as a DataFrame. This is the batch-parity harness the
    registry queries use."""
    static = spark.read.parquet(parquet_path)
    name = "s_" + uuid.uuid4().hex[:12]
    with tempfile.TemporaryDirectory() as workdir:
        # the file source requires a *directory*; testdata ships single
        # read-only files — symlink one in
        src_dir = os.path.join(workdir, "in")
        os.makedirs(src_dir)
        os.symlink(os.path.abspath(parquet_path), os.path.join(src_dir, "part-0.parquet"))
        stream = (
            spark.readStream.schema(static.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        q = (
            transform(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", os.path.join(workdir, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def stream_stream_attribution(
    views: DataFrame,
    clicks: DataFrame,
    horizon_minutes: int = 360,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join with an event-time range condition: every
    (view, click) pair of the SAME user where the click lands within
    ``horizon_minutes`` after the view — the canonical attribution join,
    the one Structured Streaming surface the engine did not yet cover
    (stream-static enrich and windowed aggs are stateless/keyed; this one
    buffers BOTH sides).

    Semantics/state: both sides are watermarked and the join condition
    bounds click.ts to (view.ts, view.ts + horizon], so Spark derives a
    state-eviction bound on each side — per-key state is O(events within
    watermark + horizon), never the full history. With AvailableNow over a
    single static file everything arrives in one microbatch and the inner
    join emits exactly the batch join (the SQL oracle); on a real source
    the same query runs unbounded. The join itself shuffles both streams
    on user_id — the same equi-key hash exchange a batch join would use,
    so the plan scales like any keyed join (skewed hot users would salt
    exactly as the blocking self-join does).
    """
    v = views.select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").cast("timestamp").alias("v_ts"),
    )
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").cast("timestamp").alias("c_ts"),
        F.col("value").alias("click_value"),
    )
    if views.isStreaming:
        v = v.withWatermark("v_ts", watermark)
    if clicks.isStreaming:
        c = c.withWatermark("c_ts", watermark)
    cond = (
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") > F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr(f"INTERVAL {int(horizon_minutes)} MINUTES"))
    )
    return v.join(c, cond, "inner").select(
        F.col("view_id"),
        F.col("click_id"),
        F.col("v_user").alias("user_id"),
        "click_value",
    )


def run_two_stream_to_df(
    spark: SparkSession,
    parquet_path: str,
    transform,
    output_mode: str = "append",
    state_partitions: int | None = 4,
) -> DataFrame:
    """Like :func:`run_stream_to_df` but hands ``transform`` TWO
    independent file-source streams over the same parquet file (each its
    own source with its own watermark), for stream-stream joins.

    ``state_partitions`` pins ``spark.sql.shuffle.partitions`` for the
    lifetime of the query START (streaming fixes its state-partition count
    at start; the conf is restored immediately after). A stream-stream
    join keeps FOUR state stores per partition, each committing checkpoint
    files every batch — measured 41 s at 32 partitions vs 3 s at 4 for the
    same 100k-event input — so state width must track expected state
    VOLUME, not session core count. A production job sizes this once for
    its throughput; it cannot be changed across restarts of the same
    checkpoint."""
    static = spark.read.parquet(parquet_path)
    name = "s_" + uuid.uuid4().hex[:12]
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    with tempfile.TemporaryDirectory() as workdir:
        src_dir = os.path.join(workdir, "in")
        os.makedirs(src_dir)
        os.symlink(os.path.abspath(parquet_path), os.path.join(src_dir, "part-0.parquet"))

        def mk_stream():
            return (
                spark.readStream.schema(static.schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(src_dir)
            )

        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
        try:
            q = (
                transform(mk_stream(), mk_stream())
                .writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option("checkpointLocation", os.path.join(workdir, "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
        finally:
            if state_partitions is not None:
                spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        q.awaitTermination()
    return spark.table(name)


def stream_static_enrich(events: DataFrame, user_dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join: each (possibly streaming) event picks
    up its user's precomputed profile row — the canonical "dimension table
    beside a stream" pattern (stateless; no watermark needed because the
    static side never changes within a run).

    The profile columns are deliberately order-independent aggregates
    (count, max) so batch and stream runs — and the SQL oracle — agree
    bit-for-bit; ``is_user_max`` flags the event that attains its user's
    maximum value. On a cluster the static side is a broadcast by size;
    the hint is left to AQE because a 10^9-user profile table must
    shuffle-join instead."""
    e = events
    if events.isStreaming:
        e = e.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        e.join(user_dim, "user_id")
        .select(
            "event_id", "user_id", "event_type", "user_n", "vmax",
            (F.col("value") >= F.col("vmax")).cast("int").alias("is_user_max"),
        )
    )


def user_profile_dim(events_static: DataFrame) -> DataFrame:
    """(user_id, user_n, vmax): the static profile side for
    :func:`stream_static_enrich` — one partially-aggregated groupBy over
    the historical table."""
    return events_static.groupBy("user_id").agg(
        F.count("*").alias("user_n"), F.max("value").alias("vmax")
    )
