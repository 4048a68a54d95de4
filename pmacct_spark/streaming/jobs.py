"""Streaming jobs: the plugin-channel aggregation as a Structured
Streaming query.

Reference mapping (SURVEY.md §2.6/§2.10):
  - ``*_history`` tumbling bucket  -> ``window(ts, ...)``
  - ``*_refresh_time`` purge cadence -> trigger interval
  - ``sql_startup_delay`` pending window -> ``withWatermark``
  - multi-plugin fan-out -> N streaming queries over one source DF

The streaming plan is the same logical plan as the batch channel
(pipeline.build_aggregation) with the bucket expressed as ``window()``
so Spark tracks state per (window x keys); batch/stream parity is
asserted in tests (same input -> same aggregates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pmacct_spark.config import PluginConfig
from pmacct_spark.operators.staging import retain
from pmacct_spark.pipeline import post_agg, route
from pmacct_spark.sources.tables import nano_ts_fields
from pmacct_spark.views.flows import flows_select_exprs


def scratch_dir(prefix: str) -> str:
    """mkdtemp on tmpfs when available: the bounded availableNow
    replays treat their source staging and checkpoints as scratch by
    design (a live deployment checkpoints to durable storage), and
    memory-backed scratch removes the disk-latency variance the bench
    kept catching on the stateful streaming queries."""
    import os
    import tempfile

    if os.path.isdir("/dev/shm"):
        return tempfile.mkdtemp(prefix=prefix, dir="/dev/shm")
    return tempfile.mkdtemp(prefix=prefix)


# symlink scratch dirs for file-as-directory streaming sources,
# one per source file (see flows_stream)
_FLOWS_SCRATCH: dict = {}

# One-shot source-size hint for scale-adaptive shuffle sizing: the
# stream-source builders below record the bytes they expose, and the
# next query start consumes the hint (see scoped_stream_partitions).
# Query functions build-then-run single-threaded, so a single slot is
# enough; one-shot consumption keeps a stale hint from leaking into an
# unrelated start (e.g. the daemon's spool stream, which sets none).
_STREAM_SOURCE_BYTES: list = []


def note_stream_source_bytes(nbytes: int) -> None:
    _STREAM_SOURCE_BYTES[:] = [int(nbytes)]


def stream_shuffle_partitions(spark, source_bytes: int | None) -> int | None:
    """Scale-adaptive shuffle/state-partition count for a streaming
    query (guide §2: derive partitioning from input size instead of
    inheriting a constant tuned for either local mode or the cluster).

    Streaming plans ignore AQE coalescing, so a stateful aggregation
    materializes ``spark.sql.shuffle.partitions`` state stores per
    micro-batch regardless of volume — measured here: a bounded replay
    of a few MB pays ~0.6 s/micro-batch extra at 32 state partitions
    vs the size-derived count, pure state-store/commit overhead. At
    production volume ``bytes/target`` exceeds the parallelism cap and
    the override asks for MORE partitions than the local default, so
    the derivation is not a local-mode tuning constant.

    ``spark.pmacct.stream.shufflePartitions``: "auto" (default) derives
    ``ceil(source_bytes / spark.pmacct.stream.targetPartitionBytes)``
    clamped to [1, 4*defaultParallelism]; an integer pins it; "off"
    disables the override entirely."""
    conf = str(
        spark.conf.get("spark.pmacct.stream.shufflePartitions", "auto")
    )
    if conf == "off":
        return None
    if conf not in ("auto", ""):
        return max(1, int(conf))
    if not source_bytes:
        return None
    import math

    target = int(
        spark.conf.get(
            "spark.pmacct.stream.targetPartitionBytes", str(64 << 20)
        )
    )
    cap = max(1, spark.sparkContext.defaultParallelism * 4)
    return max(1, min(math.ceil(source_bytes / target), cap))


class scoped_stream_partitions:
    """Context manager: apply the size-derived shuffle-partition count
    around a streaming query's start+drain, then restore the session
    value. Consumes the one-shot source-size hint.

    Threading contract (ADVICE r13): the scope mutates the
    SESSION-WIDE ``spark.sql.shuffle.partitions`` for the duration of
    the drain, so any query planned concurrently on the same session
    would inherit the streaming-derived count. The gated queries and
    the daemon build-then-drain single-threaded, which is the
    assumption; a multi-threaded caller must clone the session
    (``spark.newSession()``) per thread instead."""

    def __init__(self, spark):
        self.spark = spark
        self.old: str | None = None

    def __enter__(self):
        hint = _STREAM_SOURCE_BYTES.pop() if _STREAM_SOURCE_BYTES else None
        n = stream_shuffle_partitions(self.spark, hint)
        if n is not None:
            self.old = self.spark.conf.get("spark.sql.shuffle.partitions")
            self.spark.conf.set("spark.sql.shuffle.partitions", str(n))
        return self

    def __exit__(self, *exc):
        if self.old is not None:
            self.spark.conf.set("spark.sql.shuffle.partitions", self.old)
        return False

def flows_stream(spark, sf_dir: str, path: str | None = None) -> DataFrame:
    """The flows view as a STREAMING DataFrame (file source over the
    events parquet — the stand-in for the UDP/Kafka live feed)."""
    import os
    import tempfile

    from pmacct_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    p = path or f"{sf_dir}/events.parquet"
    src_file = p
    schema = spark.read.parquet(p).schema
    if os.path.isfile(p):
        # the file streaming source wants a directory: expose the file
        # through a scratch dir (symlink, no copy). One dir per source
        # file, cached for the process lifetime — a fresh mkdtemp per
        # call leaked hundreds of scratch dirs over a long session,
        # and the dir must outlive any stream still reading it, so
        # per-call cleanup isn't an option: it goes at exit.
        d = _FLOWS_SCRATCH.get(os.path.abspath(p))
        if d is None or not os.path.isdir(d):
            d = scratch_dir("flows_stream_")
            retain(d)
            os.symlink(os.path.abspath(p), os.path.join(d, os.path.basename(p)))
            _FLOWS_SCRATCH[os.path.abspath(p)] = d
        p = d
    try:
        if os.path.isfile(src_file):
            note_stream_source_bytes(os.path.getsize(src_file))
        else:
            note_stream_source_bytes(
                sum(
                    e.stat().st_size
                    for e in os.scandir(src_file)
                    if e.is_file()
                )
            )
    except OSError:
        pass
    raw = spark.readStream.schema(schema).parquet(p)
    for col in nano_ts_fields(src_file):
        raw = raw.withColumn(
            col, F.expr(f"CAST(timestamp_micros(`{col}` DIV 1000) AS TIMESTAMP_NTZ)")
        )
    for col, dtype in raw.dtypes:
        if dtype == "timestamp":
            raw = raw.withColumn(col, F.col(col).cast("timestamp_ntz"))
    return raw.selectExpr(*flows_select_exprs())


def stream_aggregation(
    flows: DataFrame,
    cfg: PluginConfig,
    watermark_delay: str | None = None,
) -> DataFrame:
    """One plugin channel as a streaming aggregation: the batch plan's
    routing (``pipeline.route``) and post-aggregation steps
    (``pipeline.post_agg``) around a windowed group-by.

    ``watermark_delay`` is the reference's sql_startup_delay (allowed
    lateness); None = complete/update-mode serving without eviction.
    """
    df = route(flows, cfg)
    hist = cfg.history_spec()
    if hist is None:
        raise ValueError("streaming channel needs a history (window) spec")
    if hist.calendar:
        raise ValueError("calendar windows: use batch date_trunc path")
    # event time must be TIMESTAMP (ltz) for watermarks; session tz is UTC
    df = df.withColumn("__evt", F.col("ts").cast("timestamp"))
    if watermark_delay:
        df = df.withWatermark("__evt", watermark_delay)
    from pmacct_spark.registry import PRIMITIVES, resolve

    keys = []
    for prim in resolve(cfg.aggregate):
        if prim.column != prim.name:
            df = df.withColumn(prim.name, F.col(prim.column))
        keys.append(prim.name)
    # the streaming shape carries (a subset of) the default counter
    # set; a conf asking for custom counters (tcp_flags bit-OR,
    # sum_* folds) must use the batch/replan path rather than
    # silently diverge from it
    counters = list(cfg.counters) or ["bytes", "packets", "flows"]
    bad = set(counters) - {"bytes", "packets", "flows"}
    if bad:
        raise ValueError(
            f"streaming channel supports the default counters only "
            f"(got {sorted(bad)!r}); use the batch path"
        )
    aggs = [F.sum(c).alias(c) for c in counters]
    if cfg.stitching:  # same shape as the batch path (pipeline.py)
        aggs.append(PRIMITIVES["timestamp_min"].agg_expr())
        aggs.append(PRIMITIVES["timestamp_max"].agg_expr())
    if cfg.pro_rating or cfg.multi_window:
        # pro-rating / multi-window insert is a pre-agg explode
        # (operators/windows.py) — pure column ops, so it streams; the
        # computed bucket column replaces F.window. Arbitrary-column
        # grouping streams in the complete/update serving modes this
        # engine uses; the watermark/append path needs F.window's
        # eviction metadata.
        if watermark_delay:
            raise ValueError(
                "pro_rating/multi_window with a watermark: unsupported "
                "(append-mode eviction needs F.window; serve in "
                "complete mode)"
            )
        from pmacct_spark.operators.windows import explode_prorate

        # same counter set as the batch path: pro-rating splits the
        # counters (flows too — a spanning flow floors to 0 in partial
        # windows); multi_window inserts them WHOLE per bucket
        df = explode_prorate(
            df, hist,
            counters if cfg.pro_rating else [],
            roundoff=cfg.history_roundoff,
            offset=cfg.history_offset,
        )
        out = df.groupBy("stamp_inserted", *[F.col(k) for k in keys]).agg(
            *aggs
        )
        return post_agg(out, cfg)
    # sql_history_offset (CONFIG-KEYS:1413): boundaries sit at
    # k*timeslot - offset; F.window's startTime expresses exactly that
    # as (timeslot - offset) mod timeslot
    start = (
        f"{(hist.seconds - cfg.history_offset) % hist.seconds} seconds"
        if cfg.history_offset
        else None
    )
    win = F.window(
        "__evt", f"{hist.seconds} seconds", startTime=start
    ) if start else F.window("__evt", f"{hist.seconds} seconds")
    out = df.groupBy(win.alias("__w"), *[F.col(k) for k in keys]).agg(*aggs)
    out = out.select(
        F.col("__w.start").cast("timestamp_ntz").alias("stamp_inserted"),
        *[F.col(k) for k in keys],
        *counters,
        *(["timestamp_min", "timestamp_max"] if cfg.stitching else []),
    )
    return post_agg(out, cfg)


def session_flows_stream(flows: DataFrame, keys: list[str], gap_s: int) -> DataFrame:
    """pmacctd packets->flows as a streaming session window (reference
    src/ip_flow.c:81; session_window merges records within the gap)."""
    df = flows.withColumn("__evt", F.col("ts").cast("timestamp"))
    return (
        df.withWatermark("__evt", f"{gap_s * 2} seconds")
        .groupBy(F.session_window("__evt", f"{gap_s} seconds").alias("__s"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.sum("bytes").alias("bytes"),
            F.sum("packets").alias("packets"),
        )
        .select(
            F.col("__s.start").cast("timestamp_ntz").alias("session_start"),
            *keys,
            "n_records",
            "bytes",
            "packets",
        )
    )


def run_to_memory(
    stream_df: DataFrame, name: str, mode: str = "complete"
) -> DataFrame:
    """Drain a streaming aggregate into an in-memory table with
    availableNow (process-everything-then-stop) and return the result —
    the IMT plugin shape, and the test harness for batch/stream parity.

    The checkpoint goes on tmpfs scratch: Spark's implicit temporary
    checkpoint lands in java.io.tmpdir (disk here), and a stateful
    query fsyncs one state-store delta per shuffle partition per
    micro-batch there — a pure-overhead disk round for a bounded
    replay whose result lives in the memory sink. Removed once the
    query terminates."""
    import shutil

    d = scratch_dir("ckpt_")
    spark = stream_df.sparkSession
    with scoped_stream_partitions(spark):
        q = (
            stream_df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", d)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            shutil.rmtree(d, ignore_errors=True)
    return spark.table(name)


def two_microbatch_source(df, batch_col: str = "b", nbatches: int = 2):
    """Stage ``df`` (``batch_col`` holding micro-batch index 1..N) as N
    single-file parquet batches ordered by modification time, and
    return ``(streaming_df, scratch_dir)`` with maxFilesPerTrigger=1 so
    the files replay as N micro-batches (N=2 default — the historical
    name sticks). The write is distributed (repartition on the batch
    key -> exactly one file per batch), no driver-side collect.
    Callers should remove the scratch dir once their query terminates
    (it also hosts their checkpoint)."""
    import os
    import tempfile

    spark = df.sparkSession
    d = scratch_dir("stream2b_")
    # nbatches shuffle partitions, not the session's 32: a task writes
    # one file per batch VALUE it holds (partitionBy), so any partition
    # count yields exactly one file per batch — the 30 empty shuffle
    # tasks were pure scheduling overhead (profiled ~0.1 s/replay)
    df.repartition(nbatches, batch_col).write.partitionBy(
        batch_col
    ).parquet(os.path.join(d, "w"))
    src = os.path.join(d, "src")
    os.makedirs(src)
    for i in range(1, nbatches + 1):
        bdir = os.path.join(d, "w", f"{batch_col}={i}")
        parts = [f for f in os.listdir(bdir) if f.endswith(".parquet")]
        assert len(parts) == 1, parts  # one writer task per batch value
        dst = os.path.join(src, f"b{i}.parquet")
        os.rename(os.path.join(bdir, parts[0]), dst)
        # FileStreamSource orders files by modification time: pin it
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    note_stream_source_bytes(
        sum(e.stat().st_size for e in os.scandir(src) if e.is_file())
    )
    # the files carry df's columns minus the partition column — derive
    # the stream schema from the plan instead of a footer-read job
    schema = df.drop(batch_col).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    return stream, d
