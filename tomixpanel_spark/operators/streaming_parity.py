"""Oracle-checked STREAMING query: the continuous-aggregate maintenance
path (streaming/cagg.py) run through a real Structured Streaming job and
hash-compared against the equivalent batch SQL.

Until round 8 the streaming layer (7 modules) was pytest-only — the one
layer with no external correctness signal. This query closes that: it
stages a bounded slice of ``events`` as N_STREAM_BATCHES parquet files,
streams them through ``readStream`` + ``foreachBatch``
(maxFilesPerTrigger=1, so the store merges incremental generations
across micro-batch boundaries exactly as a live pipeline would), then
returns the store's hourly() read. The DuckDB oracle is the
plain batch aggregate over the same slice — so the driver's hash check
proves stream-merge == batch for counts AND DECIMAL sums, across
micro-batch boundaries, through the manifest commit protocol.

Slice bound: the first SLICE_DAYS days of events (ts < min(ts) +
SLICE_DAYS days, both engines compute the bound from the data) — keeps
the per-batch day-partition rewrites proportional to the slice, not the
table's full time span; the semantics under test (incremental
exactly-once merge) don't depend on span.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tomixpanel_spark.knobs import knob
from tomixpanel_spark.operators.base import QuerySpec, table

# TWO data micro-batches per parity stream (+ availableNow's one no-data
# finalization trigger): the minimum that still proves CROSS-BATCH
# incremental semantics — batch 1 creates store/state generations, batch
# 2 merges into them — at ~0.5 s/trigger of Structured-Streaming floor
# (WAL + state commit) per trigger. Round 12's 3+1 triggers x 6 queries
# put the family at 13.4 s in the driver artifact against its own 12 s
# budget (round-12 verdict #3); 2+1 sheds ~6 trigger floors for ~3 s.
N_STREAM_BATCHES = 2
SLICE_DAYS = 2
STREAM_STATE_PARTS = "4"


def _scratch_dir(prefix: str) -> str:
    """mkdtemp for the parity queries' EPHEMERAL artifacts (staged
    landings, checkpoints, sinks, stores), rooted at tmpfs when the host
    has one. Every micro-batch fsyncs its offset WAL, commit log, and
    state-store delta files; on this harness's disk-backed /tmp those
    fsyncs are ~90 ms/trigger of host I/O floor that measures the DISK,
    not the streaming machinery under test. The artifacts live only for
    the query call, so tmpfs is their natural home — a production
    deployment sizes checkpoint storage for durability instead, which is
    a deployment property the parity gate doesn't exercise. Override
    with TOMIX_STREAM_SCRATCH; falls back to the tempfile default when
    no tmpfs exists OR when the tmpfs is too small to hold the artifacts
    (default Docker gives /dev/shm 64 MB — staged landings alone exceed
    that, and ENOSPC mid-stream is a far worse failure than the fsync
    floor). Every dir is atexit-reclaimed: tmpfs bytes are RAM, and
    scratch that outlives the process would accumulate across bench/
    driver rounds."""
    import atexit

    root = knob("TOMIX_STREAM_SCRATCH")
    if root is None and os.path.isdir("/dev/shm"):
        try:
            st = os.statvfs("/dev/shm")
            # landings ~13 MB/batch + WALs + state deltas + sinks across
            # six concurrent-ish parity queries: demand ~256 MB headroom
            if st.f_bavail * st.f_frsize >= 256 * 1024 * 1024:
                root = "/dev/shm"
        except OSError:
            pass
    if root:
        os.makedirs(root, exist_ok=True)
        d = tempfile.mkdtemp(prefix=prefix, dir=root)
    else:
        d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


class _stream_shuffle_parts:
    """Temporarily size a bounded parity stream's partitioning. Two dials,
    both the sizing a real deployment applies and both restored after:

    * ``spark.sql.shuffle.partitions`` — stateful micro-batch aggregation
      creates one state store per shuffle partition PER TRIGGER; at the
      parity slices' key cardinality (hundreds of windows/hours) the
      32-partition default pays ~4x trigger overhead for no parallelism
      win (4 measured best of 2/4/8 on this host).
    * ``spark.sql.files.maxPartitionBytes`` — maxFilesPerTrigger=1 makes
      each micro-batch ONE ~13 MB file, which the 128 MB default maps to
      ONE scan task; a single-threaded NDJSON parse was ~80% of the
      incremental path's addBatch time. 2 MB splits the line-delimited
      batch file across ~7 tasks (measured addBatch 0.57s -> ~0.2s).
      Parquet batch files are single-row-group (coalesce(1) staging), so
      this is a no-op for them — row groups are parquet's split floor."""

    def __init__(self, spark: SparkSession, n: str = STREAM_STATE_PARTS) -> None:
        self.spark, self.n = spark, n

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.prev_mpb = self.spark.conf.get("spark.sql.files.maxPartitionBytes")
        self.spark.conf.set("spark.sql.shuffle.partitions", self.n)
        self.spark.conf.set("spark.sql.files.maxPartitionBytes", "2m")

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)
        self.spark.conf.set("spark.sql.files.maxPartitionBytes", self.prev_mpb)


def _stage_batches(ev: DataFrame, land: str) -> None:
    """Write the slice as N_STREAM_BATCHES single parquet files into one
    landing dir (the file-source's unit of micro-batching). Each split is
    written distributed, then its part file moved up as b<i>.parquet."""
    for b in range(N_STREAM_BATCHES):
        part_dir = os.path.join(land, f"_stage_b{b}")
        (
            ev.filter(F.pmod(F.col("event_id"), F.lit(N_STREAM_BATCHES)) == b)
            .select("ts", "event_type", "value")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(part_dir)
        )
        [part] = [p for p in os.listdir(part_dir) if p.endswith(".parquet")]
        os.replace(
            os.path.join(part_dir, part), os.path.join(land, f"b{b}.parquet")
        )
        shutil.rmtree(part_dir, ignore_errors=True)


_LANDING_CACHE: dict[tuple, str] = {}


def _staged_landing(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse) the staged landing dir for one sf_dir. Staging is
    FIXTURE synthesis — the harness stand-in for files landing from an
    upstream producer — so under TOMIX_CACHE_TABLES (the fixture-cache
    flag, same policy as the synthesized amp/GA inputs) it builds once
    per session; the STREAM + incremental merge, the product under test,
    re-runs fully on every call either way."""
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _LANDING_CACHE.get(key)
    if cached and knob("TOMIX_CACHE_TABLES") and os.path.isdir(cached):
        return cached
    if cached:
        # uncached mode re-stages every call: reclaim the previous
        # landing tree instead of leaking one mkdtemp per invocation
        shutil.rmtree(os.path.dirname(cached), ignore_errors=True)
    ev = table(spark, sf_dir, "events")
    # slice bound computed from the data (deterministic; oracle mirrors
    # it with a scalar subquery)
    [row] = ev.agg(F.min("ts").alias("mn")).collect()
    bound = ev.filter(
        F.col("ts")
        < F.lit(row["mn"]).cast("timestamp") + F.expr(f"INTERVAL {SLICE_DAYS} DAYS")
    )
    land = os.path.join(_scratch_dir(prefix="tomix_cagg_land_"), "landing")
    os.makedirs(land)
    _stage_batches(bound, land)
    _LANDING_CACHE[key] = land
    return land


def streaming_cagg_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tomixpanel_spark.streaming.cagg import ContinuousAggregate

    land = _staged_landing(spark, sf_dir)
    work = _scratch_dir(prefix="tomix_cagg_q_")

    cagg = ContinuousAggregate(os.path.join(work, "store"))
    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )
    with _stream_shuffle_parts(spark):
        q = (
            stream.writeStream.outputMode("update")
            .foreachBatch(cagg.update_batch)
            .option("checkpointLocation", os.path.join(work, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "streaming_cagg_parity: availableNow stream did not finish "
                "in 300s — refusing to read a mid-stream store (a partial "
                "read would surface as a false oracle mismatch)"
            )
    hourly = cagg.hourly(spark)
    return hourly.select(
        F.col("bucket").cast("string").alias("bucket_start"),
        F.col("key").alias("event_type"),
        F.col("n").cast("bigint").alias("n"),
        F.col("sum_dec").cast("double").alias("sum_value"),
    )


_STREAMING_CAGG_SQL = f"""
WITH sliced AS (
  SELECT * FROM events
  WHERE ts < (SELECT MIN(ts) FROM events) + INTERVAL {SLICE_DAYS} DAY)
SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS bucket_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DECIMAL(28,6)) AS DOUBLE)
         AS sum_value
FROM sliced
GROUP BY 1, 2
"""


def _stage_json_batches(df: DataFrame, land: str, split_col: str, n: int) -> None:
    """Write ``df`` as ``n`` single NDJSON files (the json file-source's
    micro-batch unit), split by a deterministic modular rule."""
    for b in range(n):
        part_dir = os.path.join(land, f"_stage_b{b}")
        (
            df.filter(F.pmod(F.col(split_col), F.lit(n)) == b)
            .coalesce(1)
            .write.mode("overwrite")
            .json(part_dir)
        )
        [part] = [p for p in os.listdir(part_dir) if p.startswith("part-")]
        os.replace(os.path.join(part_dir, part), os.path.join(land, f"b{b}.json"))
        shutil.rmtree(part_dir, ignore_errors=True)


_AMP_LANDING_CACHE: dict[tuple, str] = {}


def _staged_amp_landing(spark: SparkSession, sf_dir: str) -> str:
    """Stage the synthesized Amplitude export (transform_parity's F1
    fixture) as NDJSON micro-batch files — the reference's on-disk shape
    for the fused line-by-line path. Fixture synthesis caches under
    TOMIX_CACHE_TABLES (same policy as _staged_landing)."""
    key = (spark.sparkContext.applicationId, sf_dir, "amp")
    cached = _AMP_LANDING_CACHE.get(key)
    if cached and knob("TOMIX_CACHE_TABLES") and os.path.isdir(cached):
        return cached
    if cached:
        shutil.rmtree(os.path.dirname(cached), ignore_errors=True)
    from tomixpanel_spark.operators.transform_parity import _synth_amp

    land = os.path.join(_scratch_dir(prefix="tomix_incr_land_"), "landing")
    os.makedirs(land)
    # amplitude_id carries event_id through the export shape — the only
    # integer column, so it is the split key
    _stage_json_batches(
        _synth_amp(spark, sf_dir), land, "amplitude_id", N_STREAM_BATCHES
    )
    _AMP_LANDING_CACHE[key] = land
    return land


def streaming_incremental_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fused incremental path (S9 line-by-line scan + K6 micro-batch
    flush, reference connectors/googleAnalyticsLineByLine.js:47-73) under
    an EXTERNAL oracle: the staged Amplitude export streams through
    ``run_incremental`` (readStream json + foreachBatch) running the REAL
    ``amp_events`` transform per micro-batch into an append sink; the
    query returns the sink's contents. The DuckDB oracle is the batch
    transform SQL over the same rows — a row-wise transform over a
    disjoint micro-batch partition must union to exactly the batch
    result, whatever the batch boundaries."""
    from tomixpanel_spark.operators.transform_parity import _amp_output_columns
    from tomixpanel_spark.schemas import AMP_EVENT_SCHEMA
    from tomixpanel_spark.streaming.incremental import run_incremental
    from tomixpanel_spark.transforms.amplitude import amp_events

    land = _staged_amp_landing(spark, sf_dir)
    work = _scratch_dir(prefix="tomix_incr_q_")
    out_dir = os.path.join(work, "out")

    def transform(batch: DataFrame) -> DataFrame:
        return amp_events(batch).select(*_amp_output_columns())

    def sink(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode("append").parquet(out_dir)

    with _stream_shuffle_parts(spark):
        q = run_incremental(
            spark,
            land,
            AMP_EVENT_SCHEMA,
            transform,
            sink,
            checkpoint_dir=os.path.join(work, "ck"),
            max_files_per_trigger=1,
            available_now=True,
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "streaming_incremental_parity: availableNow stream did not "
                "finish in 300s — refusing to read a partial sink"
            )
    return spark.read.parquet(out_dir)


_DAY_LANDING_CACHE: dict[tuple, str] = {}


def _staged_day_landing(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    day_cols,
    sentinel_cols=None,
) -> str:
    """Stage the event slice as per-DAY parquet files (a time-ordered
    stream — each micro-batch's event times follow the previous batch's,
    so event-time state logic never sees out-of-order data), optionally
    followed by one far-future SENTINEL row (append-mode watermark
    consumers only emit a window once the watermark passes it; on a
    bounded stream the watermark stops at the last real event, so the
    sentinel batch flushes the final windows). mtimes space the files so
    the file source triggers them oldest-first (the test_cagg
    precedent). ``day_cols(ev)`` / ``sentinel_cols(ev)`` pick each
    consumer's projection."""
    import time as _time

    key = (spark.sparkContext.applicationId, sf_dir, tag)
    cached = _DAY_LANDING_CACHE.get(key)
    if cached and knob("TOMIX_CACHE_TABLES") and os.path.isdir(cached):
        return cached
    if cached:
        shutil.rmtree(os.path.dirname(cached), ignore_errors=True)
    ev = table(spark, sf_dir, "events")
    [row] = ev.agg(F.min("ts").alias("mn")).collect()
    land = os.path.join(_scratch_dir(prefix=f"tomix_{tag}_land_"), "landing")
    os.makedirs(land)
    now = _time.time()

    def _move_single(part_dir: str, dst: str, mtime: float) -> None:
        [part] = [p for p in os.listdir(part_dir) if p.endswith(".parquet")]
        os.replace(os.path.join(part_dir, part), dst)
        shutil.rmtree(part_dir, ignore_errors=True)
        os.utime(dst, (mtime,) * 2)

    for d in range(SLICE_DAYS):
        lo = F.lit(row["mn"]).cast("timestamp") + F.expr(f"INTERVAL {d} DAYS")
        hi = F.lit(row["mn"]).cast("timestamp") + F.expr(f"INTERVAL {d + 1} DAYS")
        part_dir = os.path.join(land, f"_stage_d{d}")
        day = day_cols(ev.filter((F.col("ts") >= lo) & (F.col("ts") < hi)))
        if sentinel_cols is not None and d == SLICE_DAYS - 1:
            # sentinel rides IN the final day file, not as its own
            # micro-batch: the watermark advances when the batch holding
            # it commits, and availableNow already appends one no-data
            # finalization batch after a watermark change — so the final
            # windows flush without paying a whole extra trigger for a
            # one-row file (measured ~0.5 s/trigger floor)
            day = day.unionByName(sentinel_cols(ev))
        day.coalesce(1).write.mode("overwrite").parquet(part_dir)
        _move_single(
            part_dir, os.path.join(land, f"d{d}.parquet"), now - 300 + d * 60
        )
    _DAY_LANDING_CACHE[key] = land
    return land


def _staged_windowed_landing(spark: SparkSession, sf_dir: str) -> str:
    return _staged_day_landing(
        spark,
        sf_dir,
        "windowed",
        lambda sl: sl.select("ts", "event_type"),
        sentinel_cols=lambda ev: ev.agg(
            (F.max("ts") + F.expr("INTERVAL 2 DAYS")).alias("ts"),
            F.lit("__sentinel__").alias("event_type"),
        ),
    )


def streaming_windowed_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling windows + watermark (streaming/windowed.py)
    under an EXTERNAL oracle: the day-staged event slice streams through
    ``windowed_event_counts`` in APPEND mode (each window emits exactly
    once, when the watermark passes it) into a parquet sink; the oracle
    is the batch 10-minute bucket count over the same slice. Equality
    proves the watermark/finalization machinery loses nothing on an
    in-order stream AND that every window flushes exactly once."""
    from tomixpanel_spark.streaming.windowed import windowed_event_counts

    land = _staged_windowed_landing(spark, sf_dir)
    work = _scratch_dir(prefix="tomix_wnd_q_")
    out_dir = os.path.join(work, "out")
    stream = (
        spark.readStream.schema("ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )
    with _stream_shuffle_parts(spark):
        q = (
            windowed_event_counts(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", os.path.join(work, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "streaming_windowed_parity: availableNow stream did not "
                "finish in 300s — refusing to read a partial sink"
            )
    out = spark.read.parquet(out_dir)
    # null-safe: a NULL event_type is a legitimate group the oracle also
    # keeps; plain != would null out and silently drop it
    return out.filter(
        ~F.col("event_type").eqNullSafe("__sentinel__")
    ).select(
        F.col("window_start").cast("string").alias("window_start"),
        "event_type",
        F.col("n").cast("bigint").alias("n"),
    )


_STREAMING_WINDOWED_SQL = f"""
WITH sliced AS (
  SELECT ts, event_type FROM events
  WHERE ts < (SELECT MIN(ts) FROM events) + INTERVAL {SLICE_DAYS} DAY)
SELECT CAST(time_bucket(INTERVAL '10 minutes', ts) AS VARCHAR) AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n
FROM sliced
GROUP BY 1, 2
"""


def streaming_stateful_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful gap sessionization under an EXTERNAL oracle, running the
    SERVING strategy (streaming/stateful.py ``sessionize_session_window``
    — pure-JVM ``session_window`` aggregation, no python workers in the
    trigger loop; the ``applyInPandasWithState`` library path stays
    strategies-agree-tested against it in tests/test_windowed.py): the
    day-staged event slice streams through the JVM sessionizer in APPEND
    mode — each session emits EXACTLY ONCE when the watermark passes its
    close, with a far-future sentinel row (user_id -1, the windowed
    precedent) flushing the final sessions — into a parquet sink.
    ``session_num`` (the oracle's 1-based per-user session ordinal) is
    assigned in the serving read by start-time rank, which is exactly
    what emit-once-per-session makes possible. The DuckDB oracle
    sessionizes the same slice with the standard lag-gap/running-sum
    SQL — equality proves cross-batch JVM state carry, gap-boundary
    agreement (touching session windows merge — the strictly-greater
    rule, pinned by the strategies-agree tests), and exactly-once
    emission (a double emit would double row counts; a lost final
    session would drop rows)."""
    from tomixpanel_spark.streaming.stateful import (
        SESSION_GAP_MS,
        sessionize_session_window,
    )

    land = _staged_day_landing(
        spark,
        sf_dir,
        "stateful",
        lambda sl: sl.select(
            F.col("user_id"), F.unix_millis("ts").alias("time_ms")
        ),
        sentinel_cols=lambda ev: ev.agg(
            F.lit(-1).cast("long").alias("user_id"),
            (F.unix_millis(F.max("ts")) + F.lit(2 * SESSION_GAP_MS)).alias(
                "time_ms"
            ),
        ),
    )
    work = _scratch_dir(prefix="tomix_stf_q_")
    out_dir = os.path.join(work, "out")
    stream = (
        spark.readStream.schema("user_id long, time_ms long")
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )
    with _stream_shuffle_parts(spark):
        q = (
            sessionize_session_window(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", os.path.join(work, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "streaming_stateful_parity: availableNow stream did not "
                "finish in 300s — refusing to read a partial sink"
            )
    from pyspark.sql.window import Window

    out = spark.read.parquet(out_dir).filter(F.col("user_id") != -1)
    return out.select(
        "user_id",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("session_start_ms"))
        .cast("bigint")
        .alias("session_num"),
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("session_start_ms").cast("bigint").alias("session_start_ms"),
        F.col("session_end_ms").cast("bigint").alias("session_end_ms"),
    )


_STREAMING_STATEFUL_SQL = f"""
WITH sliced AS (
  SELECT user_id, epoch_ms(ts) AS t FROM events
  WHERE ts < (SELECT MIN(ts) FROM events) + INTERVAL {SLICE_DAYS} DAY),
marked AS (
  SELECT user_id, t,
         CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
                   > {1800 * 1000}
              OR lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM sliced),
sessions AS (
  SELECT user_id, t,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY t
                           ROWS UNBOUNDED PRECEDING) AS session_num
  FROM marked)
SELECT user_id, CAST(session_num AS BIGINT) AS session_num,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MIN(t) AS BIGINT) AS session_start_ms,
       CAST(MAX(t) AS BIGINT) AS session_end_ms
FROM sessions
GROUP BY 1, 2
"""


_DOC_LANDING_CACHE: dict[tuple, str] = {}


def _staged_doc_landing(spark: SparkSession, sf_dir: str) -> str:
    """Stage documents as N_STREAM_BATCHES parquet files split by doc_id
    (order-free: sketch merge is commutative — that is the property
    under test)."""
    key = (spark.sparkContext.applicationId, sf_dir, "docs")
    cached = _DOC_LANDING_CACHE.get(key)
    if cached and knob("TOMIX_CACHE_TABLES") and os.path.isdir(cached):
        return cached
    if cached:
        shutil.rmtree(os.path.dirname(cached), ignore_errors=True)
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    land = os.path.join(_scratch_dir(prefix="tomix_cms_land_"), "landing")
    os.makedirs(land)
    for b in range(N_STREAM_BATCHES):
        part_dir = os.path.join(land, f"_stage_b{b}")
        (
            docs.filter(F.pmod(F.col("doc_id"), F.lit(N_STREAM_BATCHES)) == b)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(part_dir)
        )
        [part] = [p for p in os.listdir(part_dir) if p.endswith(".parquet")]
        os.replace(os.path.join(part_dir, part), os.path.join(land, f"b{b}.parquet"))
        shutil.rmtree(part_dir, ignore_errors=True)
    _DOC_LANDING_CACHE[key] = land
    return land


def streaming_sketch_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming mergeable count-min sketch (streaming/sketches.py) under
    an EXTERNAL oracle: documents stream through ``foreachBatch`` ->
    ``StreamingCountMin`` (per-batch partial sketches, cell-wise driver
    merge — the mergeability contract at 100 TB), then the accumulated
    sketch answers a full-vocabulary estimate scan. The oracle is the
    batch count-min SQL (identical md5 bucket arithmetic), so equality
    proves partial-sketch merge across micro-batches == one-pass sketch,
    over-counts included bit-for-bit."""
    import numpy as np

    from tomixpanel_spark.operators.textops import (
        CMS_DEPTH,
        CMS_WIDTH,
        tokenize_tf_pdf,
    )
    from tomixpanel_spark.streaming.sketches import StreamingCountMin, _py_bucket

    land = _staged_doc_landing(spark, sf_dir)
    work = _scratch_dir(prefix="tomix_cms_q_")
    cms = StreamingCountMin()
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )
    with _stream_shuffle_parts(spark):
        q = (
            stream.writeStream.outputMode("update")
            .foreachBatch(cms.update_batch)
            .option("checkpointLocation", os.path.join(work, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "streaming_sketch_parity: availableNow stream did not "
                "finish in 300s — refusing to read a partial sketch"
            )
    # probe side: the full vocabulary (driver tokenize — probe-building is
    # harness; the sketch under test answers the estimates)
    vocab = tokenize_tf_pdf(table(spark, sf_dir, "documents"))["token"].unique()
    import pandas as pd

    est = np.full(len(vocab), np.iinfo(np.int64).max, dtype=np.int64)
    for r in range(CMS_DEPTH):
        buckets = np.fromiter(
            (_py_bucket(r, t) for t in vocab), dtype=np.int64, count=len(vocab)
        )
        est = np.minimum(est, cms.cells[r][buckets])
    return spark.createDataFrame(
        pd.DataFrame({"token": vocab, "est_n": est}),
        schema="token string, est_n long",
    )


def streaming_dedup_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (streaming/dedup.py —
    state-store ``dropDuplicates`` on the canonical fingerprint) under an
    EXTERNAL oracle: documents stream in micro-batches through
    ``streaming_exact_dedup``; the emitted keepers, projected to their
    FINGERPRINTS, must equal the distinct-fingerprint set of the corpus
    (exactly one emission per distinct content, across batch boundaries,
    through the state store). Keeper IDENTITY is arrival-order-dependent
    inside a micro-batch, so the hash gate checks the content set — the
    dedup contract — not the nondeterministic row choice."""
    from tomixpanel_spark.streaming.dedup import streaming_exact_dedup

    land = _staged_doc_landing(spark, sf_dir)
    work = _scratch_dir(prefix="tomix_sdd_q_")
    out_dir = os.path.join(work, "out")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )
    with _stream_shuffle_parts(spark):
        q = (
            streaming_exact_dedup(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", os.path.join(work, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "streaming_dedup_parity: availableNow stream did not "
                "finish in 300s — refusing to read a partial sink"
            )
    return spark.read.parquet(out_dir).select("fp")


_STREAMING_DEDUP_SQL = """
SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
FROM documents
"""


_STORE_CACHE: dict[tuple, str] = {}


def _built_cagg_store(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per application+sf_dir) a 3-generation cagg store over
    the same sliced events as ``streaming_cagg_parity``. Building is this
    query's SETUP, not its subject — ``cagg_store_read`` measures the
    READ path over an already-maintained store, the serving regime an
    incremental aggregate exists for (the streaming row above measures
    maintenance and pays the build in-query)."""
    from tomixpanel_spark.streaming.cagg import ContinuousAggregate

    key = (spark.sparkContext.applicationId, sf_dir, "cagg")
    if key in _STORE_CACHE:
        return _STORE_CACHE[key]
    ev = table(spark, sf_dir, "events")
    [row] = ev.agg(F.min("ts").alias("mn")).collect()
    sliced = ev.filter(
        F.col("ts")
        < F.lit(row["mn"]).cast("timestamp") + F.expr(f"INTERVAL {SLICE_DAYS} DAYS")
    ).select("ts", "event_type", "value")
    store = os.path.join(_scratch_dir(prefix="tomix_cagg_store_"), "store")
    cagg = ContinuousAggregate(store)
    for b in range(N_STREAM_BATCHES):
        cagg.update_batch(
            sliced.filter(F.pmod(F.xxhash64("ts", "event_type", "value"), F.lit(N_STREAM_BATCHES)) == b),
            b,
        )
    _STORE_CACHE[key] = store
    return store


def cagg_store_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read-side query over a PRE-BUILT continuous-aggregate store: the
    hourly() partial read — manifest-pruned parquet scan, no raw-event
    work. The oracle recomputes the same answer from the raw events, so
    the hash check proves the maintained store serves exactly the batch
    aggregate while the timing compares serving (store) vs recompute
    (oracle)."""
    from tomixpanel_spark.streaming.cagg import ContinuousAggregate

    store = _built_cagg_store(spark, sf_dir)
    hourly = ContinuousAggregate(store).hourly(spark)
    return hourly.select(
        F.col("bucket").cast("string").alias("bucket_start"),
        F.col("key").alias("event_type"),
        F.col("n").cast("bigint").alias("n"),
        F.col("sum_dec").cast("double").alias("sum_value"),
    )


def _built_dedup_index(spark: SparkSession, sf_dir: str) -> str:
    """Index the EVEN-doc_id half of documents (once per application) —
    setup for the read-side probe query."""
    from tomixpanel_spark.streaming.dedup_index import DedupIndex

    key = (spark.sparkContext.applicationId, sf_dir, "didx")
    if key in _STORE_CACHE:
        return _STORE_CACHE[key]
    docs = table(spark, sf_dir, "documents")
    store = os.path.join(_scratch_dir(prefix="tomix_didx_store_"), "store")
    DedupIndex(store).register(
        docs.filter(F.pmod("doc_id", F.lit(2)) == 0).select("doc_id", "text"), 0
    )
    _STORE_CACHE[key] = store
    return store


def dedup_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read-side probe of a PRE-BUILT cross-run dedup index: flag each
    ODD-doc_id document against the indexed even half. The probe plan is
    the product under test — bucket-pruned parquet reads + one
    long-keyed hash join; the oracle recomputes the decision from raw
    text, so the hash check proves index-serving correctness while the
    ratio compares probe vs recompute."""
    from tomixpanel_spark.operators.textops import _under_fold_cap, docs_pdf
    from tomixpanel_spark.streaming.dedup_index import DedupIndex

    store = _built_dedup_index(spark, sf_dir)
    docs = table(spark, sf_dir, "documents")
    probe = docs.filter(F.pmod("doc_id", F.lit(2)) == 1).select("doc_id", "text")
    if _under_fold_cap(spark, sf_dir, docs):
        # serving-latency path: driver probe (same hash spec, pyarrow
        # bucket reads, one merge) — the distributed probe's three job
        # floors dominate at interactive batch sizes; paths-agree test
        # pins identity
        out = DedupIndex(store).probe_driver(docs_pdf(probe))
        return spark.createDataFrame(
            out[["doc_id", "seen_before", "first_doc_id"]],
            schema="doc_id long, seen_before boolean, first_doc_id long",
        )
    out = DedupIndex(store).probe(probe)
    return out.select("doc_id", "seen_before", "first_doc_id")


_CAGG_STORE_READ_SQL = f"""
WITH sliced AS (
  SELECT * FROM events
  WHERE ts < (SELECT MIN(ts) FROM events) + INTERVAL {SLICE_DAYS} DAY)
SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS bucket_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DECIMAL(28,6)) AS DOUBLE)
         AS sum_value
FROM sliced
GROUP BY 1, 2
"""

_DEDUP_INDEX_PROBE_SQL = """
WITH idx AS (
  SELECT CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS h,
         MIN(doc_id) AS keeper
  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
probe AS (
  SELECT doc_id, CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS h
  FROM documents WHERE doc_id % 2 = 1)
SELECT p.doc_id,
       i.h IS NOT NULL AS seen_before,
       i.keeper AS first_doc_id
FROM probe p LEFT JOIN idx i ON p.h = i.h
"""


# Helper modules whose changes should count as a change to this
# module's registered queries for the external-window rotation
# (rule: code changed since last external green outranks staleness).
ROTATION_DEPS = [
    "tomixpanel_spark.streaming.cagg",
    "tomixpanel_spark.streaming.dedup",
    "tomixpanel_spark.streaming.dedup_index",
    "tomixpanel_spark.streaming.genstore",
    "tomixpanel_spark.streaming.incremental",
    "tomixpanel_spark.streaming.sketches",
    "tomixpanel_spark.streaming.stateful",
    "tomixpanel_spark.streaming.windowed",
]

REGISTRY = {
    "streaming_cagg_parity": QuerySpec(
        streaming_cagg_parity,
        _STREAMING_CAGG_SQL,
        "streaming: incremental cagg merge == batch aggregate",
    ),
    "streaming_dedup_parity": QuerySpec(
        streaming_dedup_parity,
        _STREAMING_DEDUP_SQL,
        "streaming: state-store exact dedup emits each content once",
    ),
    "streaming_sketch_parity": QuerySpec(
        streaming_sketch_parity,
        None,  # bound below to the batch CMS oracle
        "streaming: merged micro-batch sketches == one-pass sketch",
    ),
    "streaming_stateful_parity": QuerySpec(
        streaming_stateful_parity,
        _STREAMING_STATEFUL_SQL,
        "streaming: applyInPandasWithState sessions == batch gap SQL",
    ),
    "streaming_windowed_parity": QuerySpec(
        streaming_windowed_parity,
        _STREAMING_WINDOWED_SQL,
        "streaming: append-mode windowed counts == batch bucket counts",
    ),
    "cagg_store_read": QuerySpec(
        cagg_store_read,
        _CAGG_STORE_READ_SQL,
        "streaming: hourly() serving read over a pre-built cagg store",
    ),
    "dedup_index_probe": QuerySpec(
        dedup_index_probe,
        _DEDUP_INDEX_PROBE_SQL,
        "streaming: probe() serving read over a pre-built dedup index",
    ),
    "streaming_incremental_parity": QuerySpec(
        streaming_incremental_parity,
        None,  # set below: shares amp_transform's oracle verbatim
        "streaming: fused incremental transform == batch transform",
    ),
}


def _late_bind_shared_oracles() -> None:
    """These parity rows share their batch twins' oracle SQL verbatim
    (the stream is a partition of the same rows through the same
    arithmetic); bind lazily to keep import order acyclic."""
    from tomixpanel_spark.operators import textops, transform_parity

    REGISTRY["streaming_incremental_parity"] = QuerySpec(
        streaming_incremental_parity,
        transform_parity._AMP_TRANSFORM_SQL,
        "streaming: fused incremental transform == batch transform",
    )
    REGISTRY["streaming_sketch_parity"] = QuerySpec(
        streaming_sketch_parity,
        textops.REGISTRY["cms_heavy_hitters"].oracle,
        "streaming: merged micro-batch sketches == one-pass sketch",
    )


_late_bind_shared_oracles()
