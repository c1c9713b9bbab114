"""Shared plumbing for the operator/query registry.

Every operator from SURVEY.md §2 (plus the scale extensions) registers a
``QuerySpec``: a Spark callable ``(spark, sf_dir) -> DataFrame`` and, when
the semantics are ANSI-SQL-expressible, an equivalent DuckDB oracle SQL
string. The driver hash-compares the two at sf0.01 (CORRECTNESS gate).

Column-name contract: every computed column is aliased identically in the
Spark plan and the oracle SQL — the driver sorts columns by name before
hashing values.
"""

from __future__ import annotations

from collections import OrderedDict
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tomixpanel_spark.knobs import knob

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


_TABLE_CACHE: "OrderedDict[tuple, DataFrame]" = OrderedDict()


def _cache_get(key: tuple) -> Optional[DataFrame]:
    df = _TABLE_CACHE.get(key)
    if df is not None:
        _TABLE_CACHE.move_to_end(key)
    return df


def _cache_put(key: tuple, df: DataFrame) -> None:
    """LRU insert; evicted entries are unpersisted so a long session
    sweeping many sf dirs doesn't accumulate executor storage."""
    _TABLE_CACHE[key] = df
    _TABLE_CACHE.move_to_end(key)
    while len(_TABLE_CACHE) > knob("TOMIX_CACHE_MAX"):
        _, old = _TABLE_CACHE.popitem(last=False)
        try:
            old.unpersist()
        except Exception:
            pass  # session may already be stopped


def clear_table_cache() -> None:
    """Unpersist and drop every cached table/derived view."""
    _ARTIFACT_KEYS.clear()
    while _TABLE_CACHE:
        _, df = _TABLE_CACHE.popitem()
        try:
            df.unpersist()
        except Exception:
            pass


_ARTIFACT_KEYS: set = set()


def clear_derived_cache() -> None:
    """Unpersist and drop ONLY artifact-kind derived views, keeping
    fixture/table caches intact. Needed because the derived-cache READ
    is unconditional: a bench leg that populated artifacts under
    TOMIX_CACHE_DERIVED must evict them before later timed legs, or
    those legs would silently serve from the artifact instead of
    exercising their own plans."""
    for k in list(_ARTIFACT_KEYS):
        _ARTIFACT_KEYS.discard(k)
        df = _TABLE_CACHE.pop(k, None)
        if df is not None:
            try:
                df.unpersist()
            except Exception:
                pass


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table. Parquet scan => Catalyst gets pushdown +
    pruning for free; callers filter/select immediately so the scan stays
    narrow.

    The ``events`` table stores ``ts`` as parquet TIMESTAMP(NANOS), which
    Spark only reads via the nanosAsLong legacy conf (as raw nanos LONG).
    Convert to a proper TimestampType with integer division — ``div`` floors,
    matching DuckDB's ns->us truncation, so oracle comparisons agree.

    ``TOMIX_CACHE_TABLES=1`` turns on an in-memory table cache (the
    engine's buffer pool): repeated queries over the same table skip the
    parquet scan+decode. Off by default so single-query correctness runs
    see the plain scan plans.
    """
    import os

    use_cache = knob("TOMIX_CACHE_TABLES")
    key = (spark.sparkContext.applicationId, sf_dir, name)
    if use_cache:
        hit = _cache_get(key)
        if hit is not None:
            return hit
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The testdata's parquet timestamps carry no isAdjustedToUTC flag, so
    # Spark >=3.4 infers TIMESTAMP_NTZ — which unix_millis/unix_seconds
    # reject. Read them as plain TIMESTAMP instead: the stored micros are
    # then epoch-UTC verbatim, exactly how the DuckDB oracle reads the same
    # naive values. NOTE: spark.conf.set mutates SESSION-WIDE state (like
    # the nanosAsLong conf above) — NTZ inference stays off for every
    # later parquet read in this session, which is the semantics this
    # engine wants everywhere; setting it here just self-heals sessions
    # the driver built without it.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.typeName() == "long":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif field.dataType.typeName() == "timestamp_ntz":
            # Defensive: if a future Spark ignores the conf, reinterpret the
            # naive value via the session tz (UTC in all harnesses).
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    if use_cache:
        # Partitioning of the cached view: the test parquet files are ONE
        # row group, so the scan (and therefore the cache) is a single
        # partition — every first stage over a fact table runs on one
        # core. ``TOMIX_CACHE_PARTS=N`` round-robin-repartitions tables
        # bigger than ``TOMIX_CACHE_PARTS_MIN_MB`` (default 1 MB) at
        # cache-fill time — one shuffle paid once per session, N-way
        # parallelism for every downstream stage. Row order is not part of
        # any query contract (keep-first ops order by explicit keys).
        # Repartitioning to full defaultParallelism was a wash at sf0.1
        # (tiny-task overhead on 100k-row joins); a moderate N is the
        # useful range. At cluster scale files are many-row-group and AQE
        # handles both directions, so this knob matters only for
        # single-row-group toy files.
        parts = knob("TOMIX_CACHE_PARTS")
        min_mb = knob("TOMIX_CACHE_PARTS_MIN_MB")
        if parts > 0:
            try:
                big = os.path.getsize(path) > min_mb * 1e6
            except OSError:
                big = False
            if big:
                df = df.repartition(parts)
        df = df.cache()
        _cache_put(key, df)
    return df


def fresh_attrs(df: DataFrame) -> DataFrame:
    """Re-alias every column so the frame's output attributes carry FRESH
    expression ids.

    Required on the RIGHT side of any self-cogroup (both sides derived
    from one parent plan): Spark's DeduplicateRelations rewrites the
    right child's conflicting attribute ids but leaves the
    FlatMapCoGroupsInPandas function arguments pointing at the LEFT
    side's ids, so column pruning (triggered by e.g. ``count()``, which
    needs none of the UDF's outputs) strips the right child down to its
    grouping keys and the Python function receives a key-only frame
    (observed on Spark 4.1: collect() fine, count() KeyError). One alias
    Project breaks the id sharing at the cogroup boundary, which is all
    the dedup rule needs."""
    return df.select([F.col(c).alias(c) for c in df.columns])


def ensure_parallel(df: DataFrame, *cols: str, min_parts: int = 8) -> DataFrame:
    """Repartition a narrow-but-CPU-heavy input ONLY when the source is
    effectively serial (the toy single-row-group parquet files scan as one
    partition, so every downstream stage would run on one core).

    At cluster scale inputs arrive with hundreds of file splits and this
    is a no-op — the unconditional ``repartition(defaultParallelism)`` it
    replaces would be a full shuffle of the corpus just to re-spread data
    that is already spread. ``cols`` (optional) hash-partitions by those
    keys when a repartition does happen."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= min(min_parts, target):
        return df
    return df.repartition(target, *cols) if cols else df.repartition(target)


def derived(spark: SparkSession, key: tuple, builder, kind: str = "artifact") -> DataFrame:
    """Materialized derived view: persist a shared intermediate DataFrame
    keyed by (applicationId, *key).

    Two kinds, gated on SEPARATE flags so benchmarks stay honest:
      * ``kind="fixture"`` (gate: ``TOMIX_CACHE_TABLES``) — synthesized
        fixture INPUT to a transform under test (e.g. the nested GA
        sessions). Building it is harness cost, not product cost, so it
        caches alongside the base tables.
      * ``kind="artifact"`` (gate: ``TOMIX_CACHE_DERIVED``) — a query's
        own work product (shingle sets, MinHash signatures). Caching these
        across timed queries flatters a benchmark, so the bench leaves the
        flag off; production pipelines that genuinely materialize
        signatures once can turn it on.
    Both are off by default so single-query correctness runs see plain
    lineage; entries share the LRU bound with the table cache.
    """
    # READ side is unconditional (round-11 verdict #8): an artifact some
    # earlier query already materialized under the flag keeps serving
    # consumers (bm25 reading tfidf's tokenize_tf) even after the flag
    # flips off — the artifact exists, re-deriving it helps nobody.
    # The WRITE side stays flag-gated so benchmarks' timed passes never
    # materialize work products they weren't asked to.
    k = (spark.sparkContext.applicationId,) + tuple(key)
    hit = _cache_get(k)
    if hit is not None:
        return hit
    flag = "TOMIX_CACHE_TABLES" if kind == "fixture" else "TOMIX_CACHE_DERIVED"
    if not knob(flag):
        return builder()
    hit = builder().persist()
    _cache_put(k, hit)
    if kind == "artifact":
        _ARTIFACT_KEYS.add(k)
    return hit


def local_rows_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Single-slice DataFrame from a driver-local row list.

    ``spark.createDataFrame(rows)`` splits local data across
    ``defaultParallelism`` slices — a 32-task stage per action for a
    broadcast-sized list on local[32], and the task count GROWS with
    core count (measured: a 500-row frame's count() is 0.69 s as 32
    slices vs 0.36 s as one; the driver's 8-vs-32-core scaling block
    showed the fold-tier queries inverting for exactly this reason).
    Every caller here holds a size-gated small list (drop lists, CC
    labels, sketch tops), so ONE task is the right partition count
    (guide §2: partition counts sized to the data, not the cluster).
    """
    sc = spark.sparkContext
    if not rows:
        # parallelize([], 1) keeps one (empty) slice; schema must be
        # explicit anyway since there is nothing to infer from
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(sc.parallelize(rows, numSlices=1), schema)


def collect_under(df: DataFrame, cap: int) -> "pandas.DataFrame | None":
    """The bounded gate probe: ``df`` as a driver pandas frame when it
    has at most ``cap`` rows, else None. One job decides the tier AND,
    under the gate, IS the collect: ``limit(cap + 1)`` returns at most one
    row over the gate, so a short result proves every row arrived, and an
    over-gate frame costs at most ``cap + 1`` rows of transfer.
    ``cap <= 0`` forces the distributed tier without running a job."""
    if cap <= 0:
        return None
    pdf = df.limit(cap + 1).toPandas()
    return pdf if len(pdf) <= cap else None


# Gate counts (corpus size, vocabulary, eval set, model types, as-of right
# side) are fixed for an input within one application, so each is counted
# once. LRU-bounded: a long-lived process over many inputs must not grow
# the memo without limit, and an evicted key just re-counts.
_COUNT_MEMO: "OrderedDict[tuple, int]" = OrderedDict()
_COUNT_MEMO_MAX = 256


def memo_count(
    spark: SparkSession, key: tuple, df: "DataFrame | Callable[[], DataFrame]"
) -> int:
    """``df.count()`` memoized per (applicationId, *key). ``key`` must
    name what is counted (e.g. ``(sf_dir, "n_docs")``), never an object
    id: ids are not stable across calls. ``df`` may be a zero-argument
    builder, called only on a miss, when building the frame itself runs
    a job (an uncached parquet read infers its schema with one)."""
    k = (spark.sparkContext.applicationId, *key)
    n = _COUNT_MEMO.pop(k, None)
    if n is None:
        n = (df() if callable(df) else df).count()
    _COUNT_MEMO[k] = n
    while len(_COUNT_MEMO) > _COUNT_MEMO_MAX:
        _COUNT_MEMO.popitem(last=False)
    return n


def stage_checkpoint(df: DataFrame, eager: bool = False) -> DataFrame:
    """In-query materialization point for a DataFrame with multiple
    consumers (tf tables, signature clusters, segment projections).

    Two modes on one switch:
      * default — ``localCheckpoint``: lineage truncates onto
        executor-local block storage. Fast (no DFS round-trip), correct,
        but NOT fault-tolerant: on a real cluster, losing one executor
        after the checkpoint loses blocks that can no longer be
        recomputed, failing the query instead of retrying tasks.
      * ``TOMIX_CHECKPOINT_DIR=<path>`` — reliable ``checkpoint()`` to
        that directory (HDFS/object store on a cluster): blocks live in
        durable storage, executor loss just re-reads them. The trade is
        a write+read through the checkpoint dir per materialization.

    Single-JVM local runs (tests, bench) keep the default; cluster
    deployments set the env (or call ``sc.setCheckpointDir`` themselves —
    an already-set dir is respected and not overridden).

    Why checkpointing at all, not ``persist()``: persist registers in the
    session CacheManager and gets substituted into OTHER queries'
    matching subtrees — a cross-query side effect a single query must not
    have (observed flipping a plan-locked test in round 6).
    """
    ck_dir = knob("TOMIX_CHECKPOINT_DIR")
    if not ck_dir:
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    # an already-set dir is RESPECTED (docstring contract): the operator
    # that called sc.setCheckpointDir chose its durable location — the
    # env var only fills the gap when none is configured
    if sc.getCheckpointDir() is None:
        sc.setCheckpointDir(ck_dir)
    return df.checkpoint(eager=eager)


@dataclass(frozen=True)
class QuerySpec:
    """One checkable operator: Spark implementation + optional DuckDB oracle."""

    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str] = None
    doc: str = ""


def driver_hashable_violations(schema) -> list[str]:
    """Driver output contract: the external correctness gate pandas-sorts
    each result (sort_values -> factorize), which raises TypeError on
    unhashable cells — so a registered query must emit SCALAR columns
    only. Round 12 shipped ``bpe_encode`` with ``pieces array<string>``
    and the driver red-flagged the row while the local harnesses (which
    str()-canonicalized cells) stayed green (round-12 verdict #1/#2).
    BinaryType is in the list too: PySpark collects binary cells as
    ``bytearray``, which is just as unhashable under pandas factorize as
    a list — a binary-emitting query would pass an Array/Map-only check
    yet red-flag at the real driver (round-13 advice).
    Returns ["col: type", ...] for every such top-level column; empty
    means driver-safe."""
    from pyspark.sql.types import ArrayType, BinaryType, MapType, StructType

    return [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, BinaryType, MapType, StructType))
    ]


def collect_registry(*modules) -> dict[str, QuerySpec]:
    reg: dict[str, QuerySpec] = {}
    for m in modules:
        for k, v in m.REGISTRY.items():
            if k in reg:
                raise ValueError(f"duplicate query name: {k}")
            reg[k] = v
    return reg
