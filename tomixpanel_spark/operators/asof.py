"""AS-OF join: for each left row, the latest right row at-or-before its
time, per key — the point-in-time lookup engines like DuckDB ship natively
(``ASOF JOIN``) and Spark lacks.

Spark-first composition (no UDF, no range self-join): union both sides
into one keyed stream, sort within each key partition by (time, side) so
right rows precede left rows at equal times (inclusive at-or-before), and
carry the right-side values forward with ``last(..., ignorenulls=True)``
over an unbounded-preceding running frame. Left rows then read their
point-in-time values directly.

Scale shape: ONE exchange on the key + a partition-local sort — the same
cost as the sort-merge join Spark would need anyway, with no
range-condition explosion (a naive ``left.ts >= right.ts`` join is a
per-key cross product that Spark can only post-filter). Key skew behaves
like any keyed shuffle (AQE skew handling applies). When the right side
is dimension-sized, the gated ``broadcast`` strategy removes even that
exchange: the fact-side stream is merged in place against a broadcast
sorted right side (the as-of analogue of a broadcast-hash join).

Oracle: DuckDB's native ``ASOF LEFT JOIN`` — an INDEPENDENT implementation
of the same semantics, so the hash comparison cross-checks the window
composition against a reference engine, not against our own SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tomixpanel_spark.knobs import knob
from tomixpanel_spark.operators.base import QuerySpec, memo_count, table

# probe/test observable: the strategy the last asof_join call took.
# Initialized at module scope (the bpe.LAST_TIER precedent) so reading
# it before any call returns None instead of raising AttributeError
# (round-12 advice).
LAST_STRATEGY: str | None = None


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    right_tiebreak: tuple[str, ...] = (),
    direction: str = "backward",
    strategy: str = "window",
    broadcast_cap: int | None = None,
) -> DataFrame:
    """Left as-of join: all ``left`` columns plus ``right``'s value
    columns (everything but ``on``/``right_time``) taken from the
    matched right row for the same ``on`` key; nulls when none exists.
    ``direction="backward"`` (default) matches the LATEST right row with
    ``right_time <= left_time``; ``direction="forward"`` the EARLIEST
    with ``right_time >= left_time`` (the next-reading / next-quote
    shape) — same single exchange + window, just a reversed time sort.

    If the right side has several rows per (key, time), pass
    ``right_tiebreak`` columns: the row sorting LAST under them
    (ascending) wins — resolved inside the one window sort this operator
    already pays, so no pre-aggregation exchange is needed. Without a
    tiebreak, pre-aggregate the right side (e.g. ``max_by``) or the
    match is not well defined.

    ``strategy`` picks the physical shape (same semantics, asserted
    equal in tests):
      * ``"window"`` (default) — union both sides through ONE exchange
        on the key, carry right values with a running last(ignorenulls)
        window. All-JVM, whole-stage-codegen sort.
      * ``"cogroup"`` — groupBy(key).cogroup + ``applyInPandas`` running
        ``pd.merge_asof`` per key group: one exchange per side, the
        sorted merge itself in C. The Arrow transfer makes it the slower
        choice for narrow rows, but it wins when right VALUE payloads
        are wide (the window form carries the whole value struct through
        the JVM sort; the cogroup form merges on (key, time) positions).
        Per-key state must fit a task (same bound as any cogroup).
      * ``"broadcast"`` — collect + sort the right side ONCE on the
        driver, broadcast it, and run ``pd.merge_asof(by=key)`` inside
        ``mapInPandas`` over the left: the LEFT SIDE NEVER SHUFFLES.
        This is the as-of analogue of a broadcast-hash join — the right
        side is usually dimension-like (latest order state, quotes,
        config history) and orders of magnitude smaller than the event
        stream, so at 100 TB the fact table stays put and only the small
        side moves. Caller-asserted fit (use ``"auto"`` for the gated
        form).
      * ``"auto"`` — count the right side (one cheap aggregate job) and
        take ``"broadcast"`` when it is at or under ``broadcast_cap``
        (default ``TOMIX_ASOF_BCAST_ROWS``, 1,000,000 rows), else fall
        back to ``"window"`` — the same count-the-build-side runtime
        gate ``decontam_overlap`` uses, so a right side that outgrows
        executor memory degrades to the shuffle plan instead of OOMing.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    if strategy not in ("window", "cogroup", "broadcast", "auto"):
        raise ValueError(
            f"strategy must be window|cogroup|broadcast|auto, got {strategy!r}"
        )
    left_cols = [c for c in left.columns if c != on]
    value_cols = [c for c in right.columns if c not in (on, right_time)]
    overlap = set(left_cols) & set(value_cols)
    if overlap:
        raise ValueError(f"column collision between sides: {sorted(overlap)}")
    if not value_cols:
        raise ValueError("right side has no value columns to carry")
    if strategy == "auto":
        cap = broadcast_cap
        if cap is None:
            cap = knob("TOMIX_ASOF_BCAST_ROWS")
        # gate count is BOUNDED (limit cap+1 proves overflow without a
        # full count) and memoized per (application, right plan, cap) —
        # repeated auto calls on the same dimension table cost one job,
        # not one per invocation. The memo is LRU-bounded, so a
        # long-lived app re-probes eventually rather than pinning a stale
        # "fits" verdict for a right table whose files grow.
        n_right = memo_count(
            right.sparkSession,
            ("asof_gate", right.semanticHash(), cap),
            right.limit(cap + 1),
        )
        strategy = "broadcast" if n_right <= cap else "window"
    global LAST_STRATEGY
    LAST_STRATEGY = strategy  # probe/test observable (identity.LAST_DISTRIBUTED_ROUNDS precedent)
    if strategy == "cogroup":
        return _asof_cogroup(
            left, right, on, left_time, right_time, right_tiebreak, direction,
            left_cols, value_cols,
        )
    if strategy == "broadcast":
        return _asof_broadcast(
            left, right, on, left_time, right_time, right_tiebreak, direction,
            left_cols, value_cols,
        )

    from pyspark.sql.types import StructField, StructType

    # ALL right value columns ride in ONE struct carried by a single
    # last(ignorenulls=True): per-column carries would back-fill a NULL
    # field of the winning right row from an older, losing row — mixing
    # columns across right rows. The struct itself is non-null for every
    # right row (even when all its fields are null), so the carry is
    # atomic: the output is exactly the matched row, nulls included.
    v_type = StructType(
        [StructField(c, right.schema[c].dataType, True) for c in value_cols]
    )
    # left_time rides ONLY as __t (carrying it again under its own name
    # would emit a duplicate column in the output)
    plain_left = [c for c in left_cols if c != left_time]
    l_half = left.select(
        F.col(on).alias("__k"),
        F.col(left_time).alias("__t"),
        F.lit(0).alias("__r"),
        *[F.col(c) for c in plain_left],
        F.lit(None).cast(v_type).alias("__v"),
    )
    r_half = right.select(
        F.col(on).alias("__k"),
        F.col(right_time).alias("__t"),
        F.lit(1).alias("__r"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in plain_left],
        F.struct(*[F.col(c) for c in value_cols]).alias("__v"),
    )
    u = l_half.unionByName(r_half)
    # right rows sort BEFORE left rows at equal time -> inclusive <= / >=
    # (forward mode just walks time DESCENDING, so "carried last right
    # row" is the earliest at-or-after one); tiebreak columns order right
    # rows among themselves only (left rows all share __r=0 and a null
    # struct, so their null tiebreak fields never interleave)
    t_ord = F.col("__t").asc() if direction == "backward" else F.col("__t").desc()
    w = (
        Window.partitionBy("__k")
        .orderBy(
            t_ord,
            F.col("__r").desc(),
            *[F.col("__v")[c].asc() for c in right_tiebreak],
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.select(
        "__k",
        "__t",
        "__r",
        *plain_left,
        F.last("__v", ignorenulls=True).over(w).alias("__v"),
    )
    return carried.filter(F.col("__r") == 0).select(
        F.col("__k").alias(on),
        F.col("__t").alias(left_time),
        *plain_left,
        *[F.col("__v")[c].alias(c) for c in value_cols],
    )


def _arrow_out_schema(left, right, on, left_time, left_cols, value_cols):
    """Output schema for the Arrow strategies. Right VALUE fields are
    rebuilt nullable: an unmatched left row emits typed nulls, and a
    non-nullable source field (aggregate counts, spark.range ids) must
    not smuggle its nullable=False into the output — Catalyst would
    treat the column as never-null and prune IsNotNull filters, the
    exact hazard the window strategy's explicit StructField(..., True)
    guards against."""
    from pyspark.sql.types import StructField, StructType

    return StructType(
        [left.schema[on], left.schema[left_time]]
        + [left.schema[c] for c in left_cols if c != left_time]
        + [
            StructField(c, right.schema[c].dataType, True)
            for c in value_cols
        ]
    )


def _asof_cogroup(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    right_tiebreak: tuple[str, ...],
    direction: str,
    left_cols: list[str],
    value_cols: list[str],
) -> DataFrame:
    """The Arrow strategy: per-key ``pd.merge_asof``. Tie handling
    mirrors the window strategy exactly — among right rows at one
    (key, time), the max-tiebreak row wins: merge_asof(backward) matches
    the LAST qualifying position, so the right frame sorts (time ASC,
    tiebreak ASC); merge_asof(forward) matches the FIRST, so ties sort
    DESC. Missing matches keep typed nulls (NaN-poisoned int columns are
    rebuilt as nullable objects before Arrow conversion)."""
    import pandas as pd

    from tomixpanel_spark.session import ship_package

    ship_package(left.sparkSession)
    out_schema = _arrow_out_schema(left, right, on, left_time, left_cols, value_cols)
    out_cols = [f.name for f in out_schema.fields]
    tie_asc = direction == "backward"
    # a right time column named like the left one would collide in the
    # merged frame — give it a reserved name inside the merge
    rt = right_time if right_time != left_time else "__rt"

    def merge(l_pdf: pd.DataFrame, r_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(l_pdf):
            return pd.DataFrame(columns=out_cols)
        l_sorted = l_pdf.sort_values(left_time, kind="stable")
        if not len(r_pdf):
            out = l_sorted.copy()
            for c in value_cols:
                out[c] = None
            return out[out_cols]
        r_sorted = (
            r_pdf.rename(columns={right_time: rt})
            .sort_values(
                [rt, *right_tiebreak],
                ascending=[True] + [tie_asc] * len(right_tiebreak),
                kind="stable",
            )
            .drop(columns=[on])
        )
        out = pd.merge_asof(
            l_sorted,
            r_sorted,
            left_on=left_time,
            right_on=rt,
            direction=direction,
            allow_exact_matches=True,
        ).drop(columns=[rt])
        for c in value_cols:
            # merge misses NaN-poison integer columns to float — rebuild
            # as nullable objects so Arrow sees typed nulls
            if out[c].isna().any():
                out[c] = out[c].astype(object).where(out[c].notna(), None)
        return out[out_cols]

    # fresh_attrs guards the caller passing two frames derived from ONE
    # parent plan: shared attribute ids across a cogroup mis-prune the
    # right child under no-output consumers (base.fresh_attrs)
    from tomixpanel_spark.operators.base import fresh_attrs

    return (
        left.groupBy(on)
        .cogroup(fresh_attrs(right).groupBy(on))
        .applyInPandas(lambda l, r: merge(l, r), schema=out_schema)
    )


def _asof_broadcast(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    right_tiebreak: tuple[str, ...],
    direction: str,
    left_cols: list[str],
    value_cols: list[str],
) -> DataFrame:
    """The zero-left-shuffle strategy: the whole (sorted) right side is a
    Spark broadcast variable; each Arrow batch of the left runs one
    ``pd.merge_asof(by=key)`` against it. Tie semantics match the other
    strategies (right pre-sorted so the max-tiebreak row is the match).
    The left keeps its source partitioning — filters/pruning stay pushed
    down and no exchange is introduced."""
    import pandas as pd

    from tomixpanel_spark.session import ship_package

    spark = left.sparkSession
    ship_package(spark)
    out_schema = _arrow_out_schema(left, right, on, left_time, left_cols, value_cols)
    out_cols = [f.name for f in out_schema.fields]
    tie_asc = direction == "backward"
    rt = right_time if right_time != left_time else "__rt"
    r_pdf = (
        right.toPandas()
        .rename(columns={right_time: rt})
        .sort_values(
            [rt, *right_tiebreak],
            ascending=[True] + [tie_asc] * len(right_tiebreak),
            kind="stable",
        )[[on, rt, *value_cols]]
        .reset_index(drop=True)
    )
    bc = spark.sparkContext.broadcast(r_pdf)

    chunk_rows = knob("TOMIX_ASOF_MERGE_ROWS")

    def run(batches):
        r = bc.value

        def merge_chunk(chunk):
            # each left row's match depends only on that row and the full
            # right side, so chunking the left any way preserves results
            l_sorted = chunk.sort_values(left_time, kind="stable")
            if not len(r):
                out = l_sorted.copy()
                for c in value_cols:
                    out[c] = None
                return out[out_cols]
            rr = r
            # Arrow batches and driver toPandas can disagree on exact
            # dtypes (datetime units, int widths) — merge_asof requires
            # equal on/by dtypes, so coerce the small side to the batch's
            if rr[rt].dtype != l_sorted[left_time].dtype or rr[on].dtype != l_sorted[on].dtype:
                rr = rr.copy()
                rr[rt] = rr[rt].astype(l_sorted[left_time].dtype)
                rr[on] = rr[on].astype(l_sorted[on].dtype)
            out = pd.merge_asof(
                l_sorted,
                rr,
                left_on=left_time,
                right_on=rt,
                by=on,
                direction=direction,
                allow_exact_matches=True,
            ).drop(columns=[rt])
            for c in value_cols:
                # NaN-poisoned int columns -> typed nulls for Arrow
                if out[c].isna().any():
                    out[c] = out[c].astype(object).where(out[c].notna(), None)
            return out[out_cols]

        # every merge_asof(by=...) call pays a full O(len(right)) pass to
        # factorize/scan the broadcast side, so merging per 10k-row Arrow
        # batch multiplies the right-side work by batches-per-task (~15x
        # overhead when the right is 150k rows). Accumulate batches into
        # bounded chunks and pay the right-side pass once per chunk; the
        # bound keeps task memory at O(chunk + right) instead of O(partition).
        buf: list = []
        nbuf = 0
        for pdf in batches:
            if not len(pdf):
                continue
            buf.append(pdf)
            nbuf += len(pdf)
            if nbuf >= chunk_rows:
                yield merge_chunk(pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0])
                buf, nbuf = [], 0
        if buf:
            yield merge_chunk(pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0])

    return left.mapInPandas(run, schema=out_schema)


def asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: each event joined to the user's latest order
    at-or-before the event time. Order times are synthesized into the
    events' range with deterministic modular rules (both engines derive
    the identical right side). Ties per (user, time) resolve to the max
    orderkey via the window tiebreak — the oracle pre-aggregates with
    max_by instead, so the hash match also proves the in-sort tiebreak
    equals an explicit pre-aggregation (one exchange saved here)."""
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = table(spark, sf_dir, "orders")
    r = orders.select(
        F.pmod("o_custkey", F.lit(150)).cast("bigint").alias("user_id"),
        F.expr(
            "timestampadd(HOUR, cast(o_orderkey % 720 as int), "
            "timestamp'2024-01-01 00:00:00')"
        ).alias("ts_r"),
        F.col("o_orderkey").alias("order_key"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("total_c"),
    )
    return asof_join(
        ev, r, on="user_id", left_time="ts", right_time="ts_r",
        right_tiebreak=("order_key",), strategy="auto",
    ).select("event_id", "user_id", "order_key", "total_c")


_ASOF_SQL = """
WITH r AS (
  SELECT user_id, ts_r, max(o_orderkey) AS order_key,
         CAST(round(max_by(o_totalprice, o_orderkey) * 100) AS BIGINT) AS total_c
  FROM (
    SELECT o_custkey % 150 AS user_id,
           TIMESTAMP '2024-01-01 00:00:00' + (o_orderkey % 720) * INTERVAL 1 HOUR AS ts_r,
           o_orderkey, o_totalprice
    FROM orders)
  GROUP BY user_id, ts_r)
SELECT e.event_id, e.user_id, r.order_key, r.total_c
FROM events e ASOF LEFT JOIN r
  ON e.user_id = r.user_id AND e.ts >= r.ts_r
"""


def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-style last-touch attribution: each purchase attributed
    to the user's latest click at-or-before it (null when none). Pure
    reuse of ``asof_join`` — same single exchange + window sort; the
    in-sort tiebreak (max event_id among same-instant clicks) is proved
    against the oracle's explicit max_by pre-aggregation, like
    ``asof_latest_order``."""
    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("ts_c"),
        F.col("event_id").alias("click_id"),
        F.unix_millis("ts").alias("click_ms"),
    )
    return asof_join(
        purchases, clicks, on="user_id", left_time="ts", right_time="ts_c",
        right_tiebreak=("click_id",), strategy="auto",
    ).select("event_id", "user_id", "click_id", "click_ms")


_ATTRIBUTION_SQL = """
WITH c AS (
  SELECT user_id, ts AS ts_c, max(event_id) AS click_id,
         epoch_ms(ts) AS click_ms
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
SELECT p.event_id, p.user_id, c.click_id, c.click_ms
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts_c
"""


def asof_next_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of: each event joined to the user's EARLIEST order
    at-or-after the event time — the next-reading / next-quote shape
    (``direction='forward'``), which until now only library tests
    exercised. Same derived right side as ``asof_latest_order``; ties
    per (user, time) resolve to the max orderkey exactly like the
    backward query, proved against the oracle's max_by pre-aggregation
    + min_by(ts) pick."""
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = table(spark, sf_dir, "orders")
    r = orders.select(
        F.pmod("o_custkey", F.lit(150)).cast("bigint").alias("user_id"),
        F.expr(
            "timestampadd(HOUR, cast(o_orderkey % 720 as int), "
            "timestamp'2024-01-01 00:00:00')"
        ).alias("ts_r"),
        F.col("o_orderkey").alias("order_key"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("total_c"),
    )
    return asof_join(
        ev, r, on="user_id", left_time="ts", right_time="ts_r",
        right_tiebreak=("order_key",), direction="forward", strategy="auto",
    ).select("event_id", "user_id", "order_key", "total_c")


_ASOF_FWD_SQL = """
WITH r AS (
  SELECT user_id, ts_r, max(o_orderkey) AS order_key,
         CAST(round(max_by(o_totalprice, o_orderkey) * 100) AS BIGINT) AS total_c
  FROM (
    SELECT o_custkey % 150 AS user_id,
           TIMESTAMP '2024-01-01 00:00:00' + (o_orderkey % 720) * INTERVAL 1 HOUR AS ts_r,
           o_orderkey, o_totalprice
    FROM orders)
  GROUP BY user_id, ts_r)
SELECT e.event_id, e.user_id,
       min_by(r.order_key, r.ts_r) AS order_key,
       min_by(r.total_c, r.ts_r) AS total_c
FROM events e LEFT JOIN r
  ON e.user_id = r.user_id AND r.ts_r >= e.ts
GROUP BY e.event_id, e.user_id
"""


REGISTRY = {
    "asof_next_order": QuerySpec(
        asof_next_order,
        _ASOF_FWD_SQL,
        "custom operator: FORWARD as-of join (next order at-or-after)",
    ),
    "asof_latest_order": QuerySpec(
        asof_latest_order,
        _ASOF_SQL,
        "custom operator: as-of join (gated broadcast / union+window)",
    ),
    "attribution_last_touch": QuerySpec(
        attribution_last_touch, _ATTRIBUTION_SQL, "analytics: last-touch attribution"
    ),
}
