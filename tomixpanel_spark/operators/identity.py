"""Identity-graph resolution: transitive closure of $merge edges.

The reference emits pairwise user<->device merge edges and lets Mixpanel's
backend resolve identity clusters (transform/amplitudeToMixpanel.js:
173-219). A standalone engine must resolve them itself: connected
components over the merge-edge graph, so every alias maps to one canonical
identity.

Algorithm: iterative label propagation (hash-min) to a fixed point —
each node repeatedly adopts the smallest label among itself and its
neighbors. Pure DataFrame joins/aggregations per iteration; converges in
O(diameter) rounds (identity graphs are shallow — user/device stars —
so 2-4 rounds in practice). This is the large-graph-safe pattern
(GraphFrames' CC is the same idea); each round is one join + one
aggregate, partitioned by node id.

The oracle mirrors it with a recursive CTE (min reachable node id) —
feasible at test scale, while the Spark loop is the 100 TB path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from tomixpanel_spark.knobs import knob
from tomixpanel_spark.operators.base import (
    QuerySpec,
    collect_under,
    local_rows_df,
    stage_checkpoint,
    table,
)

MAX_ITERATIONS = 20
# ops introspection (scale_probe reads it): number of label-propagation
# rounds the DISTRIBUTED path took on the last connected_components call;
# None when the driver union-find path ran instead
LAST_DISTRIBUTED_ROUNDS: "int | None" = None


def _local_components(pdf) -> list[tuple]:
    """Driver-side union-find (path compression, union-by-min so every
    root IS its cluster's minimum id). Exact same fixed point as the
    distributed loop, deterministic."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    # .tolist() => native Python scalars: createDataFrame rejects the
    # numpy int64 values a pandas int column would otherwise yield
    for s, d in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
        parent.setdefault(s, s)
        parent.setdefault(d, d)
        rs, rd = find(s), find(d)
        if rs != rd:
            if rd < rs:
                rs, rd = rd, rs
            parent[rd] = rs  # attach larger root under smaller
    return [(n, find(n)) for n in parent]  # parent keys are native scalars


def connected_components(edges: DataFrame, a: str = "id_a", b: str = "id_b") -> DataFrame:
    """edges(a,b) -> (node, component); see connected_components_with_rows."""
    return connected_components_with_rows(edges, a, b)[0]


def connected_components_with_edges(
    edges: DataFrame, a: str = "id_a", b: str = "id_b", attrs: tuple = ()
) -> "tuple[DataFrame, list[tuple] | None, object]":
    """``connected_components_with_rows`` plus the deduplicated edge set
    itself, for consumers whose per-component policy needs a per-NODE
    signal that already rides on the edges (keep-best token counts,
    centroid dots). ``attrs`` are extra edge columns carried through —
    they MUST be functional on the (a, b) endpoints (a pure per-node
    signal stamped onto each edge), or the distinct edge count changes.

    Returns (labels_df, local_rows, edge_set):
      * local tier — ``edge_set`` is the collected pandas frame
        (src, dst, *attrs): the policy signal is already on the driver,
        so no extra corpus-scan job is needed to fetch it.
      * distributed tier — ``local_rows`` is None and ``edge_set`` is
        the CHECKPOINTED distinct-edge DataFrame: deriving member
        signals from it (explode endpoints + distinct) touches
        edge-sized data instead of re-scanning the corpus (guide §8:
        decide with small rows)."""
    return _cc_impl(edges, a, b, attrs)


def edge_node_attrs(
    edges: DataFrame, attr_a: str, attr_b: str, out: str
) -> DataFrame:
    """(node, out) from a distinct edge set whose rows carry a per-node
    signal for BOTH endpoints (``connected_components_with_edges``
    attrs): explode the two (endpoint, signal) pairs and dedup. Data
    touched is edge-sized — orders of magnitude under the corpus the
    signal would otherwise be re-scanned from."""
    return (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("src").alias("node"), F.col(attr_a).alias(out)
                    ),
                    F.struct(
                        F.col("dst").alias("node"), F.col(attr_b).alias(out)
                    ),
                )
            ).alias("e")
        )
        .select("e.*")
        .distinct()
    )


def connected_components_with_rows(
    edges: DataFrame, a: str = "id_a", b: str = "id_b"
) -> "tuple[DataFrame, list[tuple] | None]":
    """edges(a,b) -> ((node, component) DataFrame, local_rows).

    ``local_rows`` is the [(node, component), ...] list when the DRIVER
    union-find tier ran (the edge set counted under the size gate) and
    ``None`` on the distributed label-propagation path. Consumers that
    apply a per-component policy (winner argmax, drop lists) use the
    rows to run the policy driver-side in the small-graph tier — the
    labels are already collected here, so re-planning joins/aggregates
    over a 1-partition parallelized frame only buys a chain of
    stage-scheduling floors (measured ~0.1 s per AQE query stage on an
    idle local[32]) — while the distributed tier keeps the full
    DataFrame plan. Same size discipline as the collect gate itself.

    Component = min node id in the cluster (string ids; min is
    lexicographic, deterministic).

    Size-adaptive (the broadcast-join principle applied to graphs): the
    distinct edge set is materialized once and counted; small graphs
    resolve with driver-side union-find (one job + one collect — iterative
    Spark rounds on a toy graph are pure scheduler overhead, the round-3
    30x finding), while large graphs run distributed hash-min label
    propagation. The distributed loop keeps per-round cost minimal:
      * the symmetric adjacency is checkpointed ONCE and augmented with a
        self-loop per node, so a round is a single join+groupBy — the
        self-loop row carries the node's own label into the min, removing
        the separate least()/left-join recombination step;
      * round 1 skips the label join entirely (labels are the identity
        mapping, so neighbor-min is just ``min(dst)`` over the adjacency);
      * the convergence flag rides IN the round's aggregate — ``prev`` is
        the self-loop row's label (``min`` over the one ``dst == src``
        row) — so "did anything change" is a trivial filter-count on the
        round's checkpointed output, not a join of two label generations.
    """
    labels, rows, _ = _cc_impl(edges, a, b, ())
    return labels, rows


def _cc_impl(
    edges: DataFrame, a: str, b: str, attrs: tuple
) -> "tuple[DataFrame, list[tuple] | None, object]":
    global LAST_DISTRIBUTED_ROUNDS
    id_type = edges.schema[a].dataType
    ded = (
        edges.select(
            F.col(a).alias("src"),
            F.col(b).alias("dst"),
            *[F.col(c) for c in attrs],
        )
        .distinct()
    )
    # ONE bounded probe job (base.collect_under) decides the tier AND
    # (under the gate) IS the collect. This replaces the r14 shape's three
    # serial actions (eager localCheckpoint + count + toPandas — each a
    # scheduling floor on the small graphs the gate exists for; guide
    # §1.2 step 1). The lazy checkpoint still truncates lineage:
    # partitions the probe computes persist as a side effect, and the
    # distributed branch below forces full materialization before its
    # iterative consumers re-read.
    ded = stage_checkpoint(ded, eager=False)
    probe = collect_under(ded, knob("TOMIX_CC_LOCAL_MAX"))
    if probe is not None:
        LAST_DISTRIBUTED_ROUNDS = None  # the local path ran
        rows = _local_components(probe)
        schema = StructType(
            [StructField("node", id_type), StructField("component", id_type)]
        )
        spark = edges.sparkSession
        # single-slice RDD-backed frame (base.local_rows_df):
        # createDataFrame(rows) would split this gate-bounded list into
        # defaultParallelism slices — 32 near-empty tasks per downstream
        # action on local[32], scaling WITH core count (round-14 advice;
        # the r14 scaling block showed the fold consumers inverting).
        return local_rows_df(spark, rows, schema), rows, probe

    # big-graph path: materialize the checkpoint ONCE (same cost the old
    # eager checkpoint paid) so the per-round re-reads below never
    # recompute the upstream pair machinery. The probe above cost one
    # bounded CollectLimit over the first partitions — O(thr) rows.
    ded.count()
    e2 = ded.select("src", "dst")
    sym = e2.unionByName(
        e2.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    nodes = sym.select(F.col("src").alias("node")).distinct()
    adj = stage_checkpoint(
        sym.unionByName(
            nodes.select(F.col("node").alias("src"), F.col("node").alias("dst"))
        ),
        eager=True,
    )  # reused every round: materialize once

    # round 1: label(node) == node, so neighbor-min needs no label join
    labels = stage_checkpoint(
        adj.groupBy("src")
        .agg(F.min("dst").alias("component"))
        .withColumnRenamed("src", "node"),
        eager=True,
    )
    if labels.filter(F.col("component") != F.col("node")).limit(1).count() == 0:
        LAST_DISTRIBUTED_ROUNDS = 1
        return labels, None, ded
    for _round in range(MAX_ITERATIONS - 1):
        nm = (
            adj.join(labels, adj.dst == labels.node)
            .groupBy("src")
            .agg(
                F.min("component").alias("component"),
                F.min(
                    F.when(F.col("dst") == F.col("src"), F.col("component"))
                ).alias("prev"),
            )
            .withColumnRenamed("src", "node")
        )
        # pointer jump (path doubling): component values ARE node ids, so
        # one self-join replaces each label with its label's label —
        # label-chain length halves per round, giving O(log diameter)
        # convergence where neighbor-min alone needs diameter rounds (a
        # 10^6-node chain: ~20 doubled rounds vs 10^6). Left join +
        # coalesce only for robustness; every component value has a row
        # (adj self-loops give every node a label).
        jump = nm.select(
            F.col("node").alias("jnode"), F.col("component").alias("jcomp")
        )
        updated = (
            nm.join(jump, nm.component == jump.jnode, "left")
            .select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("jcomp"), F.col("component")),
                ).alias("component"),
                "prev",
            )
        )
        # convergence check reads THIS, not a re-run
        updated = stage_checkpoint(updated, eager=True)
        changed = updated.filter(F.col("component") != F.col("prev")).limit(1).count()
        labels = updated.select("node", "component")
        if changed == 0:
            LAST_DISTRIBUTED_ROUNDS = _round + 2
            return labels, None, ded
    raise RuntimeError(
        f"connected_components did not converge in {MAX_ITERATIONS} "
        "iterations — with path doubling this needs diameter > ~2^"
        f"{MAX_ITERATIONS} (raise MAX_ITERATIONS if you truly have one)"
    )


def identity_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CC over the synthesized user<->device merge edges (same edge rule as
    the merge_pairs query): every user sharing a device collapses into one
    identity cluster."""
    ev = table(spark, sf_dir, "events")
    user = F.when(F.col("user_id") % 3 == 0, F.lit(None).cast("string")).otherwise(
        F.concat(F.lit("u"), F.col("user_id").cast("string"))
    )
    dev = F.concat(F.lit("d"), (F.col("user_id") % 50).cast("string"))
    edges = (
        ev.select(user.alias("id_a"), dev.alias("id_b"))
        .filter(F.col("id_a").isNotNull())
        .distinct()
    )
    return connected_components(edges)


_IDENTITY_COMPONENTS_SQL = """
WITH RECURSIVE edges AS (
  SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS id_a,
         'd' || CAST(user_id % 50 AS VARCHAR) AS id_b
  FROM events WHERE user_id % 3 <> 0),
sym AS (
  SELECT id_a AS src, id_b AS dst FROM edges
  UNION SELECT id_b, id_a FROM edges),
walk(node, reach) AS (
  SELECT src, src FROM (SELECT DISTINCT src FROM sym)
  UNION
  SELECT w.node, s.dst FROM walk w JOIN sym s ON s.src = w.reach)
SELECT node, min(reach) AS component FROM walk GROUP BY node
"""


REGISTRY = {
    "identity_components": QuerySpec(
        identity_components, _IDENTITY_COMPONENTS_SQL, "identity graph CC"
    ),
}
