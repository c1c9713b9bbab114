"""Plan-shape regression tests: correctness tests prove results match;
these prove the PHYSICAL plan stays the one that survives 100 TB
(pushdown reaching the scan, pruned ReadSchema, dims broadcasting,
partial aggregation)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_ORACLE
from tomixpanel_spark.operators import registry
from tomixpanel_spark.plans.audit import (
    exchange_count,
    join_strategies,
    pushed_filters,
    scan_columns,
)

REG = registry()


def test_filters_reach_parquet_scan(spark):
    df = REG["pushdown_filter"].fn(spark, SF_ORACLE)
    pushed = " ".join(pushed_filters(df))
    assert "GreaterThanOrEqual(l_shipdate" in pushed
    assert "LessThan(l_quantity" in pushed
    assert "In(l_returnflag" in pushed  # the S7 event-list pushdown


def test_column_pruning_narrows_read_schema(spark):
    df = REG["project_drop"].fn(spark, SF_ORACLE)
    cols = scan_columns(df)
    assert "props" not in cols and "value" not in cols


def test_q5_broadcasts_dims(spark):
    df = REG["tpch_q5"].fn(spark, SF_ORACLE)
    joins = join_strategies(df)
    assert joins.count("BroadcastHashJoin") >= 2  # nation + region at minimum


def test_q1_partial_aggregation_single_shuffle(spark):
    df = REG["tpch_q1"].fn(spark, SF_ORACLE)
    # one agg exchange (+ possibly one AQE read) — never a sort or join
    assert exchange_count(df) <= 2
    assert join_strategies(df) == []


def test_lsh_pairs_postings_shape_no_join(spark):
    """LSH candidate generation must stay the postings-list expansion:
    ONE band-group aggregate + the pair-dedup exchange, NO self-join (the
    join form scans signatures twice and blows up quadratically inside a
    hot band with no place to cap it)."""
    df = REG["minhash_lsh_pairs"].fn(spark, SF_ORACLE)
    assert join_strategies(df) == []


def test_funnel_single_shuffle_no_joins(spark):
    """Funnel is three CHAINED window minimums over one user_id exchange —
    never the per-step groupBy+join-back form (which re-evaluates step
    k's lineage 4-k times and shuffles 6x at any scale)."""
    df = REG["funnel"].fn(spark, SF_ORACLE)
    assert join_strategies(df) == []


def test_retention_no_self_join(spark):
    """The first-seen cohort attaches as a window minimum — the self-join
    form scans events twice and shuffles both join sides."""
    df = REG["retention"].fn(spark, SF_ORACLE)
    assert join_strategies(df) == []


def test_minhash_signature_no_join_no_agg_exchange(spark):
    """Signature is a narrow projection after the parallelism repartition —
    exactly one user exchange, no join."""
    df = REG["minhash_signature"].fn(spark, SF_ORACLE)
    assert join_strategies(df) == []
    # the parallelism repartition is the only exchange (formatted output may
    # list the node in both the tree and the details section)
    assert exchange_count(df) <= 2


def test_table_cache_lru_evicts_and_unpersists(spark, monkeypatch):
    """Cache bound (round-3 VERDICT #4): sweeping a second sf dir must
    evict (and unpersist) the first dir's entries, not accumulate."""
    from tomixpanel_spark.operators import base

    monkeypatch.setenv("TOMIX_CACHE_TABLES", "1")
    monkeypatch.setenv("TOMIX_CACHE_MAX", "2")
    base.clear_table_cache()
    try:
        a = base.table(spark, "/root/testdata/sf0.001", "region")
        a.count()
        assert a.storageLevel.useMemory
        base.table(spark, "/root/testdata/sf0.001", "nation").count()
        # third entry from a "second sf dir" evicts region (LRU)
        base.table(spark, "/root/testdata/sf0.01", "region").count()
        assert len(base._TABLE_CACHE) == 2
        keys = set(base._TABLE_CACHE)
        assert not any(k[1:] == ("/root/testdata/sf0.001", "region") for k in keys)
        assert not a.storageLevel.useMemory  # evicted entry was unpersisted
    finally:
        base.clear_table_cache()
    assert len(base._TABLE_CACHE) == 0


def test_derived_artifact_gated_on_own_flag(spark, monkeypatch):
    """Artifact derived views must NOT cache under TOMIX_CACHE_TABLES
    alone (bench honesty) — only under TOMIX_CACHE_DERIVED."""
    from tomixpanel_spark.operators import base

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(3).toDF("doc_id")

    monkeypatch.setenv("TOMIX_CACHE_TABLES", "1")
    monkeypatch.delenv("TOMIX_CACHE_DERIVED", raising=False)
    base.clear_table_cache()
    base.derived(spark, ("t_art",), build).count()
    base.derived(spark, ("t_art",), build).count()
    assert calls["n"] == 2  # rebuilt each time: tables flag doesn't apply
    monkeypatch.setenv("TOMIX_CACHE_DERIVED", "1")
    base.derived(spark, ("t_art",), build).count()
    base.derived(spark, ("t_art",), build).count()
    assert calls["n"] == 3  # cached on the second call
    # READ side is unconditional (round-11 verdict #8): flag off, the
    # already-materialized artifact still serves…
    monkeypatch.delenv("TOMIX_CACHE_DERIVED", raising=False)
    base.derived(spark, ("t_art",), build).count()
    assert calls["n"] == 3
    # …until clear_derived_cache evicts artifacts (fixtures untouched)
    monkeypatch.setenv("TOMIX_CACHE_TABLES", "1")
    base.derived(spark, ("t_fix",), build, kind="fixture").count()
    assert calls["n"] == 4
    base.clear_derived_cache()
    base.derived(spark, ("t_art",), build).count()
    assert calls["n"] == 5  # artifact evicted: rebuilt, not re-cached
    base.derived(spark, ("t_fix",), build, kind="fixture").count()
    assert calls["n"] == 5  # fixture survived the derived-cache clear
    base.clear_table_cache()


@pytest.mark.slow
def test_connected_components_local_matches_distributed(spark, monkeypatch):
    """The size-adaptive local union-find path and the distributed
    label-propagation loop must reach the identical fixed point."""
    import random

    from tomixpanel_spark.operators import identity as idmod

    rng = random.Random(7)
    rows = [
        (f"n{rng.randrange(120)}", f"n{rng.randrange(120)}") for _ in range(200)
    ] + [("iso1", "iso2")]
    edges = spark.createDataFrame(rows, "id_a string, id_b string")
    monkeypatch.setenv("TOMIX_CC_LOCAL_MAX", "1000000000")
    local = {(r["node"], r["component"]) for r in idmod.connected_components(edges).collect()}
    monkeypatch.setenv("TOMIX_CC_LOCAL_MAX", "0")
    dist = {(r["node"], r["component"]) for r in idmod.connected_components(edges).collect()}
    assert local == dist
    assert ("iso1", "iso1") in local and ("iso2", "iso1") in local
    # ops introspection (scale_probe reads it): the distributed run
    # records its label-propagation round count; the local run clears it
    assert idmod.LAST_DISTRIBUTED_ROUNDS is not None
    assert 1 <= idmod.LAST_DISTRIBUTED_ROUNDS <= idmod.MAX_ITERATIONS
    monkeypatch.setenv("TOMIX_CC_LOCAL_MAX", "1000000000")
    idmod.connected_components(edges).collect()
    assert idmod.LAST_DISTRIBUTED_ROUNDS is None


@pytest.mark.slow
def test_connected_components_deep_chain_converges(spark, monkeypatch):
    """Pointer jumping (round-10): a diameter-200 chain must converge
    inside MAX_ITERATIONS (plain neighbor-min needs diameter rounds and
    previously RAISED here) — the O(log d) property at 100 TB identity
    graphs, pinned at a size the 20-round cap cannot brute-force."""
    from tomixpanel_spark.operators import identity as idmod

    edges = spark.createDataFrame(
        [(f"n{i:04d}", f"n{i + 1:04d}") for i in range(200)],
        "id_a string, id_b string",
    )
    monkeypatch.setenv("TOMIX_CC_LOCAL_MAX", "0")
    out = {tuple(r) for r in idmod.connected_components(edges).collect()}
    assert out == {(f"n{i:04d}", "n0000") for i in range(201)}


def test_cc_probe_is_single_bounded_collect(spark, monkeypatch):
    """The r15 tier probe: limit(thr+1) both decides the tier and IS the
    collect. Exactly AT the gate the local path must still run (<=), one
    edge over it the distributed path must (the probe can return at most
    thr+1 rows, so equality proves completeness)."""
    from tomixpanel_spark.operators import identity as idmod

    edges = spark.createDataFrame(
        [(f"a{i}", f"b{i}") for i in range(5)], "id_a string, id_b string"
    )
    monkeypatch.setenv("TOMIX_CC_LOCAL_MAX", "5")  # == distinct count
    _, rows = idmod.connected_components_with_rows(edges)
    assert rows is not None and len(rows) == 10  # 5 edges -> 10 nodes
    monkeypatch.setenv("TOMIX_CC_LOCAL_MAX", "4")  # one under
    _, rows = idmod.connected_components_with_rows(edges)
    assert rows is None  # distributed path


def _jobs_run(spark, group, fn):
    """(fn(), number of Spark jobs fn ran), counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "n_rows, cap, collected",
    [(5, 5, True), (6, 5, False), (3, 0, False), (0, 5, True)],
    ids=["exactly-cap", "cap-plus-one", "cap-zero", "empty"],
)
def test_collect_under(spark, n_rows, cap, collected):
    """The one bounded gate probe: the whole frame at or under the cap,
    None one row over it, and None without running a job at cap 0."""
    from tomixpanel_spark.operators.base import collect_under

    df = spark.range(n_rows)
    pdf, jobs = _jobs_run(
        spark, f"collect_under_{n_rows}_{cap}", lambda: collect_under(df, cap)
    )
    if collected:
        assert sorted(pdf["id"].tolist()) == list(range(n_rows))
    else:
        assert pdf is None
    assert (jobs == 0) if cap <= 0 else (jobs >= 1)


def test_memo_count_counts_a_key_once(spark):
    """A repeated key is served from the memo: no second count job, and a
    frame builder is not even called."""
    from tomixpanel_spark.operators.base import memo_count

    df = spark.range(7)
    key = ("test_memo_count", "n")
    first, jobs1 = _jobs_run(spark, "memo_count_1", lambda: memo_count(spark, key, df))
    again, jobs2 = _jobs_run(spark, "memo_count_2", lambda: memo_count(spark, key, df))
    assert first == again == 7
    assert jobs1 >= 1 and jobs2 == 0

    def must_not_build():
        raise AssertionError("builder called on a memo hit")

    assert memo_count(spark, key, must_not_build) == 7


def test_carry_ntoks_rides_the_pair_edges(spark):
    """near_dup_pairs(carry_ntoks=True) must (1) keep the pair set and
    jaccard scores bit-identical to the plain kernel and (2) stamp each
    side with exactly size(tokens(text)) of that doc — the signal the
    keep-best fold consumes instead of re-scanning the corpus."""
    from pyspark.sql import functions as F

    from tomixpanel_spark.functions.text import tokens as tok
    from tomixpanel_spark.operators.base import table
    from tomixpanel_spark.operators.dedup import near_dup_pairs

    docs = table(spark, SF_ORACLE, "documents")
    plain = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in near_dup_pairs(docs).collect()
    }
    carried = near_dup_pairs(docs, carry_ntoks=True).collect()
    assert {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in carried} == plain
    ntok = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", F.size(tok("text")).cast("bigint").alias("n")
        ).collect()
    }
    for r in carried:
        assert r["nt_a"] == ntok[r["doc_a"]] and r["nt_b"] == ntok[r["doc_b"]]


def test_carry_ntoks_rejects_the_capped_path(spark):
    """carry_ntoks is an uncapped-path feature: asking for it together
    with df_cap is a caller error, raised as ValueError (an assert would
    vanish under python -O)."""
    from tomixpanel_spark.operators.dedup import near_dup_pairs

    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="carry_ntoks"):
        near_dup_pairs(docs, df_cap=10, carry_ntoks=True)


def test_edge_node_attrs_dedups_to_one_signal_per_node(spark):
    """The distributed-tier member-signal derivation: a node appearing in
    many edges must come out once, with its own signal from either
    endpoint position."""
    from tomixpanel_spark.operators.identity import edge_node_attrs

    edges = spark.createDataFrame(
        [(1, 2, 10, 20), (1, 3, 10, 30), (2, 3, 20, 30)],
        "src long, dst long, nt_a long, nt_b long",
    )
    out = {(r["node"], r["n_tokens"]) for r in
           edge_node_attrs(edges, "nt_a", "nt_b", "n_tokens").collect()}
    assert out == {(1, 10), (2, 20), (3, 30)}


def test_decontam_broadcasts_eval_side(spark):
    """The held-out set is ~1% of shingle rows — it must broadcast, or at
    corpus scale contamination becomes a full shuffle join."""
    df = REG["decontam_overlap"].fn(spark, SF_ORACLE)
    assert "BroadcastHashJoin" in join_strategies(df)


def test_decontam_falls_back_to_shuffle_join_above_gate(spark, monkeypatch):
    """An eval set too big for executor memory must NOT broadcast — the
    size gate flips the plan to a shuffle join (with runtime bloom-filter
    injection enabled for map-side pruning)."""
    monkeypatch.setenv("TOMIX_DECONTAM_BCAST_DOCS", "0")
    df = REG["decontam_overlap"].fn(spark, SF_ORACLE)
    joins = join_strategies(df)
    assert "BroadcastHashJoin" not in joins
    assert any(j in ("SortMergeJoin", "ShuffledHashJoin") for j in joins)
    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"


def test_mixture_rebalance_no_corpus_shuffle(spark):
    """Derived keep-rates must come from the tiny per-bucket count
    aggregate broadcast back to the corpus — the corpus itself is only
    scanned and filtered, never exchanged (a shuffle join on bucket
    would funnel each language's whole corpus through few tasks)."""
    df = REG["mixture_rebalance"].fn(spark, SF_ORACLE)
    joins = join_strategies(df)
    assert "BroadcastHashJoin" in joins
    assert "SortMergeJoin" not in joins and "ShuffledHashJoin" not in joins
    plan = df._jdf.queryExecution().executedPlan().toString()
    # every hash-partitioned exchange lives INSIDE the broadcast build
    # and carries |buckets| rows (the count agg appears once per branch:
    # counts + the min-over-counts recompute) — never the corpus
    import re

    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 2


def test_embedding_decontam_gate_flips_to_cogroup(spark, monkeypatch):
    """Below the held-out-size gate the eval matrix rides the UDF closure
    (one mapInPandas, no shuffle); above it the plan must flip to the
    two-sided blocked cogroup instead of trusting the caller — same
    answers either way."""
    closure = REG["embedding_decontam"].fn(spark, SF_ORACLE)
    plan = closure._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" not in plan

    monkeypatch.setenv("TOMIX_EMB_BCAST_VECS", "0")
    cogrouped = REG["embedding_decontam"].fn(spark, SF_ORACLE)
    plan2 = cogrouped._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan2
    assert sorted(map(tuple, cogrouped.collect())) == sorted(
        map(tuple, closure.collect())
    )


def test_embedding_decontam_keeps_id_collisions_on_both_gate_sides(
    spark, monkeypatch
):
    """Train and held-out ids are INDEPENDENT spaces: a numeric collision
    is still a real (train, eval) pair. The closure path once inherited
    the self-search id-exclusion mask and silently dropped such pairs
    while the cogroup path kept them — the answer depended on held-out
    size."""
    from tomixpanel_spark.operators.similarity import embedding_decontam_pairs

    train = spark.createDataFrame(
        [(7, [1.0, 0.0]), (8, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    held = spark.createDataFrame([(7, [1.0, 0.0])], "vec_id long, embedding array<double>")
    expect = [(7, 7, 1_000_000)]
    got_closure = [
        (r["train_id"], r["eval_id"], r["sim_e6"])
        for r in embedding_decontam_pairs(train, held, threshold_e6=900_000).collect()
    ]
    assert got_closure == expect
    monkeypatch.setenv("TOMIX_EMB_BCAST_VECS", "0")
    got_cogroup = [
        (r["train_id"], r["eval_id"], r["sim_e6"])
        for r in embedding_decontam_pairs(train, held, threshold_e6=900_000).collect()
    ]
    assert got_cogroup == expect


def test_tfidf_df_is_broadcast_join_not_token_window(spark, monkeypatch):
    """On the DISTRIBUTED path (forced by zeroing the driver-fold gate),
    document frequency must come from a map-side-partial
    groupBy(token).count() broadcast-joined back to tf — NEVER a
    COUNT(*) OVER (PARTITION BY token) window, which funnels every tf
    row of a hot token ("the") into one task's sort at corpus scale."""
    from tomixpanel_spark.operators.base import _COUNT_MEMO

    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
    _COUNT_MEMO.clear()
    df = REG["tfidf_keywords"].fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "BroadcastHashJoin" in join_strategies(df)
    # and the tokenize+tf step is the fused Arrow stage, not explode+agg
    assert "MapInPandas" in plan or "Scan ExistingRDD" in plan


def test_tfidf_driver_fold_is_shuffle_free(spark):
    """The default small-corpus path is the one-pass driver fold: the
    returned result is a pre-computed local relation (the Arrow pass +
    fold already ran) — no exchange, no join, no window, no aggregate
    left in the result plan."""
    df = REG["tfidf_keywords"].fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert join_strategies(df) == []
    assert exchange_count(df) == 0
    assert "Window" not in plan and "HashAggregate" not in plan


def test_tfidf_paths_agree(spark, monkeypatch):
    """Driver-fold and distributed plans are ONE operator: identical rows
    on the same corpus."""
    from tomixpanel_spark.operators.base import _COUNT_MEMO

    fold = REG["tfidf_keywords"].fn(spark, SF_ORACLE).collect()
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
    _COUNT_MEMO.clear()
    dist = REG["tfidf_keywords"].fn(spark, SF_ORACLE).collect()
    assert sorted(map(tuple, fold)) == sorted(map(tuple, dist))


def test_cms_single_token_lineage(spark):
    """Sketch cells and vocab probes must both derive from ONE
    materialized per-token count aggregate (lazy localCheckpoint — NOT
    persist, which would leak into the session CacheManager and get
    substituted into other queries' plans) — the raw-stream
    double-tokenize shape scans and explodes the corpus twice. (Gate
    forced to the DISTRIBUTED plan — the registered query driver-folds
    at this corpus size.)"""
    import os

    os.environ["TOMIX_TFIDF_DRIVER_FOLD_DOCS"] = "0"
    try:
        df = REG["cms_heavy_hitters"].fn(spark, SF_ORACLE)
    finally:
        os.environ.pop("TOMIX_TFIDF_DRIVER_FOLD_DOCS", None)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # both branches read the checkpointed tok_counts RDD; the corpus
    # parquet scan is hidden inside the checkpoint build, so the final
    # plan shows only ExistingRDD scans and NO parquet scan
    assert plan.count("Scan ExistingRDD") >= 2
    assert "FileScan parquet" not in plan
    assert "InMemoryTableScan" not in plan  # no CacheManager leak


def test_lsh_keep_list_single_shingle_lineage(spark):
    """Signatures and both exact-verify sides must share one materialized
    shingle-array projection (the production signatures artifact; lazy
    localCheckpoint, see test_cms_single_token_lineage) — without it the
    corpus shingles three times in one lineage."""
    df = REG["lsh_keep_list"].fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") >= 3


def test_driver_window_rotation_policy():
    """The external correctness gate samples the FIRST WINDOW_SIZE
    registry entries. The ordering is DERIVED from the machine-readable
    rotation log (operators/__init__.py _LAST_EXTERNAL, round-7 advice):
    never-checked queries first (gate evasion would be ordering a new
    query out of the window), canaries pinned, then staleness-first —
    so every query is externally re-verified on a fixed cadence."""
    import json
    import glob
    import os

    from tomixpanel_spark.operators import (
        _CANARIES,
        _LAST_EXTERNAL,
        WINDOW_SIZE,
        ordered_names,
    )

    from tomixpanel_spark.operators import changed_since_green

    names = list(REG)
    assert names == ordered_names()  # registry order IS the derived order
    window = names[:WINDOW_SIZE]
    # (a) every never-checked query and both canaries sit inside the window
    never = {q for q, r in _LAST_EXTERNAL.items() if r == 0}
    assert (never | set(_CANARIES)) <= set(window)
    # (b) the window admits changed-since-green rows before unchanged
    # ones, and is staleness-first within each group: a row outside the
    # window may only be staler than one inside it if the inside row is
    # changed-since-green and the outside row is not (canaries exempt).
    changed = changed_since_green()
    for grp in (changed, set(names) - changed):
        grp_window = [q for q in window if q in grp and q not in _CANARIES]
        if not grp_window:
            continue
        inside = max(_LAST_EXTERNAL[q] for q in grp_window)
        outside = [
            q
            for q in names[WINDOW_SIZE:]
            if q in grp and _LAST_EXTERNAL[q] < inside
        ]
        assert not outside, f"staler than the window yet rotated out: {outside}"
    # (b2) no window slot is wasted on an unchanged row while a changed
    # row waits outside (the round-11 verdict's rotation rule)
    changed_out = [q for q in names[WINDOW_SIZE:] if q in changed]
    unchanged_in = [
        q for q in window if q not in changed and q not in _CANARIES
        and _LAST_EXTERNAL[q] > 0
    ]
    assert not (changed_out and unchanged_in), (
        f"changed-since-green rows outside the window ({changed_out[:5]}…) "
        f"while unchanged rows occupy slots ({unchanged_in[:5]}…)"
    )
    # (c) the log itself is consistent with the driver's artifacts: no
    # round claimed in the log exceeds rounds that exist on disk, and
    # every green row the log claims matches the recorded file
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for q, r in _LAST_EXTERNAL.items():
        if r == 0:
            continue
        path = os.path.join(repo, f"CORRECTNESS_r{r:02d}.json")
        assert os.path.exists(path), f"log claims r{r} for {q} but no file"
        rec = json.load(open(path)).get(q)
        assert rec and rec.get("rows_match") and rec.get("hash_match"), (
            f"rotation log claims {q} green in r{r}, file disagrees"
        )


def test_rotation_changed_code_outranks_staleness():
    """Round-11 verdict #7: a row whose implementation changed since its
    last external green must jump the staleness queue. Synthetic case —
    under pure staleness 'rewritten' (r10, code changed after its green)
    would sit BEHIND every r9 row and could rotate out of a small
    window; the ordering rule must pull it ahead of unchanged rows."""
    from tomixpanel_spark.operators import _derive_order

    log = {f"old{i}": 9 for i in range(4)} | {"rewritten": 10, "fresh": 11}
    # no change info -> pure staleness: rewritten is 5th, outside a
    # window of 4 — this is the failure mode the rule exists to fix
    plain = _derive_order(log, (), set())
    assert plain.index("rewritten") == 4
    # with the change recorded, rewritten leads the queue
    bumped = _derive_order(log, (), {"rewritten"})
    assert bumped.index("rewritten") == 0
    assert bumped[1:5] == ["old0", "old1", "old2", "old3"]
    # never-checked rows and canaries still outrank everything
    log2 = log | {"brand_new": 0}
    order2 = _derive_order(log2, ("old3",), {"rewritten"})
    assert order2[:3] == ["brand_new", "old3", "rewritten"]


def test_dsir_weights_zero_target_corpus(spark, tmp_path):
    """A corpus with NO target-language (lang='en') bigrams must yield
    all-zero weights, not ZeroDivisionError: the driver-side exact
    ratio arithmetic divides by the target total, which the old
    all-Spark `div` (and the DuckDB oracle's NULL-on-div-zero +
    coalesce) turned into zero weights."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma", "fr"), (2, "delta epsilon", "de")],
        "doc_id long, text string, lang string",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = {r["doc_id"]: r for r in
            REG["dsir_weights"].fn(spark, str(tmp_path)).collect()}
    assert rows[1]["dsir_weight_e6"] == 0
    assert rows[2]["dsir_weight_e6"] == 0
    assert rows[1]["n_bigrams"] == 2 and rows[2]["n_bigrams"] == 1


def test_jpeg_prog_alloc_floor_is_tunable(monkeypatch):
    """The progressive allocation floor dial: a VALID blank 2048x2048
    progressive grayscale (one DC scan, 65536 size-0 units — a real
    ~16.7 KB flat-scan payload needing 33.5 MB of coefficient buffers)
    raises at the default 16 MB floor and FULLY DECODES when the
    deployment raises the floor to 64 MB — the documented
    legitimate-flat-scan escape hatch and its false-positive zone."""
    import pytest as _pt

    from tests.test_properties import TestJpegCodec as T
    from tomixpanel_spark.operators.multimodal import decode_jpeg_gray

    payload = (
        b"\xff\xd8" + T._dqt_flat16() + T._sof2_gray(2048, 2048)
        + T._dht_annexk()
        + T._sos_prog([(1, 0x00)], 0, 0, 0, 0)
        + T._entropy("00" * (256 * 256))  # DC size-0 for every data unit
        + b"\xff\xd9"
    )
    assert len(payload) < 20_000  # still far under 33.5 MB / 1024
    with _pt.raises(ValueError, match="allocation bound"):
        decode_jpeg_gray(payload)
    monkeypatch.setenv("TOMIX_JPEG_PROG_ALLOC_FLOOR_MB", "64")
    px = decode_jpeg_gray(payload)
    assert px.shape == (2048, 2048)
    assert (px == px[0, 0]).all()  # flat image


def test_dsir_scoring_pass_has_no_doc_level_shuffle(spark):
    """dsir_weights' scale contract: the per-document scoring pass is a
    narrow fold against one broadcast ratio map — no exchange keyed on
    doc_id anywhere in the plan (the bucket-table aggregates are the
    only shuffles, and they carry <= 1024-row bucket ids)."""
    import re

    df = REG["dsir_weights"].fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # every doc_id exchange must be ensure_parallel's defensive
    # REPARTITION_BY_NUM of the 1-partition toy scan — never a
    # computation shuffle (ENSURE_REQUIREMENTS) keyed on doc_id
    for m in re.finditer(r"hashpartitioning\(doc_id[^\n]*", plan):
        assert "REPARTITION_BY_NUM" in m.group(0), m.group(0)
    assert "BroadcastExchange" in plan  # the ratio map rides a broadcast


def test_dsir_bucket_formula_matches_word_hash_spec(spark):
    """dsir_weights' PRODUCTION bucket expression (_dsir_word_hashes +
    _dsir_bucket_col — the exact columns the query builds) matches an
    independent Python mirror of the declared spec — h(w) =
    int(md5(utf8(w))[:8 hex], 16), compose (h_prev * P + h_cur) mod B,
    the same formula the DuckDB oracle computes per DISTINCT word — on
    a handful of adversarial docs (exotic whitespace, unicode,
    single-word, empty)."""
    import hashlib

    from tomixpanel_spark.operators.textops import (
        DSIR_BUCKETS,
        DSIR_HASH_PRIME,
        _dsir_bucket_col,
        _dsir_word_hashes,
    )
    from tomixpanel_spark.functions.text import WHITESPACE_CHARS, tokens

    texts = [
        "the cat sat on the mat",
        "café naïve 中文 words",
        "one",
        "",
        "a\tb\nc\x0bd\x0ce f",
    ]
    tbl = str.maketrans(WHITESPACE_CHARS, " " * len(WHITESPACE_CHARS))

    def py_buckets(t):
        ws = [w for w in t.translate(tbl).split(" ") if w]
        hs = [
            int(hashlib.md5(w.encode("utf-8")).hexdigest()[:8], 16)
            for w in ws
        ]
        return [
            (a * DSIR_HASH_PRIME + b) % DSIR_BUCKETS
            for a, b in zip(hs, hs[1:])
        ]

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    bks = _dsir_bucket_col(_dsir_word_hashes(tokens("text")))
    got = {r["doc_id"]: r["b"] for r in df.select("doc_id", bks.alias("b")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == py_buckets(t), (i, t)


def test_streaming_family_bench_guard():
    """The bench JSON must carry a streaming-family verdict against the
    12 s idle-host budget (round-11 verdict #6): pass under budget,
    exceeded over it, incomplete when a family row is missing (a
    narrowed run must not fake a pass)."""
    import bench

    fam = {k: 1.5 for k in bench.STREAMING_FAMILY}
    ok = bench.streaming_family_guard({**fam, "tpch_q1": 50.0})
    assert ok["streaming_guard"] == "pass"
    assert ok["streaming_family_s"] == 9.0  # other rows don't count
    slow = bench.streaming_family_guard({k: 2.5 for k in bench.STREAMING_FAMILY})
    assert slow["streaming_guard"] == "exceeded"
    part = bench.streaming_family_guard({"streaming_sketch_parity": 0.1})
    assert part["streaming_guard"] == "incomplete"


def test_rotation_recorded_hashes_regenerate_cleanly():
    """The per-query recorded code hashes (_CHECKED_SRC) must match a
    fresh regeneration from the round-marker commits — catches editing
    _LAST_EXTERNAL or a ROTATION_DEPS list without rerunning
    tools/update_rotation.py (which would silently mis-rank the
    window)."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    p = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "update_rotation.py"),
         "--check"],
        capture_output=True,
        text=True,
        cwd=repo,
    )
    assert p.returncode == 0, f"rotation hash drift:\n{p.stdout}{p.stderr}"


def test_slow_tier_doc_matches_conftest():
    """GATES.md §Test tiers must list exactly the modules conftest marks
    slow (and each must exist) — the tier doc is CI-greppable like the
    env-gate table, so the fast signal can't silently drift."""
    import os
    import re

    from tests.conftest import SLOW_MODULES

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    doc = open(os.path.join(repo, "GATES.md")).read()
    section = doc.split("## Test tiers", 1)
    assert len(section) == 2, "GATES.md lost its Test tiers section"
    documented = set(re.findall(r"\| `(test_[a-z_]+)` \|", section[1]))
    assert documented == SLOW_MODULES, (
        f"doc vs conftest drift: only-doc={documented - SLOW_MODULES} "
        f"only-conftest={SLOW_MODULES - documented}"
    )
    for mod in SLOW_MODULES:
        assert os.path.exists(
            os.path.join(repo, "tests", f"{mod}.py")
        ), f"{mod} listed slow but has no file"


def test_rotation_hash_ignores_comments_tracks_code():
    """The rotation hash must be comment-insensitive: a `#` comment edit
    is not a rewrite and must not bump a module's queries ahead of
    genuinely stale rows (it evicted 10 r11-stale rows from the r14
    window before this fix). Any literal or structural change — including
    docstrings and oracle SQL strings — must still flip it."""
    from tomixpanel_spark.operators import normalized_source

    base = b"X = 1\ndef f(a):\n    return a + X\n"
    commented = b"# a comment\nX = 1\ndef f(a):  # trailing\n    return a + X\n"
    reformatted = b"X = 1\n\n\ndef f(a):\n    return (a + X)\n"
    assert normalized_source(base) == normalized_source(commented)
    assert normalized_source(base) == normalized_source(reformatted)
    assert normalized_source(base) != normalized_source(b"X = 2\ndef f(a):\n    return a + X\n")
    # docstrings are literals -> they count as code
    assert normalized_source(b"def f():\n    'spec A'\n") != normalized_source(
        b"def f():\n    'spec B'\n"
    )
    # non-Python content falls back to raw bytes
    assert normalized_source(b"\x00not python") == b"\x00not python"


def test_rotation_historical_hash_fails_hard_on_missing_path():
    """A path absent at a VALID commit is a hard error by default — a
    renamed rotation dependency must not silently under-hash and pin
    changed_since_green (round-13 advice); --allow-missing opts into the
    old warn-and-skip behavior explicitly."""
    import os
    import subprocess
    import sys

    import pytest

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "tools"))
    try:
        import update_rotation as ur
    finally:
        sys.path.pop(0)

    head = subprocess.run(
        ["git", "rev-parse", "HEAD"], cwd=repo, capture_output=True, text=True
    ).stdout.strip()
    with pytest.raises(RuntimeError, match="not present at"):
        ur.historical_hash(head, ["no/such/file.py"])
    # explicit opt-in still hashes the remaining files
    h = ur.historical_hash(
        head, ["no/such/file.py", "bench.py"], allow_missing=True
    )
    assert h == ur.historical_hash(head, ["bench.py"])
    # and a bad commit object is still commit-level, not path-level
    with pytest.raises(RuntimeError, match="bad or unreachable commit"):
        ur.historical_hash("0" * 40, ["bench.py"], allow_missing=True)


def test_ensure_parallel_skips_already_split_sources(spark):
    """The defensive repartition must be CONDITIONAL: a 1-partition toy
    scan spreads to defaultParallelism, but an already-split source (any
    real corpus) must pass through with NO added shuffle — the old
    unconditional form re-shuffled the entire input at any scale."""
    from tomixpanel_spark.operators.base import ensure_parallel
    from tomixpanel_spark.plans.audit import exchange_count

    serial = spark.range(100).coalesce(1).toDF("doc_id")
    spread = ensure_parallel(serial, "doc_id")
    assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism

    already = spark.range(1000).repartition(16).toDF("doc_id")
    passed = ensure_parallel(already, "doc_id")
    assert passed is already  # no new plan node, let alone a shuffle
    assert exchange_count(ensure_parallel(already)) == exchange_count(already)


def test_hypertable_rollup_single_scan_expand(spark):
    """Both grains must come from ONE raw scan via GROUPING SETS (Expand
    before the partial agg) — the union-of-lineages form reads the raw
    table twice because exchange reuse does not fire across the two
    aggregates."""
    df = REG["hypertable_rollup"].fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan
    assert "Union" not in plan


def test_salted_join_partitions_on_key_and_salt(spark):
    """With broadcast off (the large-x-large regime salting exists for),
    the join exchange must hash on (event_type, __salt) — 8 reducers per
    hot key instead of one."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = REG["salted_join_stats"].fn(spark, SF_ORACLE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "__salt" in plan
        joins = join_strategies(df)
        assert joins and "BroadcastHashJoin" not in joins
        import re

        m = re.search(r"hashpartitioning\(event_type[^)]*__salt", plan)
        assert m, "join exchange does not partition on (event_type, __salt)"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_stratified_sample_is_narrow(spark):
    """Deterministic sampling is a pure projection+filter: no join, at
    most the one exchange AQE may report for the final collect."""
    df = REG["stratified_sample"].fn(spark, SF_ORACLE)
    assert join_strategies(df) == []
    assert exchange_count(df) == 0


def test_gopher_repetition_is_narrow_and_matches_spec(spark, tmp_path):
    """The top n-gram repetition features are pure narrow folds (no
    join, no exchange beyond ensure_parallel's defensive repartition —
    the gopher_quality shape), and the fold's tie rule matches the
    declared spec (lexicographically smallest max-count gram) on a
    crafted tie: 'b b a a' has bigram counts {'b b':1, 'b a':1,
    'a a':1} — top bigram must be 'a a'."""
    import re

    df = REG["gopher_repetition"].fn(spark, SF_ORACLE)
    assert join_strategies(df) == []
    plan = df._jdf.queryExecution().executedPlan().toString()
    for m in re.finditer(r"hashpartitioning\(doc_id[^\n]*", plan):
        assert "REPARTITION_BY_NUM" in m.group(0), m.group(0)
    assert "Window" not in plan

    from tomixpanel_spark.operators.textops import gopher_repetition  # noqa: F401

    import pyspark.sql.functions as F  # noqa: F401

    tie = spark.createDataFrame(
        [(1, "b b a a", "en")], "doc_id long, text string, lang string"
    )
    tie.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    [row] = REG["gopher_repetition"].fn(spark, str(tmp_path)).collect()
    # top bigram 'a a': 1 occurrence x 2 chars / 4 total chars = 0.5
    assert row["top2_char_frac_e6"] == 500_000
    # top trigram: all counts 1, smallest gram 'a a a'? grams are
    # 'b b a','b a a' -> smallest 'b a a', 3 chars -> 3/4
    assert row["top3_char_frac_e6"] == 750_000
    assert row["top4_char_frac_e6"] == 1_000_000
    assert not row["keep"]  # 1.0 > 0.16 on the 4-gram


def test_segment_dedup_no_window_over_hash(spark):
    """First occurrence MUST be the min(struct) hash aggregate, never a
    window over the segment hash: a boilerplate segment repeated in
    millions of documents would sort every occurrence in ONE task under
    a window, while the aggregate's map-side partials keep hot hashes
    cheap. Also pin the sort-free top shape: the query ends in hash
    aggregates and joins only."""
    df = REG["segment_dedup"].fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "HashAggregate" in plan


def test_ann_ivf_q_single_corpus_pass(spark):
    """Scoring must be the ONE fused mapInPandas pass (quantize + assign
    + integer matmul + local top-k) — no join against a collected corpus
    and no extra corpus exchange before the final top-k window."""
    df = REG["ann_ivf_q"].fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_stage_checkpoint_durable_mode(spark, monkeypatch, tmp_path):
    """stage_checkpoint must honor TOMIX_CHECKPOINT_DIR: default mode
    truncates lineage via executor-local localCheckpoint (fast, not
    fault-tolerant); with the env set it must become a RELIABLE
    checkpoint rooted in that directory, so on a cluster an executor
    loss re-reads durable blocks instead of failing the query. Results
    identical in both modes."""
    import os

    from tomixpanel_spark.operators.base import stage_checkpoint

    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    monkeypatch.delenv("TOMIX_CHECKPOINT_DIR", raising=False)
    local = stage_checkpoint(df, eager=True)
    assert local.rdd.getCheckpointFile() is None  # local, not reliable

    ck = tmp_path / "ck"
    monkeypatch.setenv("TOMIX_CHECKPOINT_DIR", str(ck))
    durable = stage_checkpoint(df, eager=True)
    # reliable mode: checkpoint dir adopted and durable rdd-* blocks
    # written under it (localCheckpoint writes nothing to disk here)
    assert str(spark.sparkContext.getCheckpointDir() or "").rstrip("/").endswith(
        str(ck).lstrip("/").split("/")[-1]
    ) or str(ck) in str(spark.sparkContext.getCheckpointDir())
    written = [p for p in os.listdir(ck)] if os.path.isdir(ck) else []
    assert written, "no durable checkpoint data written under TOMIX_CHECKPOINT_DIR"
    assert sorted(map(tuple, durable.collect())) == sorted(map(tuple, local.collect()))


def test_tfidf_fused_tokenize_no_token_stream_shuffle(spark):
    """The tokenize+tf step must be the fused Arrow mapInPandas stage
    (per-doc Counter -> sparse tf rows): the plan shows a MapInPandas
    node and NO (doc_id, token) hash-aggregate exchange upstream of the
    checkpoint — the explode+agg form shuffled every token occurrence."""
    from tests.conftest import SF_ORACLE
    from tomixpanel_spark.operators.textops import tokenize_tf
    from tomixpanel_spark.operators.base import table
    from tomixpanel_spark.plans.audit import exchange_count

    tf = tokenize_tf(table(spark, SF_ORACLE, "documents"))
    plan = tf._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert exchange_count(tf) == 0  # narrow: no shuffle before the tf table
    assert "Generate" not in plan  # no explode of the token stream


def test_tfidf_vocab_gate_flips_to_shuffle_join(spark, monkeypatch):
    """Above the vocabulary cap the df side must NOT broadcast — the gate
    flips to a shuffle join (mirroring decontam's held-out gate), with
    runtime bloom-filter injection enabled for map-side pruning."""
    from tests.conftest import SF_ORACLE
    from tomixpanel_spark.operators.base import _COUNT_MEMO
    from tomixpanel_spark.plans.audit import join_strategies

    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
    monkeypatch.setenv("TOMIX_TFIDF_BCAST_VOCAB", "0")
    _COUNT_MEMO.clear()
    df = REG["tfidf_keywords"].fn(spark, SF_ORACLE)
    joins = join_strategies(df)
    assert "BroadcastHashJoin" not in joins
    assert any(j in ("SortMergeJoin", "ShuffledHashJoin") for j in joins)


def test_mixture_rebalance_gate_flips_to_shuffle_join(spark, monkeypatch):
    """Past the bucket-domain cap the rates side must NOT broadcast —
    the runtime gate (round-7 advice: gate, not convention) flips to a
    shuffle join with bloom-filter injection, same answers."""
    from tomixpanel_spark.operators.base import _COUNT_MEMO

    base = REG["mixture_rebalance"].fn(spark, SF_ORACLE)
    monkeypatch.setenv("TOMIX_MIXTURE_BCAST_BUCKETS", "0")
    _COUNT_MEMO.clear()
    gated = REG["mixture_rebalance"].fn(spark, SF_ORACLE)
    joins = join_strategies(gated)
    assert "BroadcastHashJoin" not in joins
    assert any(j in ("SortMergeJoin", "ShuffledHashJoin") for j in joins)
    assert sorted(map(tuple, gated.collect())) == sorted(map(tuple, base.collect()))


def test_tpch_q6_pushdown_and_pruning(spark):
    """Q6 is the pushdown showcase: every predicate reaches the parquet
    scan and only the three consumed columns survive pruning — a scan
    reading more would multiply IO 4x at 100 TB for a 1-row answer."""
    df = REG["tpch_q6"].fn(spark, SF_ORACLE)
    pushed = " ".join(pushed_filters(df))
    assert "GreaterThanOrEqual(l_shipdate" in pushed
    assert "LessThan(l_quantity" in pushed
    assert "GreaterThanOrEqual(l_discount" in pushed
    cols = scan_columns(df)
    assert "l_orderkey" not in cols and "l_tax" not in cols
    assert join_strategies(df) == []


def test_media_resize_and_video_are_narrow(spark):
    """The multimodal resize / frame-sample verbs are pure Arrow map
    stages over the doc ids: zero exchanges, zero joins — media bytes
    never cross a shuffle (the property that makes the modality viable
    at 100 TB payload volume)."""
    for name in ("media_image_resize", "media_video_frames"):
        df = REG[name].fn(spark, SF_ORACLE)
        assert join_strategies(df) == [], name
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the only allowed exchange is ensure_parallel's explicit source
        # repartition — never a shuffle the plan REQUIRES (agg/join/sort)
        assert "ENSURE_REQUIREMENTS" not in plan, name
        assert "MapInPandas" in plan, name


def test_ann_pq_q_single_corpus_pass(spark):
    """PQ scoring must stay the ONE fused mapInPandas pass (quantize +
    per-subspace encode + ADC LUT sum + local top-k): no corpus join, no
    extra corpus exchange before the final top-k window — the compressed
    -index property that makes PQ the 100 TB layout."""
    df = REG["ann_pq_q"].fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_label_centroids_index_sized_shuffle(spark):
    """The elementwise vector aggregate must be explode -> ONE hash
    aggregate whose map-side partials collapse each task to |labels| x D
    rows — never a join or a second required exchange (the shuffle is
    index-sized at any corpus size)."""
    df = REG["label_centroids"].fn(spark, SF_ORACLE)
    assert join_strategies(df) == []
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ENSURE_REQUIREMENTS") == 1
    assert "HashAggregate" in plan and "Window" not in plan


def test_bm25_build_side_broadcasts(spark, monkeypatch):
    """Above the driver-fold gate, BM25's build side (query terms x df x
    totals) is query-vocab-sized and must broadcast; the corpus tf table
    is probed ONCE — a shuffle join on token would exchange every
    posting of every term instead of only the query terms' postings."""
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
    df = REG["bm25_topk"].fn(spark, SF_ORACLE)
    joins = join_strategies(df)
    assert "BroadcastHashJoin" in joins
    assert "SortMergeJoin" not in joins and "ShuffledHashJoin" not in joins


def test_bm25_paths_agree(spark, monkeypatch):
    """The driver fold and the distributed broadcast-probe plan must
    produce identical rows (same gate contract as tfidf's two paths)."""
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "1000000")
    fold = {tuple(r) for r in REG["bm25_topk"].fn(spark, SF_ORACLE).collect()}
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
    dist = {tuple(r) for r in REG["bm25_topk"].fn(spark, SF_ORACLE).collect()}
    assert fold == dist and len(fold) > 0


def test_simhash_paths_agree(spark, monkeypatch):
    """The simhash / simhash_pairs driver folds and the distributed lane
    -aggregate + banded-join plans must produce identical rows (the same
    gate contract as tfidf's and bm25's two paths)."""
    for name in ("simhash", "simhash_pairs"):
        monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "1000000")
        fold = {tuple(r) for r in REG[name].fn(spark, SF_ORACLE).collect()}
        monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
        dist = {tuple(r) for r in REG[name].fn(spark, SF_ORACLE).collect()}
        assert fold == dist and len(fold) > 0, name


def test_substring_dup_no_text_shuffle(spark, monkeypatch):
    """Exact substring-window discovery must shuffle the 64-bit window
    HASH, never the window text: the exchange carries fixed-width longs.
    Also no window function and no cartesian anywhere. (Gate forced to
    the DISTRIBUTED plan — the registered query driver-folds at this
    corpus size.)"""
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
    df = REG["substring_dup_stats"].fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Cartesian" not in plan
    import re
    # every hashpartitioning clause keys on doc_id or the wh hash —
    # never on a string window column
    for m in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
        assert "wt" not in m, m


def test_substring_paths_agree(spark, monkeypatch):
    """The substring_dup_stats driver fold and the distributed
    window-hash plan must produce identical rows (the tfidf/bm25/simhash
    gate contract)."""
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "1000000")
    fold = {tuple(r) for r in REG["substring_dup_stats"].fn(spark, SF_ORACLE).collect()}
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
    dist = {tuple(r) for r in REG["substring_dup_stats"].fn(spark, SF_ORACLE).collect()}
    assert fold == dist and len(fold) > 0


def test_cms_paths_agree(spark, monkeypatch):
    """The cms_heavy_hitters driver fold and the distributed
    sketch-aggregate plan must produce identical estimates (same md5
    bucket spec both paths)."""
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "1000000")
    fold = {tuple(r) for r in REG["cms_heavy_hitters"].fn(spark, SF_ORACLE).collect()}
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
    dist = {tuple(r) for r in REG["cms_heavy_hitters"].fn(spark, SF_ORACLE).collect()}
    assert fold == dist and len(fold) > 0


def test_substring_spans_paths_agree_and_distributed_shape(spark, monkeypatch):
    """substring_dup_spans: driver fold == distributed gaps-and-islands
    plan, and the distributed exchange carries window hashes, never
    window text."""
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "1000000")
    fold = {tuple(r) for r in REG["substring_dup_spans"].fn(spark, SF_ORACLE).collect()}
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
    df = REG["substring_dup_spans"].fn(spark, SF_ORACLE)
    dist = {tuple(r) for r in df.collect()}
    assert fold == dist and len(fold) > 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan
    import re
    for m in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
        assert "wt" not in m, m


def test_substring_clean_paths_agree_and_broadcast(spark, monkeypatch):
    """substring_dedup_clean: driver fold == distributed plan, and the
    span table (output-bounded) re-attaches via a broadcast join — a
    shuffle join on doc_id would exchange the whole corpus to clean it."""
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "1000000")
    fold = {tuple(r) for r in REG["substring_dedup_clean"].fn(spark, SF_ORACLE).collect()}
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
    df = REG["substring_dedup_clean"].fn(spark, SF_ORACLE)
    dist = {tuple(r) for r in df.collect()}
    assert fold == dist and len(fold) > 0
    assert "BroadcastHashJoin" in join_strategies(df)
    assert "SortMergeJoin" not in join_strategies(df)


def test_gates_doc_matches_code():
    """GATES.md is the single ops reference for every TOMIX_* variable:
    it must name exactly the engine's knob table plus the variables the
    harness scripts read, so a new gate cannot ship undocumented (nor the
    doc advertise a gate the code dropped). And the knob table must be
    the engine's ONLY reader: no other tomixpanel_spark module that
    touches the process environment may name a TOMIX_* variable."""
    import ast
    import re
    from pathlib import Path

    from tomixpanel_spark.knobs import KNOBS

    root = Path(__file__).resolve().parents[1]
    pat = re.compile(r"TOMIX_[A-Z0-9_]+")
    in_code = set(KNOBS)
    for src in [root / "bench.py", root / "scale_probe.py",
                root / "__spark_entry__.py"]:
        in_code |= set(pat.findall(src.read_text()))
    in_doc = set(pat.findall((root / "GATES.md").read_text()))
    missing_from_doc = sorted(in_code - in_doc)
    stale_in_doc = sorted(in_doc - in_code)
    assert not missing_from_doc, f"undocumented gates: {missing_from_doc}"
    assert not stale_in_doc, f"GATES.md rows with no code: {stale_in_doc}"

    pkg = root / "tomixpanel_spark"
    env_readers = []
    for src in sorted(pkg.rglob("*.py")):
        if src == pkg / "knobs.py":
            continue
        nodes = list(ast.walk(ast.parse(src.read_text())))
        touches_env = any(
            (isinstance(n, ast.Attribute) and n.attr in ("environ", "getenv"))
            or (isinstance(n, ast.Name) and n.id in ("environ", "getenv"))
            for n in nodes
        )
        names_knob = any(
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and n.value.startswith("TOMIX_")
            for n in nodes
        )
        if touches_env and names_knob:
            env_readers.append(str(src.relative_to(root)))
    assert not env_readers, f"TOMIX_* read outside knobs.py: {env_readers}"


@pytest.mark.parametrize(
    "name, raw, value",
    [
        ("TOMIX_CC_LOCAL_MAX", "0", 0),
        ("TOMIX_CACHE_PARTS_MIN_MB", "0.4", 0.4),
        ("TOMIX_CACHE_TABLES", "1", True),
        ("TOMIX_CACHE_TABLES", "", False),
        ("TOMIX_CHECKPOINT_DIR", "/ck", "/ck"),
    ],
)
def test_knob_parses_by_default_type(monkeypatch, name, raw, value):
    from tomixpanel_spark.knobs import KNOBS, knob

    monkeypatch.delenv(name, raising=False)
    assert knob(name) == KNOBS[name].default
    monkeypatch.setenv(name, raw)
    assert knob(name) == value and type(knob(name)) is type(value)


def test_bigram_lm_paths_agree(spark, monkeypatch):
    """Driver-fold, broadcast-model, and shuffle-join scoring plans are
    ONE operator: identical rows, and each gate actually flips the
    plan."""
    from tomixpanel_spark.operators.base import _COUNT_MEMO

    fold = REG["bigram_lm_score"].fn(spark, SF_ORACLE).collect()  # under fold cap

    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
    df_b = REG["bigram_lm_score"].fn(spark, SF_ORACLE)
    assert "BroadcastHashJoin" in join_strategies(df_b)
    bcast = df_b.collect()

    monkeypatch.setenv("TOMIX_LM_BCAST_BIGRAMS", "0")
    _COUNT_MEMO.clear()
    df_s = REG["bigram_lm_score"].fn(spark, SF_ORACLE)
    joins = join_strategies(df_s)
    # the model/ctx scoring joins must NOT broadcast above the gate (the
    # 1-row vocab aggregate and the small final left join may still)
    assert any(j in ("SortMergeJoin", "ShuffledHashJoin") for j in joins)
    shuf = df_s.collect()
    _COUNT_MEMO.clear()
    assert sorted(map(tuple, bcast)) == sorted(map(tuple, shuf))
    assert sorted(map(tuple, fold)) == sorted(map(tuple, bcast))


def test_seeded_shuffle_rank_windows_are_bucket_parallel(spark):
    """The in-shard position must come from the two-level prefix sum:
    every row_number window partitions by the 256-way bucket, never by
    the N_SHARDS-way shard alone (8 sort tasks for the whole corpus is
    the scale-killer this plan exists to avoid)."""
    import re

    from tomixpanel_spark.operators.base import table
    from tomixpanel_spark.operators.packing import _seeded_ranked

    ranked = _seeded_ranked(table(spark, SF_ORACLE, "documents"))
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    rn_windows = [
        ln for ln in plan.splitlines()
        if "row_number" in ln and "Window" in ln
    ]
    assert rn_windows, "expected a row_number window in the plan"
    for ln in rn_windows:
        m = re.search(r"windowspecdefinition\(([^,]+),", ln)
        assert m is not None, ln
        assert "bucket" in m.group(1), f"rank window partitioned by {m.group(1)}"


def test_seeded_shuffle_single_corpus_pass(spark, monkeypatch):
    """The DISTRIBUTED plan's ranked stream must be materialized ONCE
    for its two consumers (offsets aggregate + final join): the composed
    plan reads the checkpoint (ExistingRDD), never re-scans the parquet
    (the un-checkpointed form scanned AND shuffled the corpus twice —
    the subtrees don't ReuseExchange-collapse because only the join side
    pushes isnotnull(bucket) into its scan), and the 256-row offsets
    side comes back as a broadcast. Gate forced off — the registered
    query driver-folds at this corpus size."""
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
    df = REG["seeded_shuffle"].fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" not in plan, "corpus re-scanned outside the checkpoint"
    assert "hashpartitioning(bucket" not in plan, "corpus re-shuffled after the checkpoint"
    assert "BroadcastHashJoin" in join_strategies(df)


def test_seeded_shuffle_paths_agree(spark, monkeypatch):
    """Driver fold (Python md5 + one sort) and the two-level-rank
    distributed plan emit the IDENTICAL permutation — md5 hex digests
    agree byte-for-byte across engines and languages."""
    fold = sorted(map(tuple, REG["seeded_shuffle"].fn(spark, SF_ORACLE).collect()))
    assert len(fold) > 0
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
    dist = sorted(map(tuple, REG["seeded_shuffle"].fn(spark, SF_ORACLE).collect()))
    assert fold == dist


@pytest.mark.slow
def test_bpe_paths_agree(spark, monkeypatch):
    """All THREE adaptive tiers — corpus-fold (Sennrich dict loop over
    collected docs), word-fold (distributed word-count + driver loop),
    and fully distributed (Catalyst aggregate-fold merge + fused argmax)
    — produce IDENTICAL merge tables: three independent implementations
    of the same spec, like the oracle's recursive-CTE fourth."""
    from tomixpanel_spark.operators import textops

    fold = REG["bpe_merges"].fn(spark, SF_ORACLE).collect()
    assert len(fold) > 0
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
    word_fold = REG["bpe_merges"].fn(spark, SF_ORACLE).collect()
    assert sorted(map(tuple, fold)) == sorted(map(tuple, word_fold))
    monkeypatch.setenv("TOMIX_BPE_LOCAL_WORDS", "0")
    dist = REG["bpe_merges"].fn(spark, SF_ORACLE).collect()
    assert sorted(map(tuple, fold)) == sorted(map(tuple, dist))


@pytest.mark.slow
def test_bpe_token_count_paths_agree(spark, monkeypatch):
    """Fold and distributed token accounting agree row-for-row, and the
    distributed vocab join broadcasts under the shared vocab gate."""
    fold = REG["bpe_token_count"].fn(spark, SF_ORACLE).collect()
    assert len(fold) > 0
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
    word_fold = REG["bpe_token_count"].fn(spark, SF_ORACLE).collect()
    assert sorted(map(tuple, fold)) == sorted(map(tuple, word_fold))
    monkeypatch.setenv("TOMIX_BPE_LOCAL_WORDS", "0")
    df = REG["bpe_token_count"].fn(spark, SF_ORACLE)
    assert "BroadcastHashJoin" in join_strategies(df)
    dist = df.collect()
    assert sorted(map(tuple, fold)) == sorted(map(tuple, dist))


@pytest.mark.slow
def test_bpe_encode_paths_agree(spark, monkeypatch):
    """Fold and distributed piece emission agree cell-for-cell (including
    piece_idx — the running-offset window + inner posexplode against the
    driver loop's natural enumeration order), and the distributed vocab
    join broadcasts under the shared vocab gate. Output is one SCALAR
    row per piece (round-12 verdict #1: the driver cannot hash array
    cells)."""
    def rows(df):
        return sorted((r["doc_id"], r["piece_idx"], r["piece"])
                      for r in df.collect())

    fold = rows(REG["bpe_encode"].fn(spark, SF_ORACLE))
    assert len(fold) > 0
    # piece_idx is a dense 0..n-1 stream per doc
    from collections import Counter
    per_doc = Counter(d for d, _, _ in fold)
    idx = {}
    for d, i, _ in fold:
        idx.setdefault(d, []).append(i)
    assert all(sorted(v) == list(range(per_doc[d]))
               for d, v in idx.items())
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
    word_fold = rows(REG["bpe_encode"].fn(spark, SF_ORACLE))
    assert fold == word_fold
    monkeypatch.setenv("TOMIX_BPE_LOCAL_WORDS", "0")
    df = REG["bpe_encode"].fn(spark, SF_ORACLE)
    assert "BroadcastHashJoin" in join_strategies(df)
    dist = rows(df)
    assert fold == dist


@pytest.mark.slow
def test_chunk_by_bpe_paths_agree(spark, monkeypatch):
    """All three adaptive tiers of the BPE-budget chunker produce
    identical chunk rows, and the Catalyst-fold pack obeys the contract:
    every chunk is within budget unless it is a single over-budget word,
    and per-doc chunk budgets sum to bpe_token_count's n_bpe_tokens
    (no piece lost or double-counted at chunk boundaries)."""
    from tomixpanel_spark.operators.bpe import CHUNK_BPE_BUDGET

    fold = sorted(map(tuple, REG["chunk_by_bpe"].fn(spark, SF_ORACLE).collect()))
    assert len(fold) > 0
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
    word_fold = sorted(
        map(tuple, REG["chunk_by_bpe"].fn(spark, SF_ORACLE).collect())
    )
    assert fold == word_fold
    monkeypatch.setenv("TOMIX_BPE_LOCAL_WORDS", "0")
    dist = sorted(map(tuple, REG["chunk_by_bpe"].fn(spark, SF_ORACLE).collect()))
    assert fold == dist
    for _doc, _ci, text, nw, nb in fold:
        assert nb <= CHUNK_BPE_BUDGET or nw == 1, (text, nw, nb)
    budgets: dict = {}
    for doc, _ci, _text, _nw, nb in fold:
        budgets[doc] = budgets.get(doc, 0) + nb
    monkeypatch.delenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS")
    monkeypatch.delenv("TOMIX_BPE_LOCAL_WORDS")
    totals = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in REG["bpe_token_count"].fn(spark, SF_ORACLE).collect()
    }
    for doc, total in budgets.items():
        assert total == totals[doc], doc
    # zero-token docs yield no chunks; every tokenized doc is covered
    assert set(budgets) == {d for d, t in totals.items() if t > 0}


@pytest.mark.slow
def test_chunk_by_bpe_assembly_linear_on_book_length_doc(
    spark, monkeypatch, tmp_path
):
    """Round-12 verdict #5 done-criterion: a single 50k-word document
    (~850 chunks) passes the DISTRIBUTED chunk path in bounded time and
    matches the _pack_words driver mirror exactly. Two quadratic traps
    are covered: the old per-chunk F.filter over the full word array
    (O(words x chunks)) and the old per-WORD accumulator append in the
    packing fold (O(words^2) memcpy — ~110s for this input); the
    chunk-start fold + F.slice assembly runs the whole doc in
    seconds."""
    import time

    from tomixpanel_spark.operators.bpe import (
        CHUNK_BPE_BUDGET,
        N_MERGES,
        _pack_words,
        _sennrich_loop,
    )

    words = [f"w{i % 977}x{i % 31}" for i in range(50_000)]
    text = " ".join(words)
    df = spark.createDataFrame(
        [(1, text, "en")], "doc_id long, text string, lang string"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")  # distributed path
    t0 = time.time()
    got = sorted(
        map(tuple, REG["chunk_by_bpe"].fn(spark, str(tmp_path)).collect())
    )
    elapsed = time.time() - t0
    assert elapsed < 60, f"assembly took {elapsed:.0f}s — quadratic regression?"

    from collections import Counter

    wc = Counter(words)
    _rows, vocab = _sennrich_loop(dict(wc), N_MERGES)
    expected = [
        (1, ci, t, nw, nb)
        for ci, (t, nw, nb) in enumerate(
            _pack_words([(w, len(vocab[w])) for w in words], CHUNK_BPE_BUDGET)
        )
    ]
    assert got == sorted(expected)
    assert len(got) > 500  # genuinely book-length: many chunks


def test_bpe_batched_merges_library_mode(spark, tmp_path, monkeypatch):
    """merges_per_round > 1 (library mode; the REGISTERED queries pin
    m=1 = strict Sennrich): each round's batch must be SYMBOL-DISJOINT,
    and because of that disjointness the one-pass batched application
    must equal applying the same pairs sequentially. On a corpus whose
    top pairs don't interact, batched and sequential training learn the
    same merge SET in fewer rounds."""
    import duckdb

    from tomixpanel_spark.operators.base import table
    from tomixpanel_spark.operators.bpe import (
        _merge_step,
        _train_distributed,
    )

    docs_dir = tmp_path / "sf"
    docs_dir.mkdir()
    duckdb.sql(
        "COPY (SELECT 1 AS doc_id,"
        " 'ab ab ab cd cd cd ef ef ab cd' AS text,"
        " 'en' AS lang, 's' AS source, 30 AS n_chars)"
        f" TO '{docs_dir}/documents.parquet' (FORMAT PARQUET)"
    )
    docs = table(spark, str(docs_dir), "documents")
    seq, _ = _train_distributed(spark, docs, 3, need_final=False)
    bat, _ = _train_distributed(
        spark, docs, 3, need_final=False, merges_per_round=3
    )
    # top-3 pairs (a,b) (c,d) (e,f) are symbol-disjoint: same merge set
    assert {(l, r, c) for _, l, r, _m, c in seq} == {
        (l, r, c) for _, l, r, _m, c in bat
    }
    # disjointness invariant: no symbol appears in two pairs of a batch
    syms = [s for _, l, r, _m, _c in bat for s in (l, r)]
    assert len(syms) == len(set(syms))
    # one-pass batched fold == sequential application of the same pairs
    words = spark.createDataFrame(
        [("abcdef", 1, list("abcdef")), ("fedcba", 1, list("fedcba"))],
        schema="word string, freq long, syms array<string>",
    )
    pairs = [("a", "b"), ("c", "d"), ("e", "f")]
    one_pass = {r["word"]: r["syms"] for r in
                _merge_step(words, pairs).collect()}
    step_by_step = words
    for p in pairs:
        step_by_step = _merge_step(step_by_step, [p])
    sequential = {r["word"]: r["syms"] for r in step_by_step.collect()}
    assert one_pass == sequential
    assert one_pass["abcdef"] == ["ab", "cd", "ef"]
