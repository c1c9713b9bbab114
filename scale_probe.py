"""Above-gate scale probe: replicate the sf0.1 tables past the engine's
size-adaptive gates so the DISTRIBUTED plans get wall-clock + value
signal on real above-gate inputs, not just forced-off gates.

Six probe families (select with argv, default all):

* ``text`` — documents 10x (5k -> 50k docs, doc_id-offset, per-replica
  text suffix on 2/3 of docs so duplicate structure stays rich): flips
  the 25k driver-fold cap on every text/dedup gate naturally. Recorded
  in ARCHITECTURE.md round 10.
* ``emb`` — embeddings 50x (2k -> 100k vectors, vec_id-offset; replicas
  of 2/3 of base vectors get ONE coordinate deterministically nudged so
  near-dup structure stays rich without being all-exact): the ANN /
  similarity family at 50x its bench scale, DuckDB oracle side-by-side
  with value-hash comparison where the oracle completes (the quadratic
  pair oracles DNF — that is the probe's finding). Also measures
  recall@5 of the learned-float ``ann_ivf`` library path against exact
  brute force, and runs a 550x decontam leg where the held-out side
  (110k vectors) exceeds TOMIX_EMB_BCAST_VECS (100k) so the cogroup
  fallback engages NATURALLY — verified value-identical (count +
  order-free checksum) against the broadcast path with the gate raised.
* ``cc`` — an identity-graph events table with 2500 user-offset
  replicas (2.5M distinct identity edges > the 2M TOMIX_CC_LOCAL_MAX),
  so ``identity_components`` takes the distributed label-propagation
  path NATURALLY; verified value-identical against the driver
  union-find with the gate raised, with LP round count and wall-clock.

* ``asof`` — temporal-join family (round-11 verdict #2): events 60x /
  orders 10x so BOTH as-of right sides exceed TOMIX_ASOF_BCAST_ROWS
  (clicks 1.19M, order states 1.5M) and the union+window sort-merge
  strategy engages NATURALLY; DuckDB native ASOF JOIN / IEJoin oracles
  side-by-side, natural-vs-forced-broadcast paths-agree checksums, and
  range-join bin-width invariance (1-day vs 6-hour bins).

* ``bpe`` — vocab-rich corpus (words salted by doc_id -> ~1.5M distinct
  words >> TOMIX_BPE_LOCAL_WORDS) so the fully distributed BPE merge
  iteration engages NATURALLY (asserted via bpe.LAST_TIER), hash-checked
  against the recursive DuckDB oracle at the same vocabulary size.

* ``media`` — the multimodal family on the same 10x corpus (the media
  queries synthesize their PNG payloads FROM documents, so 50k docs =
  50k real encode->decode->dHash round trips); ``media_neardup``'s
  banded-Hamming pairing is the scale-risk row (bucketed, never
  all-pairs), hash-checked against the arithmetic DuckDB oracle.

Usage: ``python scale_probe.py [text|emb|cc|asof|bpe|media ...]`` (writes probe
datasets under $TOMIX_PROBE_DIR, default /tmp/sfx10, then prints
name,spark_s,duckdb_s,ratio,rows,match per query). Results are recorded
in ARCHITECTURE.md rounds 10-11.

This is a measurement harness, not part of the engine; the per-round
BENCH contract stays bench.py at the driver-provided sf_dir.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

ORACLE_TIMEOUT_S = int(os.environ.get("TOMIX_PROBE_ORACLE_TIMEOUT_S", "90"))
EMB_REPLICAS = 50
EMB_DECONTAM_REPLICAS = 550  # held-out side 110k > the 100k broadcast cap
CC_REPLICAS = 2500  # 1000 edges/replica -> 2.5M > the 2M local-CC cap

PROBE_TEXT_NAMES = [
    "token_count", "word_freq", "tfidf_keywords", "bm25_topk",
    "cms_heavy_hitters", "simhash", "simhash_pairs", "dedup_exact",
    "doc_fingerprint", "substring_dup_stats", "substring_dup_spans",
    "substring_dedup_clean", "minhash_signature", "minhash_lsh_pairs",
    "lsh_keep_list", "ngram_jaccard_pairs", "dedup_keep_list",
    "neardup_components", "neardup_keep_best", "lang_id", "quality_score",
    "gopher_quality", "gopher_repetition", "chunk_documents",
    "bigram_lm_score", "seeded_shuffle",
    "bpe_merges", "bpe_token_count", "bpe_encode", "chunk_by_bpe",
    "dsir_weights",
    # pipeline verbs (round 14): the fused gate chain and the DSIR
    # selection step ride the same 50k-doc corpus
    "corpus_clean", "dsir_select", "dedup_cascade",
]

PROBE_EMB_NAMES = [
    "label_centroids", "cosine_topk", "cosine_topk_partitioned",
    "ann_lsh", "ann_ivf_q", "ann_pq_q", "embedding_decontam",
    "embedding_neardup",
    # round 14: SemDeDup cluster-then-prune at the 100k-vector scale the
    # verdict asked for (the 50x replica corpus)
    "semdedup_prune",
]

# Multimodal family (round-12 verdict #8 — the last extension family
# with no above-gate scale evidence). The media queries synthesize
# their PNG/JPEG payloads FROM the documents table, so the same 10x
# replicated corpus drives a 10x media corpus (50k real PNG payloads
# encoded, decoded, dHashed, banded); perceptual dedup stays bucketed
# (banded Hamming, never all-pairs) and the DuckDB oracles recompute
# the pixel formula arithmetically for HASH_OK rows.
PROBE_MEDIA_NAMES = [
    "media_meta", "media_neardup", "media_image_resize",
    "multimodal_meta", "media_video_frames",
    # round 14: perceptual dedup keep-best over the same 10x media corpus
    "media_dedup_keep_list",
]


def build_dataset(src_sf: str, dst: str, replicas: int = 10) -> None:
    import duckdb

    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT d.doc_id + rr.r * 1000000 AS doc_id,
                 CASE WHEN d.doc_id % 3 = 0 THEN d.text
                      ELSE d.text || ' r' || CAST(rr.r AS VARCHAR) END AS text,
                 d.lang, d.source, d.n_chars
          FROM read_parquet('{src_sf}/documents.parquet') d,
               (SELECT unnest(range({replicas})) AS r) rr
        ) TO '{dst}/documents.parquet' (FORMAT PARQUET)
        """
    )
    # embeddings at 50x: replica 0 verbatim; for 2/3 of base vectors the
    # replicas nudge ONE coordinate (deterministic in vec_id+replica), a
    # DIRECTION change cosine actually sees (pure scaling would be
    # invisible) — so replica clusters are near-dups, not exact copies,
    # and the remaining 1/3 stay exact duplicates.
    con.execute(
        f"""
        COPY (
          SELECT e.vec_id + rr.r * 1000000 AS vec_id,
                 CASE WHEN rr.r = 0 OR e.vec_id % 3 = 0 THEN e.embedding
                      ELSE list_transform(e.embedding, (x, i) ->
                           CASE WHEN i = 1 + ((e.vec_id + rr.r) % 64)
                                THEN CAST(x + 0.03 + 0.005 * (rr.r % 7)
                                          AS FLOAT)
                                ELSE x END)
                 END AS embedding,
                 e.label
          FROM read_parquet('{src_sf}/embeddings.parquet') e,
               (SELECT unnest(range({EMB_REPLICAS})) AS r) rr
        ) TO '{dst}/embeddings.parquet' (FORMAT PARQUET)
        """
    )
    for t in (
        "region nation customer supplier part orders lineitem events"
    ).split():
        if not os.path.exists(f"{dst}/{t}.parquet"):
            shutil.copyfile(f"{src_sf}/{t}.parquet", f"{dst}/{t}.parquet")


def build_decontam_dataset(src_sf: str, dst: str) -> None:
    """550x embeddings ONLY (held-out label-0 side = 110k vectors, past
    the 100k broadcast cap): the natural-gate leg for the decontam
    cogroup fallback. Other tables copied for table() compatibility."""
    import duckdb

    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT e.vec_id + rr.r * 1000000 AS vec_id,
                 CASE WHEN rr.r = 0 OR e.vec_id % 3 = 0 THEN e.embedding
                      ELSE list_transform(e.embedding, (x, i) ->
                           CASE WHEN i = 1 + ((e.vec_id + rr.r) % 64)
                                THEN CAST(x + 0.03 + 0.005 * (rr.r % 7)
                                          AS FLOAT)
                                ELSE x END)
                 END AS embedding,
                 e.label
          FROM read_parquet('{src_sf}/embeddings.parquet') e,
               (SELECT unnest(range({EMB_DECONTAM_REPLICAS})) AS r) rr
        ) TO '{dst}/embeddings.parquet' (FORMAT PARQUET)
        """
    )


def build_cc_dataset(src_sf: str, dst: str) -> None:
    """Identity-graph probe events: one row per DISTINCT base user per
    replica, user_id offset so every replica contributes fresh identity
    edges (~1000/replica after the %3 null rule) — 2.5M distinct edges,
    above TOMIX_CC_LOCAL_MAX, from a 3.75M-row table (replicating raw
    events would need 200M rows for the same edge count; the edge set,
    not the event volume, is what gates the CC strategy)."""
    import duckdb

    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT row_number() OVER () AS event_id,
                 TIMESTAMP '2024-01-01 00:00:00' AS ts,
                 u.user_id + rr.r * 1000000 AS user_id,
                 'probe' AS event_type, 0.0 AS value, '{{}}' AS props
          FROM (SELECT DISTINCT user_id
                FROM read_parquet('{src_sf}/events.parquet')
                WHERE user_id IS NOT NULL) u,
               (SELECT unnest(range({CC_REPLICAS})) AS r) rr
        ) TO '{dst}/events.parquet' (FORMAT PARQUET)
        """
    )


ASOF_EVENT_REPLICAS = 60   # clicks 19.9k -> 1.19M > TOMIX_ASOF_BCAST_ROWS
ASOF_ORDER_REPLICAS = 10   # orders 150k -> 1.5M  > TOMIX_ASOF_BCAST_ROWS

PROBE_ASOF_NAMES = ["asof_latest_order", "asof_next_order",
                    "attribution_last_touch", "range_join_active_windows"]


def build_asof_dataset(src_sf: str, dst: str) -> None:
    """Temporal-join probe: events x60 (ts jittered +7s/replica so click
    times stay distinct; user_id UNCHANGED so every replica's clicks and
    orders remain as-of candidates for every purchase) and orders x10
    (o_orderkey offset shifts the %720/%48 derivations, so each replica
    contributes fresh window starts/lengths). Both right sides then
    exceed TOMIX_ASOF_BCAST_ROWS (1M) NATURALLY: clicks 19.9k->1.19M,
    derived order states 150k->1.5M — the union+window sort-merge
    strategy engages without forcing the gate; the range-join interval
    set grows 10x (1.5M windows, ~10k/user)."""
    import duckdb

    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT e.event_id + rr.r * 100000000 AS event_id,
                 e.ts + rr.r * INTERVAL 7 SECOND AS ts,
                 e.user_id, e.event_type, e.value, e.props
          FROM read_parquet('{src_sf}/events.parquet') e,
               (SELECT unnest(range({ASOF_EVENT_REPLICAS})) AS r) rr
        ) TO '{dst}/events.parquet' (FORMAT PARQUET)
        """
    )
    con.execute(
        f"""
        COPY (
          SELECT o.o_orderkey + rr.r * 10000000 AS o_orderkey,
                 o.o_custkey, o.o_orderstatus, o.o_totalprice,
                 o.o_orderdate, o.o_orderpriority
          FROM read_parquet('{src_sf}/orders.parquet') o,
               (SELECT unnest(range({ASOF_ORDER_REPLICAS})) AS r) rr
        ) TO '{dst}/orders.parquet' (FORMAT PARQUET)
        """
    )
    for t in (
        "region nation customer supplier part lineitem documents embeddings"
    ).split():
        if not os.path.exists(f"{dst}/{t}.parquet"):
            shutil.copyfile(f"{src_sf}/{t}.parquet", f"{dst}/{t}.parquet")


def probe_asof(spark, src_sf: str, probe_root: str) -> None:
    """Temporal-join family above its gates (round-11 verdict #2):

    1. the three registered queries vs their DuckDB oracles (native ASOF
       JOIN / IEJoin) at 6M events / 1.5M right-side rows — the auto
       gate must flip to the union+window strategy NATURALLY;
    2. paths-agree: natural window plan vs forced-broadcast plan,
       order-free checksums must match (the cc/decontam precedent);
    3. range-join bin-width invariance: 1-day vs 6-hour bins must
       checksum-identical (any bin-boundary bug drops/dups candidates).
    """
    import duckdb

    from tomixpanel_spark.operators import asof as A
    from tomixpanel_spark.operators import registry
    from tomixpanel_spark.operators.base import table

    reg = registry()
    dst = probe_root + "_asof"
    if not os.path.exists(f"{dst}/_probe_asof_v1"):
        build_asof_dataset(src_sf, dst)
        open(f"{dst}/_probe_asof_v1", "w").close()
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 4}")
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{dst}/{t}.parquet'")
    def check_flip(name: str) -> None:
        # only the asof_join-calling rows set LAST_STRATEGY;
        # range_join_active_windows never does (round-12 advice: the old
        # post-loop assert silently reflected whichever query ran last)
        if name in ("asof_latest_order", "asof_next_order",
                    "attribution_last_touch"):
            assert A.LAST_STRATEGY == "window", (
                f"{name}: gate did not flip naturally "
                f"(LAST_STRATEGY={A.LAST_STRATEGY}) — probe is mis-sized"
            )

    run_queries(spark, con, reg, dst, PROBE_ASOF_NAMES,
                after_query=check_flip)

    # paths-agree: the same query through the natural (window) and the
    # forced-broadcast strategies, order-free checksum equality
    for name in ("asof_latest_order", "attribution_last_touch"):
        t0 = time.perf_counter()
        nat = _spark_checksum(reg[name].fn(spark, dst))
        t_nat = time.perf_counter() - t0
        assert A.LAST_STRATEGY == "window"
        prev = os.environ.get("TOMIX_ASOF_BCAST_ROWS")
        os.environ["TOMIX_ASOF_BCAST_ROWS"] = "100000000"
        try:
            t0 = time.perf_counter()
            forced = _spark_checksum(reg[name].fn(spark, dst))
            t_brd = time.perf_counter() - t0
        finally:
            if prev is None:
                os.environ.pop("TOMIX_ASOF_BCAST_ROWS", None)
            else:
                os.environ["TOMIX_ASOF_BCAST_ROWS"] = prev
        assert A.LAST_STRATEGY == "broadcast"
        ok = "HASH_OK" if nat == forced else "MISMATCH"
        print(
            f"{name}_paths,{t_nat:.2f},broadcast={t_brd:.2f}s,,{nat[0]},{ok}",
            flush=True,
        )

    # bin-width invariance for the range join at probe scale: 1-day vs
    # 6-hour bins (4x interval replication) must agree cell-for-cell
    from tomixpanel_spark.operators.ranges import range_join
    from pyspark.sql import functions as F

    ev = table(spark, dst, "events").select("event_id", "user_id", "ts")
    orders = table(spark, dst, "orders")
    win = orders.select(
        F.pmod("o_custkey", F.lit(150)).cast("bigint").alias("user_id"),
        F.expr(
            "timestampadd(HOUR, cast(o_orderkey % 720 as int), "
            "timestamp'2024-01-01 00:00:00')"
        ).alias("w_start"),
        F.expr(
            "timestampadd(HOUR, cast(o_orderkey % 720 + o_orderkey % 48 + 1 as int), "
            "timestamp'2024-01-01 00:00:00')"
        ).alias("w_end"),
        F.col("o_orderkey").alias("window_key"),
    )

    def agg(bin_s):
        j = range_join(ev, win, on="user_id", point_time="ts",
                       start="w_start", end="w_end", bin_width_s=bin_s)
        return j.groupBy("event_id", "user_id").agg(
            F.count(F.lit(1)).alias("n_active"),
            F.max("window_key").alias("top_window"),
        )

    t0 = time.perf_counter()
    day = _spark_checksum(agg(86_400))
    t_day = time.perf_counter() - t0
    t0 = time.perf_counter()
    quarter = _spark_checksum(agg(21_600))
    t_q = time.perf_counter() - t0
    ok = "HASH_OK" if day == quarter else "MISMATCH"
    print(
        f"range_join_bins,{t_day:.2f},bin6h={t_q:.2f}s,,{day[0]},{ok}",
        flush=True,
    )


def build_bpe_vocab_dataset(src_sf: str, dst: str) -> None:
    """Vocab-rich corpus for the BPE word-fold gate's NATURAL flip: 10x
    documents with every word salted by its doc_id ('word_12345'), so
    the distinct-word table is ~1.5M rows (>> TOMIX_BPE_LOCAL_WORDS=200k
    — corpus text no longer compresses into a toy vocabulary) and the
    FULLY DISTRIBUTED merge iteration engages naturally with real
    per-step work to amortize its floors."""
    import duckdb

    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT d.doc_id + rr.r * 1000000 AS doc_id,
                 array_to_string(list_transform(
                   list_filter(string_split(translate(d.text,
                     chr(9)||chr(10)||chr(13)||chr(11)||chr(12), '     '),
                     ' '), t -> t <> ''),
                   w -> w || '_' || CAST(d.doc_id + rr.r * 1000000 AS VARCHAR)),
                   ' ') AS text,
                 d.lang, d.source, d.n_chars
          FROM read_parquet('{src_sf}/documents.parquet') d,
               (SELECT unnest(range(10)) AS r) rr
        ) TO '{dst}/documents.parquet' (FORMAT PARQUET)
        """
    )


def probe_bpe_vocab(spark, src_sf: str, probe_root: str) -> None:
    """Natural above-gate leg for TOMIX_BPE_LOCAL_WORDS: the salted
    corpus trains through the fully distributed iteration (asserted via
    bpe.LAST_TIER) and is hash-compared against the DuckDB recursive
    oracle over the same 1.5M-word vocabulary."""
    import duckdb

    from tomixpanel_spark.operators import bpe as B
    from tomixpanel_spark.operators import registry

    reg = registry()
    dst = probe_root + "_bpevocab"
    if not os.path.exists(f"{dst}/_probe_bpevocab_v1"):
        build_bpe_vocab_dataset(src_sf, dst)
        for t in (
            "region nation customer supplier part orders lineitem events "
            "embeddings"
        ).split():
            if not os.path.exists(f"{dst}/{t}.parquet"):
                shutil.copyfile(f"{src_sf}/{t}.parquet", f"{dst}/{t}.parquet")
        open(f"{dst}/_probe_bpevocab_v1", "w").close()
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 4}")
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{dst}/{t}.parquet'")
    run_queries(spark, con, reg, dst, ["bpe_merges", "bpe_token_count"])
    assert B.LAST_TIER == "distributed", (
        f"word gate did not flip naturally (LAST_TIER={B.LAST_TIER}) — "
        "probe is mis-sized"
    )


def _canon_hash(pdf) -> str:
    """Order-free value hash over a pandas frame: sort columns by name,
    stringify cells (repr for floats, the oracle-parity convention),
    sort rows, sha256."""
    from decimal import Decimal

    import numpy as np

    cols = sorted(pdf.columns)

    def cell(v):
        if isinstance(v, (list, tuple, np.ndarray)):  # array columns
            return "[" + ",".join(cell(x) for x in list(v)) + "]"
        if v is None or v != v:  # None / NaN
            return "\x00NULL"
        if isinstance(v, (bool, np.bool_)):
            return str(bool(v)).lower()
        if isinstance(v, Decimal):  # spark decimal vs duckdb float64:
            v = float(v)  # same double both ways (engine is bit-exact)
        if isinstance(v, (float, np.floating)):
            return repr(float(v))
        if isinstance(v, (int, np.integer)):
            return str(int(v))
        return str(v)

    rows = sorted(
        "\x01".join(cell(v) for v in rec)
        for rec in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode("utf-8", "surrogatepass"))
        h.update(b"\x02")
    return h.hexdigest()


def run_queries(spark, con, reg, dst, names, after_query=None) -> None:
    print("name,spark_s,duckdb_s,ratio,rows,match")
    for n in names:
        if n not in reg:
            continue
        try:
            print(f"# running {n}", file=sys.stderr, flush=True)
            fn = reg[n].fn
            spdf = fn(spark, dst).toPandas()  # warm plan + codegen
            if after_query is not None:
                # per-query observable checks (e.g. asof.LAST_STRATEGY)
                # must fire HERE, while the observable still reflects
                # THIS query — a post-loop assert reads whichever query
                # happened to run last (round-12 advice)
                after_query(n)
            nrows = len(spdf)
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                fn(spark, dst).toPandas()
                best = min(best, time.perf_counter() - t0)
            ob = float("inf")
            timed_out = False
            orows = None
            if reg[n].oracle:
                # watchdog: several pair oracles are O(n^2) in SQL — at
                # probe scale that's billions of pairs. An interrupted
                # oracle IS the probe's finding (the capped/banded Spark
                # plan completes where naive SQL cannot).
                import threading

                for _ in range(2):
                    timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
                    timer.start()
                    t0 = time.perf_counter()
                    try:
                        orows = con.execute(reg[n].oracle).df()
                        ob = min(ob, time.perf_counter() - t0)
                    except Exception:
                        timed_out = True
                        break
                    finally:
                        timer.cancel()
            if timed_out:
                print(
                    f"{n},{best:.2f},TIMEOUT>{ORACLE_TIMEOUT_S}s,,{nrows},",
                    flush=True,
                )
            else:
                ratio = best / ob if ob < float("inf") else -1
                osec = ob if ob < float("inf") else -1
                match = ""
                if orows is not None:
                    match = (
                        "HASH_OK"
                        if len(orows) == nrows
                        and _canon_hash(spdf) == _canon_hash(orows)
                        else "MISMATCH"
                    )
                print(
                    f"{n},{best:.2f},{osec:.2f},{ratio:.2f},{nrows},{match}",
                    flush=True,
                )
        except Exception as exc:  # keep probing; record the failure
            print(f"{n},ERR,,,{repr(exc)[:120]},", flush=True)


def _spark_checksum(df):
    """Order-free distributed checksum: count + bit_xor(xxhash64(cols))
    — no driver transfer, so it verifies 50M-row results cheaply (XOR
    aggregation: commutative, associative, and — unlike sum — immune to
    ANSI-mode long overflow on random 64-bit hashes)."""
    from pyspark.sql import functions as F

    cols = ", ".join(f"`{c}`" for c in sorted(df.columns))
    [row] = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"bit_xor(xxhash64({cols}))").alias("x"),
    ).collect()
    return (row["n"], row["x"])


def probe_emb_extras(spark, src_sf: str, probe_root: str) -> None:
    """(1) recall@5 of the learned-float ann_ivf library path vs exact
    brute force at 50x scale; (2) the 550x decontam natural-gate leg."""
    from pyspark.sql import functions as F

    from tomixpanel_spark.knobs import knob
    from tomixpanel_spark.operators import similarity as S
    from tomixpanel_spark.operators.base import table

    # -- recall@5 at 50x (the 50x tables live in probe_root) ---------------
    exact = {
        (r["q_id"], r["neighbor_id"])
        for r in S.cosine_topk(spark, probe_root).collect()
    }
    t0 = time.perf_counter()
    approx = {
        (r["q_id"], r["neighbor_id"])
        for r in S.ann_ivf(spark, probe_root).collect()
    }
    dt = time.perf_counter() - t0
    recall = len(exact & approx) / max(1, len(exact))
    print(f"ann_ivf_recall@{S.TOP_K},{dt:.2f},,,{len(approx)},{recall:.3f}",
          flush=True)

    # -- blocking/chunking invariance at 50x --------------------------------
    # embedding_neardup's oracle is quadratic SQL and DNFs at probe
    # scale, so its values get verified by INVARIANCE instead: the same
    # corpus through different block counts and score-chunk budgets must
    # checksum-identical — any partition-boundary or chunk-boundary bug
    # (dropped pair, double-counted triangle cell) breaks the equality.
    emb50 = S._finite_vecs(
        S.ensure_parallel(table(spark, probe_root, "embeddings"), "vec_id")
    )
    base = _spark_checksum(S.embedding_neardup_pairs(emb50, n_blocks=8))
    alt = _spark_checksum(S.embedding_neardup_pairs(emb50, n_blocks=5))
    prev_cap = os.environ.get("TOMIX_SCORE_CELLS_CAP")
    os.environ["TOMIX_SCORE_CELLS_CAP"] = "100000"  # 40x smaller chunks
    try:
        tiny = _spark_checksum(S.embedding_neardup_pairs(emb50, n_blocks=8))
    finally:
        if prev_cap is None:
            os.environ.pop("TOMIX_SCORE_CELLS_CAP", None)
        else:
            os.environ["TOMIX_SCORE_CELLS_CAP"] = prev_cap
    ok = "HASH_OK" if base == alt == tiny else "MISMATCH"
    print(f"neardup_invariance_50x,,blocks 8/5 + cap 4M/100k,,{base[0]},{ok}",
          flush=True)

    # -- decontam natural cogroup leg at 550x -------------------------------
    dst = probe_root + "_dec550"
    if not os.path.exists(f"{dst}/embeddings.parquet"):
        build_decontam_dataset(src_sf, dst)
    emb = S.ensure_parallel(table(spark, dst, "embeddings"), "vec_id")
    held = emb.filter(F.col("label") == 0)
    train = emb.filter(F.col("label") != 0)
    assert held.count() > knob("TOMIX_EMB_BCAST_VECS"), "held-out side must exceed gate"
    t0 = time.perf_counter()
    natural = _spark_checksum(S.embedding_decontam_pairs(train, held))
    t_nat = time.perf_counter() - t0
    prev = os.environ.get("TOMIX_EMB_BCAST_VECS")
    os.environ["TOMIX_EMB_BCAST_VECS"] = "200000"  # force the broadcast leg
    try:
        t0 = time.perf_counter()
        forced = _spark_checksum(S.embedding_decontam_pairs(train, held))
        t_brd = time.perf_counter() - t0
    finally:
        if prev is None:
            os.environ.pop("TOMIX_EMB_BCAST_VECS", None)
        else:
            os.environ["TOMIX_EMB_BCAST_VECS"] = prev
    ok = "HASH_OK" if natural == forced else "MISMATCH"
    print(
        f"decontam_cogroup_550x,{t_nat:.2f},broadcast={t_brd:.2f}s,,"
        f"{natural[0]},{ok}",
        flush=True,
    )


def probe_cc(spark, src_sf: str, probe_root: str) -> None:
    from tomixpanel_spark.operators import identity as I

    dst = probe_root + "_cc"
    if not os.path.exists(f"{dst}/events.parquet"):
        build_cc_dataset(src_sf, dst)
    # natural leg: 2.5M edges > TOMIX_CC_LOCAL_MAX -> distributed LP
    assert os.environ.get("TOMIX_CC_LOCAL_MAX") is None
    t0 = time.perf_counter()
    nat = _spark_checksum(I.identity_components(spark, dst))
    t_nat = time.perf_counter() - t0
    rounds = I.LAST_DISTRIBUTED_ROUNDS
    assert rounds is not None, "gate did not flip — probe is mis-sized"
    # verification leg: driver union-find with the gate raised
    os.environ["TOMIX_CC_LOCAL_MAX"] = "10000000"
    try:
        t0 = time.perf_counter()
        loc = _spark_checksum(I.identity_components(spark, dst))
        t_loc = time.perf_counter() - t0
    finally:
        os.environ.pop("TOMIX_CC_LOCAL_MAX", None)
    ok = "HASH_OK" if nat == loc else "MISMATCH"
    print(
        f"identity_components_2.5Medges,{t_nat:.2f},local={t_loc:.2f}s,"
        f"rounds={rounds},{nat[0]},{ok}",
        flush=True,
    )


def main() -> None:
    import duckdb

    from tomixpanel_spark.operators import registry
    from tomixpanel_spark.session import ensure_semantics, session_builder

    os.environ.setdefault("TOMIX_CACHE_TABLES", "1")
    os.environ.setdefault("TOMIX_CACHE_PARTS", "8")
    os.environ.setdefault("TOMIX_CACHE_PARTS_MIN_MB", "0.4")
    families = set(sys.argv[1:]) or {"text", "emb", "cc", "asof", "bpe",
                                     "media"}
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    dst = os.environ.get("TOMIX_PROBE_DIR", "/tmp/sfx10")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    # _probe_v2 marks the emb-replicated dataset layout; a round-10 dir
    # (documents-only replication) rebuilds rather than silently probing
    # unreplicated embeddings
    if not os.path.exists(f"{dst}/_probe_v2"):
        shutil.rmtree(dst, ignore_errors=True)
        build_dataset(src, dst)
        open(f"{dst}/_probe_v2", "w").close()
    spark = (
        session_builder("tomix_scale_probe", master=f"local[{cpus}]",
                        shuffle_partitions=cpus)
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    ensure_semantics(spark)
    reg = registry()
    con = duckdb.connect()
    con.execute(f"SET threads TO {cpus}")
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{dst}/{t}.parquet'")
    # TOMIX_PROBE_ONLY=a,b,c narrows a family run to named queries
    # (iterating on one row without re-timing the whole family)
    only = set(filter(None, os.environ.get("TOMIX_PROBE_ONLY", "").split(",")))
    pick = lambda names: [n for n in names if not only or n in only]  # noqa: E731
    if "text" in families:
        run_queries(spark, con, reg, dst, pick(PROBE_TEXT_NAMES))
    if "emb" in families:
        run_queries(spark, con, reg, dst, pick(PROBE_EMB_NAMES))
        if not only:  # the extras are whole-family legs, not per-query rows
            probe_emb_extras(spark, src, dst)
    if "media" in families:
        run_queries(spark, con, reg, dst, pick(PROBE_MEDIA_NAMES))
    if "cc" in families:
        probe_cc(spark, src, dst)
    if "asof" in families:
        probe_asof(spark, src, dst)
    if "bpe" in families:
        probe_bpe_vocab(spark, src, dst)


if __name__ == "__main__":
    main()
