"""The knob table: every ``TOMIX_*`` environment variable the engine reads.

Each entry names a knob, gives its default and says in one line what it
does; GATES.md is the operator-facing copy, and
``tests/test_plans.py::test_gates_doc_matches_code`` keeps the two in
step. No other module reads a ``TOMIX_*`` variable from the environment.

``knob(name)`` reads the environment at CALL time, not import time, so a
process can flip a strategy between runs. The value parses by the type of
the default: ints and floats convert, a bool knob is on when set to any
non-empty value, and a knob whose default is None returns the raw string.
Size gates compare the rows they see with the cap (at or under it the
driver/broadcast tier runs); ``0`` forces the distributed tier.
"""

from __future__ import annotations

import os
from typing import NamedTuple


class Knob(NamedTuple):
    default: int | float | bool | None
    meaning: str


KNOBS: dict[str, Knob] = {
    # -- size-adaptive plan gates: at or under the cap, the driver/broadcast tier --
    "TOMIX_TFIDF_DRIVER_FOLD_DOCS": Knob(25_000, "corpus docs for the text family's driver fold"),
    "TOMIX_TFIDF_BCAST_VOCAB": Knob(2_000_000, "distinct tokens for the tfidf/BPE vocab broadcast"),
    # 200k words x ~8 syms is a few MB and a sub-second loop; web-scale
    # corpora with 10M+ distinct words take the distributed iteration.
    "TOMIX_BPE_LOCAL_WORDS": Knob(200_000, "distinct words for the driver BPE merge loop"),
    # Buckets are languages/sources, intrinsically few: a bucketing that
    # explodes past the cap is degenerate, but the gate makes the broadcast
    # bound runtime-checked like decontam's.
    "TOMIX_MIXTURE_BCAST_BUCKETS": Knob(100_000, "buckets for mixture_rebalance's rates broadcast"),
    "TOMIX_DECONTAM_BCAST_DOCS": Knob(100_000, "eval docs for decontam's eval-shingle broadcast"),
    "TOMIX_EMB_BCAST_VECS": Knob(100_000, "held-out vectors in embedding decontam's closure"),
    # The REAL task-memory bound of every pair kernel: a block pair's naive
    # (nL x nR) score matrix is O((N/B)^2) cells regardless of n_blocks —
    # the round-11 probe sized it at 14 GB/task at 1M x 110k decontam
    # scale before chunking. Kernels score the left side in row chunks of
    # cap // nR (~32 MB of int64), and only hits accumulate.
    "TOMIX_SCORE_CELLS_CAP": Knob(4_000_000, "score-matrix cells per matmul in every pair kernel"),
    # The edge set after dedup is the identity graph, tiny relative to the
    # event volume that produced it: ~2M edges of short string ids is low
    # hundreds of MB on the driver — comfortably collectable.
    "TOMIX_CC_LOCAL_MAX": Knob(2_000_000, "distinct edges for driver union-find components"),
    "TOMIX_LM_BCAST_BIGRAMS": Knob(2_000_000, "bigram types for the bigram-LM model broadcast"),
    "TOMIX_ASOF_BCAST_ROWS": Knob(1_000_000, "right rows for as-of strategy='auto' broadcast"),
    "TOMIX_ASOF_MERGE_ROWS": Knob(262_144, "left rows per merge_asof call in the broadcast as-of"),
    "TOMIX_DEDUP_INDEX_DRIVER_CAP": Knob(65_536, "batch hashes for the dedup index driver merge"),
    "TOMIX_CAGG_DRIVER_MERGE_CAP": Knob(65_536, "partial cells for the cagg driver merge"),
    # -- caches (serving accelerators; never needed for a correct answer) --
    "TOMIX_CACHE_TABLES": Knob(False, "in-memory table and fixture cache"),
    "TOMIX_CACHE_MAX": Knob(48, "LRU capacity of the table cache"),
    "TOMIX_CACHE_PARTS": Knob(0, "repartition cached tables to N partitions (0: off)"),
    "TOMIX_CACHE_PARTS_MIN_MB": Knob(1.0, "skip that repartition for smaller tables"),
    "TOMIX_CACHE_DERIVED": Knob(False, "cache derived artifacts across queries"),
    # -- environment plumbing --
    "TOMIX_CHECKPOINT_DIR": Knob(None, "reliable checkpoint() root; unset: localCheckpoint"),
    "TOMIX_IMG_MAX_PIXELS": Knob(1 << 26, "JPEG decode pixel cap"),
    "TOMIX_JPEG_PROG_ALLOC_FLOOR_MB": Knob(16, "progressive-JPEG allocation floor"),
    "TOMIX_STREAM_SCRATCH": Knob(None, "streaming parity scratch root; unset: /dev/shm if roomy"),
}


def knob(name: str) -> int | float | bool | str | None:
    """Current value of knob ``name`` (KeyError for a name not in KNOBS)."""
    default = KNOBS[name].default
    raw = os.environ.get(name)
    if raw is None:
        return default
    if isinstance(default, bool):
        return bool(raw)
    if default is None:
        return raw
    return type(default)(raw)
