"""Query workloads: frozen lists of registered queries, one client, one query
at a time.

Each query's DataFrame is built fresh (``registry()[q].fn``) and collected
with ``toPandas``; its result is checked against the stored DuckDB-oracle
fingerprint after the query's time is taken. The workload seed permutes the
query order of every pass.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field

from fingerprint import frame_fingerprint
from spans import (
    COUNTER_NAMES,
    SparkCounters,
    Tracer,
    median,
    percentile,
    traced_call,
)

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.001")

# Operator modules behind each list. ``streaming_parity`` is left out: its
# rows start a real Structured Streaming engine per query. ``csv_scan``
# (sources.csv) is left out because it stages a CSV copy under a fixed
# /tmp path, outside the benchmark's working directory.
LIST_MODULES = {
    "query_events": (
        "events", "analytics", "relational", "asof", "ranges",
        "transform_parity", "packing",
    ),
    "query_corpus": (
        "dedup", "similarity", "pipelines", "identity", "textops", "bpe",
        "multimodal",
    ),
}


def module_of(spec) -> str:
    return spec.fn.__module__.rsplit(".", 1)[-1]


def registry_lists(reg) -> dict[str, list[str]]:
    """What the frozen lists would be if taken from ``reg`` now."""
    return {
        wl: sorted(n for n, s in reg.items() if module_of(s) in mods)
        for wl, mods in LIST_MODULES.items()
    }


@dataclass
class QueryRun:
    """Outcome of one query call."""

    name: str
    build_s: float
    exec_s: float
    ok: bool
    rows: int = 0

    @property
    def total_s(self) -> float:
        return self.build_s + self.exec_s


@dataclass
class QueryWorkload:
    spark: object
    names: list[str]
    expected: dict[str, str]
    seed: int
    perturb: str = ""
    failures: list = field(default_factory=list)

    def __post_init__(self):
        from tomixpanel_spark.operators import registry

        self.reg = registry()
        self.rng = random.Random(self.seed)

    def stage_tables(self) -> float:
        """Drop and refill the table cache; returns seconds."""
        from tomixpanel_spark.operators.base import TABLES, clear_table_cache, table

        t0 = time.perf_counter()
        clear_table_cache()
        for t in TABLES:
            table(self.spark, DATA_DIR, t).count()
        return time.perf_counter() - t0

    def _check(self, name: str, pdf, schema) -> bool:
        if name == self.perturb and len(pdf):
            pdf = pdf.iloc[1:]
        return frame_fingerprint(pdf, schema) == self.expected.get(name)

    def run_query(self, name: str, tracer: Tracer | None = None,
                  counters: SparkCounters | None = None) -> tuple[QueryRun, object]:
        """Build, collect and check one query. With ``tracer`` and
        ``counters`` each step runs in a span and a job group of its own."""
        mod = self._module(name)
        t0 = t1 = time.perf_counter()
        df = None
        try:
            with traced_call(tracer, counters, f"operators.{mod}.build", f"{name}:build"):
                df = self.reg[name].fn(self.spark, DATA_DIR)
            t1 = time.perf_counter()
            with traced_call(tracer, counters, f"operators.{mod}.exec", f"{name}:exec"):
                pdf = df.toPandas()
            t2 = time.perf_counter()
        except Exception as e:  # a failing query is counted, not fatal
            self.failures.append(f"{name}: {type(e).__name__}: {e}"[:300])
            return QueryRun(name, t1 - t0, time.perf_counter() - t1, False), df
        ok = self._check(name, pdf, df.schema)
        if not ok:
            self.failures.append(f"{name}: result fingerprint mismatch")
        return QueryRun(name, t1 - t0, t2 - t1, ok, len(pdf)), df

    def _module(self, name: str) -> str:
        return module_of(self.reg[name]) if name in self.reg else "missing"

    def run_pass(self) -> list[QueryRun]:
        return [self.run_query(n)[0] for n in self._order()]

    def _order(self) -> list[str]:
        order = list(self.names)
        self.rng.shuffle(order)
        return order

    def traced_pass(self, tracer: Tracer, counters: SparkCounters) -> tuple[list[QueryRun], dict]:
        """One pass with spans and Spark counters around every call; returns
        the runs and per-layer metrics summed over the pass."""
        from tomixpanel_spark.plans.audit import exchange_count

        out: dict[str, float] = {"operators.build_jobs": 0}
        out.update({f"spark.{k}": 0 for k in COUNTER_NAMES})
        runs = []
        for name in self._order():
            tracer.run_id = name
            run, df = self.run_query(name, tracer, counters)
            runs.append(run)
            mod = f"operators.{self._module(name)}"
            b, e = counters.read(f"{name}:build"), counters.read(f"{name}:exec")
            add = {
                f"{mod}.jobs": b["jobs"] + e["jobs"],
                f"{mod}.shuffle_bytes": b["shuffle_write_bytes"] + e["shuffle_write_bytes"],
                f"{mod}.exchanges": exchange_count(df) if df is not None else 0,
                "operators.build_jobs": b["jobs"],
            }
            add.update({f"spark.{k}": b[k] + e[k] for k in COUNTER_NAMES})
            add.update({f"{k}_s": v for k, v in tracer.self_times(name).items()})
            for k, v in add.items():
                out[k] = out.get(k, 0) + v
        return runs, out


def summarize(passes: list[list[QueryRun]]) -> dict:
    """End-to-end query metrics over measured passes."""
    samples = [r.total_s for p in passes for r in p]
    return {
        "pass_s": median([sum(r.total_s for r in p) for p in passes]),
        "records_per_s": median(
            [sum(r.rows for r in p) / sum(r.total_s for r in p) for p in passes]),
        "query_p50_s": percentile(samples, 50),
        "query_p90_s": percentile(samples, 90),
        "samples": len(samples),
    }
