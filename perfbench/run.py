"""Repository benchmark: the toMixpanel ETL path and the registered queries,
on Spark ``local[<cores>]``, one client in a closed loop.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads. ``BENCHMARK.json`` lists the two that fit its run budget and
says why each was chosen; the other two are run by hand and by the self-tests.

* ``etl_ga_checkpointed`` -- seeded GA360 sessions (2,000) through
  ``pipeline.run`` to the loopback stub with ``save_local_copy``: partitioned
  lake write, send from the checkpoint, receipts persisted and re-read.
* ``query_events`` -- the frozen list of the event/relational/analytics
  queries (``frozen.json``) over the bundled sf0.001 tables.
* ``etl_amplitude`` -- seeded Amplitude export NDJSON.gz (20,000 events), gzip,
  2,000-record / 2 MB batches, no checkpoint. By hand.
* ``query_corpus`` -- the frozen list of the dedup/similarity/text queries.
  By hand.

A run sets up (session start, input staging three times, one warm-up pass at
full size), measures for ``--seconds`` (and at least the passes the
statistics need), checks every output, and prints two lines: a detail record,
then the result object ``{"correct", "attempted", "failed", "metrics"}``.

End-to-end metrics (``--trace 0``), the same names on every workload:

* ``setup_s`` -- session start + median of three input stagings (ETL: write
  the seeded files; queries: refill the table cache) + the warm-up pass.
* ``pass_s`` -- one pass over the workload's input, median over passes: one
  ``pipeline.run`` over all input files, or one pass over the query list.
* ``records_per_s`` -- records delivered per second of a pass, median over
  passes: records the stub acknowledged, each counted once, or result rows
  collected by the query client.
* ``query_p50_s`` / ``query_p90_s`` -- latency of one request, pooled over
  the measured passes. Queries: one query (build + execute + ``toPandas``),
  at least 100 samples so p90 has ten above it. ETL: one record, from the
  start of ``pipeline.run`` until the stub has the body carrying it -- the
  time until half, or nine tenths, of the records are imported.
* ``peak_rss_mb`` -- peak summed RSS of the driver, the JVM and the Python
  workers during the measured phase.

``failed``/``attempted`` carry the failure share: records that break an ETL
check, or queries that raise or whose result fingerprint differs from the
stored DuckDB-oracle one.

``--trace 1`` runs the measured phase untraced, then again with spans and
Spark job groups around the layer calls, then single-layer probes, and
reports the ``per_layer`` metrics. Spans go to ``perfbench/_out/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(HERE, "_work")
OUT_DIR = os.path.join(HERE, "_out")
FROZEN = os.path.join(HERE, "frozen.json")
ETL_WORKLOADS = ("etl_amplitude", "etl_ga_checkpointed")
QUERY_WORKLOADS = ("query_events", "query_corpus")
# The table-cache settings bench.py uses; every other TOMIX_* variable is
# cleared so both sides of a comparison run with the same knobs.
TOMIX_ENV = {"TOMIX_CACHE_TABLES": "1", "TOMIX_CACHE_PARTS": "8",
             "TOMIX_CACHE_PARTS_MIN_MB": "0.4"}
DRIVER_MEM = "2g"
STAGINGS = 3
MIN_ETL_JOBS = 3
MIN_SAMPLES = 100

sys.path.insert(0, HERE)

from etl import EtlWorkload, Stub  # noqa: E402
from queries import QueryWorkload, summarize  # noqa: E402
from spans import RssSampler, SparkCounters, Tracer, median, percentile  # noqa: E402


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=ETL_WORKLOADS + QUERY_WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "tiny"), default="bench",
                    help="tiny (self-tests): small ETL inputs, every 8th query")
    ap.add_argument("--drop-batch", type=int, default=0,
                    help="self-test: the stub loses its N-th POST")
    ap.add_argument("--perturb", default="",
                    help="self-test: drop a row from this query's result before the check")
    return ap.parse_args(argv)


def pin_environment(work: str) -> None:
    for k in [k for k in os.environ if k.startswith("TOMIX_")]:
        del os.environ[k]
    os.environ.update(TOMIX_ENV)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # every JVM, the launcher's included, keeps its temp files in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str):
    from tomixpanel_spark.session import ensure_semantics, session_builder

    n = cores()
    spark = (
        session_builder("perfbench", master=f"local[{n}]", shuffle_partitions=n)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    ensure_semantics(spark)
    return spark


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def stop_spark(spark) -> None:
    """Stop the session, then the JVM (it exits when its stdin closes), and
    wait for it."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


# ------------------------------------------------------------------ ETL
def run_etl(spark, args, work: str, frozen: dict, session_s: float) -> dict:
    fps = frozen["etl"][args.workload][args.scale]
    stub = Stub(args.drop_batch)
    try:
        w = EtlWorkload(spark, args.workload, args.scale, args.seed, work, stub, fps)
        staging_s = median([w.stage() for _ in range(STAGINGS)])
        warm_s, v, _ = w.job()
        verdicts = [v]
        w.after_job()

        def measured(seconds: float):
            walls, rps, delays = [], [], []
            t_end = time.perf_counter() + seconds
            while time.perf_counter() < t_end or len(walls) < MIN_ETL_JOBS:
                wall, v, _ = w.job()
                w.after_job()
                verdicts.append(v)
                walls.append(wall)
                rps.append(v.acked_once / wall)
                delays.extend(v.delays)
            return walls, rps, delays

        out = {"detail": {"expected": w.expected.__dict__, "staging_s": staging_s,
                          "warmup_s": warm_s}}
        if not args.trace:
            with RssSampler(jvm_pid(spark)) as rss:
                walls, rps, delays = measured(args.seconds)
            out["metrics"] = {
                "setup_s": session_s + staging_s + warm_s,
                "pass_s": median(walls),
                "records_per_s": median(rps),
                "query_p50_s": percentile(delays, 50),
                "query_p90_s": percentile(delays, 90),
                "peak_rss_mb": rss.peak_kb / 1024,
            }
            out["detail"].update(passes=len(walls), samples=len(delays))
        else:
            tracer, counters = Tracer(), SparkCounters(spark)
            walls, t_walls, t_verdicts, layers = w.traced_run(
                args.seconds, MIN_ETL_JOBS, tracer, counters)
            verdicts.extend(t_verdicts)
            layers.update(w.layer_probes())
            layers["trace.overhead_share"] = median(t_walls) / median(walls) - 1
            tracer.dump(os.path.join(OUT_DIR, f"spans-{args.workload}-{args.seed}.jsonl"))
            out["metrics"] = layers
            out["detail"].update(passes=len(walls), traced_passes=len(t_walls))
        out["attempted"] = sum(v.attempted for v in verdicts)
        out["failed"] = sum(v.failed for v in verdicts)
        out["problems"] = w.failures
        return out
    finally:
        stub.close()


# -------------------------------------------------------------- queries
def run_queries(spark, args, frozen: dict, session_s: float) -> dict:
    names = frozen["queries"][args.workload]
    if args.scale == "tiny":
        names = names[::8]
    q = QueryWorkload(spark, names, frozen["fingerprints"], args.seed, args.perturb)
    staging_s = median([q.stage_tables() for _ in range(STAGINGS)])
    warm = q.run_pass()
    warm_s = sum(r.total_s for r in warm)
    runs = list(warm)
    min_passes = math.ceil(MIN_SAMPLES / len(names))

    def measured(seconds: float):
        passes = []
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end or len(passes) < min_passes:
            passes.append(q.run_pass())
        runs.extend(r for p in passes for r in p)
        return passes

    out = {"detail": {"queries": len(names), "staging_s": staging_s, "warmup_s": warm_s}}
    if not args.trace:
        with RssSampler(jvm_pid(spark)) as rss:
            passes = measured(args.seconds)
        s = summarize(passes)
        out["metrics"] = {
            "setup_s": session_s + staging_s + warm_s,
            "pass_s": s["pass_s"],
            "records_per_s": s["records_per_s"],
            "query_p50_s": s["query_p50_s"],
            "query_p90_s": s["query_p90_s"],
            "peak_rss_mb": rss.peak_kb / 1024,
        }
        out["detail"].update(passes=len(passes), samples=s["samples"])
    else:
        # untraced passes before and after the traced one, so warm-up drift
        # does not read as tracing overhead
        before = q.run_pass()
        tracer, counters = Tracer(), SparkCounters(spark)
        traced, layers = q.traced_pass(tracer, counters)
        after = q.run_pass()
        runs.extend(before + traced + after)
        untraced_s = (sum(r.total_s for r in before + after)) / 2
        layers["trace.overhead_share"] = sum(r.total_s for r in traced) / untraced_s - 1
        tracer.dump(os.path.join(OUT_DIR, f"spans-{args.workload}-{args.seed}.jsonl"))
        out["metrics"] = layers
    out["attempted"] = len(runs)
    out["failed"] = sum(not r.ok for r in runs)
    out["problems"] = q.failures
    return out


def declared_metrics(trace: int) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def main(argv=None) -> int:
    args = parse_args(argv)
    # SIGTERM unwinds like an exception, so the JVM and the stub are stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    import tomixpanel_spark  # noqa: F401  (fail here, before any output)

    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    pin_environment(work)

    with open(FROZEN) as f:
        frozen = json.load(f)
    units = declared_metrics(args.trace)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work)
        session_s = time.perf_counter() - t0
        if args.workload in ETL_WORKLOADS:
            res = run_etl(spark, args, work, frozen, session_s)
        else:
            res = run_queries(spark, args, frozen, session_s)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    # a layer this workload never calls reads 0; query_corpus also reports
    # its own operator modules, which BENCHMARK.json does not list
    values = {k: res["metrics"].get(k, 0) for k in units}
    extra = {k: v for k, v in res["metrics"].items() if k not in units}
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    if args.workload == "query_corpus":
        metrics.update({k: {"value": v, "unit": _unit(k)} for k, v in extra.items()})
    detail = dict(res["detail"], workload=args.workload, seed=args.seed,
                  cores=cores(), tomix_env=TOMIX_ENV, driver_memory=DRIVER_MEM,
                  failed_share=res["failed"] / max(1, res["attempted"]),
                  problems=res["problems"][:20])
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": res["failed"] == 0 and not res["problems"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    return "bytes" if name.endswith("bytes") else "count"


if __name__ == "__main__":
    sys.exit(main())
