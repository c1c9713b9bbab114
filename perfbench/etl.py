"""ETL workloads: ``pipeline.run`` against the loopback stub, one job at a
time (a closed loop with one client).

Per job the benchmark times ``pipeline.run`` alone. Outside that interval it
removes the checkpoint directory, fetches the bodies the stub stored, checks
them and drops the job's cached source.
"""

from __future__ import annotations

import contextlib
import gzip
import json
import os
import shutil
import subprocess
import sys
import time
import urllib.request
from dataclasses import dataclass, field

import gen
from fingerprint import records_fingerprint
from spans import ListParam, SparkCounters, Tracer, median, patched, percentile

HERE = os.path.dirname(os.path.abspath(__file__))
MAX_RECORDS = 2000
MAX_BYTES = 2 * 1024 * 1024
STREAMS = ("events", "profiles", "merges")
RUN_TIME_MS = 1_700_000_000_000


@dataclass(frozen=True)
class EtlSpec:
    source: str  # "amplitude" | "ga"
    sizes: dict  # scale -> input events (amplitude) or sessions (ga)
    checkpointed: bool


SPECS = {
    "etl_amplitude": EtlSpec("amplitude", {"bench": 20_000, "tiny": 2_000}, False),
    "etl_ga_checkpointed": EtlSpec("ga", {"bench": 2_000, "tiny": 300}, True),
}


class Stub:
    """The stub server process (``stub.py``) and its control endpoints."""

    def __init__(self, drop_batch: int = 0):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "stub.py"), "--drop-batch", str(drop_batch)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
        )
        self.base = f"http://127.0.0.1:{int(self.proc.stdout.readline())}"

    def dump(self) -> list[tuple[str, float, bytes]]:
        """Stored requests as ``(path, arrival, body)``."""
        with urllib.request.urlopen(f"{self.base}/_ctl/dump", timeout=60) as r:
            blob = r.read()
        items, pos = [], 0
        while pos < len(blob):
            a = blob.index(b"\n", pos)
            b = blob.index(b"\n", a + 1)
            c = blob.index(b"\n", b + 1)
            end = c + 1 + int(blob[b + 1 : c])
            items.append((blob[pos:a].decode(), float(blob[a + 1 : b]), blob[c + 1 : end]))
            pos = end
        return items

    def reset(self) -> None:
        req = urllib.request.Request(f"{self.base}/_ctl/reset", data=b"", method="POST")
        urllib.request.urlopen(req, timeout=60).read()

    def close(self) -> None:
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


@dataclass
class Verdict:
    """Checks on what the stub received for one job."""

    attempted: int
    acked_once: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    # (arrival, records) of every well-formed body
    arrivals: list = field(default_factory=list)
    delays: list = field(default_factory=list)


def _stream(path: str, rec: dict) -> str:
    if path.startswith("/engage"):
        return "profiles"
    return "merges" if rec.get("event") == "$merge" else "events"


def verify(items: list[tuple[str, float, bytes]], expected: gen.Expected,
           fingerprints: dict[str, str]) -> Verdict:
    """Every body is gzip and a JSON array within both batch caps; every
    ``$insert_id`` arrived once; the per-stream counts equal the generator's;
    each stream's content fingerprint equals the stored one. A record that
    breaks a check counts as failed: in a bad body, missing, duplicated or,
    when only the content differs, every record of its stream."""
    got = {s: [] for s in STREAMS}
    bad = dict.fromkeys(STREAMS, 0)
    v = Verdict(attempted=expected.records)
    for path, arrival, body in items:
        try:
            raw = gzip.decompress(body)
            recs = json.loads(raw)
        except (OSError, EOFError, ValueError) as e:
            v.problems.append(f"{path}: body is not gzip JSON ({type(e).__name__})")
            continue
        if not isinstance(recs, list):
            v.problems.append(f"{path}: body is not a JSON array")
            continue
        over = len(recs) > MAX_RECORDS or len(raw) > MAX_BYTES
        if over:
            v.problems.append(f"{path}: batch of {len(recs)} records / {len(raw)} bytes")
        else:
            v.arrivals.append((arrival, len(recs)))
        for r in recs:
            s = _stream(path, r)
            if over:
                bad[s] += 1
            else:
                got[s].append(r)
    for s in STREAMS:
        want = getattr(expected, s)
        recs = got[s]
        if s == "profiles":
            unique, dup = len(recs), 0
        else:
            keys = [(r.get("properties") or {}).get("$insert_id") for r in recs]
            unique = len(set(keys) - {None})
            dup = len(keys) - unique
        missing = max(0, want - unique)
        extra = dup + max(0, unique - want)
        content = 0
        if not missing and not extra and records_fingerprint(recs) != fingerprints.get(s):
            content = want
            v.problems.append(f"{s}: content fingerprint differs from the stored one")
        if missing or extra:
            v.problems.append(f"{s}: {unique} unique of {want} expected, {dup} duplicated")
        v.failed += bad[s] + missing + extra + content
        v.acked_once += min(unique, want)
    return v


def stream_fingerprints(items: list[tuple[str, float, bytes]]) -> dict[str, str]:
    """Per-stream fingerprints of a run taken as correct (``oracle.py``)."""
    got = {s: [] for s in STREAMS}
    for path, _, body in items:
        for r in json.loads(gzip.decompress(body)):
            got[_stream(path, r)].append(r)
    return {s: records_fingerprint(got[s]) for s in STREAMS}


def noop_s(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def data_files(root: str) -> tuple[int, int]:
    n = size = 0
    for dp, _, fs in os.walk(root):
        for f in fs:
            if f.startswith("part-"):
                n += 1
                size += os.path.getsize(os.path.join(dp, f))
    return n, size


class EtlWorkload:
    def __init__(self, spark, name: str, scale: str, seed: int, work: str,
                 stub: Stub, fingerprints: dict[str, str]):
        self.spark = spark
        self.spec = SPECS[name]
        self.seed = seed
        self.work = work
        self.stub = stub
        self.fingerprints = fingerprints
        n = self.spec.sizes[scale]
        make = gen.amplitude_records if self.spec.source == "amplitude" else gen.ga_records
        self.lines, self.expected = make(n)
        self.paths: list[str] = []
        self.save_dir = os.path.join(work, "save")
        self.failures: list[str] = []
        self._stage_n = 0
        self.last_items: list[tuple[str, float, bytes]] = []

    def stage(self) -> float:
        """Write the seeded input files to a fresh directory; returns seconds."""
        t0 = time.perf_counter()
        self._stage_n += 1
        self.paths = gen.write_shards(
            self.lines, self.seed, os.path.join(self.work, f"in{self._stage_n}")
        )
        return time.perf_counter() - t0

    def config(self) -> dict:
        dopts = {
            "import_url": f"{self.stub.base}/import",
            "engage_url": f"{self.stub.base}/engage",
            "gzip": True,
            "recordsPerBatch": MAX_RECORDS,
            "profilesPerBatch": MAX_RECORDS,
        }
        if self.spec.checkpointed:
            dopts.update(save_local_copy=True, save_dir=self.save_dir)
        if self.spec.source == "amplitude":
            src = {"name": "amplitude", "options": {"path": self.paths, "run_time_ms": RUN_TIME_MS}}
        else:
            src = {"name": "ga", "options": {"path_to_data": self.paths}}
        return {"source": src, "destination": {"name": "mixpanel", "token": "bench-token",
                                               "options": dopts}}

    def job(self, transport=None, ctx=None) -> tuple[float, Verdict, dict]:
        """One ``pipeline.run``; returns its wall seconds, the verdict and
        the pipeline's receipt summary. ``ctx`` wraps the timed call. The
        verdict's ``delays`` hold, per acknowledged record, the seconds from
        the start of the run until the stub had its body."""
        from tomixpanel_spark import pipeline

        shutil.rmtree(self.save_dir, ignore_errors=True)
        cfg = self.config()
        with ctx or contextlib.nullcontext():
            start = time.monotonic()
            t0 = time.perf_counter()
            summary = pipeline.run(self.spark, cfg, transport=transport)
            wall = time.perf_counter() - t0
        self.last_items = self.stub.dump()
        verdict = verify(self.last_items, self.expected, self.fingerprints)
        verdict.delays = [a - start for a, n in verdict.arrivals for _ in range(n)]
        self.failures.extend(verdict.problems)
        self.stub.reset()
        return wall, verdict, summary

    def after_job(self) -> None:
        self.spark.catalog.clearCache()

    # ------------------------------------------------------------ traced run
    def _targets(self) -> list:
        from tomixpanel_spark import pipeline
        from tomixpanel_spark.sinks import lake
        from tomixpanel_spark.sinks.http import HttpSink
        from tomixpanel_spark.sources import staging

        t = [
            (pipeline, "build", "pipeline.build"),
            (staging, "valid_records", "sources.read"),
            (HttpSink, "send", "sinks.http.send"),
            (pipeline, "summarize_receipts", "sinks.http.send"),
            (lake, "write_events_partitioned", "sinks.lake.write"),
            (lake, "write_local_copy", "sinks.lake.write"),
        ]
        if self.spec.source == "amplitude":
            from tomixpanel_spark.sources.amplitude import AmplitudeSource
            from tomixpanel_spark.transforms import amplitude

            t += [(AmplitudeSource, "read", "sources.read"),
                  (amplitude, "amplitude_to_mixpanel", "transforms.build")]
        else:
            from tomixpanel_spark.sources.gcs import GcsGaSource
            from tomixpanel_spark.transforms import ga

            t += [(GcsGaSource, "read", "sources.read"),
                  (ga, "ga_events", "transforms.build"),
                  (ga, "ga_profiles", "transforms.build")]
        return t

    def traced_run(self, seconds: float, min_pairs: int, tracer: Tracer,
                   counters: SparkCounters) -> tuple[list[float], list[float], list, dict]:
        """Untraced and traced jobs in turn, so JIT warm-up drift falls on
        both sides alike. A traced job runs with spans around the layer
        calls, a job group and a timing transport. Returns the untraced and
        traced walls, all verdicts and the per-layer metrics: the median over
        traced jobs, POST latencies pooled."""
        transport, calls, lat = timing_transport(self.spark.sparkContext)
        untraced, traced, verdicts, per_job, lats = [], [], [], [], []
        t_end = time.perf_counter() + seconds
        while len(traced) < min_pairs or time.perf_counter() < t_end:
            wall, verdict, _ = self.job()
            self.after_job()
            untraced.append(wall)
            verdicts.append(verdict)
            rid = f"job{len(traced)}"
            tracer.run_id = rid
            calls.value, lat.value = 0, []
            ctx = contextlib.ExitStack()
            ctx.enter_context(patched(tracer, self._targets()))
            ctx.enter_context(counters.group(rid))
            ctx.enter_context(tracer.span("pipeline.run"))
            wall, verdict, summary = self.job(transport=transport, ctx=ctx)
            traced.append(wall)
            verdicts.append(verdict)
            lats.extend(lat.value)
            per_job.append(self._job_layers(rid, tracer, counters, summary, calls.value))
            self.after_job()
        out = {k: median([j[k] for j in per_job]) for k in per_job[0]}
        out["sinks.http.post_p50_ms"] = percentile(lats, 50) * 1000
        out["sinks.http.post_p90_ms"] = percentile(lats, 90) * 1000
        # the last job's checkpoint stays on disk until the next job starts
        out["sinks.lake.files_written"], out["sinks.lake.bytes_written"] = (
            data_files(self.save_dir))
        out["sinks.lake.receipts_s"] = self._receipts_probe()
        return untraced, traced, verdicts, out

    def _job_layers(self, rid: str, tracer: Tracer, counters: SparkCounters,
                    summary: dict, posts: int) -> dict:
        st = tracer.self_times(rid)
        batches = sum(s["batches"] for s in summary.values())
        records = sum(s["imported"] + s["failed"] for s in summary.values())
        m = {f"spark.{k}": v for k, v in counters.read(rid).items()}
        m.update({
            "pipeline.build_s": st.get("pipeline.build", 0.0),
            "transforms.build_s": st.get("transforms.build", 0.0),
            "sources.read_s": st.get("sources.read", 0.0),
            # checkpointed, the receipt write inside pipeline.run drives the
            # POSTs, so the un-spanned rest of pipeline.run is send time
            "sinks.http.send_s": st.get("sinks.http.send", 0.0)
            + (st.get("pipeline.run", 0.0) if self.spec.checkpointed else 0.0),
            "sinks.http.posts": posts,
            "sinks.http.retries": posts - batches,
            "sinks.http.batch_fill": records / max(1, posts) / MAX_RECORDS,
            "sinks.http.bytes_sent": sum(s["bytes_sent"] for s in summary.values()),
            "sinks.lake.write_s": st.get("sinks.lake.write", 0.0),
        })
        return m

    def _receipts_probe(self) -> float:
        """Persist, re-read and summarise the last job's receipts the way the
        checkpointed send does; returns seconds."""
        from tomixpanel_spark.sinks.http import RECEIPT_SCHEMA, summarize_receipts

        total = 0.0
        for s in ("events", "profiles", "merges"):
            src = os.path.join(self.save_dir, f"{s}_receipts")
            if not os.path.isdir(src):
                continue
            receipts = self.spark.read.schema(RECEIPT_SCHEMA).json(src).cache()
            receipts.count()
            dst = os.path.join(self.work, "receipts_probe", s)
            t0 = time.perf_counter()
            receipts.write.mode("overwrite").json(dst)
            summarize_receipts(self.spark.read.schema(RECEIPT_SCHEMA).json(dst))
            total += time.perf_counter() - t0
            receipts.unpersist()
        return total

    def layer_probes(self) -> dict:
        """Source counts, transform self times and the single-thread
        driver-side replay of the sink's batching path."""
        from pyspark.sql import functions as F

        from tomixpanel_spark.sources.staging import CORRUPT_COL, valid_records

        out: dict[str, float] = {}
        if self.spec.source == "amplitude":
            from tomixpanel_spark.sources.amplitude import AmplitudeSource
            from tomixpanel_spark.transforms.amplitude import amplitude_to_mixpanel

            raw = AmplitudeSource("", "", "", "", "").read(self.spark, self.paths)
            valid = valid_records(raw)
            o = amplitude_to_mixpanel(valid, token="bench-token", run_time_ms=RUN_TIME_MS)
            outputs = {"events": o.events, "profiles": o.profiles, "merges": o.merges}
        else:
            from tomixpanel_spark.sources.gcs import GcsGaSource
            from tomixpanel_spark.transforms.ga import ga_events, ga_profiles

            raw = GcsGaSource("", "").read(self.spark, self.paths)
            valid = valid_records(raw)
            outputs = {"events": ga_events(valid), "profiles": ga_profiles(valid, "bench-token")}
        out["sources.rows_in"] = raw.count()
        out["sources.rows_quarantined"] = raw.filter(F.col(CORRUPT_COL).isNotNull()).count()
        # the source is cached: subtract the cost of scanning it
        base = median([noop_s(valid.select(F.lit(1))) for _ in range(3)])
        rows_out = 0
        for s in STREAMS:
            df = outputs.get(s)
            t = median([noop_s(df) for _ in range(3)]) - base if df is not None else 0.0
            out[f"transforms.{s}_s"] = max(0.0, t)
            rows_out += df.count() if df is not None else 0
        out["transforms.rows_out"] = rows_out
        out.update(_batching_replay(outputs))
        self.spark.catalog.clearCache()
        return out


def _batching_replay(outputs: dict) -> dict:
    """Run the collected canonical rows through the worker's per-record path
    in one driver thread: pandas ``to_dict`` + ``mp_*_record``, then
    ``iter_batches`` (serialise + pack), then ``batch_payload`` (gzip)."""
    from tomixpanel_spark.sinks.batching import batch_payload, iter_batches
    from tomixpanel_spark.sinks.http import mp_event_record, mp_merge_record, mp_profile_record

    to_rec = {"events": mp_event_record, "profiles": mp_profile_record,
              "merges": mp_merge_record}
    t_rec = t_pack = t_gzip = 0.0
    n = raw_bytes = wire_bytes = 0
    for s, df in outputs.items():
        pdf = df.toPandas()
        t0 = time.perf_counter()
        recs = [to_rec[s](r) for r in pdf.to_dict("records")]
        t1 = time.perf_counter()
        batches = list(iter_batches(recs, MAX_RECORDS, MAX_BYTES))
        t2 = time.perf_counter()
        bodies = [batch_payload(b, gzip=True) for b in batches]
        t3 = time.perf_counter()
        t_rec, t_pack, t_gzip = t_rec + t1 - t0, t_pack + t2 - t1, t_gzip + t3 - t2
        n += len(recs)
        raw_bytes += sum(sum(map(len, b)) + len(b) + 1 for b in batches)
        wire_bytes += sum(map(len, bodies))
    return {
        "sinks.batching.to_record_s": t_rec,
        "sinks.batching.serialize_pack_s": t_pack,
        "sinks.batching.gzip_s": t_gzip,
        "sinks.batching.wire_bytes_per_record": wire_bytes / max(1, n),
        "sinks.batching.gzip_ratio": raw_bytes / max(1, wire_bytes),
    }


def timing_transport(sc):
    """A transport for ``pipeline.run`` that POSTs with the stock
    ``urllib_transport`` and adds each call's latency to accumulators the
    driver reads after the job."""
    from pyspark import cloudpickle

    import spans
    from tomixpanel_spark.sinks.http import urllib_transport

    # the accumulator parameter class travels to the workers by value: they
    # cannot import this directory
    cloudpickle.register_pickle_by_value(spans)
    calls = sc.accumulator(0)
    lat = sc.accumulator([], ListParam())

    def transport(url, body, headers, method="POST"):
        t0 = time.perf_counter()
        try:
            return urllib_transport(url, body, headers, method)
        finally:
            calls.add(1)
            lat.add([time.perf_counter() - t0])

    return transport, calls, lat
