"""HTTP sink: partition-parallel batched POSTs with retries, rate limiting,
and a dead-letter receipt stream (SURVEY.md §2.2 K4/K5/K7/K10, §4).

Design (the 100 TB stance):
  * The sink is a TRANSFORM, not a terminal action: ``send(df)`` returns a
    receipt DataFrame (one row per batch: status, counts, error, and the
    failed payload for dead-lettering). Callers aggregate receipts for
    totals, persist failures for replay, and the whole thing stays lazy /
    restartable. This deliberately improves on the reference, which
    swallows send errors per batch with no retry (K10,
    load/sendEventsToMixpanel.js:100-115; README.md:9 "no way to resume").
  * Idempotency: payloads carry deterministic $insert_id (T8), so Spark
    task retries re-sending a batch cannot double-import.
  * Concurrency = partition count: ``df.repartition(n)`` is the
    reference's 5-process fan-out (ampReplicator.js:27) done properly.
  * Rate limiting: fixed-interval pacing per partition (the reference
    sleeps 2 s between vendor batches, load/sendOther.js:110,223).
  * Transport is injectable — tests run against a local stub server or an
    in-process fake; production uses urllib. No external deps.
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from dataclasses import dataclass, field
from typing import Callable, Optional

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tomixpanel_spark.sinks.batching import (
    BYTES_PER_BATCH,
    EVENTS_PER_BATCH,
    batch_payload,
    iter_batches,
)

# transport(url, body, headers, method) -> (status_code, response_text)
Transport = Callable[[str, bytes, dict, str], tuple[int, str]]

RECEIPT_SCHEMA = (
    "partition_id int, batch_index int, n_records int, n_bytes int, "
    "status int, ok boolean, attempts int, error string, payload string"
)


def urllib_transport(
    url: str, body: bytes, headers: dict, method: str = "POST"
) -> tuple[int, str]:
    import urllib.error
    import urllib.request

    req = urllib.request.Request(url, data=body, headers=headers, method=method)
    try:
        with urllib.request.urlopen(req, timeout=60) as resp:
            return resp.status, resp.read().decode("utf-8", "replace")
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode("utf-8", "replace")


@dataclass
class HttpSinkConfig:
    url: str
    method: str = "POST"
    # envelope(batch: list[bytes]) -> request body; default JSON array.
    # Vendor APIs wrap batches differently (Amplitude {api_key, events},
    # identify form-encoding, Woopra NDJSON) — see sinks/reverse.py.
    envelope: Optional[Callable[[list], bytes]] = None
    headers: dict = field(default_factory=dict)
    max_records: int = EVENTS_PER_BATCH
    max_bytes: int = BYTES_PER_BATCH
    gzip: bool = True
    strict: bool = True  # Mixpanel /import strict=1 (K4, :166)
    max_attempts: int = 4
    backoff_s: float = 0.5  # exponential: 0.5, 1, 2, ...
    min_interval_s: float = 0.0  # rate limit between batches per partition
    retry_statuses: tuple = (429, 500, 502, 503, 504)
    keep_failed_payload: bool = True


class HttpSink:
    """Batched, retrying, receipt-emitting HTTP sink over any record
    DataFrame. ``to_record`` maps a Row (as dict) to the wire dict."""

    def __init__(
        self,
        cfg: HttpSinkConfig,
        to_record: Callable[[dict], dict],
        transport: Optional[Transport] = None,
    ):
        self.cfg = cfg
        self.to_record = to_record
        self.transport = transport or urllib_transport

    def send(
        self,
        df: DataFrame,
        concurrency: Optional[int] = None,
        target_rows_per_task: Optional[int] = None,
    ) -> DataFrame:
        """Returns the receipt DataFrame (lazy — an action on it drives the
        send). One POST task stream per partition.

        Partition count IS the request concurrency, and each partition
        packs its own batches — a tiny record set spread over many
        partitions fans out as under-filled POSTs (one per partition
        instead of one per ``max_records``). ``target_rows_per_task``
        opts into the bulk-load fix: persist + count the records (the
        sink drives an action, giving up laziness for sizing) and
        coalesce to ``ceil(n / target)`` partitions so batches fill.
        Sensible target: ``cfg.max_records`` (each task sends ~one full
        batch) or a small multiple of it for fewer, longer request
        streams."""
        from tomixpanel_spark.session import ship_package

        ship_package(df.sparkSession)
        if concurrency:
            df = df.repartition(concurrency)
        elif target_rows_per_task:
            df = df.persist()
            n = df.count()
            want = max(1, -(-n // target_rows_per_task))  # ceil div
            if want < df.rdd.getNumPartitions():
                df = df.coalesce(want)
        cfg, to_record, transport = self.cfg, self.to_record, self.transport

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId() if TaskContext.get() else -1
            url = cfg.url + ("&strict=1" if cfg.strict and "?" in cfg.url else ("?strict=1" if cfg.strict else ""))
            headers = dict(cfg.headers)
            headers.setdefault("Content-Type", "application/json")
            if cfg.gzip:
                headers["Content-Encoding"] = "gzip"

            def records() -> Iterator[dict]:
                for pdf in batches:
                    for rec in pdf.to_dict("records"):
                        yield to_record(rec)

            out = []
            last_send = 0.0
            for bi, batch in enumerate(
                iter_batches(records(), cfg.max_records, cfg.max_bytes)
            ):
                if cfg.envelope is not None:
                    import gzip as _g

                    raw = cfg.envelope(batch)
                    body = _g.compress(raw) if cfg.gzip else raw
                else:
                    body = batch_payload(batch, gzip=cfg.gzip)
                wait = cfg.min_interval_s - (time.monotonic() - last_send)
                if wait > 0:
                    time.sleep(wait)
                status, text, attempts = 0, "", 0
                for attempt in range(cfg.max_attempts):
                    attempts = attempt + 1
                    try:
                        status, text = transport(url, body, headers, cfg.method)
                    except Exception as e:  # network-level failure
                        status, text = -1, repr(e)
                    if status == 200:
                        break
                    if status not in cfg.retry_statuses and status != -1:
                        break
                    if attempt < cfg.max_attempts - 1:  # no sleep after last try
                        time.sleep(cfg.backoff_s * (2**attempt))
                last_send = time.monotonic()
                ok = status == 200
                out.append(
                    {
                        "partition_id": pid,
                        "batch_index": bi,
                        "n_records": len(batch),
                        "n_bytes": len(body),
                        "status": status,
                        "ok": ok,
                        "attempts": attempts,
                        "error": None if ok else text[:2000],
                        "payload": None
                        if ok or not cfg.keep_failed_payload
                        else (b"[" + b",".join(batch) + b"]").decode("utf-8"),
                    }
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "partition_id",
                    "batch_index",
                    "n_records",
                    "n_bytes",
                    "status",
                    "ok",
                    "attempts",
                    "error",
                    "payload",
                ],
            )

        return df.mapInPandas(run, schema=RECEIPT_SCHEMA)


def summarize_receipts(receipts: DataFrame) -> dict:
    """Aggregate receipt rows into the reference's summary counters
    (connectors/amplitudeETL.js:67-71 success/failed accounting)."""
    row = receipts.agg(
        F.count(F.lit(1)).alias("batches"),
        F.sum(F.when(F.col("ok"), F.col("n_records")).otherwise(0)).alias("imported"),
        F.sum(F.when(~F.col("ok"), F.col("n_records")).otherwise(0)).alias("failed"),
        F.sum("n_bytes").alias("bytes_sent"),
    ).collect()[0]
    return {k: (0 if row[k] is None else int(row[k])) for k in row.asDict()}


def dead_letters(receipts: DataFrame) -> DataFrame:
    """Failed batches with payloads — persist and replay (improves on K10
    error swallowing)."""
    return receipts.filter(~F.col("ok"))


MIXPANEL_IMPORT_URL_US = "https://api.mixpanel.com/import"
MIXPANEL_IMPORT_URL_EU = "https://api-eu.mixpanel.com/import"


def mixpanel_import_sink(
    project_id: str,
    username: str,
    secret: str,
    url: Optional[str] = None,
    eu: bool = False,
    transport: Optional[Transport] = None,
    **cfg_overrides,
) -> "HttpSink":
    """Service-account /import sink: builds the Basic Authorization header
    and project_id+strict=1 query params from credentials, the way the
    reference bakes them into the event loader
    (load/sendEventsToMixpanel.js:164-172: ``'Basic ' +
    btoa(username:password)``, ``?project_id=...&strict=1``).

    ``url`` overrides the endpoint for tests; otherwise the US/EU ingestion
    endpoint (sendEventsToMixpanel.js:13-14) is used. Extra keyword args
    pass through to :class:`HttpSinkConfig` (batching, pacing, retries).
    """
    import base64
    from urllib.parse import urlencode

    base = url or (MIXPANEL_IMPORT_URL_EU if eu else MIXPANEL_IMPORT_URL_US)
    sep = "&" if "?" in base else "?"
    full_url = f"{base}{sep}{urlencode({'project_id': project_id})}"
    tok = base64.b64encode(f"{username}:{secret}".encode()).decode()
    headers = dict(cfg_overrides.pop("headers", {}))
    headers["Authorization"] = f"Basic {tok}"
    cfg = HttpSinkConfig(url=full_url, headers=headers, **cfg_overrides)
    return HttpSink(cfg, mp_event_record, transport=transport)


def mp_event_record(rec: dict) -> dict:
    """Canonical typed event row -> Mixpanel /import wire shape."""
    props = dict(rec.get("props") or {})
    props.update(
        {
            "distinct_id": rec.get("distinct_id"),
            "time": rec.get("time_ms"),
            "$insert_id": rec.get("insert_id"),
        }
    )
    return {"event": rec.get("event"), "properties": props}


def mp_profile_record(rec: dict) -> dict:
    """Canonical profile row -> /engage $set wire shape (K5; token rides in
    each record, endpoint unauthenticated — sendProfilesToMixpanel.js:48-99)."""
    out = {
        "$token": rec.get("token"),
        "$distinct_id": rec.get("distinct_id"),
        "$ip": rec.get("ip"),
        "$set": dict(rec.get("set") or {}),
    }
    if rec.get("ignore_time"):
        out["$ignore_time"] = True
    return out


def mp_merge_record(rec: dict) -> dict:
    """Merge edge row -> $merge event wire shape (M5)."""
    return {
        "event": "$merge",
        "properties": {
            "$distinct_ids": [rec.get("id_a"), rec.get("id_b")],
            "$insert_id": rec.get("insert_id"),
            "time": rec.get("time_ms"),
        },
    }
