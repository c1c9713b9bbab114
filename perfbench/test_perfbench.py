"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q``.

The smoke tests run every workload at the tiny scale (small ETL inputs, an
eighth of each query list) with and without tracing, and check that every
metric ``BENCHMARK.json`` declares is emitted with its unit. The negative
tests check that a lost batch and a perturbed query result are caught.
"""

from __future__ import annotations

import gzip
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from etl import verify  # noqa: E402
from fingerprint import records_fingerprint  # noqa: E402

WORKLOADS = ("etl_amplitude", "etl_ga_checkpointed", "query_events", "query_corpus")


def declared(kind: str) -> dict[str, str]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def bench(workload: str, *extra: str) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--scale", "tiny", *extra],
        capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_emits_every_metric(workload, trace):
    detail, res = bench(workload, "--trace", trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0, detail
    want = declared("per_layer" if trace == "1" else "end_to_end")
    got = {k: m["unit"] for k, m in res["metrics"].items()}
    assert {k: got.get(k) for k in want} == want
    if trace == "0":
        assert all(res["metrics"][k]["value"] > 0 for k in want)
    extra = set(got) - set(want)
    assert not extra or workload == "query_corpus"


def test_lost_batch_counts_as_failed():
    detail, res = bench("etl_amplitude", "--drop-batch", "2")
    assert not res["correct"]
    assert res["failed"] > 0 and detail["failed_share"] > 0


def test_perturbed_query_result_is_a_mismatch():
    with open(os.path.join(HERE, "frozen.json")) as f:
        victim = json.load(f)["queries"]["query_events"][0]
    detail, res = bench("query_events", "--perturb", victim)
    assert not res["correct"] and res["failed"] > 0
    assert any(p.startswith(f"{victim}: result fingerprint mismatch")
               for p in detail["problems"])


def _body(records: list[dict]) -> bytes:
    return gzip.compress(json.dumps(records).encode())


def test_verify_counts_duplicates_and_oversized_batches():
    ev = [{"event": "e", "properties": {"$insert_id": f"i{k}"}} for k in range(3)]
    prof = [{"$distinct_id": "u"}]
    expected = gen.Expected(events=3, profiles=1, merges=0, lines=4, corrupt=0)
    fps = {"events": records_fingerprint(ev), "profiles": records_fingerprint(prof),
           "merges": records_fingerprint([])}
    good = [("/import", 1.0, _body(ev)), ("/engage", 2.0, _body(prof))]
    ok = verify(good, expected, fps)
    assert ok.failed == 0 and ok.arrivals == [(1.0, 3), (2.0, 1)]
    dup = good + [("/import", 3.0, _body(ev[:1]))]
    assert verify(dup, expected, fps).failed == 1
    big = [("/import", 1.0, _body(ev * 700)), ("/engage", 2.0, _body(prof))]
    assert verify(big, expected, fps).failed >= 2100
    assert verify([("/import", 1.0, b"not gzip")] + good[1:], expected, fps).failed == 3


def test_generators_repeat_per_seed_and_keep_content_across_seeds(tmp_path):
    lines, exp = gen.amplitude_records(300)
    a = gen.write_shards(lines, 1, str(tmp_path / "a"))
    b = gen.write_shards(lines, 1, str(tmp_path / "b"))
    c = gen.write_shards(lines, 2, str(tmp_path / "c"))

    def content(paths):
        return [open(p, "rb").read() for p in paths]

    assert content(a) == content(b) and content(a) != content(c)

    def lines_of(paths):
        return sorted(x for p in paths for x in gzip.decompress(open(p, "rb").read())
                      .decode().splitlines())

    assert lines_of(a) == lines_of(c) == sorted(lines)
    assert exp.lines == 300 and exp.events + exp.corrupt == 300
