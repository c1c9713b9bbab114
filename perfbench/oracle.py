"""Make, or check, the stored expectations in ``frozen.json``.

    python3 perfbench/oracle.py           # recompute and report drift by name
    python3 perfbench/oracle.py --write   # store the recomputed values

``frozen.json`` holds:

* ``queries`` -- the frozen query list of each query workload, so a query
  registered later does not change a workload unnoticed;
* ``fingerprints`` -- per query, the fingerprint of its DuckDB oracle result
  over the bundled tables (``fingerprint.rows_fingerprint``);
* ``etl`` -- per ETL workload and input scale, the per-stream fingerprints of
  the records the stub received from one ``pipeline.run``. The run is taken
  as correct only if its counts match the generator's and no ``$insert_id``
  repeats. Inputs differ by seed only in order and sharding, so one entry
  serves every seed.

The check mode exits 1 when anything differs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
from fingerprint import rows_fingerprint  # noqa: E402
from queries import DATA_DIR, registry_lists  # noqa: E402


def query_expectations(reg, names: set[str]) -> dict[str, str]:
    import duckdb

    from tomixpanel_spark.operators.base import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA_DIR}/{t}.parquet'")
        out = {}
        for name in sorted(names):
            res = con.execute(reg[name].oracle)
            cols = [d[0] for d in res.description]
            out[name] = rows_fingerprint(cols, [tuple(r) for r in res.fetchall()])
        return out
    finally:
        con.close()


def etl_expectations(work: str) -> dict:
    from etl import SPECS, EtlWorkload, Stub, stream_fingerprints, verify

    spark = run.start_spark(work)
    stub = Stub()
    out: dict = {}
    try:
        for name, spec in SPECS.items():
            for scale in spec.sizes:
                w = EtlWorkload(spark, name, scale, 1, work, stub, {})
                w.stage()
                w.job()
                items = w.last_items
                fps = stream_fingerprints(items)
                v = verify(items, w.expected, fps)
                if v.problems:
                    raise SystemExit(f"{name}/{scale}: not a correct run: {v.problems}")
                w.after_job()
                out.setdefault(name, {})[scale] = fps
    finally:
        stub.close()
        run.stop_spark(spark)
    return out


def diff(old: dict, new: dict, path: str = "") -> list[str]:
    out = []
    for k in sorted(set(old) | set(new)):
        where = f"{path}{k}"
        if k not in old:
            out.append(f"added: {where}")
        elif k not in new:
            out.append(f"removed: {where}")
        elif isinstance(old[k], dict) and isinstance(new[k], dict):
            out.extend(diff(old[k], new[k], where + "."))
        elif old[k] != new[k]:
            out.append(f"changed: {where}")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--write", action="store_true")
    args = ap.parse_args()
    work = os.path.join(run.WORK_ROOT, f"oracle-{os.getpid()}")
    run.pin_environment(work)
    sys.path.insert(0, run.ROOT)
    from tomixpanel_spark.operators import registry

    reg = registry()
    old = {}
    if os.path.exists(run.FROZEN):
        with open(run.FROZEN) as f:
            old = json.load(f)
    # check mode recomputes the stored lists; a name no longer registered
    # shows up as a removed fingerprint
    lists = registry_lists(reg) if args.write or not old else old["queries"]
    names = {n for v in lists.values() for n in v if n in reg}
    try:
        new = {
            "queries": lists,
            "fingerprints": query_expectations(reg, names),
            "etl": etl_expectations(work),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.write:
        with open(run.FROZEN, "w") as f:
            json.dump(new, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"wrote {run.FROZEN}")
        return 0
    drift = diff(old, new)
    # queries registered since the lists were frozen are reported, not run
    for wl, names_now in registry_lists(reg).items():
        for n in sorted(set(names_now) - set(old.get("queries", {}).get(wl, []))):
            drift.append(f"registered but not frozen: {wl}.{n}")
    for line in drift:
        print(line)
    print(json.dumps({"drift": len(drift)}))
    return 1 if drift else 0


if __name__ == "__main__":
    sys.exit(main())
