"""Order-insensitive result fingerprints.

Query results use the canonical form of ``tests/test_oracle_parity.py``:
columns sorted by name, each cell stringified (``repr`` for floats, lower
case for booleans, a NUL marker for NULL) and the rows sorted. The same
fingerprint is computed from DuckDB oracle rows, when the stored values are
made, and from the ``toPandas`` frame of the Spark run, so the pandas side
first maps pandas' stand-ins back to the values ``collect`` would give
(NaN for a NULL, floats for nullable integers, numpy and pandas scalars).

ETL output uses one fingerprint per stream over the parsed wire records,
each dumped with sorted keys, so any JSON-equal serialiser passes.
"""

from __future__ import annotations

import hashlib
import json
import math

_INTEGRAL = ("byte", "short", "integer", "long")


def _canon_cell(v) -> str:
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def rows_fingerprint(cols: list[str], rows: list[tuple]) -> str:
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    body = sorted(tuple(_canon_cell(r[i]) for i in idx) for r in rows)
    head = [cols[i] for i in idx]
    return hashlib.md5(repr((head, body)).encode("utf-8")).hexdigest()


def _from_pandas(v, integral: bool):
    import pandas as pd

    if v is None or v is pd.NaT:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return int(v) if integral else v
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    return v


def frame_fingerprint(pdf, schema) -> str:
    """Fingerprint of a ``toPandas`` result with its Spark ``schema``."""
    cols = list(pdf.columns)
    kinds = {f.name: f.dataType.typeName() in _INTEGRAL for f in schema.fields}
    columns = [
        [_from_pandas(v, kinds.get(c, False)) for v in pdf[c].astype(object).tolist()]
        for c in cols
    ]
    return rows_fingerprint(cols, list(zip(*columns)) if columns else [])


def records_fingerprint(records: list[dict]) -> str:
    lines = sorted(
        json.dumps(r, sort_keys=True, ensure_ascii=False, separators=(",", ":"))
        for r in records
    )
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()
