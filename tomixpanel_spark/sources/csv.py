"""CSV source (SURVEY.md §2.1 S5): header row, all values as strings.

Reference parity: Papa.parse ``{header: true}`` yields string-typed records
(reference connectors/csvETL.js:49-63); files with parse errors are skipped
(V3 gate). Spark: ``spark.read.option("header", True).csv`` with
``inferSchema`` off (all-strings semantics) and PERMISSIVE mode + corrupt
record column instead of skip-on-error.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

from tomixpanel_spark.operators.base import QuerySpec
from tomixpanel_spark.sources.staging import CORRUPT_COL


def read_csv_all_strings(
    spark: SparkSession, path: str, with_corrupt: bool = False
) -> DataFrame:
    """S5 scan: header=true, no schema inference — every column STRING,
    exactly the reference's record shape.

    ``with_corrupt=True`` adds the V3 parse gate as a queryable column
    (reference connectors/csvETL.js:49-63 skips whole files on Papa
    errors; the engine keeps good rows and quarantines bad ones).
    """
    reader = (
        spark.read.option("header", True)
        .option("inferSchema", False)
        .option("mode", "PERMISSIVE")
    )
    if not with_corrupt:
        return reader.csv(path)
    # the corrupt column must be declared in the schema for CSV: derive the
    # header's all-string schema first, then re-read with the column added.
    # cache(): Spark refuses corrupt-column-only queries on raw scans (same
    # restriction read_json_auto handles) — cache makes the quarantine
    # column actually queryable as advertised.
    schema = reader.csv(path).schema
    if CORRUPT_COL not in schema.names:
        schema = schema.add(CORRUPT_COL, "string")
    return (
        spark.read.option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .schema(schema)
        .csv(path)
        .cache()
    )


def _stage_events_csv(sf_dir: str) -> str:
    """Deterministically materialize a CSV copy of the events table (string
    columns only) so the scan operator has a genuine CSV input while the
    oracle runs against the parquet view.

    The copy is staged under the process temp dir and published by one
    atomic rename of a private directory, so a reader never sees a
    half-written file; the directory's existence marks a finished copy. A
    caller whose rename loses the race discards its own copy."""
    import duckdb

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), "tomixpanel_stage")
    out = os.path.join(root, f"events_csv_{key}")
    if not os.path.isdir(out):
        os.makedirs(root, exist_ok=True)
        private = tempfile.mkdtemp(prefix=".events_csv_", dir=root)
        con = duckdb.connect()
        try:
            con.execute(
                f"""
                COPY (
                  SELECT CAST(event_id AS VARCHAR) AS event_id,
                         CAST(user_id AS VARCHAR) AS user_id,
                         event_type
                  FROM '{sf_dir}/events.parquet'
                  ORDER BY event_id
                ) TO '{private}/events.csv' (HEADER, DELIMITER ',')
                """
            )
        finally:
            con.close()
        try:
            os.rename(private, out)
        except OSError:  # another caller published first
            shutil.rmtree(private, ignore_errors=True)
    return os.path.join(out, "events.csv")


def csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _stage_events_csv(sf_dir)
    return read_csv_all_strings(spark, path).select("event_id", "user_id", "event_type")


_CSV_SCAN_SQL = """
SELECT CAST(event_id AS VARCHAR) AS event_id,
       CAST(user_id AS VARCHAR) AS user_id,
       event_type
FROM events
"""


# Helper modules whose changes should count as a change to this
# module's registered queries for the external-window rotation
# (rule: code changed since last external green outranks staleness).
ROTATION_DEPS = [
    "tomixpanel_spark.sources.staging",
]

REGISTRY = {
    "csv_scan": QuerySpec(csv_scan, _CSV_SCAN_SQL, "S5"),
}
