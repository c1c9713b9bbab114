"""Staged-file readers: NDJSON/JSON sniffing, archive expansion, directory
scans (SURVEY.md §2.1 S2/S3/S4/S9 + §2.5 V2).

The reference sniffs NDJSON-vs-JSON by try/parse (extract/
googleAnalytics.js:87-110) and walks directories by hand. Spark reads
NDJSON natively and JSON arrays with multiLine; the engine reads PERMISSIVE
with a corrupt-record column instead of skip-on-error loops, so bad lines
are *queryable*, not silently dropped.

Archives: gzip is a native Spark read codec (``*.json.gz`` just works —
S2's gunzip cascade disappears); zip has no Hadoop codec, so zips are
expanded driver-side into the staging dir exactly like the reference
shells out to unzip (extract/amplitude.js:78-103) — then Spark reads the
extracted tree in parallel.
"""

from __future__ import annotations

import gzip
import os
import shutil
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

CORRUPT_COL = "_corrupt_record"
SRC_FILE_COL = "_src_file"


def expand_zip(zip_path: str, out_dir: str) -> list[str]:
    """Driver-side zip expansion into the staging dir (S2). Gzipped members
    are left gzipped — Spark decompresses .gz natively on read."""
    os.makedirs(out_dir, exist_ok=True)
    out = []
    with zipfile.ZipFile(zip_path) as z:
        for info in z.infolist():
            if info.is_dir():
                continue
            dest = os.path.join(out_dir, os.path.basename(info.filename))
            with z.open(info) as src, open(dest, "wb") as dst:
                shutil.copyfileobj(src, dst)
            out.append(dest)
    return out


def is_gzip(path: str) -> bool:
    """Magic-byte sniff (reference extract/googleAnalytics.js:121-126)."""
    with open(path, "rb") as f:
        return f.read(2) == b"\x1f\x8b"


def gunzip_file(path: str, out_path: str | None = None) -> str:
    out_path = out_path or path.removesuffix(".gz")
    with gzip.open(path, "rb") as src, open(out_path, "wb") as dst:
        shutil.copyfileobj(src, dst)
    return out_path


def read_json_auto(
    spark: SparkSession, paths: str | list[str], schema: StructType
) -> DataFrame:
    """NDJSON-or-JSON-array sniffing read (S3/V2): try native NDJSON first;
    if every row lands in the corrupt column the file is a JSON array —
    re-read multiLine. Bad lines stay queryable via ``corrupt_records``."""
    # build a NEW StructType — StructType.add mutates in place, which would
    # permanently grow the caller's shared schema constant
    if CORRUPT_COL in schema.names:
        with_corrupt = schema
    else:
        with_corrupt = StructType(
            list(schema.fields) + [StructField(CORRUPT_COL, StringType(), True)]
        )
    # cache(): Spark refuses corrupt-column-only queries on raw JSON scans
    # (internal-column restriction); the staged files are small relative to
    # the cluster, and the sniff needs two passes anyway.
    # source-file provenance is captured BEFORE cache(): input_file_name()
    # reads the scan node, and an InMemoryRelation has no file to name —
    # tagging after caching would yield '' for every row
    df = (
        spark.read.schema(with_corrupt)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(paths)
        .withColumn(SRC_FILE_COL, F.input_file_name())
        .cache()
    )
    total = df.count()
    corrupt = df.filter(F.col(CORRUPT_COL).isNotNull()).count()
    if total > 0 and corrupt == total:
        df.unpersist()  # drop the failed NDJSON attempt's cache
        df = (
            spark.read.schema(with_corrupt)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", CORRUPT_COL)
            .option("multiLine", True)
            .json(paths)
            .withColumn(SRC_FILE_COL, F.input_file_name())
            .cache()
        )
    return df


def _drop_meta(df: DataFrame) -> DataFrame:
    return df.drop(CORRUPT_COL, SRC_FILE_COL)


def valid_records(df: DataFrame) -> DataFrame:
    """Row-level salvage (the engine's default, improves on the reference:
    one bad line doesn't discard its file)."""
    return _drop_meta(df.filter(F.col(CORRUPT_COL).isNull()))


def corrupt_records(df: DataFrame) -> DataFrame:
    """The V2 salvage gate as a DataFrame instead of a skipped line."""
    cols = [CORRUPT_COL] + ([SRC_FILE_COL] if SRC_FILE_COL in df.columns else [])
    return df.filter(F.col(CORRUPT_COL).isNotNull()).select(*cols)


def expand_path(path: str) -> list[str]:
    """File-or-directory expansion (S4, connectors/csvETL.js:20-31)."""
    if os.path.isdir(path):
        return sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if not f.startswith(".")
        )
    return [path]
