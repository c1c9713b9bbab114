"""GCS bucket source for GA360 exports (SURVEY.md §2.1 S3).

The reference lists and downloads every object, sniffs gzip magic bytes,
gunzips, and verifies JSON per file (extract/googleAnalytics.js:13-114).

Engine: with a GCS Hadoop connector on the cluster this is simply
``spark.read.schema(GA_SESSION_SCHEMA).json("gs://bucket/prefix/*")`` —
gzip native, corrupt lines queryable (V1/V2 gates via the corrupt-record
column). Without a connector (this environment), objects are staged
locally through an injectable lister/downloader and read from disk; the
parallel read shape is identical.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from tomixpanel_spark.schemas import GA_SESSION_SCHEMA
from tomixpanel_spark.sources.staging import read_json_auto

ListObjects = Callable[[str], list[str]]  # bucket -> object names
Download = Callable[[str, str], bytes]  # (bucket, name) -> payload


@dataclass
class GcsGaSource:
    bucket: str
    staging_dir: str
    list_objects: Optional[ListObjects] = None
    download: Optional[Download] = None

    def fetch(self) -> list[str]:
        if self.list_objects is None or self.download is None:
            raise RuntimeError("GcsGaSource needs list_objects + download callables")
        os.makedirs(self.staging_dir, exist_ok=True)
        paths = []
        for name in self.list_objects(self.bucket):
            blob = self.download(self.bucket, name)
            # flatten the full object path (prefix-safe: date-partitioned
            # exports share basenames); keep .gz so Spark decompresses
            dest = os.path.join(self.staging_dir, name.replace("/", "__"))
            with open(dest, "wb") as f:
                f.write(blob)
            paths.append(dest)
        return paths

    def read(self, spark: SparkSession, paths: Optional[list[str]] = None) -> DataFrame:
        """Typed GA session read; JSON-Schema gate (V1) becomes the typed
        StructType + corrupt-record column."""
        return read_json_auto(spark, paths or self.staging_dir, GA_SESSION_SCHEMA)
