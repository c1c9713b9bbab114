"""Amplitude -> Mixpanel transform (the reference's flagship path).

Re-expresses reference transform/amplitudeToMixpanel.js as three DataFrame
projections over typed Amplitude export rows (schemas.AMP_EVENT_SCHEMA):

  * events   — :115-163: canonical event with JS-spread property precedence
  * profiles — :86-107: $set upsert rows for events with user_properties
  * merges   — :173-219: user_id<->device_id identity edges, deduped (:271)

Property precedence (later wins, mapKeyDedupPolicy=LAST_WIN):
  leftover amp fields  <  event_properties  <  groups  <  user_properties
  <  reserved mp fields  <  amp->mp pair table
matching the spread order at :138 (custom props then reserved) followed by
the pair-table assignment loop at :148-152 and the final leftover spread at
:157 (lowest precedence).

Divergences (documented, deliberate):
  * $insert_id when absent is md5 over a PINNED canonical field list
    (functions.canonical), not md5(JSON.stringify(...)) — JS key order is
    not reproducible across engines. Deterministic => idempotent retries.
  * Map values are strings (typed MAP<STRING,STRING> overflow model,
    SURVEY.md §1.3); numeric amp fields are stringified.

All narrow projections + one dropDuplicates on the merge edge — at 100 TB
the only shuffle in this pipeline is the merge-dedup exchange.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tomixpanel_spark.functions.canonical import canonical_insert_id
from tomixpanel_spark.functions.maps import (
    _empty_map,
    _entry_array,
    _keep_truthy,
    _opt_entries,
    _truthy,
)

SOURCE_TAG = "amplitudeToMixpanel (by AK)"
FALSY = ("",)  # JS-falsy strings (functions/maps.py)

# reference transform/amplitudeToMixpanel.js:73-83 (os_name maps to BOTH
# $os and $browser — duplicate source key is intentional).
AMP_MIX_PAIRS = (
    ("app_version", "$app_version_string"),
    ("os_name", "$os"),
    ("os_name", "$browser"),
    ("os_version", "$os_version"),
    ("device_brand", "$brand"),
    ("device_manufacturer", "$manufacturer"),
    ("device_model", "$model"),
    ("region", "$region"),
    ("city", "$city"),
)

# spread at :157 excludes fields deleted at :141-146 plus consumed pairs
_DELETED = (
    "user_properties",
    "group_properties",
    "global_user_properties",
    "event_properties",
    "groups",
    "data",
)
_LEFTOVER_SCALARS = (
    "event_type",
    "user_id",
    "device_id",
    "amplitude_id",
    "event_time",
    "$insert_id",
    "ip_address",
    "country",
    "language",
)


def _distinct_id() -> Column:
    """user_id || device_id || amplitude_id.toString() with JS falsiness
    ('' skipped) — reference :93,121-124."""
    return F.coalesce(
        F.nullif(F.col("user_id"), F.lit("")),
        F.nullif(F.col("device_id"), F.lit("")),
        F.col("amplitude_id").cast("string"),
    )


@lru_cache(maxsize=1)
def _pair_map() -> Column:
    return _opt_entries([(dst, F.col(src)) for src, dst in AMP_MIX_PAIRS], FALSY)


def _nonnull_map(name: str) -> Column:
    return F.coalesce(F.col(name), _empty_map())


@dataclass
class AmpOutputs:
    events: DataFrame
    profiles: DataFrame
    merges: DataFrame


def amp_events(df: DataFrame) -> DataFrame:
    """Amplitude export rows -> canonical Mixpanel events."""
    return df.select(*_amp_event_columns())


@lru_cache(maxsize=1)
def _amp_event_columns() -> tuple:
    """The event projection is a constant ~200-node expression tree over
    fixed input column names; building it costs ~0.5 s of py4j round-trips
    per call, so it memoizes per process (Columns are unresolved trees,
    safe to reuse across DataFrames)."""
    time_ms = F.unix_millis(F.to_timestamp("event_time"))
    reserved = _keep_truthy(
        _entry_array(
            [
                ("distinct_id", _distinct_id()),
                ("$device_id", F.col("device_id")),
                ("ip", F.col("ip_address")),
                ("$city", F.col("city")),
                ("$region", F.col("region")),
                ("mp_country_code", F.col("country")),
                ("$source", F.lit(SOURCE_TAG)),
            ]
        ),
        FALSY,
    )
    leftover = _keep_truthy(
        _entry_array([(k, F.col(f"`{k}`")) for k in _LEFTOVER_SCALARS]), FALSY
    )
    # ONE map build: entry arrays concatenate in spread order (later keys
    # win under LAST_WIN — identical precedence to the map_concat tower
    # this replaces, at one dedup pass instead of five merges).
    props = F.map_from_entries(
        F.concat(
            leftover,
            F.map_entries(_nonnull_map("event_properties")),
            F.map_entries(_nonnull_map("groups")),
            F.map_entries(_nonnull_map("user_properties")),
            reserved,
            _keep_truthy(
                _entry_array([(dst, F.col(src)) for src, dst in AMP_MIX_PAIRS]), FALSY
            ),
        )
    )
    insert_id = F.coalesce(
        F.nullif(F.col("`$insert_id`"), F.lit("")),
        canonical_insert_id(
            F.col("event_type"), _distinct_id(), time_ms, F.col("device_id")
        ),
    )
    return (
        F.col("event_type").alias("event"),
        _distinct_id().alias("distinct_id"),
        time_ms.alias("time_ms"),
        insert_id.alias("insert_id"),
        props.alias("props"),
    )


def amp_profiles(df: DataFrame, token: str | None = None) -> DataFrame:
    """Events with non-empty user_properties -> $set profile upserts."""
    nonempty = F.size(F.map_keys(_nonnull_map("user_properties"))) > 0
    set_map = F.map_concat(_nonnull_map("user_properties"), _pair_map())
    return df.filter(nonempty).select(
        F.lit(token).cast("string").alias("token"),
        _distinct_id().alias("distinct_id"),
        F.col("ip_address").alias("ip"),
        set_map.alias("set"),
    )


def amp_merges(df: DataFrame, run_time_ms: int = 0) -> DataFrame:
    """user_id<->device_id identity edges, deduped on the canonical hash.

    The reference stamps each edge with the process wall clock
    (global.nowTime, index.js:22) — ``run_time_ms`` is the deterministic
    replacement, supplied by the pipeline run.
    """
    both = _truthy(F.col("user_id"), FALSY) & _truthy(F.col("device_id"), FALSY)
    edge = df.filter(both).select(
        F.col("user_id").alias("id_a"), F.col("device_id").alias("id_b")
    )
    return edge.distinct().select(
        "id_a",
        "id_b",
        canonical_insert_id(F.lit("$merge"), F.col("id_a"), F.col("id_b")).alias(
            "insert_id"
        ),
        F.lit(run_time_ms).cast("bigint").alias("time_ms"),
    )


def amplitude_to_mixpanel(
    df: DataFrame, token: str | None = None, run_time_ms: int = 0
) -> AmpOutputs:
    """Full flagship transform: one input lineage, three output projections
    (Spark computes them lazily; no staged files — SURVEY.md §3.1 step 5
    becomes pure lineage)."""
    return AmpOutputs(
        events=amp_events(df),
        profiles=amp_profiles(df, token),
        merges=amp_merges(df, run_time_ms),
    )
