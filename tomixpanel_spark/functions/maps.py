"""MAP<STRING,STRING> property builders shared by the transforms.

The reference copies a source field into the props only when it is JS
truthy (``if (src) props[dst] = src``). Every value is stringified into a
``{key, value}`` entry struct first, so the truthy gate is one filter pass
over the entry array instead of a per-pair when(cast, cast) tower (the
round-3 bench finding). ``falsy`` lists the strings that count as false:
``("",)`` for Amplitude, and ``("", "false")`` for GA, whose booleans
arrive as strings.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _truthy(c: Column, falsy: tuple[str, ...]) -> Column:
    """JS truthiness of a field: present and not one of ``falsy``."""
    out = c.isNotNull()
    for f in falsy:
        out = out & (c.cast("string") != f)
    return out


def _entry(k: str, v: Column) -> Column:
    return F.struct(F.lit(k).alias("key"), v.cast("string").alias("value"))


def _entry_array(pairs: list[tuple[str, Column]]) -> Column:
    return F.array(*[_entry(k, v) for k, v in pairs])


def _keep_truthy(entries: Column, falsy: tuple[str, ...]) -> Column:
    """Drop the entries whose value is null or one of ``falsy``."""

    def keep(e: Column) -> Column:
        out = e["value"].isNotNull()
        for f in falsy:
            out = out & (e["value"] != f)
        return out

    return F.filter(entries, keep)


def _opt_entries(pairs: list[tuple[str, Column]], falsy: tuple[str, ...]) -> Column:
    """MAP<STRING,STRING> of the pairs with truthy values."""
    return F.map_from_entries(_keep_truthy(_entry_array(pairs), falsy))


def _empty_map() -> Column:
    return F.create_map().cast("map<string,string>")
