"""Draft-04-subset constraint gate, compiled to ONE Catalyst predicate.

The reference validates every GA file against a 20,840-line JSON Schema
draft-04 (reference transform/gaToMixpanel.js:51-57 with
transform/gaSchema.json) and skips the file on ANY violation — including
semantic constraints (enum / required / pattern) inside well-SHAPED
JSON. The engine's typed StructType read catches shape errors; THIS
module closes the semantic half Spark-first: the consumed subset of
draft-04 (``properties`` recursion, ``required``, ``enum``, ``pattern``,
``items``) compiles ONCE into a boolean Column tree — whole-stage-codegen
JVM evaluation, zero Python in the row path, unlike the per-row
``jsonschema`` interpreter the reference runs (a Python-UDF-shaped
scale-killer at 100 TB).

Semantics compiled:
  * ``required: [f, ...]`` — the field is non-null (in a typed DataFrame
    an absent JSON key reads as null, so null-check == presence-check);
  * ``enum: [...]`` — value in the list (null passes unless required:
    draft-04 constraints apply to PRESENT values);
  * ``pattern: "..."`` — Java-regex ``rlike`` partial match (draft-04 /
    ECMA-262 ``pattern`` is unanchored — anchor in the schema if needed);
  * ``properties: {...}`` — recursion into struct fields; a null struct
    passes wholesale unless itself required (its absent children are not
    violations);
  * ``items: {...}`` — every array element satisfies the item schema
    (``F.forall``); null arrays pass unless required.

``type`` keywords are intentionally NOT re-checked: the typed read
already enforced them (a type mismatch became a corrupt record or a null
— both caught upstream). Unsupported draft-04 keywords raise at compile
time rather than silently passing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SUPPORTED = {
    "type",
    "properties",
    "required",
    "enum",
    "pattern",
    "items",
    # annotation-only keywords that never affect validation
    "title",
    "description",
    "default",
    "$schema",
    "id",
}


def _leaf_checks(schema: dict, col: Column) -> list[Column]:
    checks: list[Column] = []
    if "enum" in schema:
        vals = [v for v in schema["enum"] if v is not None]
        # Absent/null conflation tradeoff: Spark's typed read collapses an
        # ABSENT key and an EXPLICIT JSON null to the same SQL NULL, so a
        # null value passes the enum check unconditionally here (nulls are
        # then governed by `required` alone). Draft-04 itself (the
        # reference's jsonschema library, gaToMixpanel.js:51-57) would
        # REJECT an explicit null against enum:["a","b"] while passing an
        # absent key — a distinction we cannot recover post-read. This is
        # the only consistent choice after the collapse; documented
        # divergence: explicit nulls are accepted where the reference
        # rejects them. (isin() on null also yields SQL NULL, which the
        # coalesce(ok,false) consumer would otherwise count as a violation.)
        pred = col.isin(*vals) if vals else F.lit(False)
        checks.append(col.isNull() | pred)
    if "pattern" in schema:
        checks.append(col.isNull() | col.rlike(schema["pattern"]))
    return checks


def _compile(schema: dict, col: Column) -> Column:
    unsupported = set(schema) - _SUPPORTED
    if unsupported:
        raise ValueError(
            f"unsupported draft-04 keywords {sorted(unsupported)} — "
            "extend schema_constraints or strip them from the schema"
        )
    checks = _leaf_checks(schema, col)
    props = schema.get("properties", {})
    required = set(schema.get("required", []))
    sub_checks: list[Column] = []
    for name in sorted(required):
        sub_checks.append(col[name].isNotNull())
    for name, sub in props.items():
        sub_checks.append(_compile(sub, col[name]))
    if sub_checks:
        combined = sub_checks[0]
        for c in sub_checks[1:]:
            combined = combined & c
        # a null (absent) object passes wholesale unless itself required
        # at the PARENT level — absent children are not violations
        checks.append(col.isNull() | combined)
    if "items" in schema and isinstance(schema["items"], dict):
        item_schema = schema["items"]
        checks.append(
            col.isNull() | F.forall(col, lambda x: _compile(item_schema, x))
        )
    if not checks:
        return F.lit(True)
    out = checks[0]
    for c in checks[1:]:
        out = out & c
    return out


def compile_constraints(schema: dict) -> Column:
    """Compile a draft-04-subset schema dict into one boolean Column over
    the DataFrame's top-level columns (True == row conforms)."""
    # the ROOT dict gets the same unsupported-keyword gate as every
    # nested level — a top-level anyOf/not/additionalProperties must
    # raise, not silently drop the constraint
    unsupported = set(schema) - _SUPPORTED
    if unsupported:
        raise ValueError(
            f"unsupported draft-04 keywords {sorted(unsupported)} — "
            "extend schema_constraints or strip them from the schema"
        )
    props = schema.get("properties", {})
    required = set(schema.get("required", []))
    checks: list[Column] = []
    for name in sorted(required):
        checks.append(F.col(name).isNotNull())
    for name, sub in props.items():
        checks.append(_compile(sub, F.col(name)))
    if not checks:
        return F.lit(True)
    out = checks[0]
    for c in checks[1:]:
        out = out & c
    return out


def constraint_file_skip(df: DataFrame, schema: dict) -> DataFrame:
    """Reference-fidelity whole-file skip (V1, both halves; the reference
    skips the ENTIRE file on any error, transform/gaToMixpanel.js:51-57):
    drop every file containing a SHAPE-corrupt row (the typed-read
    corrupt-record gate) OR a well-shaped row violating the compiled
    draft-04 constraints. ``schema={}`` compiles to no constraint: the
    shape-only gate. One scan; corrupt counts group by the provenance
    column stamped at scan time, and the violating-file list is a tiny
    broadcast anti-join."""
    from tomixpanel_spark.sources.staging import CORRUPT_COL, SRC_FILE_COL, _drop_meta

    if SRC_FILE_COL not in df.columns:
        raise ValueError("file-skip gate needs the read_json_auto provenance column")
    ok = compile_constraints(schema)
    bad = (
        df.groupBy(SRC_FILE_COL)
        .agg(
            F.sum(
                (F.col(CORRUPT_COL).isNotNull() | ~F.coalesce(ok, F.lit(False)))
                .cast("int")
            ).alias("n_bad")
        )
        .filter(F.col("n_bad") > 0)
        .select(SRC_FILE_COL)
    )
    kept = df.join(F.broadcast(bad), SRC_FILE_COL, "left_anti")
    return _drop_meta(kept.filter(F.col(CORRUPT_COL).isNull()))
