"""Row-level validation — distributed re-expression of the reference's
frictionless validation (/root/reference/aircan/dependencies/utils/
validation.py:11-102; report handling dags/pipeline_ckan_to_bigquery.py:
287-317).

The reference re-reads the source row-by-row through frictionless and
collects type/constraint errors capped at 1000. Here validation is a Spark
plan over the raw (all-string) frame:

- type errors: attempted cast per the descriptor; a non-null raw cell whose
  cast is NULL is a ``type-error`` (same detection frictionless does, but
  vectorized JVM-side, no Python in the loop).
- ``required`` violations: NULL/empty in a required field.
- ``unique`` violations: groupBy(key).count() > 1.

The error frame is only ever materialized via ``limit(error_cap)`` — the
scan short-circuits instead of collecting everything.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aircan_spark.rownum import cache_scope, pin, with_row_number
from aircan_spark.schema import descriptor_to_struct

ERROR_CAP = 1000  # reference default limit_errors (pipeline_ckan_to_bigquery.py:296)

# Cast patterns needing explicit formats rather than bare CAST.
_BOOL_TRUE = ("true", "t", "1", "yes", "y")
_BOOL_FALSE = ("false", "f", "0", "no", "n")


def _typed_cast(col: F.Column, ftype: str, day_first: bool) -> F.Column:
    """Cast a raw string column to its frictionless type, returning NULL on
    failure (``try_cast`` — Spark 4 is ANSI by default, a plain CAST would
    abort the job on the first malformed cell). Boolean parsing mirrors
    to_bool (dependencies_legacy/utils.py:183-197); day-first dates mirror
    the Postgres path's DMY datestyle (postgres_loader.py:113,151)."""
    lowered = F.lower(F.trim(col))
    if ftype == "boolean":
        return (
            F.when(lowered.isin(*_BOOL_TRUE), F.lit(True))
            .when(lowered.isin(*_BOOL_FALSE), F.lit(False))
            .otherwise(F.lit(None).cast("boolean"))
        )
    if ftype == "integer" or ftype == "year":
        return col.try_cast("long")
    if ftype == "number":
        return col.try_cast("double")
    if ftype == "date":
        if day_first:
            return F.coalesce(
                F.try_to_timestamp(col, F.lit("d/M/yyyy")).cast("date"),
                F.try_to_timestamp(col, F.lit("d-M-yyyy")).cast("date"),
                col.try_cast("date"),
            )
        return col.try_cast("date")
    if ftype in ("datetime", "timestamptz"):
        return col.try_cast("timestamp")
    return col  # string-family types always pass


def validate(
    raw: DataFrame,
    descriptor: dict[str, Any],
    *,
    error_cap: int = ERROR_CAP,
    row_limit: int | None = None,
    day_first: bool = False,
    row_start: int = 2,
) -> dict[str, Any]:
    """Validate a raw (string-typed) frame against a descriptor.

    Returns a report dict shaped like the reference's abort payload
    (pipeline_ckan_to_bigquery.py:300-311): ``valid``, ``row_count``,
    ``error_count`` (capped), ``errors`` (list of {row, field, code,
    value}).

    ``row_start``: the row number reported for the FIRST data row.
    Defaults to 2 — frictionless numbers physical file rows, so with a
    header row the first data row is row 2 (matching the reference's
    report rows exactly). Pass 1 for headerless sources.
    """
    if row_limit:
        raw = raw.limit(row_limit)  # reference limit_rows (validation.py:20-27)
    with cache_scope():
        raw = pin(raw)
        row_count = raw.count()

        fields = descriptor.get("fields", [])
        error_frames: list[DataFrame] = []

        # Per-cell type + required errors in ONE projection pass.
        cell_errors = []
        for f in fields:
            name, ftype = f["name"], f.get("type", "any")
            if name not in raw.columns:
                continue
            constraints = f.get("constraints") or {}
            col = F.col(name)
            raw_present = col.isNotNull() & (F.trim(col) != "")
            casted = _typed_cast(col, ftype, day_first)
            err = F.when(
                raw_present & casted.isNull() & F.lit(ftype not in ("string", "any")),
                F.lit("type-error"),
            )
            if constraints.get("required"):
                err = F.when(~raw_present, F.lit("constraint-error:required")).otherwise(err)
            cell_errors.append(
                F.when(
                    err.isNotNull(),
                    F.struct(
                        F.lit(name).alias("field"),
                        err.alias("code"),
                        col.cast("string").alias("value"),
                    ),
                ).alias(f"__err_{name}")
            )
        if cell_errors:
            # 1-based source row positions (frictionless row numbering), not
            # opaque monotonically_increasing_id values: partition-offset
            # numbering over the cached frame preserves source order with no
            # global window (rownum.py).
            numbered = with_row_number(raw, column="__row", start=row_start, cache=False)
            errs = (
                numbered.select("__row", *cell_errors)
                .select(
                    "__row",
                    F.explode(
                        F.filter(
                            F.array(*[F.col(f"__err_{f['name']}") for f in fields if f["name"] in raw.columns]),
                            lambda x: x.isNotNull(),
                        )
                    ).alias("e"),
                )
                .select(
                    F.col("__row").alias("row"),
                    F.col("e.field").alias("field"),
                    F.col("e.code").alias("code"),
                    F.col("e.value").alias("value"),
                )
            )
            error_frames.append(errs)

        # unique-constraint violations: keys appearing more than once.
        for f in fields:
            constraints = f.get("constraints") or {}
            if constraints.get("unique") and f["name"] in raw.columns:
                name = f["name"]
                dupes = (
                    raw.groupBy(name)
                    .agg(F.count(F.lit(1)).alias("n"))
                    .filter(F.col("n") > 1)
                    .select(
                        F.lit(-1).cast("long").alias("row"),
                        F.lit(name).alias("field"),
                        F.lit("constraint-error:unique").alias("code"),
                        F.col(name).cast("string").alias("value"),
                    )
                )
                error_frames.append(dupes)

        if error_frames:
            all_errors = error_frames[0]
            for e in error_frames[1:]:
                all_errors = all_errors.unionByName(e)
            collected = all_errors.limit(error_cap).collect()
        else:
            collected = []

    errors = [r.asDict() for r in collected]
    return {
        "valid": not errors,
        "row_count": row_count,
        "error_count": len(errors),
        "error_cap": error_cap,
        "errors": errors,
    }
