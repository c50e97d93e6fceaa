"""Schema-contract validation: the "schema" half of a schema + constraint
validation engine (BASELINE.json north rule), checked BEFORE any data scan.

``schema_contract`` compares a DataFrame's resolved schema against an
expected ``{column: type}`` spec and emits one verdict row per column:
``ok`` / ``type_mismatch`` (both sides reported) / ``missing`` (expected,
absent) / ``unexpected`` (present, not in the spec). The check reads ONLY
driver-side metadata — at 10^12 files it costs exactly what a query's
analysis phase already pays, zero executor work — which is why a validation
job runs it first and fails fast before the cluster spins up on a
mis-migrated table.

Type names are Spark ``simpleString`` forms (``bigint``, ``string``,
``double``, ``timestamp``, ``array<float>``, ...), the engine-neutral
canonical spelling the oracles map DuckDB's ``information_schema`` types
onto. Nullability is deliberately NOT checked: parquet nullability is
writer-dependent metadata (Spark writes almost everything nullable), so a
nullability contract would flag healthy tables; NULL-rate rules
(``null_rate_max``, ``not_null``) are the data-level truth instead.

Reference parity: the reference validates fixed frames loaded by its own
readers, so column presence is implicit (KeyError at access time,
``validation/maganamed_validation.py`` passim); this makes the contract
explicit, typed, and verdict-shaped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_RESULT_SCHEMA = (
    "col_name string, status string, expected_type string, actual_type string"
)


def compare_schema(
    df: DataFrame, expected: dict[str, str]
) -> list[tuple[str, str, str | None, str | None]]:
    """``(col_name, status, expected_type, actual_type)`` for ``df``'s schema
    vs ``expected`` ({column: spark simpleString type}). One row per union of
    expected and actual columns; statuses: ``ok`` | ``type_mismatch`` |
    ``missing`` | ``unexpected``. Raises on duplicate column names."""
    if not expected:
        raise ValueError("expected spec is empty — nothing to check")
    norm = {}
    for col, typ in expected.items():
        if not isinstance(typ, str) or not typ.strip():
            raise ValueError(f"expected type for {col!r} must be a non-empty string")
        norm[col] = typ.strip().lower()
    names = [f.name for f in df.schema.fields]
    if len(names) != len(set(names)):
        dupes = sorted({n for n in names if names.count(n) > 1})
        raise ValueError(
            f"df has duplicate column names {dupes} (post-join ambiguity) — "
            "a dict-shaped contract cannot describe it; rename first"
        )
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    rows: list[tuple[str, str, str | None, str | None]] = []
    for col, want in norm.items():
        if col not in actual:
            rows.append((col, "missing", want, None))
        elif actual[col] == want:
            rows.append((col, "ok", want, actual[col]))
        else:
            rows.append((col, "type_mismatch", want, actual[col]))
    for col, got in actual.items():
        if col not in norm:
            rows.append((col, "unexpected", None, got))
    return rows


def schema_contract(
    spark: SparkSession, df: DataFrame, expected: dict[str, str]
) -> DataFrame:
    """:func:`compare_schema` as a verdict DataFrame. Pure driver-side
    metadata — no job is ever launched on ``df``."""
    return spark.createDataFrame(compare_schema(df, expected), _RESULT_SCHEMA)
