"""Catalog-wide substring search + schema codebook (P5, S6, M6).

The reference probes every table × column for a value with ``LIKE '%v%'
LIMIT 1`` against sqlite_master (`/root/reference/validation/seach_values.py:9-42`)
and exports a (table, column) inventory (`utils/auxiliar_functions.py:73-92`).
Here both walk the Spark catalog / supplied table map; the existence probe is
a short-circuit ``limit(1).count()`` per string column (cheap: scans stop at
the first matching row group in practice)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from data_validator_guard_spark.operators.schema import compare_schema


def search_value(
    spark: SparkSession, tables: dict[str, DataFrame], needle: str
) -> DataFrame:
    """``table_name, column_name, found`` for every string column."""
    rows = []
    for tname, df in tables.items():
        for f in df.schema.fields:
            if f.dataType.simpleString() != "string":
                continue
            found = (
                df.filter(F.col(f.name).contains(needle)).limit(1).count() > 0
            )
            rows.append((tname, f.name, found))
    return spark.createDataFrame(
        rows, "table_name string, column_name string, found boolean"
    )


def codebook(spark: SparkSession, tables: dict[str, DataFrame]) -> DataFrame:
    """Schema inventory: ``table_name, column_name, data_type``."""
    rows = [
        (tname, f.name, f.dataType.simpleString())
        for tname, df in tables.items()
        for f in df.schema.fields
    ]
    return spark.createDataFrame(
        rows, "table_name string, column_name string, data_type string"
    )


_STATUS = {"missing": "missing_column", "unexpected": "unexpected_column"}


def schema_check(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    expected: list[tuple[str, str, str]],
) -> DataFrame:
    """Expected-schema validation: the north rule's "schema" half made a
    first-class check (the reference guards UPDATEs with per-table
    ``PRAGMA table_info`` column-existence probes,
    `/root/reference/cleaning/cleaning_db.py:27-113`; this generalizes that
    to a declarative contract).

    ``expected``: (table, column, type) triples. Output one row per
    discrepancy: ``table_name, column_name, status, expected_type,
    actual_type`` with status ∈ 'missing_column' (declared, absent),
    'unexpected_column' (present, undeclared), 'type_mismatch', plus
    'missing_table' for declared tables not supplied. Empty output = schema
    conforms. Pure metadata — no data scan. Each supplied table is compared
    by :func:`schema.compare_schema`, so a table with a duplicated column
    name raises instead of reporting one of the two.
    """
    specs: dict[str, dict[str, str]] = {}
    for t, c, ty in expected:
        specs.setdefault(t, {})[c] = ty
    found = [
        (t, c, _STATUS.get(status, status), want, got)
        for t in specs
        if t in tables
        for c, status, want, got in compare_schema(tables[t], specs[t])
        if status != "ok"
    ]
    rows = [(t, None, "missing_table", None, None) for t in sorted(set(specs) - set(tables))]
    rows += sorted(found, key=lambda r: (r[2] == "unexpected_column", r[0], r[1]))
    return spark.createDataFrame(
        rows,
        "table_name string, column_name string, status string, "
        "expected_type string, actual_type string",
    )
