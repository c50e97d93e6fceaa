"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB over
the same sf dir, comparing row count, column names, and an order-insensitive
value multiset. Usage::

    python tools/check_oracle.py [sf_dir] [query ...]

In addition to the multiset check, a *type gate* rejects output types the
driver's value hash is known (empirically, round 1) to mismatch even when
values are equal: any DECIMAL on either side, and DuckDB HUGEINT (an uncast
``SUM`` over integers). The driver converts DuckDB results via ``.df()``
(DECIMAL/HUGEINT → float64) and Spark via ``toPandas()`` (decimal →
``decimal.Decimal`` objects), so '0.0' vs Decimal('0') hash-differ. Final
outputs must therefore be BIGINT/INT, DOUBLE (bit-identical on both sides),
VARCHAR, BOOLEAN, or DATE/TIMESTAMP.
"""

from __future__ import annotations

import math
import sys
import os
from collections import Counter
from decimal import Decimal

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_validator_guard_spark.session import get_session
from data_validator_guard_spark.sources import TESTDATA_TABLES

import __spark_entry__ as entrymod


def _norm(v):
    if isinstance(v, Decimal):
        return ("dec", str(v))
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", repr(v))
    if isinstance(v, bool):
        return ("b", v)
    return v


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_norm(r[i]) for i in order) for r in rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    qs = entrymod.queries()
    unknown = sorted(only - qs.keys())
    if unknown:
        print(f"unknown query names: {', '.join(unknown)}")
        return 1
    spark = get_session("oracle-check", master="local[8]")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(srows)} rows)")
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = [c for c in rel.columns]
            orows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        if sorted(scols) != sorted(ocols):
            print(f"FAIL {name}: columns differ spark={scols} duck={ocols}")
            failures += 1
            continue
        bad_types = [
            f"spark:{f.name}:{f.dataType.simpleString()}"
            for f in sdf.schema.fields
            if f.dataType.simpleString().startswith("decimal")
        ] + [
            f"duck:{c}:{t}"
            for c, t in zip(rel.columns, [str(t) for t in rel.types])
            if "DECIMAL" in str(t) or "HUGEINT" in str(t) or "INT128" in str(t)
        ]
        if bad_types:
            print(f"FAIL {name}: driver-hash-unsafe output types {bad_types}")
            failures += 1
            continue
        if len(srows) != len(orows):
            print(f"FAIL {name}: rowcount spark={len(srows)} duck={len(orows)}")
            failures += 1
            continue
        cs, co = canon(srows, scols), canon(orows, ocols)
        if cs != co:
            diff = list((cs - co).items())[:3] + list((co - cs).items())[:3]
            print(f"FAIL {name}: value mismatch, e.g. {diff}")
            failures += 1
            continue
        print(f"PASS {name} ({len(srows)} rows)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
