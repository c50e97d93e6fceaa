"""Driver-facing query registry: Spark implementations + DuckDB oracle SQL.

Each entry exercises one operator family from SURVEY.md §2 over the read-only
testdata tables. Contract (``__spark_entry__.py``): the Spark result and the
oracle SQL must agree on row count, schema (column names) and an
order-insensitive value hash at sf=0.01.

Determinism rules applied throughout:
- aggregate sums of doubles go through a per-addend DECIMAL cast (exact,
  order-independent accumulation) — never raw double SUM;
- ratios appear as integer numerator/denominator pairs or single IEEE ops;
- ranking queries emit ranks with explicit total tiebreaks, not raw floats;
- threshold decisions (cosine/z-score/averages) are cross-multiplied into
  exact integer/decimal comparisons so no float ever decides a boundary.

Output-type discipline (driver hash parity — see README): final columns are
only BIGINT (oracles CAST every integer SUM — DuckDB otherwise widens to
HUGEINT), bit-identical DOUBLE (exact accumulation + ONE final cast, or a
single IEEE op, or round(x, 6) on both sides), VARCHAR, BOOLEAN, or
DATE/TIMESTAMP. Never DECIMAL: the driver reads DuckDB decimals as float64
and Spark decimals as Decimal objects, which hash differently even when
equal. ``tools/check_oracle.py`` enforces this with a type gate.
"""

from data_validator_guard_spark.queries._registry import (  # noqa: F401
    ALLOWED_DOC_LANGS,
    LANG_PATTERN,
    ORACLES,
    QUERIES,
    query,
)

# Import order fixes registry order; family order mirrors the original file's
# first-appearance order. Each import registers that family's queries.
from data_validator_guard_spark.queries import (  # noqa: E402, F401
    validation,
    stats,
    olap,
    text,
    dedup,
    similarity,
    cleaning,
    drift,
    temporal,
    pipeline,
    sampling,
    incremental,
    northrule,
)
