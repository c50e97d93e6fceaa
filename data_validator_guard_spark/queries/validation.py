"""Rule-suite verdicts, referential/allowed-values, group consistency,
conditional/gated rules, schema checks, bounded violation emission.

Split out of the original single-file registry (round-5 verdict item #7);
sections moved verbatim, registration order preserved per family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from data_validator_guard_spark.operators.uniqueness import duplicate_keys
from data_validator_guard_spark.rules import Rule
from data_validator_guard_spark.rules import RuleSuite
from data_validator_guard_spark.sources import read_table
from data_validator_guard_spark.queries._registry import ALLOWED_DOC_LANGS
from data_validator_guard_spark.queries._registry import LANG_PATTERN
from data_validator_guard_spark.queries._registry import ORACLES
from data_validator_guard_spark.queries._registry import query
from data_validator_guard_spark.queries.sampling import _hex12_sql
from data_validator_guard_spark.engine import validate

# =====================================================================
# 1. Flagship: full rule-suite verdicts over `documents`, oracle-checked
#    end-to-end (every verdict counter reproduced in ANSI SQL).
# =====================================================================
@query(
    "verdicts_documents",
    oracle="""
WITH t AS (SELECT * FROM documents),
dup AS (
  SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n FROM (
    SELECT COUNT(*) AS n FROM t GROUP BY doc_id HAVING COUNT(*) > 1
  ) d
)
SELECT 'text_not_blank' AS rule_id, '__all__' AS "partition",
       SUM(CASE WHEN text IS NULL OR trim(text) = '' THEN 1 ELSE 0 END) = 0 AS pass,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN text IS NULL OR trim(text) = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
FROM t
UNION ALL
SELECT 'lang_pattern', '__all__',
       SUM(CASE WHEN lang IS NULL OR NOT regexp_matches(lang, '^[a-z]{2}$') THEN 1 ELSE 0 END) = 0,
       COUNT(*),
       CAST(SUM(CASE WHEN lang IS NULL OR NOT regexp_matches(lang, '^[a-z]{2}$') THEN 1 ELSE 0 END) AS BIGINT)
FROM t
UNION ALL
SELECT 'nchars_range', '__all__',
       SUM(CASE WHEN n_chars IS NULL OR n_chars < 1 OR n_chars > 1000000 THEN 1 ELSE 0 END) = 0,
       COUNT(*),
       CAST(SUM(CASE WHEN n_chars IS NULL OR n_chars < 1 OR n_chars > 1000000 THEN 1 ELSE 0 END) AS BIGINT)
FROM t
UNION ALL
SELECT 'source_cardinality', '__all__',
       COUNT(DISTINCT source) BETWEEN 1 AND 1000,
       COUNT(*),
       CAST(CASE WHEN COUNT(DISTINCT source) BETWEEN 1 AND 1000 THEN 0 ELSE 1 END AS BIGINT)
FROM t
UNION ALL
SELECT 'min_rows', '__all__', COUNT(*) >= 1, COUNT(*),
       CAST(CASE WHEN COUNT(*) >= 1 THEN 0 ELSE 1 END AS BIGINT)
FROM t
UNION ALL
SELECT 'doc_unique', '__all__', (SELECT n FROM dup) = 0, COUNT(*), (SELECT n FROM dup)
FROM t
UNION ALL
SELECT 'lang_fk', '__all__',
       SUM(CASE WHEN lang IS NULL OR lang NOT IN ('de','en','es','fr') THEN 1 ELSE 0 END) = 0,
       COUNT(*),
       CAST(SUM(CASE WHEN lang IS NULL OR lang NOT IN ('de','en','es','fr') THEN 1 ELSE 0 END) AS BIGINT)
FROM t
""",
)
def q_verdicts_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    dim = spark.createDataFrame([(l,) for l in ALLOWED_DOC_LANGS], "lang string")
    suite = RuleSuite(
        name="documents",
        rules=[
            Rule("text_not_blank", "not_blank", ("text",)),
            Rule("lang_pattern", "regex_match", ("lang",), {"pattern": LANG_PATTERN}),
            Rule("nchars_range", "min_max", ("n_chars",), {"lo": 1, "hi": 1000000}),
            Rule("source_cardinality", "cardinality_range", ("source",), {"lo": 1, "hi": 1000, "exact": True}),
            Rule("min_rows", "min_rows", (), {"n": 1}),
            Rule("doc_unique", "unique", ("doc_id",)),
            Rule("lang_fk", "foreign_key", ("lang",), {"dim": dim}),
        ],
        key_cols=("doc_id",),
    )
    verdicts, _ = validate(docs, suite)
    return verdicts


@query(
    "violations_documents",
    oracle="""
WITH t AS (SELECT * FROM documents)
SELECT 'lang_fk' AS rule_id, '__all__' AS "partition",
       CAST(doc_id AS VARCHAR) AS keys,
       'unknown value in reference: ' || COALESCE(lang, 'NULL') AS detail
FROM t WHERE lang IS NULL OR lang NOT IN ('de','en','es','fr')
UNION ALL
SELECT 'lang_pattern', '__all__', CAST(doc_id AS VARCHAR),
       'lang !~ ^[a-z]{2}$: ' || COALESCE(lang, 'NULL')
FROM t WHERE lang IS NULL OR NOT regexp_matches(lang, '^[a-z]{2}$')
""",
)
def q_violations_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    dim = spark.createDataFrame([(l,) for l in ALLOWED_DOC_LANGS], "lang string")
    suite = RuleSuite(
        name="documents",
        rules=[
            Rule("lang_pattern", "regex_match", ("lang",), {"pattern": LANG_PATTERN}),
            Rule("lang_fk", "foreign_key", ("lang",), {"dim": dim}),
        ],
        key_cols=("doc_id",),
    )
    _, violations = validate(docs, suite)
    return violations


# =====================================================================
# 3. Uniqueness via one hash aggregation (A1; north rule).
# =====================================================================
@query(
    "duplicate_event_keys",
    oracle="""
SELECT user_id, event_type, COUNT(*) AS n
FROM events GROUP BY user_id, event_type HAVING COUNT(*) > 1
""",
)
def q_duplicate_event_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    return duplicate_keys(events, ["user_id", "event_type"])


# =====================================================================
# 4. Referential / allowed-values (J4, P4).
# =====================================================================
@query(
    "fk_violations_lang",
    oracle="""
SELECT doc_id, lang FROM documents
WHERE lang IS NULL OR lang NOT IN ('de','en','es','fr')
""",
)
def q_fk_violations_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    dim = spark.createDataFrame([(l,) for l in ALLOWED_DOC_LANGS], "lang string")
    # broadcast left-anti join — the reference's set-difference referential
    # check (general_validation.py:94-108) distributed.
    return docs.select("doc_id", "lang").join(F.broadcast(dim), "lang", "left_anti").select(
        "doc_id", "lang"
    )


@query(
    "allowed_values_events",
    oracle="""
SELECT event_id, event_type FROM events
WHERE event_type IS NULL OR event_type NOT IN ('click','view','purchase','signup')
""",
)
def q_allowed_values_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    allowed = ["click", "view", "purchase", "signup"]
    c = F.col("event_type")
    return events.filter(c.isNull() | ~c.isin(allowed)).select("event_id", "event_type")


# =====================================================================
# 5. Group consistency (rule 11 / A8).
# =====================================================================
@query(
    "group_consistency_users",
    oracle="""
SELECT user_id, COUNT(DISTINCT event_type) AS n_types
FROM events GROUP BY user_id HAVING COUNT(DISTINCT event_type) > 1
""",
)
def q_group_consistency_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    return (
        events.groupBy("user_id")
        .agg(F.count_distinct("event_type").alias("n_types"))
        .filter(F.col("n_types") > 1)
    )


# =====================================================================
# 5b. Group-consistency NULL semantics (round-4 verdict #5): the default
#     ignores NULLs ({X, NULL} passes — NULL is "no statement"); with
#     params["count_nulls"]=True a NULL counts as one extra distinct value
#     (reference parity: its x == x.iloc[0] flags NaN rows). Both variants
#     run in ONE suite; groups are constructed so the two verdicts differ.
# =====================================================================
@query(
    "group_consistency_nulls",
    oracle="""
WITH t AS (
  SELECT doc_id % 101 AS g,
         CASE WHEN doc_id % 3 = 0 THEN NULL
              WHEN doc_id % 997 = 0 THEN 99
              ELSE (doc_id % 101) % 5 END AS v
  FROM documents
),
agg AS (
  SELECT g, COUNT(DISTINCT v) AS nd,
         MAX(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS has_null
  FROM t GROUP BY g
),
c AS (
  SELECT CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS v_def,
         CAST(SUM(CASE WHEN nd + has_null > 1 THEN 1 ELSE 0 END) AS BIGINT) AS v_null
  FROM agg
),
n AS (SELECT COUNT(*) AS n_rows FROM t)
SELECT 'value_consistent' AS rule_id, '__all__' AS "partition",
       v_def = 0 AS pass, n_rows, v_def AS n_violations FROM c, n
UNION ALL
SELECT 'value_consistent_nulls', '__all__', v_null = 0, n_rows, v_null FROM c, n
""",
)
def q_group_consistency_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted groups where the non-NULL values agree but NULLs are present
    ({X, NULL}): the default rule passes them, the count_nulls variant
    flags them; groups containing a doc_id % 997 == 0 row carry a second
    real value and are flagged by BOTH. Verdicts for the two rules come
    out of the same engine run."""
    from data_validator_guard_spark.engine import validate

    docs = read_table(spark, sf_dir, "documents")
    g = F.col("doc_id") % 101
    df = docs.select(
        g.alias("g"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(None).cast("bigint"))
        .when(F.col("doc_id") % 997 == 0, F.lit(99).cast("bigint"))
        .otherwise((g % 5).cast("bigint"))
        .alias("v"),
    )
    suite = RuleSuite(
        name="gc_nulls",
        rules=[
            Rule("value_consistent", "group_consistency", ("v",), {"group_by": "g"}),
            Rule(
                "value_consistent_nulls",
                "group_consistency",
                ("v",),
                {"group_by": "g", "count_nulls": True},
            ),
        ],
        key_cols=("g",),
    )
    verdicts, _ = validate(df, suite)
    return verdicts


# =====================================================================
# 12. Derived equality (rule 14): metadata-derived value vs stored column.
# =====================================================================
@query(
    "derived_source_check",
    oracle="""
SELECT doc_id, source,
       'src' || CAST(doc_id % 20 AS VARCHAR) AS expected_source,
       source = 'src' || CAST(doc_id % 20 AS VARCHAR) AS ok
FROM documents
""",
)
def q_derived_source_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    expected = F.concat(F.lit("src"), (F.col("doc_id") % 20).cast("string"))
    return docs.select(
        "doc_id",
        "source",
        expected.alias("expected_source"),
        (F.col("source") == expected).alias("ok"),
    )


# =====================================================================
# 23. Join-consistency (rule 13): stored total vs recomputed from detail.
# =====================================================================
@query(
    "order_total_consistency",
    oracle="""
SELECT o.o_orderkey,
       o.o_totalprice AS stored_total,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) * (1 + l.l_tax) AS DECIMAL(24,6))) AS DOUBLE) AS computed_total
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderkey, o.o_totalprice
""",
)
def q_order_total_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stored_total passes the raw double through untouched (bit-identical by
    construction); computed_total accumulates exactly in decimal then casts
    to double once at the end."""
    o = read_table(spark, sf_dir, "orders")
    l = read_table(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_totalprice")
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ).cast("decimal(24,6)")
            ).cast("double").alias("computed_total")
        )
        .select(
            "o_orderkey",
            F.col("o_totalprice").alias("stored_total"),
            "computed_total",
        )
    )


# =====================================================================
# 27. range_tolerance + derived_equality rule types (rules 12 / 14) run
#     through the engine, every verdict counter reproduced in SQL.
# =====================================================================
@query(
    "verdicts_extended",
    oracle="""
SELECT 'derived_source' AS rule_id, '__all__' AS "partition",
       SUM(CASE WHEN source IS DISTINCT FROM 'src' || CAST(doc_id % 20 AS VARCHAR) THEN 1 ELSE 0 END) = 0 AS pass,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN source IS DISTINCT FROM 'src' || CAST(doc_id % 20 AS VARCHAR) THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
FROM documents
UNION ALL
SELECT 'nchars_matches_len', '__all__',
       SUM(CASE WHEN NOT COALESCE(abs(n_chars - length(text)) <= 0.0, FALSE) THEN 1 ELSE 0 END) = 0,
       COUNT(*),
       CAST(SUM(CASE WHEN NOT COALESCE(abs(n_chars - length(text)) <= 0.0, FALSE) THEN 1 ELSE 0 END) AS BIGINT)
FROM documents
UNION ALL
SELECT 'nchars_near_256', '__all__',
       SUM(CASE WHEN NOT COALESCE(abs(n_chars - 256) <= 200.0, FALSE) THEN 1 ELSE 0 END) = 0,
       COUNT(*),
       CAST(SUM(CASE WHEN NOT COALESCE(abs(n_chars - 256) <= 200.0, FALSE) THEN 1 ELSE 0 END) AS BIGINT)
FROM documents
UNION ALL
SELECT 'lang_not_zh', '__all__',
       SUM(CASE WHEN NOT COALESCE(lang <> 'zh', FALSE) THEN 1 ELSE 0 END) = 0,
       COUNT(*),
       CAST(SUM(CASE WHEN NOT COALESCE(lang <> 'zh', FALSE) THEN 1 ELSE 0 END) AS BIGINT)
FROM documents
""",
)
def q_verdicts_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    suite = RuleSuite(
        name="documents_extended",
        rules=[
            Rule(
                "derived_source",
                "derived_equality",
                ("source",),
                {"value": "source", "expected": "concat('src', cast(doc_id % 20 as string))"},
            ),
            Rule(
                "nchars_matches_len",
                "range_tolerance",
                ("n_chars",),
                {"value": "n_chars", "expected": "length(text)", "tol": 0.0},
            ),
            Rule(
                "nchars_near_256",
                "range_tolerance",
                ("n_chars",),
                {"value": "n_chars", "expected": "256", "tol": 200.0},
            ),
            Rule("lang_not_zh", "cross_column", (), {"expr": "lang <> 'zh'"}),
        ],
        key_cols=("doc_id",),
    )
    verdicts, _ = validate(docs, suite)
    return verdicts


# =====================================================================
# 28. Allowed-pairs (rule 8): multi-column broadcast FK through the engine.
# =====================================================================
@query(
    "allowed_pairs_violations",
    oracle="""
SELECT 'lang_source_pair' AS rule_id, '__all__' AS "partition",
       CAST(doc_id AS VARCHAR) AS keys,
       'unknown value in reference: ' || lang || '|' || source AS detail
FROM documents d
WHERE NOT EXISTS (
  SELECT 1 FROM (
    SELECT l.lang, 'src' || CAST(s.i AS VARCHAR) AS source
    FROM (VALUES ('de'),('en'),('es'),('fr')) l(lang)
    CROSS JOIN (SELECT unnest(generate_series(0, 19)) AS i) s
  ) dim
  WHERE dim.lang = d.lang AND dim.source = d.source
)
""",
)
def q_allowed_pairs_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    pairs = [(l, f"src{i}") for l in ALLOWED_DOC_LANGS for i in range(20)]
    dim = spark.createDataFrame(pairs, "lang string, source string")
    suite = RuleSuite(
        name="documents_pairs",
        rules=[
            Rule("lang_source_pair", "foreign_key", ("lang", "source"), {"dim": dim}),
        ],
        key_cols=("doc_id",),
    )
    _, violations = validate(docs, suite)
    return violations


# =====================================================================
# 32. Per-partition verdicts (the north rule's core output shape):
#     partition_by = lang, every (rule, partition) counter reproduced in
#     SQL — including per-partition salted uniqueness and broadcast FK.
# =====================================================================
@query(
    "verdicts_by_lang",
    oracle="""
WITH t AS (
  SELECT COALESCE(CAST(lang AS VARCHAR), '__null__') AS p,
         doc_id % 50 AS k, text, n_chars, lang
  FROM documents
),
dup AS (
  SELECT p, CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_dup FROM (
    SELECT p, COUNT(*) AS n FROM t GROUP BY p, k HAVING COUNT(*) > 1
  ) d GROUP BY p
),
tot AS (
  SELECT p, COUNT(*) AS n_rows,
         CAST(SUM(CASE WHEN text IS NULL OR trim(text) = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_blank,
         CAST(SUM(CASE WHEN n_chars IS NULL OR n_chars < 1 OR n_chars > 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_range,
         CAST(SUM(CASE WHEN lang IS NULL OR lang NOT IN ('de','en','es','fr') THEN 1 ELSE 0 END) AS BIGINT) AS n_fk
  FROM t GROUP BY p
)
SELECT 'text_not_blank' AS rule_id, p AS "partition", n_blank = 0 AS pass,
       n_rows, n_blank AS n_violations
FROM tot
UNION ALL
SELECT 'nchars_range', p, n_range = 0, n_rows, n_range FROM tot
UNION ALL
SELECT 'min_rows_10', p, n_rows >= 10, n_rows,
       CAST(CASE WHEN n_rows >= 10 THEN 0 ELSE 1 END AS BIGINT)
FROM tot
UNION ALL
SELECT 'k_unique', tot.p, COALESCE(dup.n_dup, 0) = 0, tot.n_rows,
       CAST(COALESCE(dup.n_dup, 0) AS BIGINT)
FROM tot LEFT JOIN dup ON dup.p = tot.p
UNION ALL
SELECT 'lang_fk', p, n_fk = 0, n_rows, n_fk FROM tot
""",
)
def q_verdicts_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").withColumn("k", F.col("doc_id") % 50)
    dim = spark.createDataFrame([(l,) for l in ALLOWED_DOC_LANGS], "lang string")
    suite = RuleSuite(
        name="documents_by_lang",
        rules=[
            Rule("text_not_blank", "not_blank", ("text",)),
            Rule("nchars_range", "min_max", ("n_chars",), {"lo": 1, "hi": 1000000}),
            Rule("min_rows_10", "min_rows", (), {"n": 10}),
            Rule("k_unique", "unique", ("k",)),
            Rule("lang_fk", "foreign_key", ("lang",), {"dim": dim}),
        ],
        partition_by="lang",
        key_cols=("doc_id",),
    )
    verdicts, _ = validate(docs, suite)
    return verdicts


# =====================================================================
# 33. content sha256 invariant (BASELINE.json input_hint) + multi-table
#     validation run (the reference's main() walking every table).
# =====================================================================
@query(
    "content_sha256",
    oracle="SELECT doc_id, sha256(text) AS content_sha FROM documents",
)
def q_content_sha256(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_validator_guard_spark.functions import content_sha256

    return read_table(spark, sf_dir, "documents").select(
        "doc_id", content_sha256("text").alias("content_sha")
    )


@query(
    "multi_table_verdicts",
    oracle="""
SELECT 'documents' AS "table", 'text_not_blank' AS rule_id, '__all__' AS "partition",
       SUM(CASE WHEN text IS NULL OR trim(text) = '' THEN 1 ELSE 0 END) = 0 AS pass,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN text IS NULL OR trim(text) = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
FROM documents
UNION ALL
SELECT 'documents', 'lang_fk', '__all__',
       SUM(CASE WHEN lang IS NULL OR lang NOT IN ('de','en','es','fr') THEN 1 ELSE 0 END) = 0,
       COUNT(*),
       CAST(SUM(CASE WHEN lang IS NULL OR lang NOT IN ('de','en','es','fr') THEN 1 ELSE 0 END) AS BIGINT)
FROM documents
UNION ALL
SELECT 'events', 'type_allowed', '__all__',
       SUM(CASE WHEN event_type IS NULL OR event_type NOT IN ('click','view','purchase','signup') THEN 1 ELSE 0 END) = 0,
       COUNT(*),
       CAST(SUM(CASE WHEN event_type IS NULL OR event_type NOT IN ('click','view','purchase','signup') THEN 1 ELSE 0 END) AS BIGINT)
FROM events
UNION ALL
SELECT 'events', 'event_unique', '__all__',
       (SELECT COALESCE(SUM(n), 0) FROM (
          SELECT COUNT(*) AS n FROM events GROUP BY event_id HAVING COUNT(*) > 1)) = 0,
       COUNT(*),
       CAST((SELECT COALESCE(SUM(n), 0) FROM (
          SELECT COUNT(*) AS n FROM events GROUP BY event_id HAVING COUNT(*) > 1)) AS BIGINT)
FROM events
""",
)
def q_multi_table_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_validator_guard_spark.engine import validate_many

    docs = read_table(spark, sf_dir, "documents")
    events = read_table(spark, sf_dir, "events")
    dim = spark.createDataFrame([(l,) for l in ALLOWED_DOC_LANGS], "lang string")
    suites = {
        "documents": (
            docs,
            RuleSuite(
                "documents",
                [
                    Rule("text_not_blank", "not_blank", ("text",)),
                    Rule("lang_fk", "foreign_key", ("lang",), {"dim": dim, "inline": True}),
                ],
                key_cols=("doc_id",),
            ),
        ),
        "events": (
            events,
            RuleSuite(
                "events",
                [
                    Rule(
                        "type_allowed",
                        "allowed_values",
                        ("event_type",),
                        {"values": ["click", "view", "purchase", "signup"]},
                    ),
                    Rule("event_unique", "unique", ("event_id",)),
                ],
                key_cols=("event_id",),
            ),
        ),
    }
    verdicts, _ = validate_many(suites)
    return verdicts


# =====================================================================
# 47. Expected-schema validation (the north rule's "schema" half): declared
#     contract vs actual catalog, one row per discrepancy. The contract
#     below plants one of each defect class against the real testdata
#     schemas; metadata-only (no data scan), oracle = the literal expected
#     discrepancy set.
# =====================================================================
@query(
    "schema_check_testdata",
    oracle="""
SELECT * FROM (VALUES
  ('documents', 'n_chars', 'type_mismatch', 'string', 'bigint'),
  ('documents', 'quality', 'missing_column', 'double', CAST(NULL AS VARCHAR)),
  ('documents', 'source', 'unexpected_column', CAST(NULL AS VARCHAR), 'string'),
  ('ghost_table', CAST(NULL AS VARCHAR), 'missing_table', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR))
) AS t(table_name, column_name, status, expected_type, actual_type)
""",
)
def q_schema_check_testdata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_validator_guard_spark.operators.search import schema_check

    tables = {
        "documents": read_table(spark, sf_dir, "documents"),
        "events": read_table(spark, sf_dir, "events"),
    }
    expected = [
        ("documents", "doc_id", "bigint"),
        ("documents", "text", "string"),
        ("documents", "lang", "string"),
        ("documents", "n_chars", "string"),    # planted: actually bigint
        ("documents", "quality", "double"),    # planted: absent
        # 'source' deliberately undeclared → unexpected_column
        ("events", "event_id", "bigint"),
        ("events", "ts", "timestamp_ntz"),
        ("events", "user_id", "bigint"),
        ("events", "event_type", "string"),
        ("events", "value", "double"),
        ("events", "props", "string"),
        ("ghost_table", "x", "string"),        # planted: table absent
    ]
    return schema_check(spark, tables, expected)


# =====================================================================
# 51. Conditional rules (params["where"]): checks that apply only to a row
#     subset, fused into the same totals scan. Verdict counters reproduce
#     the guard semantics exactly (guard false/NULL -> never a violation;
#     n_rows stays the partition total).
# =====================================================================
@query(
    "verdicts_conditional",
    oracle="""
SELECT 'purchase_value_positive' AS rule_id, '__all__' AS "partition",
       SUM(CASE WHEN event_type = 'purchase'
                 AND NOT COALESCE(value > 0.0, FALSE) THEN 1 ELSE 0 END) = 0 AS pass,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN event_type = 'purchase'
                      AND NOT COALESCE(value > 0.0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
FROM events
UNION ALL
SELECT 'signup_has_props', '__all__',
       SUM(CASE WHEN event_type = 'signup'
                 AND (props IS NULL OR trim(props) = '') THEN 1 ELSE 0 END) = 0,
       COUNT(*),
       CAST(SUM(CASE WHEN event_type = 'signup'
                      AND (props IS NULL OR trim(props) = '') THEN 1 ELSE 0 END) AS BIGINT)
FROM events
""",
)
def q_verdicts_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    suite = RuleSuite(
        name="events_conditional",
        rules=[
            Rule(
                "purchase_value_positive",
                "cross_column",
                (),
                {"expr": "value > 0.0", "where": "event_type = 'purchase'"},
            ),
            Rule(
                "signup_has_props",
                "not_blank",
                ("props",),
                {"where": "event_type = 'signup'"},
            ),
        ],
        key_cols=("event_id",),
    )
    verdicts, _ = validate(events, suite)
    return verdicts


# =====================================================================
# 51b. Gated execution (depends_on): the reference skips rule 1 when
#     general validation fails (maganamed.py:107-109). Here the edge is
#     declarative and PER-PARTITION: `not_src3` fails exactly in the
#     src3 partition, so `lang_fk` is skipped there (pass/n_violations
#     NULL); `lang_pattern` depends on `lang_fk`, so the transitive
#     closure skips it wherever not_src3 failed OR lang_fk failed.
# =====================================================================
@query(
    "verdicts_gated",
    oracle="""
WITH g AS (
  SELECT source AS part, COUNT(*) AS n_rows,
         SUM(CASE WHEN source = 'src3' THEN 1 ELSE 0 END) AS v1,
         SUM(CASE WHEN lang IS NULL OR lang NOT IN ('de','en','es','fr') THEN 1 ELSE 0 END) AS v2,
         SUM(CASE WHEN lang IS NULL OR NOT regexp_matches(lang, '^[a-z]{2}$') THEN 1 ELSE 0 END) AS v3
  FROM documents GROUP BY source
)
SELECT 'not_src3' AS rule_id, part AS "partition", v1 = 0 AS pass,
       CAST(n_rows AS BIGINT) AS n_rows, CAST(v1 AS BIGINT) AS n_violations
FROM g
UNION ALL
SELECT 'lang_fk', part, CASE WHEN v1 > 0 THEN NULL ELSE v2 = 0 END,
       CAST(n_rows AS BIGINT),
       CASE WHEN v1 > 0 THEN NULL ELSE CAST(v2 AS BIGINT) END
FROM g
UNION ALL
SELECT 'lang_pattern', part, CASE WHEN v1 > 0 OR v2 > 0 THEN NULL ELSE v3 = 0 END,
       CAST(n_rows AS BIGINT),
       CASE WHEN v1 > 0 OR v2 > 0 THEN NULL ELSE CAST(v3 AS BIGINT) END
FROM g
""",
)
def q_verdicts_gated(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    dim = spark.createDataFrame([(l,) for l in ALLOWED_DOC_LANGS], "lang string")
    suite = RuleSuite(
        name="documents_gated",
        rules=[
            Rule("not_src3", "cross_column", (), {"expr": "source <> 'src3'"}),
            Rule(
                "lang_fk",
                "foreign_key",
                ("lang",),
                {"dim": dim, "depends_on": ("not_src3",)},
            ),
            Rule(
                "lang_pattern",
                "regex_match",
                ("lang",),
                {"pattern": LANG_PATTERN, "depends_on": ("lang_fk",)},
            ),
        ],
        partition_by="source",
        key_cols=("doc_id",),
    )
    verdicts, _ = validate(docs, suite)
    return verdicts


# =====================================================================
# 57. join_consistency rule (rule 13, maganamed_validation.py:255-269):
#     cross-table agreement as a first-class plan-level rule. The dim
#     deliberately omits src15..src19 so the no-match path is exercised.
# =====================================================================
@query(
    "verdicts_join_consistency",
    oracle="""
WITH dim AS (
  SELECT 'src' || CAST(i AS VARCHAR) AS source,
         CASE WHEN i % 2 = 0 THEN 'en' ELSE 'de' END AS expected_lang
  FROM (SELECT unnest(generate_series(0, 14)) AS i)
),
v AS (
  SELECT CASE WHEN d.source IS NULL THEN 1
              WHEN NOT COALESCE(doc.lang = d.expected_lang, FALSE) THEN 1
              ELSE 0 END AS viol
  FROM documents doc LEFT JOIN dim d ON d.source = doc.source
)
SELECT 'lang_agrees_dim' AS rule_id, '__all__' AS "partition",
       SUM(viol) = 0 AS pass,
       COUNT(*) AS n_rows,
       CAST(SUM(viol) AS BIGINT) AS n_violations
FROM v
""",
)
def q_verdicts_join_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    dim = spark.createDataFrame(
        [(f"src{i}", "en" if i % 2 == 0 else "de") for i in range(15)],
        "source string, expected_lang string",
    )
    suite = RuleSuite(
        "documents_jc",
        [
            Rule(
                "lang_agrees_dim",
                "join_consistency",
                ("lang",),
                {
                    "other": dim,
                    "on": ["source"],
                    "expr": "lang = expected_lang",
                    "other_name": "lang_dim",
                },
            )
        ],
        key_cols=("doc_id",),
    )
    verdicts, _ = validate(docs, suite)
    return verdicts


# =====================================================================
# 61. Temporal-range rule (min_max over TIMESTAMP — the visit-window /
#     sane-date check family): bounds inside the data range plant real
#     violations on both ends.
# =====================================================================
@query(
    "verdicts_ts_range",
    oracle="""
SELECT 'ts_in_window' AS rule_id, '__all__' AS "partition",
       SUM(CASE WHEN ts IS NULL OR ts < TIMESTAMP '2024-01-05 00:00:00'
                  OR ts > TIMESTAMP '2024-01-25 00:00:00' THEN 1 ELSE 0 END) = 0 AS pass,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN ts IS NULL OR ts < TIMESTAMP '2024-01-05 00:00:00'
                       OR ts > TIMESTAMP '2024-01-25 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
FROM events
""",
)
def q_verdicts_ts_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as _dt

    events = read_table(spark, sf_dir, "events")
    suite = RuleSuite(
        "events_ts",
        [
            Rule(
                "ts_in_window",
                "min_max",
                ("ts",),
                {"lo": _dt.datetime(2024, 1, 5), "hi": _dt.datetime(2024, 1, 25)},
            )
        ],
        key_cols=("event_id",),
    )
    verdicts, _ = validate(events, suite)
    return verdicts


# =====================================================================
# 67. Suite-health summary: the verdicts DataFrame reduced to the one-row
#     executive view (the reference's terminal "validation OK/NOT OK").
# =====================================================================
@query(
    "suite_health_summary",
    oracle="""
WITH t AS (SELECT * FROM documents),
dup AS (
  SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n FROM (
    SELECT COUNT(*) AS n FROM t GROUP BY doc_id HAVING COUNT(*) > 1
  ) d
),
v AS (
  SELECT 'text_not_blank' AS rule_id,
         SUM(CASE WHEN text IS NULL OR trim(text) = '' THEN 1 ELSE 0 END) = 0 AS pass,
         CAST(SUM(CASE WHEN text IS NULL OR trim(text) = '' THEN 1 ELSE 0 END) AS BIGINT) AS nv
  FROM t
  UNION ALL
  SELECT 'doc_unique', (SELECT n FROM dup) = 0, (SELECT n FROM dup) FROM t GROUP BY ()
  UNION ALL
  SELECT 'lang_fk',
         SUM(CASE WHEN lang IS NULL OR lang NOT IN ('de','en','es','fr') THEN 1 ELSE 0 END) = 0,
         CAST(SUM(CASE WHEN lang IS NULL OR lang NOT IN ('de','en','es','fr') THEN 1 ELSE 0 END) AS BIGINT)
  FROM t
)
SELECT COUNT(*) AS n_rules,
       CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_passed,
       CAST(SUM(nv) AS BIGINT) AS total_violations,
       SUM(CASE WHEN pass THEN 1 ELSE 0 END) = COUNT(*) AS all_pass
FROM v
""",
)
def q_suite_health_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verdicts frame reduced to one health row — the distributed analog
    of the reference's final print (general_validation.py:126-127)."""
    docs = read_table(spark, sf_dir, "documents")
    dim = spark.createDataFrame([(l,) for l in ALLOWED_DOC_LANGS], "lang string")
    suite = RuleSuite(
        "documents_health",
        [
            Rule("text_not_blank", "not_blank", ("text",)),
            Rule("doc_unique", "unique", ("doc_id",)),
            Rule("lang_fk", "foreign_key", ("lang",), {"dim": dim, "inline": True}),
        ],
        key_cols=("doc_id",),
    )
    verdicts, _ = validate(docs, suite)
    return verdicts.agg(
        F.count(F.lit(1)).alias("n_rules"),
        F.sum(F.col("pass").cast("bigint")).alias("n_passed"),
        F.sum("n_violations").alias("total_violations"),
        (F.sum(F.col("pass").cast("bigint")) == F.count(F.lit(1))).alias("all_pass"),
    )


# =====================================================================
# 68. The complete rule battery (query #100): every rule family in ONE
#     suite over documents — 16 rules, still exactly one fused totals scan
#     plus the unique/group-consistency fragments. Each verdict counter is
#     reproduced in ANSI SQL.
# =====================================================================
_BATTERY_ORACLE = """
WITH t AS (SELECT * FROM documents),
dup AS (
  SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n FROM (
    SELECT COUNT(*) AS n FROM t GROUP BY doc_id HAVING COUNT(*) > 1
  ) d
),
gc AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM (
    SELECT source FROM t GROUP BY source HAVING COUNT(DISTINCT lang) > 1
  ) g
),
rows_v AS (
  SELECT
    CASE WHEN text IS NULL OR trim(text) = '' THEN 1 ELSE 0 END AS v_blank,
    CASE WHEN lang IS NULL OR NOT regexp_matches(lang, '^[a-z]{2}$') THEN 1 ELSE 0 END AS v_regex,
    CASE WHEN n_chars IS NULL OR n_chars < 1 OR n_chars > 1000000 THEN 1 ELSE 0 END AS v_range,
    CASE WHEN source IS NULL OR length(source) < 4 OR length(source) > 5 THEN 1 ELSE 0 END AS v_len,
    CASE WHEN source IS NULL OR source NOT IN ('src0','src1','src2','src3','src4','src5','src6','src7','src8','src9') THEN 1 ELSE 0 END AS v_allowed,
    CASE WHEN NOT COALESCE(n_chars = length(text), FALSE) THEN 1 ELSE 0 END AS v_cross,
    CASE WHEN NOT COALESCE(abs(n_chars - 256) <= 200.0, FALSE) THEN 1 ELSE 0 END AS v_tol,
    CASE WHEN NOT COALESCE(source = 'src' || CAST(doc_id % 20 AS VARCHAR), FALSE) THEN 1 ELSE 0 END AS v_derived,
    CASE WHEN (CASE WHEN text IS NOT NULL AND trim(text) <> '' THEN 1 ELSE 0 END
             + CASE WHEN lang IS NOT NULL AND trim(lang) <> '' THEN 1 ELSE 0 END
             + CASE WHEN source IS NOT NULL AND trim(source) <> '' THEN 1 ELSE 0 END)
             / 3.0e0 < 0.99 THEN 1 ELSE 0 END AS v_complete,
    CASE WHEN doc_id % 10 < 5 AND lang IS NULL THEN 1 ELSE 0 END AS v_guarded,
    CASE WHEN lang IS NULL OR lang NOT IN ('de','en','es','fr') THEN 1 ELSE 0 END AS v_fk,
    CASE WHEN lang IS NULL OR trim(lang) = '' THEN 1 ELSE 0 END AS blank_lang
  FROM t
),
agg AS (
  SELECT COUNT(*) AS n_rows,
         CAST(SUM(v_blank) AS BIGINT) AS s_blank,
         CAST(SUM(v_regex) AS BIGINT) AS s_regex,
         CAST(SUM(v_range) AS BIGINT) AS s_range,
         CAST(SUM(v_len) AS BIGINT) AS s_len,
         CAST(SUM(v_allowed) AS BIGINT) AS s_allowed,
         CAST(SUM(v_cross) AS BIGINT) AS s_cross,
         CAST(SUM(v_tol) AS BIGINT) AS s_tol,
         CAST(SUM(v_derived) AS BIGINT) AS s_derived,
         CAST(SUM(v_complete) AS BIGINT) AS s_complete,
         CAST(SUM(v_guarded) AS BIGINT) AS s_guarded,
         CAST(SUM(v_fk) AS BIGINT) AS s_fk,
         CAST(SUM(blank_lang) AS BIGINT) AS s_blank_lang,
         (SELECT COUNT(DISTINCT source) FROM t) AS card_source
  FROM rows_v
)
SELECT 'text_not_blank' AS rule_id, '__all__' AS "partition", s_blank = 0 AS pass, n_rows, s_blank AS n_violations FROM agg
UNION ALL SELECT 'lang_pattern', '__all__', s_regex = 0, n_rows, s_regex FROM agg
UNION ALL SELECT 'nchars_range', '__all__', s_range = 0, n_rows, s_range FROM agg
UNION ALL SELECT 'source_len', '__all__', s_len = 0, n_rows, s_len FROM agg
UNION ALL SELECT 'source_allowed', '__all__', s_allowed = 0, n_rows, s_allowed FROM agg
UNION ALL SELECT 'nchars_is_len', '__all__', s_cross = 0, n_rows, s_cross FROM agg
UNION ALL SELECT 'nchars_near_256', '__all__', s_tol = 0, n_rows, s_tol FROM agg
UNION ALL SELECT 'derived_source', '__all__', s_derived = 0, n_rows, s_derived FROM agg
UNION ALL SELECT 'row_complete', '__all__', s_complete = 0, n_rows, s_complete FROM agg
UNION ALL SELECT 'lang_notnull_low_ids', '__all__', s_guarded = 0, n_rows, s_guarded FROM agg
UNION ALL SELECT 'lang_fk', '__all__', s_fk = 0, n_rows, s_fk FROM agg
UNION ALL SELECT 'doc_unique', '__all__', (SELECT n FROM dup) = 0, n_rows, (SELECT n FROM dup) FROM agg
UNION ALL SELECT 'source_lang_consistent', '__all__', (SELECT n FROM gc) = 0, n_rows, (SELECT n FROM gc) FROM agg
UNION ALL SELECT 'min_rows', '__all__', n_rows >= 1, n_rows, CAST(CASE WHEN n_rows >= 1 THEN 0 ELSE 1 END AS BIGINT) FROM agg
UNION ALL SELECT 'lang_null_rate', '__all__', CAST(s_blank_lang AS DOUBLE) / n_rows <= 0.5, n_rows, s_blank_lang FROM agg
UNION ALL SELECT 'source_cardinality', '__all__', card_source BETWEEN 1 AND 1000, n_rows,
          CAST(CASE WHEN card_source BETWEEN 1 AND 1000 THEN 0 ELSE 1 END AS BIGINT) FROM agg
"""


@query("full_rule_battery", oracle=_BATTERY_ORACLE)
def q_full_rule_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    dim = spark.createDataFrame([(l,) for l in ALLOWED_DOC_LANGS], "lang string")
    suite = RuleSuite(
        "documents_battery",
        [
            Rule("text_not_blank", "not_blank", ("text",)),
            Rule("lang_pattern", "regex_match", ("lang",), {"pattern": LANG_PATTERN}),
            Rule("nchars_range", "min_max", ("n_chars",), {"lo": 1, "hi": 1000000}),
            Rule("source_len", "length_range", ("source",), {"lo": 4, "hi": 5}),
            Rule(
                "source_allowed",
                "allowed_values",
                ("source",),
                {"values": [f"src{i}" for i in range(10)]},
            ),
            Rule("nchars_is_len", "cross_column", (), {"expr": "n_chars = length(text)"}),
            Rule(
                "nchars_near_256",
                "range_tolerance",
                ("n_chars",),
                {"value": "n_chars", "expected": "256", "tol": 200.0},
            ),
            Rule(
                "derived_source",
                "derived_equality",
                ("source",),
                {"value": "source", "expected": "concat('src', cast(doc_id % 20 as string))"},
            ),
            Rule(
                "row_complete",
                "completeness",
                ("text", "lang", "source"),
                {"threshold": 0.99},
            ),
            Rule(
                "lang_notnull_low_ids",
                "not_null",
                ("lang",),
                {"where": "doc_id % 10 < 5"},
            ),
            Rule("lang_fk", "foreign_key", ("lang",), {"dim": dim, "inline": True}),
            Rule("doc_unique", "unique", ("doc_id",)),
            Rule(
                "source_lang_consistent",
                "group_consistency",
                ("lang",),
                {"group_by": "source"},
            ),
            Rule("min_rows", "min_rows", (), {"n": 1}),
            Rule("lang_null_rate", "null_rate_max", ("lang",), {"max_rate": 0.5}),
            Rule(
                "source_cardinality",
                "cardinality_range",
                ("source",),
                {"lo": 1, "hi": 1000, "exact": True},
            ),
        ],
        key_cols=("doc_id",),
    )
    verdicts, _ = validate(docs, suite)
    return verdicts


# =====================================================================
# 25. Bounded violation emission: at 10^12 rows a 1%-defect rule emits
#     10^10 violation rows; validate(violation_sample_ppm=...) keeps a
#     deterministic hash-threshold subset on the emit path while verdict
#     counts stay exact (they derive from counters, not this frame).
# =====================================================================
_VIOLATION_SAMPLE_PPM = 500_000

_VIOL_TUPLE_MD5 = 'md5(concat_ws(chr(31), rule_id, "partition", keys, detail))'

_SAMPLED_VIOLATIONS_ORACLE = f"""
SELECT * FROM (
{ORACLES["violations_documents"]}
) v
WHERE CAST({_hex12_sql(_VIOL_TUPLE_MD5)} AS HUGEINT) * 1000000
      < CAST({_VIOLATION_SAMPLE_PPM} AS HUGEINT) * CAST(281474976710656 AS HUGEINT)
"""


@query("violations_sampled", oracle=_SAMPLED_VIOLATIONS_ORACLE)
def q_violations_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same two-rule suite as ``violations_documents``, emitted at a
    deterministic ~50% sample: the kept subset is an exact integer function
    of md5 over the violation tuple, so it is reproducible across engines
    and a strict subset of the unsampled emission."""
    docs = read_table(spark, sf_dir, "documents")
    dim = spark.createDataFrame([(l,) for l in ALLOWED_DOC_LANGS], "lang string")
    suite = RuleSuite(
        name="documents",
        rules=[
            Rule("lang_pattern", "regex_match", ("lang",), {"pattern": LANG_PATTERN}),
            Rule("lang_fk", "foreign_key", ("lang",), {"dim": dim}),
        ],
        key_cols=("doc_id",),
    )
    _, violations = validate(docs, suite, violation_sample_ppm=_VIOLATION_SAMPLE_PPM)
    return violations


# =====================================================================
# Schema-contract check (round 5): the "schema" half of the north rule's
# schema + constraint engine, verdict-shaped, metadata-only (zero data
# scan — the Spark side never launches a job; the oracle reads DuckDB's
# information_schema). The spec plants one type mismatch (n_chars
# expected double, actually bigint), one missing column (checksum), and
# omits `source` so it reports unexpected.
# =====================================================================
_SCHEMA_SPEC = {
    "doc_id": "bigint",
    "text": "string",
    "lang": "string",
    "n_chars": "double",
    "checksum": "string",
}

_SCHEMA_CONTRACT_ORACLE = """
WITH actual AS (
  SELECT column_name AS col_name,
         CASE data_type
           WHEN 'BIGINT' THEN 'bigint'
           WHEN 'VARCHAR' THEN 'string'
           WHEN 'DOUBLE' THEN 'double'
           WHEN 'TIMESTAMP' THEN 'timestamp'
           WHEN 'BOOLEAN' THEN 'boolean'
           WHEN 'DATE' THEN 'date'
           WHEN 'BLOB' THEN 'binary'
           ELSE lower(data_type) END AS actual_type
  FROM information_schema.columns WHERE table_name = 'documents'
), expected AS (
  SELECT * FROM (VALUES
    ('doc_id', 'bigint'), ('text', 'string'), ('lang', 'string'),
    ('n_chars', 'double'), ('checksum', 'string')
  ) AS t(col_name, expected_type)
)
SELECT COALESCE(e.col_name, a.col_name) AS col_name,
       CASE WHEN a.col_name IS NULL THEN 'missing'
            WHEN e.col_name IS NULL THEN 'unexpected'
            WHEN e.expected_type = a.actual_type THEN 'ok'
            ELSE 'type_mismatch' END AS status,
       e.expected_type,
       a.actual_type
FROM expected e FULL OUTER JOIN actual a ON e.col_name = a.col_name
"""


@query("schema_contract_documents", oracle=_SCHEMA_CONTRACT_ORACLE)
def q_schema_contract_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-contract verdicts for the documents table against a spec with
    a planted type mismatch, a planted missing column, and an omitted
    actual column — ok / type_mismatch / missing / unexpected, computed
    from driver-side metadata only (no executor work at any corpus size)."""
    from data_validator_guard_spark.operators.schema import schema_contract

    docs = read_table(spark, sf_dir, "documents")
    return schema_contract(spark, docs, _SCHEMA_SPEC)
