"""Rule-engine unit tests on planted-defect fixtures.

The mock table ports the *data* of the reference's only fixture
(`/root/reference/validation/testing/mock_data.py:3-28` +
`execute_test.py:4`): known duplicate ids, suffix variants, and city typos
with known expected violation counts (FIXTURES.md §2).
"""

from __future__ import annotations

import pytest

from data_validator_guard_spark.engine import report, validate
from data_validator_guard_spark.rules import Rule, RuleSuite

MOCK_ROWS = [
    ("123", "Alice", "New York"),
    ("456", "Bob", "London"),
    ("789", "Charlie", "Paris"),
    ("123", "David", "New York"),      # exact dup id
    ("xyz", "Eve", "Londen"),          # typo city
    ("xyz", "Frank", "London"),        # exact dup id
    ("abc", "Grace", "Paris"),
    ("a-b-c", "Heidi", "Pariss"),      # typo city
    ("abc_v", "Ivan", "London"),       # suffix variant of abc
    ("789", "Judy", "Londn"),          # dup id + typo city
    ("jkl", "Ken", "Pari"),            # typo city
]
ALLOWED_CITIES = ["New York", "London", "Paris"]


@pytest.fixture(scope="module")
def mock_df(spark):
    return spark.createDataFrame(MOCK_ROWS, "id string, name string, city string")


def _verdict(verdicts, rule_id):
    rows = [r for r in verdicts.collect() if r.rule_id == rule_id]
    assert len(rows) == 1
    return rows[0]


def test_unique_detects_planted_duplicates(spark, mock_df):
    suite = RuleSuite("mock", [Rule("id_unique", "unique", ("id",))], key_cols=("id", "name"))
    verdicts, violations = validate(mock_df, suite)
    v = _verdict(verdicts, "id_unique")
    # 3 duplicated keys (123, xyz, 789), each with 2 rows = 6 offending rows,
    # matching the reference's duplicated(keep=False) count.
    assert v["pass"] is False
    assert v.n_rows == len(MOCK_ROWS)
    assert v.n_violations == 6
    keys = sorted(r.keys for r in violations.collect())
    assert keys == ["123", "789", "xyz"]


def test_allowed_values_detects_typos(spark, mock_df):
    suite = RuleSuite(
        "mock",
        [Rule("city_allowed", "allowed_values", ("city",), {"values": ALLOWED_CITIES})],
        key_cols=("id",),
    )
    verdicts, violations = validate(mock_df, suite)
    v = _verdict(verdicts, "city_allowed")
    assert v.n_violations == 4  # Londen, Pariss, Londn, Pari
    details = [r.detail for r in violations.collect()]
    assert all("not in allowed set" in d for d in details)


def test_suffix_normalized_unique(spark, mock_df):
    # abc / abc_v collapse under suffix normalization; a-b-c does not (the
    # reference's logical-variant family needs id normalization beyond this
    # engine's normalized-unique; we assert the v-suffix family only, cf.
    # maganamed_validation.py:136-155).
    from data_validator_guard_spark.functions import suffix_normalized

    df = mock_df.withColumn("id_norm", suffix_normalized("id"))
    suite = RuleSuite("mock", [Rule("idn_unique", "unique", ("id_norm",))], key_cols=("id",))
    verdicts, violations = validate(df, suite)
    keys = sorted(r.keys for r in violations.collect())
    assert "abc" in keys  # abc + abc_v
    v = _verdict(verdicts, "idn_unique")
    assert v.n_violations == 8  # 123x2, xyzx2, 789x2, abc+abc_v


def test_foreign_key_and_row_rules_fused(spark, mock_df):
    dim = spark.createDataFrame([(c,) for c in ALLOWED_CITIES + ["Londen"]], "city string")
    suite = RuleSuite(
        "mock",
        [
            Rule("city_fk", "foreign_key", ("city",), {"dim": dim}),
            Rule("id_pattern", "regex_match", ("id",), {"pattern": r"^[a-z0-9]{3}$"}),
            Rule("name_not_blank", "not_blank", ("name",)),
            Rule("min_rows", "min_rows", (), {"n": 5}),
        ],
        key_cols=("id",),
    )
    verdicts, violations = validate(mock_df, suite)
    assert _verdict(verdicts, "city_fk").n_violations == 3  # Pariss, Londn, Pari
    assert _verdict(verdicts, "id_pattern").n_violations == 2  # a-b-c, abc_v
    assert _verdict(verdicts, "name_not_blank").n_violations == 0
    assert _verdict(verdicts, "min_rows")["pass"] is True


def test_group_consistency(spark):
    df = spark.createDataFrame(
        [
            ("p1", "depression"), ("p1", "depression"),
            ("p2", "anxiety"), ("p2", "bipolar"),     # inconsistent group
            ("p3", "ocd"),
        ],
        "pid string, diagnosis string",
    )
    suite = RuleSuite(
        "diag",
        [Rule("diag_stable", "group_consistency", ("diagnosis",), {"group_by": "pid"})],
        key_cols=("pid",),
    )
    verdicts, violations = validate(df, suite)
    v = _verdict(verdicts, "diag_stable")
    assert v["pass"] is False and v.n_violations == 1
    assert violations.collect()[0].keys == "p2"


def test_completeness(spark):
    df = spark.createDataFrame(
        [
            ("p1", "a", "b", "c", "d", "e"),   # 100%
            ("p2", "a", None, "", "d", "e"),   # 60% -> violation at 0.8
            ("p3", "a", "b", "c", "d", None),  # 80% -> pass
        ],
        "pid string, q1 string, q2 string, q3 string, q4 string, q5 string",
    )
    suite = RuleSuite(
        "saq",
        [Rule("q_complete", "completeness", ("q1", "q2", "q3", "q4", "q5"), {"threshold": 0.8})],
        key_cols=("pid",),
    )
    verdicts, violations = validate(df, suite)
    assert _verdict(verdicts, "q_complete").n_violations == 1
    assert violations.collect()[0].keys == "p2"


def test_partitioned_verdicts(spark):
    df = spark.createDataFrame(
        [("a", None), ("a", "x"), ("b", "y"), ("b", "z")], "grp string, v string"
    )
    suite = RuleSuite("p", [Rule("v_not_null", "not_null", ("v",))], partition_by="grp")
    verdicts, _ = validate(df, suite)
    got = {r.partition: (r["pass"], r.n_rows, r.n_violations) for r in verdicts.collect()}
    assert got == {"a": (False, 2, 1), "b": (True, 2, 0)}


def test_report_ordering(spark, mock_df):
    suite = RuleSuite(
        "mock",
        [
            Rule("id_unique", "unique", ("id",)),
            Rule("city_allowed", "allowed_values", ("city",), {"values": ALLOWED_CITIES}),
        ],
        key_cols=("id",),
    )
    verdicts, violations = report(*validate(mock_df, suite))
    rv = [r.rule_id for r in verdicts.collect()]
    assert rv == sorted(rv)


def test_range_tolerance_and_derived_equality(spark):
    from data_validator_guard_spark.engine import validate
    from data_validator_guard_spark.rules import Rule, RuleSuite

    df = spark.createDataFrame(
        [
            (1, 10, 12, "a", "a"),
            (2, 10, 25, "b", "b"),   # delta 15 > tol 5
            (3, None, 12, "c", "x"), # null value → range violation; c != x
            (4, 10, 10, None, None), # null == null → derived passes
        ],
        "id long, v long, expected long, got string, want string",
    )
    suite = RuleSuite(
        name="t",
        rules=[
            Rule("rt", "range_tolerance", ("v",), {"value": "v", "expected": "expected", "tol": 5.0}),
            Rule("de", "derived_equality", ("got",), {"value": "got", "expected": "want"}),
        ],
        key_cols=("id",),
    )
    verdicts, violations = validate(df, suite)
    v = {r.rule_id: r for r in verdicts.collect()}
    assert v["rt"].n_violations == 2 and not v["rt"]["pass"]
    assert v["de"].n_violations == 1 and not v["de"]["pass"]
    keys = {(r.rule_id, r.keys) for r in violations.collect()}
    assert ("rt", "2") in keys and ("rt", "3") in keys and ("de", "3") in keys


def test_validate_many_and_empty_table_semantics(spark):
    from data_validator_guard_spark.engine import validate, validate_many
    from data_validator_guard_spark.rules import Rule, RuleSuite

    a = spark.createDataFrame([(1, "x"), (2, None)], "id long, v string")
    b = spark.createDataFrame([(1,), (1,)], "k long")
    suites = {
        "a": (a, RuleSuite("a", [Rule("v_nn", "not_null", ("v",))], key_cols=("id",))),
        "b": (b, RuleSuite("b", [Rule("k_uniq", "unique", ("k",))], key_cols=("k",))),
    }
    verdicts, violations = validate_many(suites)
    v = {(r.table, r.rule_id): r.n_violations for r in verdicts.collect()}
    assert v[("a", "v_nn")] == 1 and v[("b", "k_uniq")] == 2
    assert {r.table for r in violations.collect()} == {"a", "b"}

    # documented semantics: partitions with zero rows produce no verdict rows
    # (verdicts exist per observed partition value; an empty table yields an
    # empty verdicts frame, mirroring the reference's "no data -> no report").
    empty = spark.createDataFrame([], "id long, v string")
    ev, _ = validate(empty, suites["a"][1])
    assert ev.count() == 0


def test_fused_drift_totals_matches_fallback(spark):
    """The (partition, group, bucket) totals grain must be invisible:
    identical verdicts whether cardinality merges HLL sketches across the
    drift grain or counts exact distinct values per partition."""
    from pyspark.sql import functions as F

    from data_validator_guard_spark.engine import validate
    from data_validator_guard_spark.operators.drift import histogram
    from data_validator_guard_spark.rules import Rule, RuleSuite

    rows = [
        (i, "g" + str(i % 3), "x" * (10 + (i * 7) % 50), None if i % 10 == 0 else "v")
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "id long, grp string, content string, v string")
    edges = [0.0, 20.0, 40.0, 60.0]
    baseline = histogram(df, "grp", F.length("content"), edges)

    def mk_suite(exact: bool) -> RuleSuite:
        return RuleSuite(
            "fuse",
            [
                Rule("v_not_blank", "not_blank", ("v",)),
                Rule("grp_card", "cardinality_range", ("grp",), {"lo": 1, "hi": 10, "exact": exact}),
                Rule("null_rate", "null_rate_max", ("v",), {"max_rate": 0.5}),
                Rule(
                    "len_drift",
                    "drift",
                    ("content",),
                    {
                        "group_by": "grp",
                        "value": "length(content)",
                        "edges": edges,
                        "baseline": baseline,
                        "threshold": 10.0,  # high: no violations either way
                    },
                ),
            ],
            key_cols=("id",),
        )

    v_fused, _ = validate(df, mk_suite(exact=False))     # HLL sketches
    v_direct, _ = validate(df, mk_suite(exact=True))     # exact distinct count
    fused = {(r.rule_id): (r["pass"], r.n_rows, r.n_violations) for r in v_fused.collect()}
    direct = {(r.rule_id): (r["pass"], r.n_rows, r.n_violations) for r in v_direct.collect()}
    assert fused == direct
    assert fused["v_not_blank"] == (False, 300, 30)


def test_exact_cardinality_at_high_cardinality(spark):
    """Exact cardinality counts the distinct non-NULL values of each
    partition — here thousands per partition, with and without a drift rule
    widening the totals grain — and passes exactly up to ``hi``."""
    from pyspark.sql import functions as F

    from data_validator_guard_spark.engine import validate
    from data_validator_guard_spark.operators.drift import histogram
    from data_validator_guard_spark.rules import Rule, RuleSuite

    df = spark.range(6000).select(
        (F.col("id") % 2).cast("string").alias("p"),
        F.when(F.col("id") % 5 == 0, None).otherwise(F.col("id") % 4001).alias("v"),
        F.col("id").cast("string").alias("content"),
    )
    truth = {r.p: r.c for r in df.groupBy("p").agg(F.count_distinct("v").alias("c")).collect()}
    assert min(truth.values()) > 1000
    edges = [0.0, 2.0, 4.0]
    drift = Rule(
        "len_drift",
        "drift",
        ("content",),
        {
            "group_by": "p",
            "value": "length(content)",
            "edges": edges,
            "baseline": histogram(df, "p", F.length("content"), edges),
            "threshold": 10.0,
        },
    )
    for extra in ([], [drift]):
        his = sorted({n for n in truth.values()} | {n - 1 for n in truth.values()})
        rules = [
            Rule(f"card_le_{hi}", "cardinality_range", ("v",), {"lo": 1, "hi": hi, "exact": True})
            for hi in his
        ]
        suite = RuleSuite("card", rules + extra, partition_by="p", key_cols=("content",))
        verdicts, _ = validate(df, suite)
        got = {(r.rule_id, r.partition): r["pass"] for r in verdicts.collect()}
        for hi in his:
            for p, n in truth.items():
                assert got[(f"card_le_{hi}", p)] == (n <= hi)


def test_inline_fk_null_dim_rows_still_counts_violations(spark):
    """A NULL row in an inline dim must not poison the isin into three-valued
    logic (c IN (..., NULL) is NULL for non-members → every violation
    silently dropped). NULL dim values are filtered out after collect —
    they can never match the equi-join semantics anyway."""
    from data_validator_guard_spark.engine import validate
    from data_validator_guard_spark.rules import Rule, RuleSuite

    df = spark.createDataFrame(
        [(1, "en"), (2, "xx"), (3, None)], "id bigint, lang string"
    )
    dim = spark.createDataFrame([("en",), (None,)], "lang string")
    suite = RuleSuite(
        "p",
        [Rule("fk", "foreign_key", ("lang",), {"dim": dim, "inline": True})],
        key_cols=("id",),
    )
    verdicts, violations = validate(df, suite)
    v = verdicts.collect()[0]
    assert v.n_violations == 2 and v["pass"] is False
    assert violations.count() == 2


def test_inline_fk_large_dim_fails_fast(spark):
    """Inline dims are small by contract — a miswired large dim must raise
    instead of collecting onto the driver."""
    import pytest as _pytest

    from data_validator_guard_spark.engine import validate
    from data_validator_guard_spark.rules import Rule, RuleSuite

    df = spark.createDataFrame([(1, "a")], "id bigint, lang string")
    dim = spark.createDataFrame([(f"v{i}",) for i in range(20)], "lang string")
    suite = RuleSuite(
        "p",
        [
            Rule(
                "fk",
                "foreign_key",
                ("lang",),
                {"dim": dim, "inline": True, "max_inline_values": 5},
            )
        ],
        key_cols=("id",),
    )
    with _pytest.raises(ValueError, match="more than 5 distinct values"):
        validate(df, suite)


def test_is_blank_trailing_newline_is_not_blank(spark):
    """`$` in Java regex matches before a final line terminator; the engine
    must match trim-equality semantics (space-only = blank), so "\\n" and
    " \\r\\n" are NOT blank — exactly what every DuckDB oracle computes."""
    from data_validator_guard_spark.functions import is_blank

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "\n"), (4, " \r\n"), (5, "x"), (6, None)],
        "id bigint, v string",
    )
    got = {r.id: r.b for r in df.select("id", is_blank("v").alias("b")).collect()}
    assert got == {1: True, 2: True, 3: False, 4: False, 5: False, 6: True}


def test_conditional_rule_where_guard(spark):
    """params['where'] restricts a row rule to matching rows; guard-false and
    guard-NULL rows are never violations, n_rows stays the total."""
    from data_validator_guard_spark.engine import validate
    from data_validator_guard_spark.rules import Rule, RuleSuite

    df = spark.createDataFrame(
        [
            (1, "active", None),      # guarded + violating
            (2, "active", "e@x.io"),  # guarded + ok
            (3, "inactive", None),    # guard false -> not a violation
            (4, None, None),          # guard NULL -> not a violation
        ],
        "id bigint, status string, email string",
    )
    suite = RuleSuite(
        "p",
        [Rule("active_email", "not_null", ("email",), {"where": "status = 'active'"})],
        key_cols=("id",),
    )
    verdicts, violations = validate(df, suite)
    v = verdicts.collect()[0]
    assert (v.n_rows, v.n_violations, v["pass"]) == (4, 1, False)
    assert [r.keys for r in violations.collect()] == ["1"]


def test_two_column_foreign_key_where_flags_only_guarded_rows(spark):
    """The broadcast anti-join plan applies ``where`` like every row rule:
    unknown pairs outside the guard are not violations."""
    df = spark.createDataFrame(
        [
            (1, "active", "en", "US"),    # guarded + unknown pair -> violation
            (2, "active", "de", "DE"),    # guarded + known pair
            (3, "inactive", "xx", "ZZ"),  # guard false -> not a violation
            (4, None, "yy", "YY"),        # guard NULL -> not a violation
        ],
        "id bigint, status string, lang string, country string",
    )
    dim = spark.createDataFrame([("de", "DE"), ("en", "GB")], "lang string, country string")
    suite = RuleSuite(
        "p",
        [
            Rule(
                "pair_fk",
                "foreign_key",
                ("lang", "country"),
                {"dim": dim, "where": "status = 'active'"},
            )
        ],
        key_cols=("id",),
    )
    verdicts, violations = validate(df, suite)
    v = verdicts.collect()[0]
    assert (v.n_rows, v.n_violations, v["pass"]) == (4, 1, False)
    assert [r.keys for r in violations.collect()] == ["1"]


def test_foreign_key_where_same_on_inline_and_broadcast_plans(spark):
    """One ``where`` means one row set: the inline ``isin`` row rule and the
    broadcast anti-join give the same verdicts and violation rows."""
    df = spark.createDataFrame(
        [
            (1, "a", "en"),
            (2, "a", "xx"),   # guarded, unknown -> violation
            (3, "a", None),   # guarded, NULL -> violation
            (4, "b", "yy"),   # guard false
            (5, None, "zz"),  # guard NULL
        ],
        "id bigint, grp string, lang string",
    )
    dim = spark.createDataFrame([("en",), ("de",)], "lang string")

    def run(inline):
        suite = RuleSuite(
            "p",
            [
                Rule(
                    "fk",
                    "foreign_key",
                    ("lang",),
                    {"dim": dim, "inline": inline, "where": "grp = 'a'"},
                )
            ],
            key_cols=("id",),
        )
        verdicts, violations = validate(df, suite)
        v = verdicts.select("rule_id", "pass", "n_rows", "n_violations")
        return (
            [tuple(r) for r in v.collect()],
            sorted(tuple(r) for r in violations.select("keys", "detail").collect()),
        )

    inline, broadcast = run(True), run(False)
    assert inline == broadcast
    assert inline[0] == [("fk", False, 5, 2)]
    assert [k for k, _ in inline[1]] == ["2", "3"]


def test_where_on_a_type_that_ignores_it_fails_at_definition(spark):
    """A guard the plan would silently ignore is a misconfiguration: it
    raises when the rule is defined, naming the rule."""
    with pytest.raises(ValueError, match="'u'.*where"):
        Rule("u", "unique", ("id",), {"where": "x > 0"})
    with pytest.raises(ValueError, match="'m'.*where"):
        Rule("m", "min_rows", (), {"n": 1, "where": "x > 0"})
    Rule("ok", "not_null", ("id",), {"where": "x > 0"})
    Rule("ok_fk", "foreign_key", ("id",), {"dim": None, "where": "x > 0"})


def test_join_consistency_rule(spark):
    """Rule 13: joined-table agreement. Mismatch and no-match both violate
    (require_match default); require_match=False skips unmatched rows."""
    from data_validator_guard_spark import plans
    from data_validator_guard_spark.engine import validate
    from data_validator_guard_spark.rules import Rule, RuleSuite

    df = spark.createDataFrame(
        [(1, "s1", "en"), (2, "s1", "de"), (3, "s9", "en")],
        "id bigint, code string, lang string",
    )
    dim = spark.createDataFrame([("s1", "en")], "code string, want string")

    def mk(require_match):
        return RuleSuite(
            "p",
            [
                Rule(
                    "agree",
                    "join_consistency",
                    ("lang",),
                    {
                        "other": dim,
                        "on": ["code"],
                        "expr": "lang = want",
                        "require_match": require_match,
                    },
                )
            ],
            key_cols=("id",),
        )

    v, x = validate(df, mk(True))
    assert plans.uses_broadcast_join(x)  # the collapsed dim is always broadcast
    r = v.collect()[0]
    assert (r.n_violations, r["pass"]) == (2, False)  # id 2 mismatch, id 3 no match
    details = {row.keys: row.detail for row in x.collect()}
    assert "no match" in details["3"] and "violated" in details["2"]

    v2, _ = validate(df, mk(False))
    assert v2.collect()[0].n_violations == 1  # unmatched row 3 skipped


def test_join_consistency_duplicate_dim_keys_fail_loudly(spark):
    """Round-2 advice: a dim that is NOT unique on the join keys would fan
    matched rows out (n_violations > n_rows). The woven assert must fail the
    job instead of silently multiplying verdicts."""
    import pytest as _pytest

    from data_validator_guard_spark.engine import validate
    from data_validator_guard_spark.rules import Rule, RuleSuite

    df = spark.createDataFrame([(1, "s1", "en")], "id bigint, code string, lang string")
    dup_dim = spark.createDataFrame(
        [("s1", "en"), ("s1", "de")], "code string, want string"
    )
    suite = RuleSuite(
        "p",
        [
            Rule(
                "agree",
                "join_consistency",
                ("lang",),
                {"other": dup_dim, "on": ["code"], "expr": "lang = want"},
            )
        ],
        key_cols=("id",),
    )
    _, violations = validate(df, suite)
    with _pytest.raises(Exception, match="not unique on join keys"):
        violations.collect()


def test_join_consistency_ambiguous_column_rejected(spark):
    """A dim column that shadows a left column AND is referenced by the expr
    is ambiguous — rejected at plan-build time with an actionable message."""
    import pytest as _pytest

    from data_validator_guard_spark.engine import validate
    from data_validator_guard_spark.rules import Rule, RuleSuite

    df = spark.createDataFrame([(1, "s1", "en")], "id bigint, code string, lang string")
    dim = spark.createDataFrame([("s1", "en")], "code string, lang string")
    suite = RuleSuite(
        "p",
        [
            Rule(
                "agree",
                "join_consistency",
                ("lang",),
                {"other": dim, "on": ["code"], "expr": "lang = lang"},
            )
        ],
        key_cols=("id",),
    )
    with _pytest.raises(ValueError, match="rename them on the dim"):
        validate(df, suite)


def test_rule_param_validation_fails_at_definition_time(spark):
    import pytest as _pytest

    from data_validator_guard_spark.rules import Rule

    with _pytest.raises(ValueError, match="missing required params: \\['pattern'\\]"):
        Rule("r", "regex_match", ("a",))
    with _pytest.raises(ValueError, match="requires at least one column"):
        Rule("r", "unique", ())
    with _pytest.raises(ValueError, match="missing required params"):
        Rule("r", "join_consistency", ("a",), {"other": None})
    # min_max legitimately allows one-sided bounds
    Rule("ok", "min_max", ("a",), {"lo": 0})


def test_depends_on_gated_execution(spark):
    """Per-partition skip: a rule whose dependency failed reports pass=NULL /
    n_violations=NULL and emits no violation rows there; chains propagate via
    the transitive closure (A fails -> B skipped -> C skipped too)."""
    df = spark.createDataFrame(
        [
            # partition p1: gate fails (x=0 present) -> b and c skipped
            (1, "p1", 0, None),
            (2, "p1", 1, "ok"),
            # partition p2: gate passes, b FAILS (null v) -> c skipped via b
            (3, "p2", 1, None),
            (4, "p2", 1, "ok"),
            # partition p3: everything passes -> c evaluated (and fails on 'BAD')
            (5, "p3", 1, "BAD"),
        ],
        "id long, part string, x int, v string",
    )
    suite = RuleSuite(
        name="gated",
        rules=[
            Rule("gate", "cross_column", (), {"expr": "x > 0"}),
            Rule("b_not_null", "not_null", ("v",), {"depends_on": ("gate",)}),
            Rule(
                "c_lower",
                "regex_match",
                ("v",),
                {"pattern": "^[a-z]+$", "depends_on": ("b_not_null",)},
            ),
        ],
        partition_by="part",
        key_cols=("id",),
    )
    verdicts, violations = validate(df, suite)
    v = {(r.rule_id, r.partition): r for r in verdicts.collect()}
    assert v[("gate", "p1")]["pass"] is False
    assert v[("b_not_null", "p1")]["pass"] is None
    assert v[("b_not_null", "p1")].n_violations is None
    assert v[("c_lower", "p1")]["pass"] is None  # closure: gate in c's closure
    assert v[("gate", "p2")]["pass"] is True
    assert v[("b_not_null", "p2")]["pass"] is False
    assert v[("c_lower", "p2")]["pass"] is None  # b failed -> c skipped
    assert v[("gate", "p3")]["pass"] is True
    assert v[("b_not_null", "p3")]["pass"] is True
    assert v[("c_lower", "p3")]["pass"] is False  # evaluated, 'BAD' violates
    # n_rows untouched by skipping
    assert v[("b_not_null", "p1")].n_rows == 2
    # violations for skipped (rule, partition) pairs are suppressed
    viol = [(r.rule_id, r.partition) for r in violations.collect()]
    assert ("gate", "p1") in viol
    assert ("b_not_null", "p2") in viol
    assert ("c_lower", "p3") in viol
    assert ("b_not_null", "p1") not in viol
    assert ("c_lower", "p1") not in viol
    assert ("c_lower", "p2") not in viol


def test_depends_on_validation_at_definition_time():
    with pytest.raises(ValueError, match="unknown rule"):
        RuleSuite(
            name="bad",
            rules=[Rule("a", "cross_column", (), {"expr": "1=1", "depends_on": ("nope",)})],
        )
    with pytest.raises(ValueError, match="depends_on itself"):
        RuleSuite(
            name="selfdep",
            rules=[Rule("a", "cross_column", (), {"expr": "1=1", "depends_on": ("a",)})],
        )
    with pytest.raises(ValueError, match="cycle"):
        RuleSuite(
            name="cyc",
            rules=[
                Rule("a", "cross_column", (), {"expr": "1=1", "depends_on": ("b",)}),
                Rule("b", "cross_column", (), {"expr": "1=1", "depends_on": ("a",)}),
            ],
        )


def test_join_consistency_clash_in_string_literal_is_not_a_reference(spark):
    """Round-3 advice: a dim column name appearing only inside a string
    literal (or comment) of params['expr'] is not a reference — the suite
    must validate, with the unreferenced clash column dropped from the dim
    (left columns win). A real reference must still be rejected."""
    import pytest as _pytest

    from data_validator_guard_spark.engine import validate
    from data_validator_guard_spark.rules import Rule, RuleSuite

    # `status` exists on BOTH sides (a clash); the expr mentions it ONLY
    # inside a string literal and a comment — previously the bare-identifier
    # tokenizer saw it there and raised a spurious definition-time error.
    df = spark.createDataFrame(
        [(1, "s1", "en", "status", "ok")],
        "id bigint, code string, lang string, category string, status string",
    )
    dim = spark.createDataFrame(
        [("s1", "en", "x")], "code string, want string, status string"
    )

    def mk(expr):
        return RuleSuite(
            "p",
            [
                Rule(
                    "agree",
                    "join_consistency",
                    ("lang",),
                    {"other": dim, "on": ["code"], "expr": expr},
                )
            ],
            key_cols=("id",),
        )

    _, violations = validate(
        df, mk("lang = want AND category = 'status' -- status guard")
    )
    assert violations.count() == 0

    # a genuine (code-part) reference to the clash column must still fail
    with _pytest.raises(ValueError, match="exist in BOTH"):
        validate(df, mk("lang = want AND status = 'ok'"))


def test_violation_sampling_bounds_emission_not_counts(spark):
    """validate(violation_sample_ppm=...): verdict counts must be EXACTLY
    the unsampled counts (they derive from counters, not the emitted frame);
    the emitted rows must be a deterministic strict subset, full at ppm=10^6
    and empty at ppm=0; invalid ppm rejected at call time."""
    import pytest as _pytest

    from data_validator_guard_spark.engine import validate
    from data_validator_guard_spark.rules import Rule, RuleSuite

    df = spark.createDataFrame(
        [(i, "zz" if i % 3 == 0 else "en") for i in range(300)],
        "id bigint, lang string",
    )
    dim = spark.createDataFrame([("en",), ("de",)], "lang string")

    def mk():
        return RuleSuite(
            "p",
            [Rule("lang_fk", "foreign_key", ("lang",), {"dim": dim})],
            key_cols=("id",),
        )

    v_full, x_full = validate(df, mk())
    full_rows = {(r.rule_id, r.keys) for r in x_full.collect()}
    full_counts = {(r.rule_id, r.partition): r.n_violations for r in v_full.collect()}

    v_s, x_s = validate(df, mk(), violation_sample_ppm=500_000)
    sampled = {(r.rule_id, r.keys) for r in x_s.collect()}
    assert sampled < full_rows  # strict subset (100 violations, ~50% kept)
    assert 0 < len(sampled) < len(full_rows)
    # verdict counts are the EXACT unsampled counts
    assert {
        (r.rule_id, r.partition): r.n_violations for r in v_s.collect()
    } == full_counts

    _, x_all = validate(df, mk(), violation_sample_ppm=1_000_000)
    assert {(r.rule_id, r.keys) for r in x_all.collect()} == full_rows
    _, x_none = validate(df, mk(), violation_sample_ppm=0)
    assert x_none.count() == 0

    with _pytest.raises(ValueError, match="violation_sample_ppm"):
        validate(df, mk(), violation_sample_ppm=2_000_000)[1].count()


def test_group_consistency_count_nulls_semantics(spark):
    """Round-4 verdict #5: default ignores NULLs ({X, NULL, NULL} passes);
    count_nulls=True treats NULL as one extra distinct value (reference
    parity with x == x.iloc[0] NaN behavior); an all-NULL group passes
    under BOTH settings (nothing to disagree with)."""
    from data_validator_guard_spark.engine import validate
    from data_validator_guard_spark.rules import Rule, RuleSuite

    rows = [
        ("g1", "X"), ("g1", None), ("g1", None),   # consistent + NULLs
        ("g2", "A"), ("g2", "B"),                   # genuinely inconsistent
        ("g3", None), ("g3", None),                 # all NULL
        ("g4", "Y"), ("g4", "Y"),                   # clean
    ]
    df = spark.createDataFrame(rows, "g string, v string")
    suite = RuleSuite(
        name="gc",
        rules=[
            Rule("gc_default", "group_consistency", ("v",), {"group_by": "g"}),
            Rule("gc_nulls", "group_consistency", ("v",), {"group_by": "g", "count_nulls": True}),
        ],
        key_cols=("g",),
    )
    verdicts, violations = validate(df, suite)
    nv = {r.rule_id: r.n_violations for r in verdicts.collect()}
    assert nv == {"gc_default": 1, "gc_nulls": 2}
    flagged = {(r.rule_id, r.keys) for r in violations.collect()}
    assert flagged == {("gc_default", "g2"), ("gc_nulls", "g1"), ("gc_nulls", "g2")}


def test_validate_caches_are_released(spark):
    """validate() caches the fine histogram (a drift rule reads it) and the
    fragment union; after the verdicts are collected and the violations
    sunk, one unpersist_intermediates() call releases both, so the context
    holds none of the RDDs the run added."""
    from pyspark.sql import functions as F

    from data_validator_guard_spark.operators.drift import histogram
    from data_validator_guard_spark.session import unpersist_intermediates

    def persistent() -> set:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    rows = [(i, "g" + str(i % 3), "x" * (10 + (i * 7) % 50)) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, grp string, content string")
    edges = [0.0, 20.0, 40.0, 60.0]
    suite = RuleSuite(
        "cached",
        [
            Rule("id_unique", "unique", ("id",)),
            Rule(
                "len_drift",
                "drift",
                ("content",),
                {
                    "group_by": "grp",
                    "value": "length(content)",
                    "edges": edges,
                    "baseline": histogram(df, "grp", F.length("content"), edges),
                    "threshold": 0.1,
                },
            ),
        ],
        key_cols=("id",),
    )
    unpersist_intermediates()  # clean slate
    before = persistent()
    verdicts, violations = validate(df, suite)
    verdicts.collect()
    violations.write.format("noop").mode("overwrite").save()
    added = persistent() - before
    assert len(added) >= 2, "the fine histogram and the fragment union are cached"
    assert unpersist_intermediates() >= 2
    assert not added & persistent()


def test_rule_params_are_read_only():
    """A Rule keeps a read-only copy of its params: the caller's dict can
    change afterwards without reaching the rule, and assigning through the
    rule raises at once, so a suite's compiled form cannot go stale."""
    params = {"pattern": "^a"}
    r = Rule("r", "regex_match", ("a",), params)
    params["pattern"] = "^b"
    assert r.params["pattern"] == "^a"
    with pytest.raises(TypeError):
        r.params["pattern"] = "^c"
    assert r == Rule("r", "regex_match", ("a",), {"pattern": "^a"})


def _jobs_started(spark, fn) -> int:
    """The number of Spark jobs ``fn()`` starts, counted by job group."""
    import uuid

    sc = spark.sparkContext
    group = f"dvg-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jobs started")
    try:
        fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_validate_compiles_a_suite_once(spark):
    """The flagship suite compiles on its first validate: the inline-FK
    collect starts 2 jobs before any action. A second validate reuses the
    compiled form and starts none. With the drift rule, the compile also
    collects the baseline once, and each validate collects its current
    histogram to score it: a warm call starts exactly that collect's jobs,
    fewer than the first call. A bad violation_sample_ppm fails before any
    job, even on a suite never compiled."""
    from pyspark.sql import functions as F

    from data_validator_guard_spark.operators.drift import histogram
    from data_validator_guard_spark.session import track_persist, unpersist_intermediates
    from data_validator_guard_spark.suites import LENGTH_EDGES, source_code_suite
    from data_validator_guard_spark.synth import source_code_table

    df = source_code_table(spark, 2_000, seed=3)
    suite = source_code_suite(spark)

    def bad_ppm():
        with pytest.raises(ValueError, match="violation_sample_ppm"):
            validate(df, suite, violation_sample_ppm=-1)

    assert _jobs_started(spark, bad_ppm) == 0
    assert _jobs_started(spark, lambda: validate(df, suite)) == 2
    compiled = suite.compiled
    assert _jobs_started(spark, lambda: validate(df, suite)) == 0
    assert suite.compiled is compiled

    baseline = histogram(df, "lang", F.length("content"), LENGTH_EDGES)
    drift_suite = source_code_suite(spark, baseline_hist=baseline)

    def drift_validate():
        unpersist_intermediates()  # each call caches and fills its own histogram
        validate(df, drift_suite)

    first = _jobs_started(spark, drift_validate)
    compiled = drift_suite.compiled

    def histogram_collect():
        unpersist_intermediates()
        fine = track_persist(df.groupBy(*compiled.grain).agg(*compiled.fine_aggs))
        fine.select(*compiled.drift_cur).toPandas()

    collect = _jobs_started(spark, histogram_collect)
    second = _jobs_started(spark, drift_validate)
    third = _jobs_started(spark, drift_validate)
    unpersist_intermediates()
    assert second == collect and third == collect, (first, collect, second, third)
    assert second < first and third < first, (first, second, third)
    assert drift_suite.compiled is compiled


def test_warm_validation_compiles_no_code(spark):
    """A second validation of the same input reuses every generated class:
    the code cache holds the plans of a whole validate (verdicts collected,
    violations to the noop sink), so Spark compiles nothing the second
    time. Read from Spark's own compile counter."""
    from pyspark.sql import functions as F

    from data_validator_guard_spark.operators.drift import histogram
    from data_validator_guard_spark.session import unpersist_intermediates
    from data_validator_guard_spark.suites import LENGTH_EDGES, source_code_suite
    from data_validator_guard_spark.synth import source_code_table

    df = source_code_table(spark, 2_000, seed=5)
    suite = source_code_suite(
        spark, baseline_hist=histogram(df, "lang", F.length("content"), LENGTH_EDGES)
    )
    metrics = getattr(spark._jvm.org.apache.spark.metrics.source, "CodegenMetrics$")
    compiled = metrics.__getattr__("MODULE$").METRIC_COMPILATION_TIME()

    def run():
        try:
            verdicts, violations = validate(df, suite)
            verdicts.collect()
            violations.write.format("noop").mode("overwrite").save()
        finally:
            unpersist_intermediates()

    run()
    before = compiled.getCount()
    run()
    assert compiled.getCount() == before


def _compile_suite(spark):
    """A suite with a where guard, depends_on, exact cardinality, an inline
    FK, unique and drift. Built anew on each call."""
    from pyspark.sql import functions as F

    from data_validator_guard_spark.operators.drift import histogram

    dim = spark.createDataFrame([("en",), ("de",)], "lang string")
    edges = [0.0, 4.0, 8.0]
    base = spark.createDataFrame(
        [(i, ["en", "de"][i % 2], "x" * (i % 10)) for i in range(40)],
        "id bigint, lang string, txt string",
    )
    return RuleSuite(
        "memo",
        [
            Rule("lang_fk", "foreign_key", ("lang",), {"dim": dim, "inline": True}),
            Rule("id_unique", "unique", ("id",)),
            Rule("txt_set", "not_null", ("txt",), {"where": "lang = 'en'"}),
            Rule("txt_len", "length_range", ("txt",), {"hi": 6, "depends_on": ["lang_fk"]}),
            Rule("lang_card", "cardinality_range", ("lang",), {"lo": 1, "hi": 2, "exact": True}),
            Rule(
                "txt_drift",
                "drift",
                ("txt",),
                {
                    "group_by": "lang",
                    "value": "length(txt)",
                    "edges": edges,
                    "baseline": histogram(base, "lang", F.length("txt"), edges),
                    "threshold": 0.1,
                },
            ),
        ],
        partition_by="p",
        key_cols=("id",),
    )


def test_drift_suite_over_empty_input(spark):
    """A drift suite over an empty input (a ledger resume with every
    partition done reads one) raises nothing and returns no verdict or
    violation rows; the drift scores are an empty local relation."""
    from pyspark.sql import functions as F

    from data_validator_guard_spark import plans
    from data_validator_guard_spark.operators.drift import drift_violations, histogram
    from data_validator_guard_spark.session import unpersist_intermediates

    df = spark.createDataFrame(
        [(i, ["en", "de"][i % 2], "x" * (i % 10)) for i in range(40)],
        "id bigint, lang string, txt string",
    )
    edges = [0.0, 4.0, 8.0]
    rule = Rule(
        "txt_drift",
        "drift",
        ("txt",),
        {
            "group_by": "lang",
            "value": "length(txt)",
            "edges": edges,
            "baseline": histogram(df, "lang", F.length("txt"), edges),
            "threshold": 0.1,
        },
    )
    empty = df.filter(F.lit(False))
    verdicts, violations = validate(empty, RuleSuite("d", [rule], partition_by="lang"))
    assert verdicts.collect() == [] and violations.collect() == []
    unpersist_intermediates()  # else the scores plan reads validate's cached union
    scores = drift_violations(empty, rule, F.col("lang"))
    assert scores.collect() == []
    plan = plans.plan_string(scores, "simple").strip().splitlines()
    assert len(plan) == 2 and plan[1].startswith("LocalTableScan <empty>"), plan


def test_memoized_suite_matches_fresh_suite(spark):
    """Validating two different inputs with one suite (compiled once) gives
    exactly what a freshly built suite gives for each input."""
    schema = "id bigint, p string, lang string, txt string"
    first = spark.createDataFrame(
        [(i, "a" if i < 12 else "b", ["en", "de", "xx"][i % 3], None if i % 5 == 0 else "y" * (i % 9))
         for i in range(24)]
        + [(3, "a", "en", "dup")],
        schema,
    )
    second = spark.createDataFrame(
        [(i, "b" if i % 2 else "c", ["en", "de"][i % 2], "z" * (i % 4)) for i in range(30)]
        + [(7, "b", "fr", None), (7, "b", "en", None)],
        schema,
    )

    def results(df, suite):
        verdicts, violations = validate(df, suite)
        return sorted(map(tuple, verdicts.collect()), key=repr), sorted(
            map(tuple, violations.collect()), key=repr
        )

    memo = _compile_suite(spark)
    for df in (first, second):
        assert results(df, memo) == results(df, _compile_suite(spark))
    assert results(first, memo) != results(second, memo)


def test_suites_with_different_dims_keep_separate_memos(spark):
    df = spark.createDataFrame(
        [(1, "en"), (2, "de"), (3, "xx")], "id bigint, lang string"
    )

    def suite(langs):
        dim = spark.createDataFrame([(v,) for v in langs], "lang string")
        return RuleSuite(
            "fk",
            [Rule("lang_fk", "foreign_key", ("lang",), {"dim": dim, "inline": True})],
            key_cols=("id",),
        )

    def flagged(s):
        return sorted(r.keys for r in validate(df, s)[1].collect())

    wide, narrow = suite(["en", "de"]), suite(["en"])
    assert flagged(wide) == ["3"]
    assert flagged(narrow) == ["2", "3"]
    assert flagged(wide) == ["3"]
    assert wide.compiled is not narrow.compiled
