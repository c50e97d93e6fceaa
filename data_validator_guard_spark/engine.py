"""Rule compiler + executor: rulebook → fused DataFrame plans → verdicts + violations.

Reference semantics being rebuilt (SURVEY.md §2.12, §3):
- verdict = "no issues collected" per check
  (`/root/reference/validation/general_validation.py:126-127`) — generalized to a
  **verdicts DataFrame** ``(rule_id, partition, pass, n_rows, n_violations)``.
- issues = violation rows collected per check and exported
  (`general_validation.py:110-125`) — generalized to a **violations DataFrame**
  ``(rule_id, partition, keys, detail)``.

Execution strategy (the part the reference could not have — SURVEY.md §4):

0. **Compile once per suite.** :func:`compile` builds everything that does
   not depend on the input — every Column expression, the inline-FK values
   (one guarded collect per inline dim), each drift rule's baseline (one
   collect), the totals grain with the drift bucket, the aggregation lists,
   the violation ``explode`` array, the verdict unpivot, the fragment
   builders and two empty local relations — into a frozen
   :class:`CompiledSuite`. ``validate`` compiles a suite on its
   first use and keeps the result on the suite object
   (``RuleSuite.compiled``); every call then makes only the DataFrame calls
   that read its input. Building Columns crosses the Python↔JVM boundary
   several times per expression, so a warm call that rebuilt them spent
   most of its driver time there ("Accelerating Python UDFs in Vectorized
   Query Execution", CIDR 2022, locates the cost at that boundary).
1. **One fused totals scan.** ``groupBy(*grain).agg(n_rows, *table-level
   measures, *row-rule violation counters)`` — every row-level rule's
   violation count is a ``sum(when(cond,1))`` in the SAME aggregation as the
   table-level measures (the one good idea in the reference —
   `maganamed_validation.py:100-134` fuses two checks into one scan — applied
   universally), so verdicts for row+agg rules cost exactly one pass and
   Catalyst prunes the read to the union of rule-referenced columns. The
   grain is the partition, plus the drift group and value bucket when the
   suite has a drift rule; a second, tiny aggregation merges the grain's
   decomposable measures per partition.
2. **One violation scan, only when violations are sunk.** Row-level violation
   *rows* come from a separate fused pass: an array-of-structs
   ``filter``+``explode`` emits all violating (rule, row) pairs in one
   whole-stage-codegen stage. A caller that only materializes verdicts (the
   common case at 10^12 scale: per-partition pass/fail first, details on
   demand) never executes it.
3. **Plan-level rules contribute weighted fragments.** unique / foreign_key /
   group_consistency / drift each produce a *weighted* violations fragment
   (weight = offending-row count per emitted key); verdicts join per-(rule,
   partition) weight sums against the totals. Fragment outputs are small
   (aggregations / anti-joins — never row-level violation rows), so the
   union is cached and shared between the two outputs.

Caching: ``validate`` caches the fine histogram (only when a drift rule
reads it; the drift collect fills it) and the fragment union (only when
there are fragments) through
:func:`~data_validator_guard_spark.session.track_persist`. The outputs are
lazy, so the caller releases both with
:func:`~data_validator_guard_spark.session.unpersist_intermediates` after
its last sink (``ledger.run_with_ledger`` does).

Operator choices:
- **unique**: one hash aggregation counting (partition, key hash), then an
  exact count of the candidate keys (north rule). The map-side partial count
  combines a hot key within each task, so skew needs no salt.
- **foreign_key**: broadcast left-anti join (`general_validation.py:94-108`
  was a Python set difference).
- **group_consistency**: exact distinct-count per group — an explicit,
  order-independent tightening of the reference's order-dependent
  ``x == x.iloc[0]`` (`maganamed_validation.py:231-232`; SURVEY.md §7 hard 4).
- **drift**: scored on the driver, with no Python worker. The compile
  collects the baseline histogram once; each ``validate`` collects the fine
  histogram (the totals' grain, cached, so the collect fills the cache the
  totals read) and scores every (partition, group) pair at once with one
  vectorized kernel; the scores are a local relation. See
  :mod:`data_validator_guard_spark.operators.drift`.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import partial, reduce
from typing import Callable, Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_validator_guard_spark.functions import is_blank, normalized, partition_value
from data_validator_guard_spark.operators.sampling import PPM, hash_keep
from data_validator_guard_spark.operators.uniqueness import duplicate_keys
from data_validator_guard_spark.rules import (
    AGG_LEVEL_TYPES,
    ROW_LEVEL_TYPES,
    Rule,
    RuleSuite,
)
from data_validator_guard_spark.session import local_frame, track_persist

VERDICT_COLS = ("rule_id", "partition", "pass", "n_rows", "n_violations")
VIOLATION_COLS = ("rule_id", "partition", "keys", "detail")

#: compiled columns bound to one input: ``input -> DataFrame``
Fragment = Callable[[DataFrame], DataFrame]


# ---------------------------------------------------------------- row level
def _row_violation(rule: Rule) -> tuple[Column, Column]:
    """Compile a row-level rule to (violation_condition, detail) columns."""
    p = rule.params
    t = rule.type
    if t == "not_null":
        c = F.col(rule.columns[0])
        return c.isNull(), F.lit(f"{rule.columns[0]} is null")
    if t == "not_blank":
        return is_blank(rule.columns[0]), F.lit(f"{rule.columns[0]} is blank")
    if t == "regex_match":
        c = F.col(rule.columns[0])
        cond = c.isNull() | ~c.rlike(p["pattern"])
        return cond, F.concat(
            F.lit(f"{rule.columns[0]} !~ {p['pattern']}: "),
            F.coalesce(c.cast("string"), F.lit("NULL")),
        )
    if t == "no_regex_match":
        c = F.col(rule.columns[0])
        return c.isNotNull() & c.rlike(p["pattern"]), F.concat(
            F.lit(f"{rule.columns[0]} ~ {p['pattern']}: "), c.cast("string")
        )
    if t == "allowed_values":
        c = F.col(rule.columns[0])
        norm = p.get("normalize", False)
        cn = normalized(c) if norm else c
        vals = [str(v).strip().upper() if norm else v for v in p["values"]]
        cond = c.isNull() | ~cn.isin(vals)
        return cond, F.concat(
            F.lit(f"{rule.columns[0]} not in allowed set: "),
            F.coalesce(c.cast("string"), F.lit("NULL")),
        )
    if t == "min_max":
        c = F.col(rule.columns[0])
        lo, hi = p.get("lo"), p.get("hi")
        cond = c.isNull()
        if lo is not None:
            cond = cond | (c < F.lit(lo))
        if hi is not None:
            cond = cond | (c > F.lit(hi))
        return cond, F.concat(
            F.lit(f"{rule.columns[0]} outside [{lo}, {hi}]: "),
            F.coalesce(c.cast("string"), F.lit("NULL")),
        )
    if t == "length_range":
        c = F.length(F.col(rule.columns[0]).cast("string"))
        lo, hi = p.get("lo"), p.get("hi")
        cond = F.col(rule.columns[0]).isNull()
        if lo is not None:
            cond = cond | (c < F.lit(lo))
        if hi is not None:
            cond = cond | (c > F.lit(hi))
        return cond, F.concat(
            F.lit(f"length({rule.columns[0]}) outside [{lo}, {hi}]: "),
            F.coalesce(F.col(rule.columns[0]).cast("string"), F.lit("NULL")),
        )
    if t == "cross_column":
        holds = F.expr(p["expr"])
        return ~F.coalesce(holds, F.lit(False)), F.lit(f"violated: {p['expr']}")
    if t == "range_tolerance":
        # rule 12: |value - expected| <= tol, NULL on either side violates
        # (maganamed_validation.py:283-296 skipped NULLs silently; the engine
        # reports them — blank dates are themselves a data defect).
        value, expected = F.expr(p["value"]), F.expr(p["expected"])
        tol = F.lit(float(p["tol"]))
        delta = F.abs(value - expected)
        cond = ~F.coalesce(delta <= tol, F.lit(False))
        return cond, F.concat(
            F.lit(f"|{p['value']} - {p['expected']}| > {p['tol']}: "),
            F.coalesce(delta.cast("string"), F.lit("NULL")),
        )
    if t == "derived_equality":
        # rule 14: metadata-derived value vs stored column
        # (movisensxs_validation.py:55-78 derives visit/site from filename).
        value, expected = F.expr(p["value"]), F.expr(p["expected"])
        cond = ~F.coalesce(value.eqNullSafe(expected), F.lit(False))
        return cond, F.concat(
            F.lit(f"{p['value']} != {p['expected']}: "),
            F.coalesce(value.cast("string"), F.lit("NULL")),
            F.lit(" vs "),
            F.coalesce(expected.cast("string"), F.lit("NULL")),
        )
    if t == "completeness":
        n = len(rule.columns)
        filled = sum((~is_blank(c)).cast("int") for c in rule.columns)
        frac = filled / F.lit(float(n))
        thr = float(p.get("threshold", 0.8))
        return frac < F.lit(thr), F.concat(
            F.lit(f"completeness < {thr}: "), F.round(frac, 4).cast("string")
        )
    raise ValueError(f"not a row-level rule: {t}")


def _agg_measures(rule: Rule, name: str) -> tuple[list[Column], Column, Column]:
    """Compile a table-level rule to ``(fine aggs, n_violations, pass)``.

    The totals are two aggregations: the fine aggs (aliased ``name``) run
    over the grain of the totals scan, and ``n_violations`` / ``pass``
    re-aggregate the fine rows per partition. Every measure decomposes:
    counters sum, approximate cardinality merges HLL sketches. Exact
    cardinality has no fine agg: it reads the per-partition count that
    :func:`_exact_cardinality` joins in as ``name``. ``__n`` is the fine row
    count."""
    p = rule.params
    t = rule.type
    n_rows = F.sum("__n")
    if t == "null_rate_max":
        fine = [F.sum(is_blank(rule.columns[0]).cast("bigint")).alias(name)]
        blanks = F.sum(name)
        return fine, blanks.cast("bigint"), blanks / n_rows <= F.lit(float(p["max_rate"]))
    if t == "min_rows":
        ok = n_rows >= F.lit(int(p["n"]))
        return [], F.when(ok, F.lit(0)).otherwise(F.lit(1)).cast("bigint"), ok
    if t == "cardinality_range":
        c = F.col(rule.columns[0])
        if p.get("exact", False):
            fine = []
            card = F.max(name)  # one value per partition
        else:
            # the sketch takes INT/BIGINT/STRING/BINARY only
            fine = [F.hll_sketch_agg(c.cast("string")).alias(name)]
            card = F.hll_sketch_estimate(F.hll_union_agg(name))
        lo = int(p.get("lo", 0))
        hi = p.get("hi")
        ok = card >= F.lit(lo)
        if hi is not None:
            ok = ok & (card <= F.lit(int(hi)))
        return fine, F.when(ok, F.lit(0)).otherwise(F.lit(1)).cast("bigint"), ok
    raise ValueError(f"not an agg-level rule: {t}")


def _exact_cardinality(rule: Rule, part: Column, name: str) -> Fragment:
    """``partition, name``: the exact number of distinct non-NULL values of
    the rule's column per partition, as its own distinct aggregation, so no
    single row ever holds a partition's value set. Returns the per-input
    binding of the compiled columns."""
    c = rule.columns[0]
    cols = [part.alias("partition"), F.col(c)]
    count = F.count(c).alias(name)
    return lambda df: df.select(*cols).distinct().groupBy("partition").agg(count)


# ---------------------------------------------------------------- plan level
# Each builds a *weighted* violations DataFrame:
#   rule_id, partition, keys, detail, weight  (weight = offending-row count)
# The ``_*_fragment`` functions compile a rule's columns once and return the
# per-input binding; foreign_key and join_consistency join against the
# input's own columns, so they are built per input.


def _unique_fragment(rule: Rule, part: Column) -> Fragment:
    """Duplicate detection (SURVEY.md §4.3; north rule).
    weight = group size, matching the reference's ``duplicated(keep=False)``
    row count (`general_validation.py:19-27`).

    One plan: count (partition, xxhash64(keys)) — 8-byte hashes instead of
    full key strings (at (repo, path, commit) width this cuts the exchange
    ~6x) — then broadcast the (assumed-few) duplicate hashes back and count
    the full keys of the matching rows only, so hash collisions can only
    create candidates, never false violations.
    """
    norm = rule.type == "unique_normalized"
    keynames = [f"__k{i}" for i in range(len(rule.columns))]
    keyed_cols = [part.alias("partition")] + [
        (normalized(c) if norm else F.col(c)).alias(k) for c, k in zip(rule.columns, keynames)
    ]
    key_hash = F.xxhash64(*keynames)
    n_hash = F.count(F.lit(1)).alias("__n")
    repeated = F.col("__n") > 1
    out = [
        F.lit(rule.rule_id).alias("rule_id"),
        F.col("partition"),
        F.concat_ws("|", *[F.col(k).cast("string") for k in keynames]).alias("keys"),
        F.concat(F.lit("duplicate key x"), F.col("n").cast("string")).alias("detail"),
        F.col("n").cast("bigint").alias("weight"),
    ]

    def bind(df: DataFrame) -> DataFrame:
        keyed = df.select(*keyed_cols).withColumn("__h", key_hash)
        dup_h = (
            keyed.groupBy("partition", "__h")
            .agg(n_hash)
            .filter(repeated)
            .select("partition", "__h")
        )
        keyed = keyed.join(F.broadcast(dup_h), ["partition", "__h"], "left_semi")
        return duplicate_keys(keyed, ["partition", *keynames]).select(*out)

    return bind


def _foreign_key_violations(df: DataFrame, rule: Rule, part: Column, keys: Column) -> DataFrame:
    """Broadcast left-anti referential check (`general_validation.py:94-108`)
    over the rows ``params["where"]`` selects, as on the inline path."""
    df = df.filter(_guard(rule, F.lit(True)))
    dim: DataFrame = rule.params["dim"]
    dim_cols = list(rule.params.get("dim_columns", rule.columns))
    sel = df.select(
        part.alias("partition"), keys.alias("keys"), *[F.col(c) for c in rule.columns]
    )
    cond = [sel[c] == dim[d] for c, d in zip(rule.columns, dim_cols)]
    missing = sel.join(F.broadcast(dim), cond, "left_anti")
    return missing.select(
        F.lit(rule.rule_id).alias("rule_id"),
        F.col("partition"),
        F.col("keys"),
        F.concat(
            F.lit("unknown value in reference: "),
            F.concat_ws(
                "|", *[F.coalesce(F.col(c).cast("string"), F.lit("NULL")) for c in rule.columns]
            ),
        ).alias("detail"),
        F.lit(1).cast("bigint").alias("weight"),
    )


def _join_consistency_violations(
    df: DataFrame, rule: Rule, part: Column, keys: Column
) -> DataFrame:
    """Cross-table agreement (rule 13, `maganamed_validation.py:255-269`):
    left rows joined to ``params["other"]`` on ``params["on"]`` must satisfy
    ``params["expr"]`` (a boolean SQL expr over the joined row; the other
    table's columns are exposed under their own names).

    The dim is collapsed to one row per join key and always broadcast
    (rule-13 "other" tables are code→name dims). With
    ``require_match=True`` (default) left rows with NO match are violations
    too (agreement cannot be established) — matching the reference, which
    reports missing join partners.
    """
    p = rule.params
    other: DataFrame = p["other"]
    on = list(p["on"])
    holds = F.expr(p["expr"])
    require_match = bool(p.get("require_match", True))

    # Contract hardening (round-2 advice): (a) a dim column sharing a name
    # with a left column that the expr references would be AMBIGUOUS at
    # analysis time — fail loudly at definition time instead; unreferenced
    # clashes are dropped from the dim (left columns win, so the expr keeps
    # meaning "left value"). (b) duplicate dim join keys would fan matched
    # rows out (n_violations could exceed n_rows) — collapse the dim to one
    # row per key and weave an assert_true on the pre-collapse count into
    # the join, so a non-unique dim fails the job instead of silently
    # multiplying verdicts.
    import re as _re

    # Tokenize only the code part of the expr: a dim column name inside a
    # string literal or comment ("category = 'status'") is NOT a reference
    # and must not trip the clash check. Strip '...' literals (with ''
    # escapes), "..." literals, -- line comments and /* */ blocks first.
    # (A clash column used as an ANSI double-quoted identifier is stripped
    # too — that case still fails loudly, at analysis time, as ambiguous.)
    _code = _re.sub(r"'(?:[^']|'')*'", " ", p["expr"])
    _code = _re.sub(r'"(?:[^"\\]|\\.)*"', " ", _code)
    _code = _re.sub(r"/\*.*?\*/", " ", _code, flags=_re.S)
    _code = _re.sub(r"--[^\n]*", " ", _code)
    expr_idents = set(_re.findall(r"[A-Za-z_][A-Za-z0-9_]*", _code))
    extra_cols = [c for c in other.columns if c not in on]
    clash = [c for c in extra_cols if c in df.columns]
    referenced_clash = [c for c in clash if c in expr_idents]
    if referenced_clash:
        raise ValueError(
            f"join_consistency rule {rule.rule_id!r}: column(s) "
            f"{referenced_clash} exist in BOTH the validated table and "
            "params['other'] and are referenced by params['expr'] — rename "
            "them on the dim (withColumnRenamed) so the expr is unambiguous"
        )
    keep_cols = [c for c in extra_cols if c not in clash]
    collapsed = other.groupBy(*[F.col(c) for c in on]).agg(
        *[F.first(F.col(c)).alias(c) for c in keep_cols],
        F.count(F.lit(1)).alias("__dim_n"),
    )
    sel = df.select(
        part.alias("partition"), keys.alias("keys"), *[F.col(c) for c in df.columns]
    )
    joined = sel.join(F.broadcast(collapsed), on, "left")
    # marker survives the outer join iff the right side matched; the woven
    # assert_true fires on any matched row whose dim key had > 1 dim rows
    # (an unreferenced assert column would be pruned by Catalyst, so it is
    # fused into the marker every downstream predicate reads).
    dim_unique = F.coalesce(F.col("__dim_n") == 1, F.lit(True))
    joined = joined.withColumn(
        "__matched",
        # NULL when unmatched (downstream reads .isNull()), TRUE when matched
        F.when(
            F.assert_true(
                dim_unique,
                F.lit(
                    f"join_consistency rule {rule.rule_id!r}: params['other'] "
                    f"is not unique on join keys {on} — dedupe the dim or fix "
                    "the keys (duplicate keys would fan out matched rows and "
                    "inflate n_violations)"
                ),
            ).isNull()
            & F.col("__dim_n").isNotNull(),
            F.lit(True),
        ),
    )
    bad_expr = ~F.coalesce(holds, F.lit(False))
    if require_match:
        cond = F.when(F.col("__matched").isNull(), F.lit(True)).otherwise(bad_expr)
    else:
        cond = F.col("__matched").isNotNull() & bad_expr
    detail = F.when(
        F.col("__matched").isNull(), F.lit(f"no match in {p.get('other_name', 'other')}")
    ).otherwise(F.lit(f"violated: {p['expr']}"))
    return joined.filter(cond).select(
        F.lit(rule.rule_id).alias("rule_id"),
        F.col("partition"),
        F.col("keys"),
        detail.alias("detail"),
        F.lit(1).cast("bigint").alias("weight"),
    )


def _group_consistency_fragment(rule: Rule, part: Column) -> Fragment:
    """Within-group single-value check (rule 11, `maganamed_validation.py:216-248`).

    NULL semantics (round-4 verdict #5): by default ``count_distinct``
    ignores NULLs, so a group {X, NULL, NULL} PASSES — NULL is treated as
    "no statement", not a conflicting value. The reference deviates: its
    ``x == x.iloc[0]`` evaluates NaN comparisons False and flags such
    groups. ``params["count_nulls"]=True`` restores reference parity by
    counting NULL as one extra distinct value when the group has any NULL —
    one extra ``max(isNull)`` folded into the SAME aggregation (no second
    scan). A group of ONLY NULLs still passes under both settings (0 or 1
    "values"; nothing to disagree with)."""
    group_col = rule.params["group_by"]
    value_col = rule.columns[0]
    nd = F.count_distinct(F.col(value_col))
    if rule.params.get("count_nulls"):
        nd = nd + F.max(F.col(value_col).isNull().cast("int"))
    grain = [part.alias("partition"), F.col(group_col)]
    n_distinct = nd.alias("__nd")
    conflicting = F.col("__nd") > 1
    out = [
        F.lit(rule.rule_id).alias("rule_id"),
        F.col("partition"),
        F.col(group_col).cast("string").alias("keys"),
        F.concat(
            F.lit(f"{value_col} has "),
            F.col("__nd").cast("string"),
            F.lit(" distinct values in group"),
        ).alias("detail"),
        F.lit(1).cast("bigint").alias("weight"),
    ]
    return lambda df: df.groupBy(*grain).agg(n_distinct).filter(conflicting).select(*out)


# ---------------------------------------------------------------- compiler
WEIGHTED_SCHEMA = "rule_id string, partition string, keys string, detail string, weight bigint"
VERDICT_SCHEMA = "rule_id string, partition string, pass boolean, n_rows bigint, n_violations bigint"


@dataclass(frozen=True)
class CompiledSuite:
    """Everything :func:`validate` needs that does not depend on its input,
    built once per suite by :func:`compile`: Column expressions (the
    partition and key columns are inside them), the inline-FK values
    (folded into ``isin`` row conditions), the drift baselines (inside the
    drift fragments) and two empty local relations. A ``Callable`` field
    binds compiled columns to an input with DataFrame calls only; a drift
    fragment also collects its current histogram.
    """

    #: totals grain: partition, plus the first drift rule's group and bucket
    grain: tuple[Column, ...]
    #: aggregations over the grain, then over ``partition``
    fine_aggs: tuple[Column, ...]
    final_aggs: tuple[Column, ...]
    #: one distinct aggregation per exact cardinality rule
    exact_cards: tuple[Fragment, ...]
    #: successive select lists that explode the row-rule violations; empty
    #: without row-level rules
    emit: tuple[tuple[Column, ...], ...]
    #: unique, foreign_key, group_consistency, join_consistency fragments
    fragments: tuple[Fragment, ...]
    #: drift fragments; the first reads its histogram from the fine totals
    #: through ``drift_cur``
    drift: tuple[Callable[[DataFrame, DataFrame | None], DataFrame], ...]
    drift_cur: tuple[Column, ...]
    #: successive select lists that unpivot the totals into one row per
    #: rule; empty for a suite without rules
    unpivot: tuple[tuple[Column, ...], ...]
    #: the plan-level weight sum joined into the verdicts; None without
    #: plan-level rules
    weight_sum: Column | None
    verdict: tuple[Column, ...]
    #: depends_on gating of ``(verdicts, violations)``; None without edges
    gate: Callable[[DataFrame, DataFrame], tuple[DataFrame, DataFrame]] | None
    sample_key: Column
    empty_weighted: DataFrame
    empty_verdicts: DataFrame


def _guard(r: Rule, cond: Column) -> Column:
    """Conditional rules: ``params["where"]`` (boolean SQL expr) restricts
    the check to matching rows — "if status='active' then email not null".
    The reference expresses this as hard-coded pre-filters (e.g. the
    clinician exclusion, auxiliar_functions.py:47-52); here it is a
    first-class guard fused into the same scan. Non-applicable rows (guard
    false or NULL) are never violations; n_rows stays the partition's
    total."""
    where = r.params.get("where")
    if where is None:
        return cond
    return F.coalesce(F.expr(where), F.lit(False)) & cond


def _inline_fk_violation(r: Rule) -> tuple[Column, Column]:
    """A single-column ``inline=True`` foreign key as a row rule: the dim's
    values are collected (one Spark job per compile) into an ``isin``."""
    dim: DataFrame = r.params["dim"]
    dim_col = list(r.params.get("dim_columns", r.columns))[0]
    # Guarded driver-side collect: inline dims are small *by contract*;
    # enforce it so a miswired large dim fails fast instead of OOMing the
    # driver. limit(max+1) bounds the transferred rows even on violation.
    max_vals = int(r.params.get("max_inline_values", 100_000))
    rows = dim.select(dim_col).distinct().limit(max_vals + 1).collect()
    if len(rows) > max_vals:
        raise ValueError(
            f"inline foreign_key rule '{r.rule_id}': dim has more than "
            f"{max_vals} distinct values — drop inline=True to use the "
            "broadcast anti-join path (or raise max_inline_values)"
        )
    # NULL dim rows can never match the equi-join; keeping them would make
    # `c IN (..., NULL)` three-valued and silently swallow every violation
    # (~isin → NULL, counted as no-violation).
    vals = [row[0] for row in rows if row[0] is not None]
    c = F.col(r.columns[0])
    detail = F.concat(
        F.lit("unknown value in reference: "),
        F.coalesce(c.cast("string"), F.lit("NULL")),
    )
    return c.isNull() | ~c.isin(vals), detail


def _gate(
    suite: RuleSuite, spark: SparkSession
) -> Callable[[DataFrame, DataFrame], tuple[DataFrame, DataFrame]] | None:
    """Gated execution (depends_on): per partition, a rule whose
    (transitive) dependency FAILED is skipped — verdict keeps n_rows but
    reports pass=NULL / n_violations=NULL, and its violation rows are
    anti-joined away. Mirrors the reference's skip of rule 1 when general
    validation fails (maganamed.py:107-109). Suites without depends_on get
    None and take none of this: schema and plan are byte-identical to
    before. The skip set derives from the PRE-gating verdicts (so a chain
    A→B→C resolves via the closure, not iteration) and costs one extra
    execution of the totals subplan — paid only by dependency-declaring
    suites."""
    closure = suite.dependency_closure()
    if not closure:
        return None
    import pandas as pd

    dep_ids = sorted({d for deps in closure.values() for d in deps})
    failed_dep = F.col("rule_id").isin(dep_ids) & ~F.col("pass")
    failed_cols = [F.col("rule_id").alias("__dep"), F.col("partition")]
    edges = F.broadcast(
        local_frame(
            spark,
            "rule_id string, __dep string",
            pd.DataFrame(
                [(rid, d) for rid, deps in closure.items() for d in sorted(deps)],
                columns=["rule_id", "__dep"],
            ),
        )
    )
    skip = F.lit(True)
    gated = [
        F.col("rule_id"),
        F.col("partition"),
        F.when(F.col("__skip"), F.lit(None).cast("boolean")).otherwise(F.col("pass")).alias("pass"),
        F.col("n_rows"),
        F.when(F.col("__skip"), F.lit(None).cast("bigint"))
        .otherwise(F.col("n_violations"))
        .alias("n_violations"),
    ]

    def bind(verdicts: DataFrame, violations: DataFrame) -> tuple[DataFrame, DataFrame]:
        failed = verdicts.filter(failed_dep).select(*failed_cols)
        skipped = (
            edges.join(failed, "__dep")
            .select("rule_id", "partition")
            .distinct()
            .withColumn("__skip", skip)
        )
        verdicts = verdicts.join(F.broadcast(skipped), ["rule_id", "partition"], "left").select(
            *gated
        )
        violations = violations.join(
            F.broadcast(skipped.drop("__skip")), ["rule_id", "partition"], "left_anti"
        )
        return verdicts, violations

    return bind


def compile(suite: RuleSuite) -> CompiledSuite:
    """Compile ``suite`` once: every Column expression, the inline-FK values
    (one guarded collect per inline dim), each drift rule's baseline (one
    collect; these are the only Spark jobs) and the empty frames, built as
    local relations so that reading them starts no Python worker.
    :func:`validate` memoizes the result on the suite
    (``RuleSuite.compiled``), so a suite pays this on its first use only."""
    from data_validator_guard_spark.operators.drift import bucketize, drift_fragment

    spark = SparkSession.active()
    part = partition_value(suite.partition_by)
    keys = (
        F.concat_ws("|", *[F.col(k).cast("string") for k in suite.key_cols])
        if suite.key_cols
        else F.lit("")
    )

    row_rules = [r for r in suite.rules if r.type in ROW_LEVEL_TYPES]
    agg_rules = [r for r in suite.rules if r.type in AGG_LEVEL_TYPES]
    unique_rules = [r for r in suite.rules if r.type in ("unique", "unique_normalized")]
    all_fk = [r for r in suite.rules if r.type == "foreign_key"]
    # single-column FK rules marked ``inline=True`` collect the dim's values
    # (small by contract: every dim here is broadcastable) and compile to an
    # isin row-condition — the referential check then fuses into the totals
    # and violation scans instead of costing a separate table pass per rule.
    fk_inline = [r for r in all_fk if r.params.get("inline") and len(r.columns) == 1]
    fk_rules = [r for r in all_fk if r not in fk_inline]
    gc_rules = [r for r in suite.rules if r.type == "group_consistency"]
    jc_rules = [r for r in suite.rules if r.type == "join_consistency"]
    drift_rules = [r for r in suite.rules if r.type == "drift"]

    compiled_rows = []
    for r in row_rules:
        cond, detail = _row_violation(r)
        compiled_rows.append((r, _guard(r, cond), detail))
    for r in fk_inline:
        cond, detail = _inline_fk_violation(r)
        compiled_rows.append((r, _guard(r, cond), detail))
    row_rules = row_rules + fk_inline

    # ---- totals: n_rows + table-level measures + row-rule violation
    # counters, all in ONE aggregation pass. Catalyst prunes the read to the
    # partition expr + the union of rule-referenced columns. The totals are
    # two aggregations: ``df.groupBy(*grain).agg(fine)``, then
    # ``fine.groupBy("partition").agg(final)``. With a drift rule the grain is
    # (partition, drift group, value bucket), so the first drift rule's
    # current histogram falls out of the same pass (no second scan of the
    # heavy value column); without one it is the partition alone. Every
    # measure decomposes (see _agg_measures), so both grains give the same
    # totals. Each exact cardinality rule adds its own distinct aggregation,
    # joined in per partition before the second aggregation.
    grain = [part.alias("partition")]
    if drift_rules:
        dp = drift_rules[0].params
        grain += [
            F.col(dp["group_by"]).alias("__grp"),
            bucketize(F.expr(dp["value"]), dp["edges"]).alias("__bucket"),
        ]
    fine_aggs: list[Column] = [F.count(F.lit(1)).alias("__n")]
    final_aggs: list[Column] = [F.sum("__n").alias("__n_rows")]
    exact_cards: list[Fragment] = []
    for i, r in enumerate(agg_rules):
        measures, n_viol, ok = _agg_measures(r, f"__f{i}")
        fine_aggs += measures
        final_aggs += [n_viol.alias(f"__v_{r.rule_id}"), ok.alias(f"__p_{r.rule_id}")]
        if r.type == "cardinality_range" and r.params.get("exact", False):
            exact_cards.append(_exact_cardinality(r, part, f"__f{i}"))
    for r, cond, _detail in compiled_rows:
        fine_aggs.append(
            F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0))).cast("bigint").alias(f"__fv_{r.rule_id}")
        )
        final_aggs.append(F.sum(f"__fv_{r.rule_id}").cast("bigint").alias(f"__v_{r.rule_id}"))

    # ---- violations: one fused scan for all row-level rules (executed only
    # when the violations output is sunk), plus one fragment per plan-level
    # rule, all weighted.
    emit: list[tuple[Column, ...]] = []
    if compiled_rows:
        entries = [
            F.when(
                cond,
                F.struct(
                    F.lit(r.rule_id).alias("rule_id"), detail.cast("string").alias("detail")
                ),
            )
            for r, cond, detail in compiled_rows
        ]
        arr = F.filter(F.array(*entries), lambda x: x.isNotNull())
        emit = [
            (part.alias("partition"), keys.alias("keys"), F.explode(arr).alias("v")),
            (
                F.col("v.rule_id"),
                F.col("partition"),
                F.col("keys"),
                F.col("v.detail"),
                F.lit(1).cast("bigint").alias("weight"),
            ),
        ]
    fragments: list[Fragment] = []
    fragments += [_unique_fragment(r, part) for r in unique_rules]
    fragments += [partial(_foreign_key_violations, rule=r, part=part, keys=keys) for r in fk_rules]
    fragments += [_group_consistency_fragment(r, part) for r in gc_rules]
    fragments += [partial(_join_consistency_violations, rule=r, part=part, keys=keys) for r in jc_rules]
    # only the first drift rule shares the totals grain; the others build
    # their own histogram
    drift_cur = (
        (
            F.col("partition"),
            F.col("__grp").alias("grp"),
            F.col("__bucket").alias("bucket"),
            F.col("__n").alias("n"),
        )
        if drift_rules
        else ()
    )

    # ---- verdicts: ONE execution of the totals subplan for ALL rules — the
    # per-partition totals row is unpivoted into one verdict row per rule via
    # a single explode(array(structs)). (A per-rule ``totals.select`` union
    # would make Catalyst re-execute the whole totals aggregation — scan
    # included — once per rule; measured 8 scans for an 8-rule suite.)
    # Plan-level rules ride the same explode with NULL placeholders and take
    # their counts from a broadcast left join against the fragment sums.
    counted_rules = unique_rules + fk_rules + gc_rules + jc_rules + drift_rules
    entries = []
    for r in agg_rules:
        entries.append(
            F.struct(
                F.lit(r.rule_id).alias("rule_id"),
                F.col(f"__p_{r.rule_id}").alias("pass"),
                F.col(f"__v_{r.rule_id}").cast("bigint").alias("nv"),
            )
        )
    for r in row_rules:
        nv = F.coalesce(F.col(f"__v_{r.rule_id}"), F.lit(0)).cast("bigint")
        entries.append(
            F.struct(F.lit(r.rule_id).alias("rule_id"), (nv == 0).alias("pass"), nv.alias("nv"))
        )
    for r in counted_rules:
        entries.append(
            F.struct(
                F.lit(r.rule_id).alias("rule_id"),
                F.lit(None).cast("boolean").alias("pass"),
                F.lit(None).cast("bigint").alias("nv"),
            )
        )
    unpivot: list[tuple[Column, ...]] = []
    if entries:
        flat = [F.col("e.rule_id"), F.col("partition"), F.col("e.pass"), F.col("n_rows"), F.col("e.nv")]
        if not counted_rules:
            flat.append(F.lit(None).cast("bigint").alias("__w"))
        unpivot = [
            (
                F.col("partition"),
                F.col("__n_rows").alias("n_rows"),
                F.explode(F.array(*entries)).alias("e"),
            ),
            tuple(flat),
        ]

    return CompiledSuite(
        grain=tuple(grain),
        fine_aggs=tuple(fine_aggs),
        final_aggs=tuple(final_aggs),
        exact_cards=tuple(exact_cards),
        emit=tuple(emit),
        fragments=tuple(fragments),
        drift=tuple(drift_fragment(r, part) for r in drift_rules),
        drift_cur=drift_cur,
        unpivot=tuple(unpivot),
        weight_sum=F.sum("weight").alias("__w") if counted_rules else None,
        verdict=(
            F.col("rule_id"),
            F.col("partition"),
            F.coalesce(F.col("pass"), F.coalesce(F.col("__w"), F.lit(0)) == 0).alias("pass"),
            F.col("n_rows"),
            F.coalesce(F.col("nv"), F.col("__w"), F.lit(0)).cast("bigint").alias("n_violations"),
        ),
        gate=_gate(suite, spark),
        sample_key=F.concat_ws("\x1f", "rule_id", "partition", "keys", "detail"),
        empty_weighted=local_frame(spark, WEIGHTED_SCHEMA),
        empty_verdicts=local_frame(spark, VERDICT_SCHEMA),
    )


# ---------------------------------------------------------------- executor
def validate(
    df: DataFrame,
    suite: RuleSuite,
    violation_sample_ppm: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Run every rule in ``suite`` over ``df``.

    Returns ``(verdicts, violations)``:
    - verdicts: ``rule_id, partition, pass, n_rows, n_violations`` — one row
      per (rule, partition value);
    - violations: ``rule_id, partition, keys, detail``.

    ``violation_sample_ppm`` bounds the EMITTED violation rows: at 10^12
    rows a 1%-defect rule would emit 10^10 rows, which no consumer reads in
    full — with a ppm set, each violation row is kept iff an exact integer
    threshold on md5(rule_id, partition, keys, detail) passes (the
    ``sampling.hash_sample`` construction: deterministic, reproducible,
    uniform per rule, zero extra shuffles — a pure filter fused into the
    emit plan). Verdict counts are NOT affected: ``n_violations`` comes from
    the fused counters / fragment sums, never from counting the returned
    frame, so the verdicts stay exact while the row emission is bounded. An
    out-of-range value raises before any Spark work.

    Both are lazy, except for drift: with a drift rule, this call runs the
    job that computes (and caches) the fine histogram and collects it to
    score the drift on the driver, and each further drift rule collects its
    own histogram. A suite without a drift rule starts no Spark job here
    once compiled. Verdicts for row- and table-level rules come entirely
    from the single fused totals aggregation — materializing only verdicts
    never touches the violation-row scan.

    Compiled once per suite: the first call compiles ``suite``
    (:func:`compile`, which collects the inline-FK dims and the drift
    baselines) and keeps the result on the suite object; later calls only
    bind it to ``df``. Rule params are read-only, so a suite cannot change
    under its compiled form, but an inline dim's values and a drift
    baseline are read when the suite is compiled, and any other dim
    whenever a plan runs: a caller whose dim or baseline table changes
    builds a new suite.

    Cached: the plan-level fragment union (small: aggregation / anti-join /
    drift outputs — row-level violation rows are NOT in it), so sinking both
    outputs shares the unique/drift subplans instead of recomputing them
    (measured ~1.4x faster on the flagship suite at 8M rows); and, with a
    drift rule, the fine histogram that feeds both the totals and the drift
    fragment. Both go through ``session.track_persist``: call
    ``session.unpersist_intermediates()`` after the last sink to release
    them.
    """
    if violation_sample_ppm is not None and not (0 <= violation_sample_ppm <= PPM):
        raise ValueError(
            f"violation_sample_ppm must be in [0, {PPM}], got {violation_sample_ppm}"
        )
    c = suite.compiled

    fine = df.groupBy(*c.grain).agg(*c.fine_aggs)
    if c.drift:
        # the fine histogram feeds BOTH totals and the drift fragment
        fine = track_persist(fine)
    per_partition = fine
    for card in c.exact_cards:
        per_partition = per_partition.join(card(df), "partition", "left")
    totals = per_partition.groupBy("partition").agg(*c.final_aggs)

    fragments = [bind(df) for bind in c.fragments]
    fragments += [
        bind(df, fine.select(*c.drift_cur) if i == 0 else None) for i, bind in enumerate(c.drift)
    ]
    plan_weighted = _union_all(fragments, c.empty_weighted)
    if fragments:
        plan_weighted = track_persist(plan_weighted)
    weighted = (
        _selects(df, c.emit).unionByName(plan_weighted) if c.emit else plan_weighted
    )
    violations = weighted.select(*VIOLATION_COLS)
    if not c.unpivot:
        return c.empty_verdicts, violations

    exploded = _selects(totals, c.unpivot)
    if c.weight_sum is not None:
        counts = plan_weighted.groupBy("rule_id", "partition").agg(c.weight_sum)
        exploded = exploded.join(F.broadcast(counts), ["rule_id", "partition"], "left")
    verdicts = exploded.select(*c.verdict)
    if c.gate is not None:
        verdicts, violations = c.gate(verdicts, violations)
    if violation_sample_ppm is not None:
        # applied LAST, on the returned frame only: every verdict count above
        # derives from counters/fragment sums, so sampling here can never
        # skew n_violations — it only bounds what is materialized.
        violations = violations.filter(hash_keep(c.sample_key, violation_sample_ppm))
    return verdicts, violations


def _selects(df: DataFrame, select_lists: Iterable[Iterable[Column]]) -> DataFrame:
    for cols in select_lists:
        df = df.select(*cols)
    return df


def _union_all(parts: list[DataFrame], empty: DataFrame) -> DataFrame:
    """``parts`` unioned by column name, or ``empty`` when there are none."""
    return reduce(DataFrame.unionByName, parts) if parts else empty


def report(verdicts: DataFrame, violations: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Canonically ordered small-report form (the reference sorts its issue
    export by (issue_type, id), `general_validation.py:119`). Only for final
    small outputs — never applied on the large path."""
    return (
        verdicts.orderBy("rule_id", "partition"),
        violations.orderBy("rule_id", "partition", "keys", "detail"),
    )


def validate_many(
    suites: "dict[str, tuple[DataFrame, RuleSuite]]",
) -> tuple[DataFrame, DataFrame]:
    """Validate several tables in one run — the reference's ``main()`` walks
    every configured table through its per-table checks
    (`/root/reference/main.py:136-150`, `maganamed.py:102-150`); here each
    table's verdicts/violations union with a ``table`` provenance column.
    Each table keeps its own fused plans; the union is plan-level (no
    cross-table shuffle)."""
    all_v: DataFrame | None = None
    all_x: DataFrame | None = None
    for tname, (df, suite) in suites.items():
        v, x = validate(df, suite)
        v = v.select(F.lit(tname).alias("table"), *VERDICT_COLS)
        x = x.select(F.lit(tname).alias("table"), *VIOLATION_COLS)
        all_v = v if all_v is None else all_v.unionByName(v)
        all_x = x if all_x is None else all_x.unionByName(x)
    if all_v is None:
        raise ValueError("validate_many requires at least one suite")
    return all_v, all_x
