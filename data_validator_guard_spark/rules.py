"""Declarative rule model — the engine's "rulebook".

The reference drives validation from hard-coded check methods
(`/root/reference/validation/general_validation.py`,
`maganamed_validation.py`) and cleaning from a CSV rulebook
(`cleaning/general_id_cleaning.py:90-149`). This engine replaces both with one
declarative spec: a :class:`Rule` names *what* to check; the compiler in
:mod:`data_validator_guard_spark.engine` decides *how* (fused column
expressions, broadcast anti-joins, hash aggregations).

Rule types and their reference ancestors (SURVEY.md §2.12):

==================  =========================================================
type                semantics / ancestor
==================  =========================================================
not_null            column must not be NULL (P6)
not_blank           column must not be NULL/empty-after-trim
regex_match         column must match ``params["pattern"]``
                    (general_validation.py:70-92 ID pattern check)
no_regex_match      column must NOT match (negative filter, P3)
allowed_values      column ∈ literal set (general_validation.py:57-68 typo
                    check; P4)
min_max             lo <= column <= hi
length_range        lo <= length(column) <= hi
cross_column        arbitrary boolean SQL expr over the row must hold
                    (rule 1 / rule 8 dict-equality checks, J5)
completeness        >= ``threshold`` fraction of ``columns`` non-blank per
                    row (rule 9, maganamed_validation.py:193-213, A7)
range_tolerance     |``params["value"]`` - ``params["expected"]``| <=
                    ``params["tol"]`` (rule 12's visit-period-within-±10-days
                    check, maganamed_validation.py:283-296) — both sides are
                    SQL exprs over the row
derived_equality    ``params["value"]`` == ``params["expected"]`` (rule 14:
                    code derived from source metadata vs stored column,
                    movisensxs_validation.py:55-78)
unique              no duplicate ``columns`` tuples — one aggregation on
                    the xxhash64 of the key, a broadcast semi-join of the
                    repeated hashes, then an exact count of the candidate
                    keys (general_validation.py:19-27, A1; north rule)
unique_normalized   unique over upper(trim(col)) (A2)
foreign_key         ``columns`` tuples must exist in ``params["dim"]``
                    (general_validation.py:94-108, J4) — broadcast anti-join
group_consistency   within each ``params["group_by"]`` group the column has
                    exactly one distinct non-null value (rule 11, A8)
join_consistency    rows joined against ``params["other"]`` on
                    ``params["on"]`` must satisfy ``params["expr"]`` (rule
                    13's joined-table code↔name agreement,
                    maganamed_validation.py:255-269); unmatched left rows
                    optionally violate via ``params["require_match"]``
null_rate_max       table-level: fraction of blanks <= ``params["max_rate"]``
min_rows            table-level: partition must contain >= ``params["n"]`` rows
cardinality_range   table-level: distinct count of column within [lo, hi]
                    (A6). Approximate by default: per-grain HLL sketches
                    (``hll_sketch_agg``, default lgConfigK) merged by
                    ``hll_union_agg``; ``params["exact"]=True`` counts the
                    distinct (partition, value) pairs in their own
                    aggregation instead, at any cardinality. NULLs are not
                    counted either way
drift               distribution drift vs a baseline histogram (PSI /
                    chi-square), scored on the driver from the collected
                    histograms (§2.10)
==================  =========================================================

Every ROW-level rule and ``foreign_key`` additionally accept
``params["where"]`` — a boolean SQL expression restricting the check to
matching rows ("if status='active' then email not null"). For row rules and
the inline foreign key the guard fuses into the same scan; the broadcast
foreign key filters its anti-join input by it, so both FK plans check the
same rows. Non-applicable rows are never violations. Every other type's plan
would ignore the guard, so a rule of that type with ``where`` set is
rejected at definition time (``ValueError``). The reference expresses this
with hard-coded pre-filters (the clinician exclusion,
`auxiliar_functions.py:47-52`).

Every rule also accepts ``params["depends_on"]`` — a sequence of rule_ids in
the same suite. Per PARTITION, if any (transitively) depended-on rule failed,
the dependent rule is SKIPPED there: its verdict keeps the partition's
``n_rows`` but reports ``pass = NULL`` / ``n_violations = NULL``, and its
violation rows for that partition are suppressed. This is the reference's
gated execution — `maganamed.py:107-109` skips rule 1 when general validation
fails — promoted from a caller-side ``if`` to a declarative edge. The suite
rejects unknown ids and cycles at definition time.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import cached_property
from types import MappingProxyType
from typing import TYPE_CHECKING, Any, Mapping, Sequence

if TYPE_CHECKING:
    from data_validator_guard_spark.engine import CompiledSuite

ROW_LEVEL_TYPES = frozenset(
    {
        "not_null",
        "not_blank",
        "regex_match",
        "no_regex_match",
        "allowed_values",
        "min_max",
        "length_range",
        "cross_column",
        "completeness",
        "range_tolerance",
        "derived_equality",
    }
)
AGG_LEVEL_TYPES = frozenset({"null_rate_max", "min_rows", "cardinality_range"})
PLAN_LEVEL_TYPES = frozenset(
    {
        "unique",
        "unique_normalized",
        "foreign_key",
        "group_consistency",
        "join_consistency",
        "drift",
    }
)
ALL_TYPES = ROW_LEVEL_TYPES | AGG_LEVEL_TYPES | PLAN_LEVEL_TYPES
# Types whose plans read ``params["where"]``.
WHERE_TYPES = ROW_LEVEL_TYPES | {"foreign_key"}

# Required params per rule type — validated at Rule construction so a
# misconfigured rulebook fails at DEFINITION time with a named message, not
# deep inside plan compilation with a KeyError.
REQUIRED_PARAMS: dict[str, tuple[str, ...]] = {
    "regex_match": ("pattern",),
    "no_regex_match": ("pattern",),
    "allowed_values": ("values",),
    "cross_column": ("expr",),
    "range_tolerance": ("value", "expected", "tol"),
    "derived_equality": ("value", "expected"),
    "foreign_key": ("dim",),
    "group_consistency": ("group_by",),
    "join_consistency": ("other", "on", "expr"),
    "null_rate_max": ("max_rate",),
    "min_rows": ("n",),
    "drift": ("group_by", "value", "edges", "baseline"),
}

# Rule types whose check is per-column and therefore need >= 1 column.
_NEEDS_COLUMNS = ROW_LEVEL_TYPES - {"cross_column", "completeness", "range_tolerance", "derived_equality"} | {
    "unique",
    "unique_normalized",
    "foreign_key",
    "null_rate_max",
    "cardinality_range",
}


@dataclass(frozen=True)
class Rule:
    """One named check. ``columns`` are the checked columns; ``params`` carry
    type-specific arguments (pattern, values, lo/hi, dim, group_by, ...).

    ``params`` is stored as a read-only copy of the mapping passed in, so a
    suite's compiled form cannot go stale through a mutated rule: assigning
    to ``rule.params[...]`` raises ``TypeError``. The copy is shallow."""

    rule_id: str
    type: str
    columns: tuple[str, ...] = ()
    params: Mapping[str, Any] = field(default_factory=dict)

    def __post_init__(self) -> None:
        if self.type not in ALL_TYPES:
            raise ValueError(f"unknown rule type {self.type!r}; known: {sorted(ALL_TYPES)}")
        if isinstance(self.columns, str):  # ergonomics: allow a single name
            object.__setattr__(self, "columns", (self.columns,))
        else:
            object.__setattr__(self, "columns", tuple(self.columns))
        object.__setattr__(self, "params", MappingProxyType(dict(self.params)))
        missing = [
            k for k in REQUIRED_PARAMS.get(self.type, ()) if k not in self.params
        ]
        if missing:
            raise ValueError(
                f"rule {self.rule_id!r} ({self.type}) missing required "
                f"params: {missing}"
            )
        if self.type in _NEEDS_COLUMNS and not self.columns:
            raise ValueError(
                f"rule {self.rule_id!r} ({self.type}) requires at least one column"
            )
        if self.params.get("where") is not None and self.type not in WHERE_TYPES:
            raise ValueError(
                f"rule {self.rule_id!r} ({self.type}) does not support params['where']; "
                "only row-level rules and foreign_key do"
            )


@dataclass(frozen=True)
class RuleSuite:
    """All rules to run over one table, plus the reporting contract.

    ``partition_by``: SQL expression whose value groups verdicts (the
    reference's per-table verdict generalized to per-partition, per the north
    rule). ``key_cols``: columns identifying a row in violation reports
    (the reference's "offending keys").

    :attr:`compiled` is the suite's compiled form, built on first use and
    kept on this object for its lifetime.
    """

    name: str
    rules: Sequence[Rule]
    partition_by: str = "'__all__'"
    key_cols: tuple[str, ...] = ()

    def __post_init__(self) -> None:
        object.__setattr__(self, "rules", tuple(self.rules))
        object.__setattr__(self, "key_cols", tuple(self.key_cols))
        seen: set[str] = set()
        for r in self.rules:
            if r.rule_id in seen:
                raise ValueError(f"duplicate rule_id {r.rule_id!r} in suite {self.name!r}")
            seen.add(r.rule_id)
        # depends_on graph: every edge must name a rule in this suite and the
        # graph must be acyclic — both checked here so a bad rulebook fails at
        # definition time, not at plan compilation.
        for r in self.rules:
            for dep in r.params.get("depends_on", ()):
                if dep not in seen:
                    raise ValueError(
                        f"rule {r.rule_id!r} depends_on unknown rule {dep!r} "
                        f"in suite {self.name!r}"
                    )
                if dep == r.rule_id:
                    raise ValueError(f"rule {r.rule_id!r} depends_on itself")
        self.dependency_closure()  # raises on cycles

    @cached_property
    def compiled(self) -> CompiledSuite:
        """``engine.compile(self)``, built on first access (the first
        ``validate`` call) and kept on this object, so every later call
        binds it to its input without compiling again."""
        from data_validator_guard_spark.engine import compile

        return compile(self)

    def dependency_closure(self) -> dict[str, frozenset[str]]:
        """Transitive ``depends_on`` closure per rule (empty mapping when no
        rule declares dependencies). A rule is skipped in a partition iff any
        rule in its closure FAILED there — closure (not direct edges) makes
        chains behave: A fails → B (on A) skipped → C (on B) also skipped,
        because A is in C's closure. Raises ``ValueError`` on a cycle."""
        direct = {
            r.rule_id: tuple(r.params.get("depends_on", ())) for r in self.rules
        }
        closure: dict[str, frozenset[str]] = {}

        def visit(rid: str, stack: tuple[str, ...]) -> frozenset[str]:
            if rid in stack:
                raise ValueError(
                    f"depends_on cycle in suite {self.name!r}: "
                    f"{' -> '.join(stack + (rid,))}"
                )
            if rid in closure:
                return closure[rid]
            acc: set[str] = set()
            for dep in direct[rid]:
                acc.add(dep)
                acc |= visit(dep, stack + (rid,))
            closure[rid] = frozenset(acc)
            return closure[rid]

        for rid in direct:
            visit(rid, ())
        return {rid: deps for rid, deps in closure.items() if deps}
