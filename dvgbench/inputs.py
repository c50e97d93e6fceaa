"""Seeded benchmark inputs and the expected-values oracle.

Inputs are generated in Python (numpy) from the seed and written as parquet
with pyarrow: the benchmark's own generator, independent of the package's
``synth`` module, so a change to the package never changes what the benchmark
feeds it, and set-up costs no Spark job.

The oracle computes, from the same generated rows, the expected verdicts
``(pass, n_rows, n_violations)`` per (rule, partition) and the violation-row
count per rule of ``suites.source_code_suite``. It reads each rule's
definition (pattern, dim, thresholds, edges) from the suite object, evaluates
the rules in plain Python with a numpy PSI, and asks Spark only for the
suite's partition expression over the distinct repo values. It never calls
``engine.validate``.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

LANGS = ["python", "java", "scala", "go", "rust", "c", "cpp", "js"]
EXTS = ["py", "java", "scala", "go", "rs", "c", "cc", "js"]
WORDS = [
    "def", "return", "class", "import", "for", "while", "if", "else",
    "match", "struct", "impl", "fn", "let", "const", "var", "public",
]
COLUMNS = ("repo", "path", "commit", "lang", "content")
# Planted traffic, the same for every workload: one hot repo's share of rows,
# every n-th row repeating its predecessor's (repo, path, commit), the shares
# of bad langs / paths / commits, and the language whose content is longer
# (so drift flags it).
HOT_FRACTION = 0.3
DUP_EVERY = 500
BAD_LANG_RATE = 0.01
BAD_PATH_RATE = 0.01
BAD_COMMIT_RATE = 0.005
SHIFT_LANG = "rust"
# PSI smoothing constant of the drift rule (EPS in operators/drift.py).
PSI_EPS = 1e-6


@dataclass
class Table:
    """Generated rows, column-wise (``None`` is NULL)."""

    cols: dict

    @property
    def n(self) -> int:
        return len(self.cols["repo"])

    def write(self, path: str, files: int) -> None:
        os.makedirs(path)
        data = pa.table({c: pa.array(self.cols[c], pa.string()) for c in COLUMNS})
        step = -(-self.n // files)
        for i in range(files):
            pq.write_table(data.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


def generate(rows: int, seed: int, shift: str | None = SHIFT_LANG) -> Table:
    """``(repo, path, commit, lang, content)`` with the planted defects above;
    ``shift=None`` gives the unshifted drift baseline."""
    rng = np.random.default_rng(seed)
    ids = np.arange(rows)
    kid = np.where((ids % DUP_EVERY == 0) & (ids > 0), ids - 1, ids)
    # shares are drawn as ranks of a permutation, so every seed plants the
    # same number of hot rows and of each defect; only their places differ
    hot = rng.permutation(rows) < HOT_FRACTION * rows
    org, rep = rng.integers(0, 50, rows), rng.integers(0, 400, rows)
    li = rng.integers(0, len(LANGS), rows)
    lang_u, path_u, commit_u = ((rng.permutation(rows) + 0.5) / rows for _ in range(3))
    dirs = rng.integers(0, 40, rows)
    hexes = rng.bytes(20 * rows).hex()
    words = rng.integers(0, len(WORDS), (rows, 6))
    reps = rng.integers(2, 42, rows)
    rl, rp, rc = BAD_LANG_RATE, BAD_PATH_RATE, BAD_COMMIT_RATE

    cols: dict = {c: [None] * rows for c in COLUMNS}
    for i in range(rows):
        k = int(kid[i])
        cols["repo"][i] = "org0/hot-repo" if hot[k] else f"org{org[k]}/repo{rep[k]}"
        good = LANGS[li[k]]
        u = lang_u[k]
        cols["lang"][i] = (
            "klingon" if u < rl / 3 else "" if u < 2 * rl / 3 else None if u < rl else good
        )
        u = path_u[k]
        if u < rp / 4:
            path = None
        elif u < rp / 2:
            path = ""
        elif u < 3 * rp / 4:
            path = f"../escape/file{k}"
        elif u < rp:
            path = f"src/noext/file{k}"
        else:
            path = f"src/dir{dirs[k]}/file{k}.{EXTS[li[k]]}"
        cols["path"][i] = path
        h = hexes[40 * k : 40 * k + 40]
        u = commit_u[k]
        cols["commit"][i] = h.upper() if u < rc / 2 else h[:39] if u < rc else h
        phrase = " ".join(WORDS[w] for w in words[k]) + "\n"
        n = int(reps[k]) + (60 if good == shift else 0)
        cols["content"][i] = f"// {k}\n" + phrase * n
    return Table(cols)


def drift_rule(suite):
    return next(r for r in suite.rules if r.type == "drift")


def buckets(values, edges) -> np.ndarray:
    """Fixed-edge bucket index: -1 below edges[0], i for
    edges[i] <= v < edges[i+1], len(edges)-1 at or above the last edge."""
    return np.searchsorted(np.asarray(edges, dtype=float), np.asarray(values, dtype=float), side="right") - 1


def bucket(value: Column, edges) -> Column:
    """:func:`buckets` as a Spark column expression."""
    out = F.lit(len(edges) - 1)
    for i in range(len(edges) - 1, 0, -1):
        out = F.when(value < F.lit(float(edges[i])), F.lit(i - 1)).otherwise(out)
    return F.when(value < F.lit(float(edges[0])), F.lit(-1)).otherwise(out).cast("int")


def histogram(table: Table, params: dict) -> dict:
    """``{grp: {bucket: n}}`` of the drift rule's value over ``table``.
    The benchmark suite's drift rule measures ``length(content)`` per lang."""
    if (params["group_by"], params["value"]) != ("lang", "length(content)"):
        raise ValueError(f"oracle does not cover drift over {params['value']} by {params['group_by']}")
    b = buckets([len(c) for c in table.cols["content"]], params["edges"])
    out: dict = {}
    for g, x in zip(table.cols["lang"], b):
        hist = out.setdefault(g, {})
        hist[int(x)] = hist.get(int(x), 0) + 1
    return out


def baseline_frame(spark: SparkSession, hist: dict) -> DataFrame:
    """A ``{grp: {bucket: n}}`` histogram as the drift rule's ``(grp, bucket, n)`` relation."""
    rows = [(g, b, n) for g, h in hist.items() for b, n in h.items()]
    return spark.createDataFrame(rows, "grp string, bucket int, n bigint")


def partition_col(suite) -> Column:
    return F.coalesce(F.expr(suite.partition_by).cast("string"), F.lit("__null__"))


def partitions_of(spark: SparkSession, suite, repos) -> dict:
    """The suite's partition value for each repo, evaluated by Spark."""
    df = spark.createDataFrame([(r,) for r in sorted(set(repos))], "repo string")
    return {r["repo"]: r["p"] for r in df.select("repo", partition_col(suite).alias("p")).collect()}


@dataclass
class Expected:
    """Expected outputs for one input table."""

    verdicts: dict = field(default_factory=dict)  # (rule, partition) -> (pass, n_rows, n_viol)
    violation_rows: dict = field(default_factory=dict)  # rule -> emitted rows
    n_rows: int = 0

    def check_verdicts(self, rows) -> list[str]:
        got = {(r["rule_id"], r["partition"]): (r["pass"], r["n_rows"], r["n_violations"]) for r in rows}
        if got == self.verdicts:
            return []
        diff = sorted(set(got.items()) ^ set(self.verdicts.items()), key=str)[:4]
        return [f"verdicts differ ({len(got)} vs {len(self.verdicts)} rows), e.g. {diff}"]

    def check_violation_rows(self, per_rule: dict) -> list[str]:
        got = {k: v for k, v in per_rule.items() if v}
        want = {k: v for k, v in self.violation_rows.items() if v}
        return [] if got == want else [f"violation rows {got} != expected {want}"]


def _blank(v) -> bool:
    # Spark's trim strips spaces only
    return v is None or v.strip(" ") == ""


def _row_predicate(rule):
    """Violation predicate over the checked value, for rules that emit one
    violation row per offending input row (``None`` for other rules)."""
    if rule.type == "not_blank":
        return _blank
    if rule.type == "regex_match":
        pattern = re.compile(rule.params["pattern"])
        return lambda v: v is None or pattern.search(v) is None
    if rule.type == "foreign_key" and rule.params.get("inline") and len(rule.columns) == 1:
        dim_col = list(rule.params.get("dim_columns", rule.columns))[0]
        allowed = {x[0] for x in rule.params["dim"].select(dim_col).collect()} - {None}
        return lambda v: v is None or v not in allowed
    return None


def expected_outputs(table: Table, suite, part_of: dict, baseline: dict) -> Expected:
    """Expected verdicts and violation rows of ``suite`` over ``table``."""
    cols = table.cols
    parts = [part_of[r] for r in cols["repo"]]
    n_by_part: dict = {}
    for p in parts:
        n_by_part[p] = n_by_part.get(p, 0) + 1
    exp = Expected(n_rows=table.n)
    for rule in suite.rules:
        nv = dict.fromkeys(n_by_part, 0)
        emitted = None
        pred = _row_predicate(rule)
        if pred is not None:
            for p, v in zip(parts, cols[rule.columns[0]]):
                nv[p] += pred(v)
            emitted = sum(nv.values())
        elif rule.type == "null_rate_max":
            for p, v in zip(parts, cols[rule.columns[0]]):
                nv[p] += _blank(v)
            ok = {p: nv[p] / n_by_part[p] <= float(rule.params["max_rate"]) for p in nv}
        elif rule.type == "cardinality_range":
            seen: dict = {p: set() for p in n_by_part}
            for p, v in zip(parts, cols[rule.columns[0]]):
                if v is not None:
                    seen[p].add(v)
            lo, hi = int(rule.params.get("lo", 0)), rule.params.get("hi")
            ok = {p: lo <= len(s) and (hi is None or len(s) <= int(hi)) for p, s in seen.items()}
            nv = {p: 0 if ok[p] else 1 for p in ok}
        elif rule.type == "unique":
            counts: dict = {}
            for key in zip(parts, *[cols[c] for c in rule.columns]):
                counts[key] = counts.get(key, 0) + 1
            emitted = 0
            for key, c in counts.items():
                if c > 1:
                    nv[key[0]] += c
                    emitted += 1
        elif rule.type == "drift":
            params = rule.params
            nb = len(params["edges"]) + 1  # buckets -1 .. len(edges)-1
            cur: dict = {}
            lengths = buckets([len(c) for c in cols["content"]], params["edges"])
            for p, g, b in zip(parts, cols["lang"], lengths):
                cur.setdefault((p, g), np.zeros(nb))[int(b) + 1] += 1
            for (p, g), hist in cur.items():
                ref = np.zeros(nb)
                for b, n in baseline.get(g, {}).items():
                    ref[b + 1] += n
                pc = hist / hist.sum() + PSI_EPS
                qc = ref / ref.sum() + PSI_EPS if ref.sum() > 0 else np.full(nb, PSI_EPS)
                nv[p] += float(np.sum((pc - qc) * np.log(pc / qc))) > float(params.get("threshold", 0.2))
            emitted = sum(nv.values())
        else:
            raise ValueError(f"oracle does not cover rule type {rule.type}")
        if emitted is not None:  # counted rules pass iff nothing was counted
            ok = {p: nv[p] == 0 for p in nv}
        for p in n_by_part:
            exp.verdicts[(rule.rule_id, p)] = (ok[p], n_by_part[p], int(nv[p]))
        exp.violation_rows[rule.rule_id] = emitted or 0
    return exp
