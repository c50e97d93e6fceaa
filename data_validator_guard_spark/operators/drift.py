"""Distribution-drift check (SURVEY.md §2.10): per-group histograms in the
JVM, scored on the driver.

No ancestor exists in the reference (it has no statistical checks); the north
rule adds it: per-group histograms of a numeric measure compared to a baseline
snapshot with PSI and chi-square, never per-row Python.

The histograms are Spark aggregations; only they reach Python. A statistic
collects the current histogram and the baseline histogram to the driver
through Arrow (the engine collects the baseline once, when its suite
compiles), builds ``[groups x buckets]`` count matrices and scores every group
with one vectorized kernel (:func:`psi_chi2`). The scores come back as a
local relation. The collected histogram is at most partitions x groups x
(len(edges)+1) rows, whatever the number of data rows: the same bound as the
single task that scored it in a grouped pandas UDF, without the Python
worker that UDF started on every call ("Accelerating Python UDFs in
Vectorized Query Execution", CIDR 2022, locates that cost at the
Python↔engine boundary).

Determinism contract (SURVEY.md §7 hard point 2): bucket edges are fixed
constants supplied by the caller — never derived from the data — and the
smoothing epsilon is a fixed constant, so results are reproducible and
oracle-checkable. The kernel adds bucket terms in bucket order and takes logs
and squares with Python's scalar ``math.log`` and ``**``, so a group's result
is bit-identical to a scalar loop over its buckets, however the groups are
batched.
"""

from __future__ import annotations

import math
from functools import cache
from typing import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_validator_guard_spark.rules import Rule
from data_validator_guard_spark.session import local_frame

EPS = 1e-6  # fixed smoothing constant on proportions
SIDE_CUR, SIDE_BASE = 0, 1  # the ``side`` tag of a collected histogram row
SCORES_SCHEMA = "partition string, grp string, psi double"
REPORT_SCHEMA = "grp string, psi double, chi2 double, n_cur bigint, n_base bigint"


def bucketize(value: Column, edges: Sequence[float]) -> Column:
    """Map a numeric column to a fixed-edge bucket index.

    Bucket i covers [edges[i], edges[i+1]); values below edges[0] map to -1,
    values >= edges[-1] map to len(edges)-1. Edges are constants → the
    expression folds into whole-stage codegen.
    """
    expr = F.lit(len(edges) - 1)
    for i in range(len(edges) - 1, 0, -1):
        expr = F.when(value < F.lit(float(edges[i])), F.lit(i - 1)).otherwise(expr)
    expr = F.when(value < F.lit(float(edges[0])), F.lit(-1)).otherwise(expr)
    return expr.cast("int")


def histogram(
    df: DataFrame, group_col: str, value: Column, edges: Sequence[float]
) -> DataFrame:
    """Fixed-bucket histogram: one hash aggregation, partial+final."""
    return (
        df.groupBy(F.col(group_col).alias("grp"), bucketize(value, edges).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _scalar(f: Callable[[float], float], a: np.ndarray) -> np.ndarray:
    """``f`` applied to each element as a Python float. numpy's vectorized
    ``log`` and square differ from libm's scalar ``log`` and ``pow`` in the
    last bit on some inputs; this keeps the scalar results."""
    return np.array([f(v) for v in a.ravel().tolist()], dtype=np.float64).reshape(a.shape)


def psi_chi2(
    n_cur: np.ndarray, n_base: np.ndarray, tot_cur: np.ndarray, tot_base: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """PSI and chi-square of every group at once.

    ``n_cur``/``n_base`` are int64 ``[groups x buckets]`` count matrices over
    the full fixed bucket range (column j is bucket j-1), ``tot_cur``/
    ``tot_base`` the int64 per-group totals. Absent buckets contribute their
    smoothed epsilon mass deterministically; a side whose total is 0 has
    every proportion at epsilon; chi-square is 0 when either side is empty.
    Bucket terms are added in bucket order, so each group's result is
    bit-identical to a scalar loop over its buckets."""
    tc = tot_cur.astype(np.float64)[:, None]
    tb = tot_base.astype(np.float64)[:, None]
    nc = n_cur.astype(np.float64)
    nb = n_base.astype(np.float64)
    p = np.divide(nc, tc, out=np.zeros_like(nc), where=tc > 0) + EPS
    q = np.divide(nb, tb, out=np.zeros_like(nb), where=tb > 0) + EPS
    psi_terms = (p - q) * _scalar(math.log, p / q)
    e = np.divide(nb * tc, tb, out=np.zeros_like(nb), where=(tb > 0) & (tc > 0))
    chi2_terms = np.divide(
        _scalar(lambda d: d**2, nc - e), e, out=np.zeros_like(e), where=e > 0
    )
    psi = np.zeros(len(nc))
    chi2 = np.zeros(len(nc))
    for j in range(nc.shape[1]):  # bucket order; np.sum would add pairwise
        psi += psi_terms[:, j]
        chi2 += chi2_terms[:, j]
    return psi, chi2


def _keys(*cols: pd.Series) -> np.ndarray:
    """An object array of key tuples, for ``pd.factorize``. Tuples, not bare
    strings: pandas hashes an all-string object array as C strings, which
    merges ``''`` with ``'\\x00x'``; a NULL key stays its own key."""
    return np.fromiter(zip(*cols), dtype=object, count=len(cols[0]))


def _counts(
    codes: np.ndarray, rows: pd.DataFrame, n_groups: int, n_buckets: int
) -> tuple[np.ndarray, np.ndarray]:
    """Sum ``rows`` (``bucket``, ``n``) by group code into an int64
    ``[groups x buckets]`` matrix over buckets -1..n_buckets-1 (others are
    dropped), and into int64 per-group totals over every row."""
    n = rows["n"].to_numpy(np.int64)
    tot = np.zeros(n_groups, np.int64)
    np.add.at(tot, codes, n)
    ok = rows["bucket"].between(-1, n_buckets - 1).to_numpy()
    m = np.zeros((n_groups, n_buckets + 1), np.int64)
    np.add.at(m, (codes[ok], rows["bucket"].to_numpy()[ok].astype(np.int64) + 1), n[ok])
    return m, tot


def _tag(side: int, key_cols: list[Column]) -> list[Column]:
    """The select list that tags a histogram ``(grp, bucket, n)`` as one
    side: ``side int, *keys string, grp string, bucket bigint, n bigint``.
    A NULL count reads as 0."""
    return [
        F.lit(side).alias("side"),
        *key_cols,
        F.col("grp").cast("string").alias("grp"),
        F.col("bucket").cast("bigint").alias("bucket"),
        F.coalesce(F.col("n").cast("bigint"), F.lit(0)).alias("n"),
    ]


def _sides(*sides: pd.DataFrame) -> pd.DataFrame | None:
    """The collected sides as one frame; None when every side is empty. An
    empty side is left out: its collected columns carry no dtype."""
    rows = [s for s in sides if len(s)]
    return pd.concat(rows, ignore_index=True) if rows else None


def _psi_report_frame(pdf: pd.DataFrame, n_buckets: int) -> pd.DataFrame:
    """PSI and chi-square of every grp of either side."""
    cur = (pdf["side"] == SIDE_CUR).to_numpy()
    codes, grps = pd.factorize(_keys(pdf["grp"]))
    n_cur, tot_cur = _counts(codes[cur], pdf[cur], len(grps), n_buckets)
    n_base, tot_base = _counts(codes[~cur], pdf[~cur], len(grps), n_buckets)
    psi, chi2 = psi_chi2(n_cur, n_base, tot_cur, tot_base)
    return pd.DataFrame(
        {
            "grp": [k[0] for k in grps],
            "psi": psi,
            "chi2": chi2,
            "n_cur": tot_cur,
            "n_base": tot_base,
        }
    )


def psi_report(
    current: DataFrame,
    baseline: DataFrame,
    edges: Sequence[float],
) -> DataFrame:
    """PSI + chi-square per group from two histograms (grp, bucket, n).

    Output: ``grp string, psi double, chi2 double, n_cur bigint, n_base bigint``
    — one row per grp of either side (a side without the grp counts 0).
    ``n_cur``/``n_base`` total every row of the grp; the statistics read
    buckets -1..len(edges)-1 only. Repeated (grp, bucket) rows are summed.
    The heavy work (the histograms) stays JVM-side; both histograms are
    collected to the driver — groups x buckets rows each, never data rows —
    and the scores return as a local relation, so both histograms are read
    when this is called.
    """
    sides = _sides(
        current.select(*_tag(SIDE_CUR, [])).toPandas(),
        baseline.select(*_tag(SIDE_BASE, [])).toPandas(),
    )
    return local_frame(
        current.sparkSession,
        REPORT_SCHEMA,
        None if sides is None else _psi_report_frame(sides, len(edges)),
    )


def ks_report(current: DataFrame, baseline: DataFrame) -> DataFrame:
    """Kolmogorov–Smirnov drift statistic per group from two histograms
    ``(grp, bucket, n)`` — the CDF companion to :func:`psi_report`, and
    deliberately pure-JVM: cumulative counts are exact integers, each CDF
    point is ONE division, and the statistic is a max over their absolute
    differences, so the whole computation stays inside whole-stage codegen
    (no pandas UDF) and is bit-reproducible across engines.

    KS on binned data: the empirical CDFs are evaluated at the bucket
    edges, so ``ks`` is the exact KS statistic of the binned distributions
    (a lower bound on the unbinned statistic — finer edges tighten it).
    Buckets absent from both sides leave the CDFs constant and cannot
    affect the max; buckets absent from one side contribute a 0 count.

    Output: ``grp string, ks double, n_cur bigint, n_base bigint``.
    Scale shape: the input histograms are already tiny (groups x buckets);
    the window runs per group over at most n_buckets rows.
    """
    from pyspark.sql import Window

    joined = (
        current.select("grp", "bucket", F.col("n").alias("n_cur"))
        .join(
            baseline.select("grp", "bucket", F.col("n").alias("n_base")),
            ["grp", "bucket"],
            "full_outer",
        )
        .fillna(0, subset=["n_cur", "n_base"])
    )
    w = Window.partitionBy("grp").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy("grp")
    # ANSI-safe: a group present on only one side has a zero total there —
    # its CDF (and therefore its ks) is NULL, never a divide-by-zero abort.
    tc = F.sum("n_cur").over(tot)
    tb = F.sum("n_base").over(tot)
    cdf_cur = F.when(tc > 0, F.sum("n_cur").over(w) / tc)
    cdf_base = F.when(tb > 0, F.sum("n_base").over(w) / tb)
    return (
        joined.select(
            "grp",
            F.abs(cdf_cur - cdf_base).alias("__d"),
            F.col("n_cur"),
            F.col("n_base"),
        )
        .groupBy("grp")
        .agg(
            F.max("__d").alias("ks"),
            F.sum("n_cur").cast("bigint").alias("n_cur"),
            F.sum("n_base").cast("bigint").alias("n_base"),
        )
    )


def _drift_frame(pdf: pd.DataFrame, n_buckets: int) -> pd.DataFrame:
    """PSI of every (partition, grp) pair of the current side against its
    grp's baseline; the totals are the in-range bucket counts."""
    cur = (pdf["side"] == SIDE_CUR).to_numpy()
    grp_codes, grps = pd.factorize(_keys(pdf["grp"]))
    pair_codes, pairs = pd.factorize(_keys(pdf["partition"][cur], pdf["grp"][cur]))
    pair_grp = np.zeros(len(pairs), np.int64)
    pair_grp[pair_codes] = grp_codes[cur]
    n_cur, _ = _counts(pair_codes, pdf[cur], len(pairs), n_buckets)
    n_base, _ = _counts(grp_codes[~cur], pdf[~cur], len(grps), n_buckets)
    n_base = n_base[pair_grp]
    psi, _chi2 = psi_chi2(n_cur, n_base, n_cur.sum(axis=1), n_base.sum(axis=1))
    return pd.DataFrame(
        {"partition": [k[0] for k in pairs], "grp": [k[1] for k in pairs], "psi": psi}
    )


def drift_violations(
    df: DataFrame, rule: Rule, part: Column, cur: DataFrame | None = None
) -> DataFrame:
    """Engine integration: rule params are ``group_by`` (column), ``value``
    (SQL expr string, e.g. ``length(content)``), ``edges`` (fixed constants),
    ``baseline`` (DataFrame grp/bucket/n), ``threshold`` (max PSI).

    ``cur`` optionally supplies the precomputed current histogram
    ``(partition, grp, bucket, n)`` — the engine passes the fine-grained
    totals aggregation here so the drift check adds NO extra scan of the
    value column.

    Every (partition, grp) pair present in ``cur`` is scored against the
    FULL baseline histogram of its grp (the baseline is constant across
    partitions; a NULL grp matches a NULL grp; baseline buckets outside
    -1..len(edges)-1 are ignored). Pairs present only in the baseline (a
    group with zero current rows in a partition) are out of scope: verdicts
    certify current data; disappearance is a min_rows / cardinality_range
    rule's job.

    The driver scores every pair at once: ``cur`` is collected (at most
    partitions x groups x (len(edges)+1) rows, whatever the number of data
    rows) and scored against the baseline collected when the rule was
    compiled; the scores return as a local relation.

    Returns a weighted violations fragment
    ``(rule_id, partition, keys, detail, weight)`` — one row per drifted
    group, weight 1. Same as ``drift_fragment(rule, part)(df, cur)``.
    """
    return drift_fragment(rule, part)(df, cur)


def drift_fragment(
    rule: Rule, part: Column
) -> Callable[[DataFrame, DataFrame | None], DataFrame]:
    """:func:`drift_violations` compiled once: the column expressions are
    built here (the grain of a histogram of ``df`` on the first call without
    ``cur``) and the baseline is collected here, once. The returned
    ``bind(df, cur)`` collects the current histogram (one Spark action per
    call), scores it on the driver and returns the drifted groups over a
    local relation. The engine keeps the returned function on its compiled
    suite."""
    p = rule.params
    edges = p["edges"]
    n_buckets = len(edges)
    threshold = float(p.get("threshold", 0.2))

    @cache  # built on first need: the engine's first drift rule never needs it
    def grain() -> list[Column]:
        return [
            part.alias("partition"),
            F.col(p["group_by"]).alias("grp"),
            bucketize(F.expr(p["value"]), edges).alias("bucket"),
        ]

    count = F.count(F.lit(1)).alias("n")
    cur_side = _tag(SIDE_CUR, [F.col("partition").cast("string").alias("partition")])
    base = (
        p["baseline"]
        .select(*_tag(SIDE_BASE, [F.lit(None).cast("string").alias("partition")]))
        .toPandas()
    )
    spark = p["baseline"].sparkSession
    no_scores = local_frame(spark, SCORES_SCHEMA)
    drifted = F.col("psi") > F.lit(threshold)
    out = [
        F.lit(rule.rule_id).alias("rule_id"),
        F.col("partition"),
        F.col("grp").alias("keys"),
        F.concat(
            F.lit("psi="), F.round(F.col("psi"), 6).cast("string"), F.lit(f" > {threshold}")
        ).alias("detail"),
        F.lit(1).cast("bigint").alias("weight"),
    ]

    def bind(df: DataFrame, cur: DataFrame | None = None) -> DataFrame:
        if cur is None:
            cur = df.groupBy(*grain()).agg(count)
        hist = cur.select(*cur_side).toPandas()
        scores = (
            local_frame(spark, SCORES_SCHEMA, _drift_frame(_sides(hist, base), n_buckets))
            if len(hist)
            else no_scores
        )
        return scores.filter(drifted).select(*out)

    return bind
