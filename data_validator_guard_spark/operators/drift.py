"""Distribution-drift check — the engine's single pandas UDF (SURVEY.md §2.10).

No ancestor exists in the reference (it has no statistical checks); the north
rule adds it: per-group histograms of a numeric measure compared to a baseline
snapshot with PSI and chi-square computed in an Arrow-batched grouped pandas
UDF (`applyInPandas`), never per-row Python.

Determinism contract (SURVEY.md §7 hard point 2): bucket edges are fixed
constants supplied by the caller — never derived from the data — and the
smoothing epsilon is a fixed constant, so results are reproducible and
oracle-checkable.
"""

from __future__ import annotations

import math
from typing import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_validator_guard_spark.rules import Rule

EPS = 1e-6  # fixed smoothing constant on proportions


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


def psi_chi2(pdf: pd.DataFrame, n_buckets: int) -> tuple[float, float]:
    """PSI and chi-square of one group's per-bucket counts (``bucket``,
    ``n_cur``, ``n_base`` rows). The sums run over the full fixed bucket range
    in bucket order, so absent buckets contribute their smoothed epsilon mass
    deterministically; chi-square is 0 when either side is empty."""
    tot_c = float(pdf["n_cur"].sum())
    tot_b = float(pdf["n_base"].sum())
    by_bucket = pdf.groupby("bucket")[["n_cur", "n_base"]].sum()
    psi = 0.0
    chi2 = 0.0
    for b in range(-1, n_buckets):
        nc = float(by_bucket["n_cur"].get(b, 0.0))
        nb = float(by_bucket["n_base"].get(b, 0.0))
        p = nc / tot_c + EPS if tot_c > 0 else EPS
        q = nb / tot_b + EPS if tot_b > 0 else EPS
        psi += (p - q) * math.log(p / q)
        if tot_b > 0 and tot_c > 0:
            e = nb * tot_c / tot_b
            if e > 0:
                chi2 += (nc - e) ** 2 / e
    return psi, chi2


def psi_report(
    current: DataFrame,
    baseline: DataFrame,
    edges: Sequence[float],
) -> DataFrame:
    """PSI + chi-square per group from two histograms (grp, bucket, n).

    Output: ``grp string, psi double, chi2 double, n_cur bigint, n_base bigint``.
    The heavy work (the histograms) stays JVM-side; only the tiny per-group
    bucket vectors cross into pandas via Arrow.
    """
    joined = (
        current.select("grp", "bucket", F.col("n").alias("n_cur"))
        .join(
            baseline.select("grp", "bucket", F.col("n").alias("n_base")),
            ["grp", "bucket"],
            "full_outer",
        )
        .fillna(0, subset=["n_cur", "n_base"])
    )
    n_buckets = len(edges)

    def _stat(pdf: pd.DataFrame) -> pd.DataFrame:
        grp = pdf["grp"].iloc[0]
        psi, chi2 = psi_chi2(pdf, n_buckets)
        return pd.DataFrame(
            {
                "grp": [grp],
                "psi": [psi],
                "chi2": [chi2],
                "n_cur": [int(pdf["n_cur"].sum())],
                "n_base": [int(pdf["n_base"].sum())],
            }
        )

    return joined.groupBy("grp").applyInPandas(
        _stat, "grp string, psi double, chi2 double, n_cur bigint, n_base bigint"
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

    Returns a weighted violations fragment
    ``(rule_id, partition, keys, detail, weight)`` — one row per drifted
    group, weight 1.
    """
    p = rule.params
    edges = p["edges"]
    group_col = p["group_by"]
    value = F.expr(p["value"])
    threshold = float(p.get("threshold", 0.2))
    baseline: DataFrame = p["baseline"]

    if cur is None:
        cur = df.groupBy(
            part.alias("partition"), F.col(group_col).alias("grp"), bucketize(value, edges).alias("bucket")
        ).agg(F.count(F.lit(1)).alias("n"))
    n_buckets = len(edges)
    # baseline is (grp, bucket, n) — constant across partitions, so every
    # (partition, grp) pair seen in the CURRENT data must compare against the
    # FULL baseline histogram of its grp. A naive full-outer join on
    # (grp, bucket) detaches baseline-only buckets from the partition (they
    # have no cur row to take it from), silently shrinking tot_b — a
    # distribution that SHIFTED AWAY from its baseline buckets would
    # under-count PSI and could pass (caught by
    # test_incremental_drift_parity_with_full_run). Build the complete
    # (partition, grp) x bucket grid instead — all three factors are tiny
    # (the fine histogram's key space and a literal bucket range), so the
    # grid and both joins stay broadcast-scale. Pairs present only in the
    # baseline (a group with zero current rows in a partition) are out of
    # scope: verdicts certify current data; disappearance is a min_rows /
    # cardinality_range rule's job.
    spark = cur.sparkSession
    buckets = spark.createDataFrame(
        [(i,) for i in range(-1, n_buckets)], "bucket int"
    )
    # join key: NULL grps are legal groupBy keys but vanish from equi-joins
    # (NULL != NULL) — derive a null-safe string key, keep the original grp
    # for the emitted violation row.
    grpk = F.coalesce(F.col("grp").cast("string"), F.lit("\x00__null_grp__"))
    curk = cur.select(
        "partition", grpk.alias("__grpk"), "bucket", F.col("n").alias("n_cur")
    )
    basek = baseline.select(
        grpk.alias("__grpk"), "bucket", F.col("n").cast("bigint").alias("n_base")
    )
    grid = (
        cur.select("partition", "grp", grpk.alias("__grpk"))
        .distinct()
        .crossJoin(F.broadcast(buckets))
    )
    joined = (
        grid.join(curk, ["partition", "__grpk", "bucket"], "left")
        .join(basek, ["__grpk", "bucket"], "left")
        .fillna(0, subset=["n_cur", "n_base"])
    )

    def _stat(pdf: pd.DataFrame) -> pd.DataFrame:
        partv = pdf["partition"].iloc[0]
        grp = pdf["grp"].iloc[0]
        psi, _chi2 = psi_chi2(pdf, n_buckets)
        return pd.DataFrame({"partition": [partv], "grp": [grp], "psi": [psi]})

    per_group = joined.groupBy("partition", "__grpk").applyInPandas(
        _stat, "partition string, grp string, psi double"
    )
    drifted = per_group.filter(F.col("psi") > F.lit(threshold))
    return drifted.select(
        F.lit(rule.rule_id).alias("rule_id"),
        F.col("partition"),
        F.col("grp").alias("keys"),
        F.concat(
            F.lit("psi="), F.round(F.col("psi"), 6).cast("string"), F.lit(f" > {threshold}")
        ).alias("detail"),
        F.lit(1).cast("bigint").alias("weight"),
    )
