"""Exact key counts and duplicate detection (north rule; SURVEY.md §4.3).

The reference's ``df.duplicated(subset, keep=False)``
(`validation/general_validation.py:19-27`) as one hash aggregation. A hot
key needs no salt: Spark's map-side partial ``count`` combines each key
within its task, so a key hot on 30% of the rows sends one partial row per
task into the exchange, not 30% of the rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def key_counts(df: DataFrame, cols: list[str | Column]) -> DataFrame:
    """Exact count per key tuple: ``*cols, n``. Column keys are named
    ``__k<i>`` by their position."""
    keys = [c if isinstance(c, str) else c.alias(f"__k{i}") for i, c in enumerate(cols)]
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))


def duplicate_keys(df: DataFrame, cols: list[str | Column]) -> DataFrame:
    """Key tuples occurring more than once: ``*cols, n`` with n > 1."""
    return key_counts(df, cols).filter(F.col("n") > 1)


def salted_equijoin(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Big-big equi-join under key skew, the explicit (pre-AQE) treatment:
    salt the skewed LEFT side with a deterministic per-row salt and
    replicate the (smaller, but not broadcastable) RIGHT side ``n_salts``
    times, so one hot key's rows land on ``n_salts`` reducers instead of
    one straggler.

    Result is row-identical to ``left.join(right, on, how)`` for ``inner``
    and ``left`` joins (each left row carries exactly one salt value, and
    every (key, salt) it can need exists on the replicated right). Other
    join types are rejected: replication would duplicate unmatched RIGHT
    rows.

    The salt mixes ``xxhash64`` over the left row's hashable columns with
    the physical input split id (``spark_partition_id``) — ANY salt value
    is correct (the right side is replicated to every salt), so the salt
    only has to spread, and this one spreads even the adversarial cases a
    row-content hash alone cannot (round-4 advice): rows that are FULL
    duplicates (every column identical — exactly what a validation engine's
    duplicate-heavy inputs contain) hash identically but sit in many input
    splits, so the partition-id term fans them out; unhashable column
    types (MapType) are simply excluded from the hash term rather than
    failing analysis. Deterministic for a fixed input layout (reruns over
    the same files agree on reducer placement); a repartitioned input may
    place rows differently — irrelevant to the result, which is
    row-identical to the plain join either way (test-pinned, including the
    all-duplicates case).
    Cost: the right side is materialized ``n_salts`` times into the
    shuffle — use the smallest n_salts that defuses the hot key (see
    ``stats.key_skew_profile`` for the measurement) and prefer AQE's
    runtime skew-join splitting (on by default in ``session.py``) when the
    skew is mild; this operator is for the key so hot that even a split
    shuffle block needs pre-spreading, or for engines/paths where AQE
    cannot see the skew (e.g. a first run with no runtime stats).
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_equijoin supports inner/left joins, got {how!r} "
            "(replicating the right side would duplicate unmatched right rows)"
        )
    if n_salts <= 0:
        raise ValueError(f"n_salts must be positive, got {n_salts}")
    if "__salt" in left.columns or "__salt" in right.columns:
        # unlike the engine's internal uses (fresh projections), this is a
        # public operator over arbitrary frames — withColumn would silently
        # clobber and drop a real user column of that name.
        raise ValueError("inputs must not already have a '__salt' column")
    hashable = [
        F.col(f.name) for f in left.schema.fields
        if "map<" not in f.dataType.simpleString()
    ]
    salt = F.pmod(
        F.xxhash64(*hashable, F.spark_partition_id())
        if hashable
        else F.spark_partition_id().cast("bigint"),
        F.lit(n_salts),
    )
    l = left.withColumn("__salt", salt)
    r = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return l.join(r, on + ["__salt"], how).drop("__salt")
