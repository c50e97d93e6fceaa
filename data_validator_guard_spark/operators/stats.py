"""Fused per-column statistics suite — ONE aggregation pass per table.

Generalizes the reference's scattered per-check scans (duplicate counts,
``len(...)`` verdicts, completeness percentages —
`/root/reference/validation/general_validation.py:19-127`,
`maganamed_validation.py:193-213`) into a single
``groupBy(partition).agg(*all exprs)``: null rate, blank rate, min/max,
length stats, cardinality, and regex-conformance rate for every profiled
column at once. Catalyst turns this into partial+final hash aggregation with
column pruning down to exactly the profiled columns; at 10^12 rows this is one
scan regardless of how many columns/stats are requested.

Every per-partition operator here (stats, partials, outlier report, the
count-min, quantile and Bloom sketches, the correlation profile) derives its
``partition`` column with ``functions.partition_value``, so a NULL partition
value gets the same label as in the engine's verdicts and the ledger.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_validator_guard_spark.functions import is_blank, partition_value
from data_validator_guard_spark.session import track_persist


def column_stats(
    df: DataFrame,
    columns: list[str],
    partition_by: str = "'__all__'",
    regex_patterns: dict[str, str] | None = None,
    exact_distinct: bool = False,
) -> DataFrame:
    """Long-form stats: one output row per (partition, column).

    Output schema::

        partition string, column string, n_rows bigint, n_null bigint,
        n_blank bigint, n_distinct bigint, min_val string, max_val string,
        min_len bigint, max_len bigint, sum_len bigint, n_regex_match bigint

    ``exact_distinct`` switches `approx_count_distinct` (the 10^12-row path,
    HyperLogLog) to an exact count (the oracle-comparison path).
    ``regex_patterns`` maps column → pattern; ``n_regex_match`` counts matching
    non-null values. Rates/averages are emitted as integer numerators
    (sum_len, n_regex_match) over n_rows so results are exactly comparable
    across engines with no float-rounding hazards.
    """
    regex_patterns = regex_patterns or {}
    part = partition_value(partition_by).alias("partition")

    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in columns:
        col = F.col(c)
        s = col.cast("string")
        aggs += [
            F.sum(col.isNull().cast("bigint")).alias(f"{c}__n_null"),
            F.sum(is_blank(col).cast("bigint")).alias(f"{c}__n_blank"),
            (
                F.count_distinct(col) if exact_distinct else F.approx_count_distinct(col)
            ).alias(f"{c}__n_distinct"),
            F.min(s).alias(f"{c}__min_val"),
            F.max(s).alias(f"{c}__max_val"),
            F.min(F.length(s)).alias(f"{c}__min_len"),
            F.max(F.length(s)).alias(f"{c}__max_len"),
            # integer sum → rate/avg derivable, hash-stable across engines
            F.sum(F.coalesce(F.length(s), F.lit(0)).cast("bigint")).alias(f"{c}__sum_len"),
        ]
        if c in regex_patterns:
            n_match = F.sum(F.coalesce(s.rlike(regex_patterns[c]).cast("bigint"), F.lit(0)))
        else:
            n_match = F.lit(None).cast("bigint")
        aggs.append(n_match.alias(f"{c}__n_regex_match"))

    wide = df.groupBy(part).agg(*aggs)

    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"{c}__n_null").alias("n_null"),
            F.col(f"{c}__n_blank").alias("n_blank"),
            F.col(f"{c}__n_distinct").cast("bigint").alias("n_distinct"),
            F.col(f"{c}__min_val").alias("min_val"),
            F.col(f"{c}__max_val").alias("max_val"),
            F.col(f"{c}__min_len").cast("bigint").alias("min_len"),
            F.col(f"{c}__max_len").cast("bigint").alias("max_len"),
            F.col(f"{c}__sum_len").alias("sum_len"),
            F.col(f"{c}__n_regex_match").alias("n_regex_match"),
        )
        for c in columns
    ]
    return wide.select(
        "partition", F.col("n_rows"), F.explode(F.array(*structs)).alias("s")
    ).select(
        "partition",
        "s.column",
        "n_rows",
        "s.n_null",
        "s.n_blank",
        "s.n_distinct",
        "s.min_val",
        "s.max_val",
        "s.min_len",
        "s.max_len",
        "s.sum_len",
        "s.n_regex_match",
    )


# ------------------------------------------------- incremental (mergeable)
PARTIAL_STATS_COLS = (
    "partition", "column", "n_rows", "n_null", "n_blank", "hll_sketch",
    "min_val", "max_val", "sum_len",
)


def partial_column_stats(
    df: DataFrame,
    columns: list[str],
    partition_by: str = "'__all__'",
) -> DataFrame:
    """Mergeable per-partition stat sketches — the incremental-validation
    path at 10^12 rows: validate each new partition/snapshot once, store its
    partial stats, and answer table-level stats by MERGING partials
    (``merge_column_stats``) instead of rescanning history.

    All measures are algebraic (counts/sums/min/max) except cardinality,
    which is carried as a HyperLogLog sketch (``hll_sketch_agg``) — merge =
    ``hll_union_agg``, estimate = ``hll_sketch_estimate``, identical to
    estimating over the full data.
    """
    part = partition_value(partition_by).alias("partition")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in columns:
        col = F.col(c)
        s = col.cast("string")
        aggs += [
            F.sum(col.isNull().cast("bigint")).alias(f"{c}__n_null"),
            F.sum(is_blank(col).cast("bigint")).alias(f"{c}__n_blank"),
            F.hll_sketch_agg(col).alias(f"{c}__hll"),
            F.min(s).alias(f"{c}__min_val"),
            F.max(s).alias(f"{c}__max_val"),
            F.sum(F.coalesce(F.length(s), F.lit(0)).cast("bigint")).alias(f"{c}__sum_len"),
        ]
    wide = df.groupBy(part).agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"{c}__n_null").alias("n_null"),
            F.col(f"{c}__n_blank").alias("n_blank"),
            F.col(f"{c}__hll").alias("hll_sketch"),
            F.col(f"{c}__min_val").alias("min_val"),
            F.col(f"{c}__max_val").alias("max_val"),
            F.col(f"{c}__sum_len").alias("sum_len"),
        )
        for c in columns
    ]
    return wide.select("partition", "n_rows", F.explode(F.array(*structs)).alias("s")).select(
        "partition", "s.column", "n_rows", "s.n_null", "s.n_blank", "s.hll_sketch",
        "s.min_val", "s.max_val", "s.sum_len",
    )


def merge_column_stats(partials: DataFrame) -> DataFrame:
    """Merge partial stat rows (any number of partitions/snapshots) into one
    table-level stats row per column. Counts/sums add, min/max fold, HLL
    sketches union — no source data touched."""
    return (
        partials.groupBy("column")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("n_null").alias("n_null"),
            F.sum("n_blank").alias("n_blank"),
            F.hll_sketch_estimate(F.hll_union_agg("hll_sketch")).alias("n_distinct"),
            F.min("min_val").alias("min_val"),
            F.max("max_val").alias("max_val"),
            F.sum("sum_len").alias("sum_len"),
        )
    )


def key_skew_profile(
    df: DataFrame, key_col: str, percentiles: tuple[int, ...] = (50, 90, 99)
) -> DataFrame:
    """One-row skew diagnostic for a join/aggregation key — the measurement
    behind every "salt this key" / "AQE will split this partition" decision
    the engine makes (north rule: skew handled EXPLICITLY, so it must be
    observable, not guessed).

    Returns ``n_keys, n_rows, max_count, p{k}_count..., top_key,
    skew_ratio`` where ``p{k}_count`` is the exact discrete percentile of
    per-key row counts (smallest count whose cumulative key-frequency reaches
    ``ceil(k% * n_keys)`` — integer arithmetic, no float boundary) and
    ``skew_ratio = max_count * n_keys / n_rows`` (max/mean; 1.0 = uniform) as
    a single IEEE division.

    Shape at scale: one shuffle to count keys; percentiles come from the
    count-OF-counts histogram (distinct multiplicity values — bounded and
    tiny even at 10^12 rows), never a global sort of the keys; top key via
    TakeOrdered. The skewed-key check in `tests/test_operators.py` pins the
    hot-key case.
    """
    from pyspark.sql import Window

    key = F.col(key_col)
    counts = df.groupBy(key.alias("k")).agg(F.count(F.lit(1)).alias("cnt"))
    totals = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_count"),
    )
    top = (
        counts.orderBy(F.col("cnt").desc(), F.col("k").asc())
        .limit(1)
        .select(F.col("k").cast("string").alias("top_key"))
    )
    hist = counts.groupBy("cnt").agg(F.count(F.lit(1)).alias("freq"))
    wcum = Window.orderBy("cnt").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = hist.select("cnt", F.sum("freq").over(wcum).alias("cf"))
    withn = cum.crossJoin(F.broadcast(totals.select("n_keys")))
    percs = withn.agg(
        *[
            F.min(
                F.when(
                    F.col("cf") >= F.floor((F.lit(k) * F.col("n_keys") + 99) / 100),
                    F.col("cnt"),
                )
            ).alias(f"p{k}_count")
            for k in percentiles
        ]
    )
    return (
        totals.crossJoin(F.broadcast(percs))
        .crossJoin(F.broadcast(top))
        .select(
            F.col("n_keys").cast("bigint").alias("n_keys"),
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.col("max_count").cast("bigint").alias("max_count"),
            *[F.col(f"p{k}_count").cast("bigint").alias(f"p{k}_count") for k in percentiles],
            "top_key",
            (
                (F.col("max_count") * F.col("n_keys")).cast("double")
                / F.col("n_rows").cast("double")
            ).alias("skew_ratio"),
        )
    )


def equi_depth_histogram(
    df: DataFrame,
    group_col: str,
    value,
    n_buckets: int = 4,
) -> DataFrame:
    """Per-group counts over EQUI-DEPTH buckets whose edges are the corpus's
    own exact quantiles — the data-derived binning a drift check wants when
    fixed edges would leave most buckets empty (content lengths span 5
    orders of magnitude; percentile cuts track the actual distribution).

    Edges come from :func:`sampling.grouped_exact_quantiles` over a single
    global group — exact type-1 quantiles from the value-count histogram,
    never a row sort, and BIGINT cut points so the same edges fall out of
    any engine bit for bit (the reason drift rules here avoid float
    quantile sketches). The k-1 cuts are collected as literals (a guarded
    driver pull of k-1 integers — the drift-edges pattern) so the bucket id
    is a constant-folded sum of integer comparisons fused into the scan;
    an all-NULL/empty input raises instead of silently emitting an empty
    frame. Output: ``group_col, bucket, n`` where
    bucket b holds values v with ``edge[b-1] < v <= edge[b]`` (bucket 0:
    ``v <= edge[0]``; bucket k-1: ``v > edge[k-2]``). NULL values are
    excluded from both the cuts and the counts.

    Cost: one value-histogram shuffle for the quantiles (cardinality =
    distinct values, not rows), one broadcast of k-1 cut points, one
    (group, bucket) count shuffle. ``n_buckets`` must divide 100 so the
    cut percentiles stay integers (the exact-rank formula's contract).
    """
    from data_validator_guard_spark.operators.sampling import (
        grouped_exact_quantiles,
    )

    if n_buckets < 2 or 100 % n_buckets != 0:
        raise ValueError(
            f"n_buckets must be >= 2 and divide 100, got {n_buckets}"
        )
    pcts = tuple(i * (100 // n_buckets) for i in range(1, n_buckets))
    v = value if not isinstance(value, str) else F.expr(value)
    # NULL values are excluded from both the cuts and the counts: a NULL has
    # no rank (the quantile window would also order it engine-dependently)
    # and (NULL > cut) is three-valued — without the filter those rows would
    # silently land in a NULL bucket.
    one = df.select(F.lit(1).alias("__g"), v.alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    cut_rows = grouped_exact_quantiles(one, "__g", F.col("__v"), pcts).collect()
    if not cut_rows:
        # round-4 advice: with every value NULL the cuts frame is empty and
        # a crossJoin would silently annihilate all counts — fail loudly
        # like the engine's other guards instead.
        raise ValueError(
            "equi_depth_histogram: every value is NULL (or the input is "
            "empty) — no quantile cuts exist, nothing can be binned"
        )
    # k-1 BIGINT cut points as literals (the same guarded-tiny-collect
    # pattern as drift's equi-depth edges): the bucket id constant-folds
    # into the scan; no crossJoin, no second execution of the cuts subplan.
    cuts = {p: cut_rows[0][f"q{p}"] for p in pcts}
    bucket = sum(
        (F.col("__v") > F.lit(cuts[p])).cast("int") for p in pcts
    ).alias("bucket")
    return (
        df.select(F.col(group_col), v.alias("__v"))
        .filter(F.col("__v").isNotNull())
        .groupBy(group_col, bucket)
        .agg(F.count(F.lit(1)).alias("n"))
    )


def functional_dependencies(
    df: DataFrame, pairs: Sequence[tuple[str, str]]
) -> DataFrame:
    """Approximate-schema profiling: does column A functionally determine
    column B? One row per ``(determinant, dependent)`` pair with
    ``n_keys`` (distinct determinant values, NULL counted as one group —
    both engines' GROUP BY semantics), ``n_violating_keys`` (determinant
    values mapped to more than one distinct non-NULL dependent value) and
    ``fd_holds``. NULL dependents make no statement (count_distinct skips
    them — the same convention as group_consistency's default, documented
    there), so a key mapping to {X, NULL} still satisfies the FD.

    The reference profiles its tables by eye (the codebook export,
    `create_codebook.py`); this is the distributed form of the question a
    rulebook author actually asks before writing a derived_equality or
    group_consistency rule: "is this mapping even a function?".

    Scale shape: one hash aggregation per pair — partial count_distinct
    per input partition, then a merge keyed by the determinant — followed
    by a one-row reduce; nothing is ever sorted and no key's rows are
    gathered to one task beyond the count_distinct merge for that key.
    Pairs are profiled independently (they group by different keys, so a
    shared shuffle does not exist by construction); pass only the pairs a
    rulebook draft actually proposes, not the O(n^2) closure.
    """
    out: DataFrame | None = None
    for det, dep in pairs:
        per_key = df.groupBy(F.col(det).alias("__k")).agg(
            F.count_distinct(F.col(dep)).alias("__nvals")
        )
        row = per_key.agg(
            F.lit(det).alias("determinant"),
            F.lit(dep).alias("dependent"),
            F.count(F.lit(1)).alias("n_keys"),
            F.sum((F.col("__nvals") > 1).cast("bigint")).alias("n_violating_keys"),
        ).select(
            "determinant",
            "dependent",
            "n_keys",
            "n_violating_keys",
            (F.col("n_violating_keys") == 0).alias("fd_holds"),
        )
        out = row if out is None else out.unionByName(row)
    if out is None:
        raise ValueError("functional_dependencies: no pairs given")
    return out


def partition_outlier_report(
    df: DataFrame,
    partition_by: str,
    value,
    tol_permille: int = 200,
    null_tol_permille: int = 100,
) -> DataFrame:
    """Per-partition anomaly screen: flag partitions whose mean of
    ``value`` deviates from the global mean by more than ``tol_permille``
    per-mille (relative), or whose NULL rate deviates from the global NULL
    rate by more than ``null_tol_permille`` per-mille (absolute) — the
    "one shard of the corpus went bad" check that catches a broken
    upstream writer before a drift rule ever fires.

    Both flags are EXACT integer comparisons (the engine's exact-rank-key
    style): ``|mean_p - mean_g| > tol * |mean_g|`` is cross-multiplied to
    ``|sum_p*nval_g - sum_g*nval_p| * 1000 > tol * |sum_g| * nval_p`` in
    ``decimal(38,0)`` — no float ever sits on the decision boundary, so
    the verdict is bit-identical in any engine. The displayed ``mean_val``
    / ``null_rate`` are one IEEE division each, rounded.

    Bounds: |sum(value)| * n_values * 1000 must stay below 10^38 — holds
    to 10^12 rows of 10^6-scale values (10^33) with 10^5 headroom.
    Empty-value partitions (all NULL) have no mean: ``mean_outlier`` is
    NULL there, never a silent False.

    ``value`` must be integer-valued: the exact sums run in decimal(38,0),
    which would silently round fractional values (a rate column in [0, 1]
    would report mean 0 and never flag). Fractional inputs are REJECTED at
    plan time — pre-quantize to a fixed grid first (``round(v * 10^k)``,
    the same discipline as dedup's quality survivorship and the quantized
    embedding kit).

    Scale shape: one narrow aggregation per partition + a one-row global
    re-aggregate broadcast back — the partials frame is partition-count
    sized, so the second pass is free; nothing re-reads the input.
    """
    part = partition_value(partition_by)
    v = F.expr(value) if isinstance(value, str) else value
    vt = df.select(v.alias("__v")).schema[0].dataType.simpleString()
    if vt in ("double", "float") or (
        vt.startswith("decimal(") and not vt.endswith(",0)")
    ):
        raise ValueError(
            f"partition_outlier_report: value has fractional type {vt} — the "
            "decimal(38,0) exact sums would silently round it; quantize to a "
            "fixed integer grid first (e.g. cast(round(v * 1e6) as bigint))"
        )

    def D(c: Column) -> Column:
        return c.cast("decimal(38,0)")

    per = df.groupBy(part.alias("partition")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(v).alias("n_val"),
        F.coalesce(F.sum(D(v)), F.lit(0).cast("decimal(38,0)")).alias("sum_val"),
    )
    g = per.agg(
        F.sum("n_rows").alias("g_rows"),
        F.sum("n_val").alias("g_val"),
        F.sum("sum_val").cast("decimal(38,0)").alias("g_sum"),
    )
    j = per.crossJoin(F.broadcast(g))
    mean_dev = (
        F.abs(F.col("sum_val") * D(F.col("g_val")) - F.col("g_sum") * D(F.col("n_val")))
        * F.lit(1000)
    )
    mean_thr = F.lit(int(tol_permille)) * F.abs(F.col("g_sum")) * D(F.col("n_val"))
    null_p = F.col("n_rows") - F.col("n_val")
    null_g = F.col("g_rows") - F.col("g_val")
    null_dev = F.abs(D(null_p) * D(F.col("g_rows")) - D(null_g) * D(F.col("n_rows"))) * F.lit(1000)
    null_thr = F.lit(int(null_tol_permille)) * D(F.col("n_rows")) * D(F.col("g_rows"))
    return j.select(
        "partition",
        "n_rows",
        # ANSI-safe: an all-NULL partition has no mean (n_val = 0) — emit
        # NULL rather than divide by zero (its flag is NULL too, below).
        F.round(
            F.when(F.col("n_val") > 0, F.col("sum_val").cast("double") / F.col("n_val")),
            6,
        ).alias("mean_val"),
        F.round(null_p.cast("double") / F.col("n_rows"), 6).alias("null_rate"),
        F.when(F.col("n_val") > 0, mean_dev > mean_thr).alias("mean_outlier"),
        (null_dev > null_thr).alias("null_outlier"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch: the mergeable approximate-FREQUENCY companion to the HLL
# cardinality sketches above. A (depth x width) grid of counters; each key
# increments one bucket per row of the grid (depth independent hashes); a
# point estimate is the MIN over the key's depth buckets — never an
# undercount, overcount bounded by collisions (~n_rows/width per row w.h.p.).
# Merge = elementwise add, so per-partition sketches compose exactly like
# partial_column_stats: validate each snapshot once, store d*w counters,
# answer frequency queries over any union of partitions without rescanning.
# Hashes are the house md5 kit (first 12 nibbles as BIGINT, seeded by the
# grid row) — bit-identical in any engine, so estimates are oracle-exact.
# ---------------------------------------------------------------------------
CMS_HASH_SPACE = 16**12


def _cms_bucket(key: Column, row_i: int, width: int) -> Column:
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"cms{row_i}:"), key.cast("string"))), 1, 12
        ),
        16,
        10,
    ).cast("bigint")
    return F.pmod(h, F.lit(width))


def cms_partial(
    df: DataFrame,
    key: Column,
    depth: int = 4,
    width: int = 1024,
    partition_by: str = "'__all__'",
) -> DataFrame:
    """Per-partition count-min sketch of ``key`` frequencies:
    ``partition, row_i, bucket, n`` (≤ depth·width rows per partition —
    counter-grid size, never data size). NULL keys carry no identity and
    are excluded, mirroring every hash-keyed operator here. One explode
    (depth small constant) + one hash aggregation; keys are md5-uniform,
    so the shuffle is skew-free even over a hot key."""
    if depth <= 0 or width <= 0:
        raise ValueError(f"depth/width must be positive, got {depth}/{width}")
    part = partition_value(partition_by).alias("partition")
    k = key.cast("string")
    rows = df.filter(key.isNotNull()).select(
        part,
        F.posexplode(
            F.array(*[_cms_bucket(k, i, width) for i in range(depth)])
        ).alias("row_i", "bucket"),
    )
    return rows.groupBy("partition", "row_i", "bucket").agg(
        F.count(F.lit(1)).alias("n")
    )


def cms_merge(partials: DataFrame) -> DataFrame:
    """Merge per-partition CMS grids into one: counters add elementwise.
    The merged grid is bit-identical to a sketch built over the unioned
    data — pinned by test — so stored per-snapshot sketches answer
    frequency queries over any partition subset without rescanning."""
    return partials.groupBy("row_i", "bucket").agg(F.sum("n").alias("n"))


def cms_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    key_col: str,
    width: int,
    depth: int | None = None,
) -> DataFrame:
    """Point-estimate each probe key against a merged CMS grid:
    ``key_col, est`` where est = min over the grid rows of the key's bucket
    counter (0 when a bucket is absent — the key was never seen). The grid
    is counter-sized, so Spark broadcasts it; probe cost is one narrow
    join, never a data scan. ``depth``/``width`` must match the build
    (depth is inferred from the grid when omitted — one counter-sized
    driver probe)."""
    depth_rows = depth if depth is not None else sketch.select("row_i").distinct().count()
    if depth_rows <= 0:
        raise ValueError("empty CMS sketch — no grid rows to probe")
    k = F.col(key_col)
    pe = probes.filter(k.isNotNull()).select(
        k,
        F.posexplode(
            F.array(*[_cms_bucket(k, i, width) for i in range(depth_rows)])
        ).alias("row_i", "bucket"),
    )
    joined = pe.join(sketch, ["row_i", "bucket"], "left")
    return joined.groupBy(key_col).agg(
        F.min(F.coalesce(F.col("n"), F.lit(0))).cast("bigint").alias("est")
    )


# ---------------------------------------------------------------------------
# Bottom-k quantile sketch: the mergeable approximate-QUANTILE companion to
# the HLL cardinality partials (partial_column_stats) and the count-min
# frequency grid (cms_partial) above — completing the sketch trio a
# 10^12-row validation ledger stores per snapshot. The sketch is a
# deterministic uniform sample: the k rows with the smallest md5 priority
# per partition (bottom-k priority sampling; Cohen & Kaplan 2007). Because
# "k smallest of a union" == "k smallest of each side's k smallest", merging
# stored sketches is bit-identical to building one sketch over the unioned
# data — pinned by test — so quantile questions over any partition subset
# are answered from k rows per partition, never a rescan. A k-sample
# estimates any quantile within O(1/sqrt(k)) rank error w.h.p.; partitions
# with fewer than k rows are sampled whole, so their quantiles are EXACT.
# Priorities are the house md5 kit — bit-identical in any engine, so the
# sample (and every estimate) is oracle-exact, unlike an RNG reservoir.
# ---------------------------------------------------------------------------
def _qsk_priority(id_col: Column) -> Column:
    return F.md5(F.concat(F.lit("qsk:"), id_col.cast("string")))


def quantile_sketch_partial(
    df: DataFrame,
    value_col: str,
    id_col: str,
    k: int = 256,
    partition_by: str = "'__all__'",
    n_salts: int = 64,
) -> DataFrame:
    """Per-partition bottom-k sample of ``value_col``: ``partition,
    priority, value`` with <= k rows per partition.

    Selection is the two-phase exact bottom-k of ``stratified_sample_n``
    (never a single-task hot-partition sort): phase 1 keeps each
    (partition, salt) group's k smallest priorities — Spark's
    WindowGroupLimit bounds what the shuffle carries — phase 2 ranks the
    <= n_salts*k survivors per partition. Rows with NULL value or NULL id
    carry no rank identity and are excluded (the non-NULL-id contract every
    hash-keyed operator here shares); ids must be distinct — a duplicated
    id would duplicate a priority (value is the formal tiebreak)."""
    from pyspark.sql import Window

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if n_salts <= 0:
        raise ValueError(f"n_salts must be positive, got {n_salts}")
    part = partition_value(partition_by).alias("partition")
    narrow = df.filter(
        F.col(value_col).isNotNull() & F.col(id_col).isNotNull()
    ).select(
        part,
        _qsk_priority(F.col(id_col)).alias("priority"),
        F.col(value_col).alias("value"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts)).alias("__salt"),
    )
    w1 = Window.partitionBy("partition", "__salt").orderBy(
        F.col("priority").asc(), F.col("value").asc()
    )
    cands = (
        narrow.withColumn("__rk", F.row_number().over(w1))
        .filter(F.col("__rk") <= k)
        .drop("__rk", "__salt")
    )
    w2 = Window.partitionBy("partition").orderBy(
        F.col("priority").asc(), F.col("value").asc()
    )
    return (
        cands.withColumn("__rk", F.row_number().over(w2))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def quantile_sketch_merge(partials: DataFrame, k: int) -> DataFrame:
    """Merge bottom-k partials: the k smallest priorities per partition of
    the union — bit-identical to a partial built over the unioned data
    (pinned by test). Inputs are sketch-sized (<= k rows per partition per
    partial), so the single window here sorts n_partials*k rows per
    partition, never data."""
    from pyspark.sql import Window

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    w = Window.partitionBy("partition").orderBy(
        F.col("priority").asc(), F.col("value").asc()
    )
    return (
        partials.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def quantile_sketch_quantiles(sketch: DataFrame, qs: Sequence[float]) -> DataFrame:
    """Type-1 quantile estimates from a (merged) sketch: ``partition, q,
    est, m`` — est is the sample value at rank ``max(ceil(q*m), 1)``, m the
    sample size. All work is sketch-sized; the per-partition window sorts
    <= k rows. For partitions smaller than k the sample is the whole
    partition, so est is the EXACT type-1 quantile."""
    from pyspark.sql import Window

    if not qs:
        raise ValueError("qs must be non-empty")
    for q in qs:
        if not (0.0 <= q <= 1.0):
            raise ValueError(f"quantile out of [0, 1]: {q}")
    m = sketch.groupBy("partition").agg(F.count(F.lit(1)).alias("m"))
    w = Window.partitionBy("partition").orderBy(
        F.col("value").asc(), F.col("priority").asc()
    )
    ranked = (
        sketch.withColumn("r", F.row_number().over(w))
        .join(m, "partition")
        .select(
            "partition",
            "value",
            "r",
            "m",
            F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q"),
        )
    )
    target = F.greatest(F.ceil(F.col("q") * F.col("m")), F.lit(1).cast("bigint"))
    return ranked.filter(F.col("r") == target).select(
        "partition", "q", F.col("value").alias("est"), "m"
    )


# ---------------------------------------------------------------------------
# Bloom membership sketch: the approximate-MEMBERSHIP member of the stored-
# sketch family (HLL cardinality, count-min frequency, bottom-k quantiles,
# Bloom membership). A validation ledger stores one filter per snapshot and
# answers "was this key ever validated / is this fingerprint in the train
# corpus?" from a counter-sized structure — no join against the corpus. The
# filter is represented RELATIONALLY as its set of set-bit positions
# (partition, pos): semantically identical to the bit-array form (which is a
# physical encoding of the same set), mergeable by distinct union, and bounded
# by min(m, d * n_keys) rows per partition. Bit positions come from the house
# md5 kit (first-12-hex-nibbles -> BIGINT, mod m), so the filter — and every
# probe verdict — is bit-identical in any engine: no-false-negatives is a
# THEOREM here (a stored key's positions are all present by construction),
# and the false-positive rate is the standard (1 - e^(-d*n/m))^d.
# ---------------------------------------------------------------------------
def _bloom_pos(key: Column, i: int, m: int) -> Column:
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"blm{i}:"), key.cast("string"))), 1, 12),
        16,
        10,
    ).cast("bigint")
    return h % F.lit(m)


def bloom_partial(
    df: DataFrame,
    key_col: str,
    m: int = 65536,
    d: int = 3,
    partition_by: str = "'__all__'",
) -> DataFrame:
    """Per-partition Bloom filter over ``key_col``: distinct set-bit rows
    ``partition, pos``. NULL keys carry no identity and are excluded (the
    shared non-NULL-id contract). One projection + one distinct — the
    aggregation key (partition, pos) is md5-uniform, so the shuffle is
    skew-free even over a hot partition."""
    if m <= 0:
        raise ValueError(f"m must be positive, got {m}")
    if d <= 0:
        raise ValueError(f"d must be positive, got {d}")
    part = partition_value(partition_by).alias("partition")
    key = F.col(key_col)
    rows = df.filter(key.isNotNull()).select(
        part, F.explode(F.array(*[_bloom_pos(key, i, m) for i in range(d)])).alias("pos")
    )
    return rows.distinct()


def bloom_merge(partials: DataFrame) -> DataFrame:
    """Merge stored filters: distinct union of set-bit rows — bit-identical
    to a filter built over the unioned data (OR of bit arrays), pinned by
    test."""
    return partials.distinct()


def bloom_probe(
    bloom: DataFrame,
    probes: DataFrame,
    key_col: str,
    m: int = 65536,
    d: int = 3,
) -> DataFrame:
    """Probe a (merged) filter: ``key_col, maybe_present`` — True iff every
    one of the key's d bit positions is set. Stored keys are always True
    (no false negatives, by construction); absent keys are True only on a
    full d-way collision. The filter side is sketch-sized; the join is an
    inner join on ``pos`` followed by a count-distinct-positions comparison
    per key (a key's d hashes may collide with each other, so the bar is
    its DISTINCT position count, not d).

    The probe ignores ``partition``: it reads the union of every
    partition's set bits, so a key stored in ANY partition of ``bloom``
    probes True. For a per-partition answer, filter ``bloom`` to that
    partition first. The false-positive rate is therefore that of one
    filter holding all n distinct keys of every partition together,
    about ``(1 - exp(-d * n / m)) ** d`` — not the per-partition rate."""
    if m <= 0:
        raise ValueError(f"m must be positive, got {m}")
    if d <= 0:
        raise ValueError(f"d must be positive, got {d}")
    key = F.col(key_col)
    ppos = (
        probes.filter(key.isNotNull())
        .select(
            key.alias(key_col),
            F.explode(
                F.array(*[_bloom_pos(key, i, m) for i in range(d)])
            ).alias("pos"),
        )
        .distinct()
    )
    need = ppos.groupBy(key_col).agg(F.count(F.lit(1)).alias("__need"))
    found = (
        ppos.join(bloom.select("pos").distinct(), "pos")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("__found"))
    )
    return (
        need.join(found, key_col, "left")
        .select(
            key_col,
            (F.coalesce(F.col("__found"), F.lit(0)) == F.col("__need")).alias(
                "maybe_present"
            ),
        )
    )


def correlation_profile(
    df: DataFrame,
    cols: Sequence[str],
    partition_by: str = "'__all__'",
) -> DataFrame:
    """Pairwise Pearson correlation for every pair of integer-valued columns
    in ONE aggregation pass: ``partition, col_x, col_y, n, corr`` — the
    "which feature columns are redundant?" profiling question (the FD
    profile's numeric sibling). Each pair uses pairwise deletion (rows where
    both sides are non-NULL) with its own exact decimal(38,0) sums
    (n, sx, sy, sxy, sx2, sy2); corr is assembled from those exact integers
    with the minimal IEEE tail — two casts, one multiply, one sqrt, one
    division — so both engines compute bit-identical doubles. Zero-variance
    sides yield NULL corr, never a divide-by-zero.

    Fractional column types are REJECTED at plan time (the
    partition_outlier_report quantize-first contract): decimal(38,0) sums
    would silently round them. Bounds: n * sum(x*y) must stay below 10^38 —
    holds to 10^12 rows of 10^8-scale values with 10^2 headroom.

    Scale shape: one groupBy(partition) aggregation over 6 * C(k,2)
    conditional sums — Catalyst fuses them into a single partial+final hash
    aggregate, one scan regardless of pair count; the output is
    (partitions x pairs)-sized."""
    if len(cols) < 2:
        raise ValueError("correlation_profile needs at least 2 columns")
    if len(set(cols)) != len(cols):
        raise ValueError(f"duplicate columns: {sorted(cols)}")
    for c in cols:
        t = df.schema[c].dataType.simpleString()
        if t not in ("tinyint", "smallint", "int", "bigint") and not (
            t.startswith("decimal(") and t.endswith(",0)")
        ):
            raise ValueError(
                f"correlation_profile: column {c} has non-integral type {t} — "
                "quantize to a fixed integer grid first "
                "(e.g. cast(round(v * 1e6) as bigint))"
            )

    def D(c: Column) -> Column:
        return c.cast("decimal(38,0)")

    part = partition_value(partition_by)
    aggs = []
    pairs = [
        (cols[i], cols[j]) for i in range(len(cols)) for j in range(i + 1, len(cols))
    ]
    for cx, cy in pairs:
        both = F.col(cx).isNotNull() & F.col(cy).isNotNull()
        x = F.when(both, D(F.col(cx)))
        y = F.when(both, D(F.col(cy)))
        z = F.lit(0).cast("decimal(38,0)")
        tag = f"{cx}__{cy}"
        aggs += [
            F.count(F.when(both, F.lit(1))).cast("decimal(38,0)").alias(f"n_{tag}"),
            F.coalesce(F.sum(x), z).alias(f"sx_{tag}"),
            F.coalesce(F.sum(y), z).alias(f"sy_{tag}"),
            F.coalesce(F.sum(x * y), z).alias(f"sxy_{tag}"),
            F.coalesce(F.sum(x * x), z).alias(f"sx2_{tag}"),
            F.coalesce(F.sum(y * y), z).alias(f"sy2_{tag}"),
        ]
    wide = df.groupBy(part.alias("partition")).agg(*aggs)

    # one exploded struct array, NOT a per-pair union of selects over
    # `wide` — a union re-executes the aggregation (and the scan) once per
    # pair; the explode keeps the plan at exactly one scan for any k
    rows = []
    for cx, cy in pairs:
        tag = f"{cx}__{cy}"
        n = F.col(f"n_{tag}")
        sx, sy = F.col(f"sx_{tag}"), F.col(f"sy_{tag}")
        sxy, sx2, sy2 = (F.col(f"s{k}_{tag}") for k in ("xy", "x2", "y2"))
        num = (n * sxy - sx * sy).cast("decimal(38,0)")
        d1 = (n * sx2 - sx * sx).cast("decimal(38,0)")
        d2 = (n * sy2 - sy * sy).cast("decimal(38,0)")
        corr = F.when(
            (d1 > 0) & (d2 > 0),
            num.cast("double")
            / F.sqrt(d1.cast("double") * d2.cast("double")),
        )
        rows.append(
            F.struct(
                F.lit(cx).alias("col_x"),
                F.lit(cy).alias("col_y"),
                n.cast("bigint").alias("n"),
                corr.alias("corr"),
            )
        )
    return wide.select(
        "partition", F.explode(F.array(*rows)).alias("__p")
    ).select("partition", "__p.col_x", "__p.col_y", "__p.n", "__p.corr")


def robust_outlier_values(
    df: DataFrame,
    group_col: str,
    value: Column,
    k_num: int = 3,
    k_den: int = 1,
) -> DataFrame:
    """Median/MAD outlier screen — the robust companion to the mean/std
    z-score check (``value_outliers``): flags values with
    ``|x - median| * k_den > k_num * MAD`` per group, entirely in exact
    BIGINT arithmetic (medians are type-1 over the value-count histogram;
    no float mean/std, no engine-dependent boundary). A mean/std screen is
    itself dragged by the outliers it hunts; median/MAD is the standard
    robust alternative (Leys et al. 2013). Rational thresholds are the
    integer ratio ``k_num/k_den`` (e.g. the modified-z 3.5 x 1.4826·MAD
    bar is 51891/10000), keeping the decision boundary exact.

    Returns one row per distinct outlier VALUE: ``group_col, value, n,
    med, mad`` — outlier-values-sized, never row-sized.

    Scale shape: ONE scan aggregates to the (group, value) count histogram
    (persisted — reused by the median pass, the deviation histogram, and
    the verdict join); the deviation histogram is DERIVED from it by
    arithmetic, not a rescan; every window runs over histogram rows
    (|group| x |distinct values|), and the median/MAD frames are
    group-sized broadcast joins. The persisted histogram stays cached until
    :func:`~data_validator_guard_spark.session.unpersist_intermediates`
    releases it. NULL values are excluded (no rank).
    MAD = 0 (over half the group identical) flags ANY deviating value —
    the correct degenerate reading of a zero robust spread.
    """
    from pyspark.sql import Window

    if k_num <= 0 or k_den <= 0:
        raise ValueError(f"k must be a positive ratio, got {k_num}/{k_den}")
    hist = (
        df.select(F.col(group_col), value.cast("bigint").alias("__v"))
        .filter(F.col("__v").isNotNull())
        .groupBy(group_col, "__v")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    # reused by the median pass, the deviation histogram, and the verdict
    # join — without the persist each reference re-runs the data scan;
    # tracked, so session.unpersist_intermediates() releases it
    hist = track_persist(hist)

    def _t1_median(h: DataFrame, key: str, alias: str) -> DataFrame:
        w = (
            Window.partitionBy(group_col)
            .orderBy(key)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = h.select(
            F.col(group_col),
            F.col(key),
            F.sum("__n").over(w).alias("__cum"),
            F.sum("__n").over(Window.partitionBy(group_col)).alias("__tot"),
        )
        target = F.floor((F.col("__tot") + 1) / 2)
        return cum.groupBy(group_col).agg(
            F.min(F.when(F.col("__cum") >= target, F.col(key))).alias(alias)
        )

    med = _t1_median(hist, "__v", "med")
    dev = (
        hist.join(F.broadcast(med), group_col)
        .select(
            F.col(group_col), F.abs(F.col("__v") - F.col("med")).alias("__d"), "__n"
        )
        .groupBy(group_col, "__d")
        .agg(F.sum("__n").alias("__n"))
    )
    mad = _t1_median(dev, "__d", "mad")
    return (
        hist.join(F.broadcast(med), group_col)
        .join(F.broadcast(mad), group_col)
        .filter(
            F.abs(F.col("__v") - F.col("med")) * F.lit(k_den)
            > F.lit(k_num) * F.col("mad")
        )
        .select(
            group_col,
            F.col("__v").alias("value"),
            F.col("__n").cast("bigint").alias("n"),
            "med",
            "mad",
        )
    )
