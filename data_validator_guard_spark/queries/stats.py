"""Column-stats suites: fused stats, exact percentiles, incremental
partial-merge stats, z-score outliers, equi-depth histograms.

Split out of the original single-file registry (round-5 verdict item #7);
sections moved verbatim, registration order preserved per family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from data_validator_guard_spark.operators.stats import column_stats
from data_validator_guard_spark.sources import read_table
from data_validator_guard_spark.queries._registry import LANG_PATTERN
from data_validator_guard_spark.queries._registry import query

# =====================================================================
# 2. Fused column-stats suite (SURVEY.md §2.4 family, one agg pass).
# =====================================================================
def _stats_oracle_one(col: str, regex: str | None) -> str:
    n_match = (
        f"CAST(SUM(CASE WHEN {col} IS NOT NULL AND regexp_matches(CAST({col} AS VARCHAR), '{regex}') THEN 1 ELSE 0 END) AS BIGINT)"
        if regex
        else "CAST(NULL AS BIGINT)"
    )
    return f"""
SELECT '__all__' AS "partition", '{col}' AS "column",
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(SUM(CASE WHEN {col} IS NULL OR trim(CAST({col} AS VARCHAR)) = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_blank,
       COUNT(DISTINCT {col}) AS n_distinct,
       MIN(CAST({col} AS VARCHAR)) AS min_val,
       MAX(CAST({col} AS VARCHAR)) AS max_val,
       MIN(length(CAST({col} AS VARCHAR))) AS min_len,
       MAX(length(CAST({col} AS VARCHAR))) AS max_len,
       CAST(SUM(COALESCE(length(CAST({col} AS VARCHAR)), 0)) AS BIGINT) AS sum_len,
       {n_match} AS n_regex_match
FROM documents"""


@query(
    "stats_documents",
    oracle=" UNION ALL ".join(
        [
            _stats_oracle_one("text", "^the "),
            _stats_oracle_one("lang", "^[a-z]{2}$"),
            _stats_oracle_one("source", None),
            _stats_oracle_one("n_chars", None),
        ]
    ),
)
def q_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return column_stats(
        docs,
        ["text", "lang", "source", "n_chars"],
        regex_patterns={"text": "^the ", "lang": LANG_PATTERN},
        exact_distinct=True,
    )


# =====================================================================
# 36. Exact percentiles per group (numeric column-stats extension) — exact
#     `percentile` (Spark) vs `quantile_cont` (DuckDB), same linear-
#     interpolation definition; decimal cast absorbs last-ulp divergence.
# =====================================================================
@query(
    "nchars_percentiles",
    oracle="""
SELECT lang,
       quantile_cont(n_chars, 0.25) AS p25,
       quantile_cont(n_chars, 0.5)  AS p50,
       quantile_cont(n_chars, 0.75) AS p75,
       COUNT(*) AS n
FROM documents GROUP BY lang
""",
)
def q_nchars_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles emitted as raw doubles: at q ∈ {.25,.5,.75} over
    integer values the interpolation a + f·(b−a) has f exactly representable
    (dyadic), so both engines produce bit-identical float64 — no decimal cast
    (decimal outputs hash-differ through the driver)."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.percentile("n_chars", F.lit(0.25)).alias("p25"),
        F.percentile("n_chars", F.lit(0.5)).alias("p50"),
        F.percentile("n_chars", F.lit(0.75)).alias("p75"),
        F.count(F.lit(1)).alias("n"),
    )


# =====================================================================
# 45. Incremental stats: per-snapshot partials MERGED (counts add, min/max
#     fold) must equal whole-table stats — the resumable-validation identity
#     at 10^12 rows (never rescan history). HLL cardinality is excluded
#     here: sketches are not SQL-expressible; their merge is pytest-covered
#     (test_partial_stats_merge_equals_full).
# =====================================================================
@query(
    "stats_partial_merge",
    oracle="""
SELECT col AS "column",
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(SUM(CASE WHEN v IS NULL OR trim(v) = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_blank,
       MIN(v) AS min_val,
       MAX(v) AS max_val,
       CAST(SUM(COALESCE(length(v), 0)) AS BIGINT) AS sum_len
FROM (
  SELECT 'lang' AS col, lang AS v FROM documents
  UNION ALL
  SELECT 'source', source FROM documents
)
GROUP BY col
""",
)
def q_stats_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partials computed per half-snapshot, merged with merge_column_stats —
    algebraic measures only, proving merge(partials) == full-table stats
    against the oracle computing directly over the whole table."""
    from data_validator_guard_spark.operators.stats import (
        merge_column_stats,
        partial_column_stats,
    )

    docs = read_table(spark, sf_dir, "documents")
    halves = [docs.filter(F.col("doc_id") % 2 == i) for i in (0, 1)]
    partials = partial_column_stats(halves[0], ["lang", "source"]).unionByName(
        partial_column_stats(halves[1], ["lang", "source"])
    )
    merged = merge_column_stats(partials)
    return merged.select(
        "column", "n_rows", "n_null", "n_blank", "min_val", "max_val", "sum_len"
    )


# =====================================================================
# 52. Exact z-score outliers: |x - mean| > 3*std decided entirely in
#     integer/decimal arithmetic. With q = quantize(x), S = Σq, SS = Σq²,
#     n rows:  |x−mean| > 3σ  ⇔  (n·q − S)² > 9·(n·SS − S²)  — no float
#     mean/std ever computed, so the boundary set is engine-identical.
# =====================================================================
@query(
    "value_outliers",
    oracle="""
WITH q AS (
  SELECT event_id, event_type, value,
         CAST(floor(CAST(value AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS qv
  FROM events WHERE value IS NOT NULL
),
stats AS (
  SELECT event_type,
         CAST(SUM(qv) AS HUGEINT) AS s,
         CAST(SUM(CAST(qv AS HUGEINT) * CAST(qv AS HUGEINT)) AS HUGEINT) AS ss,
         CAST(COUNT(*) AS HUGEINT) AS n
  FROM q GROUP BY event_type
)
SELECT q.event_id, q.event_type, q.value
FROM q JOIN stats t ON t.event_type = q.event_type
WHERE t.n >= 3
  AND (t.n * q.qv - t.s) * (t.n * q.qv - t.s) > 9 * (t.n * t.ss - t.s * t.s)
""",
)
def q_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    qv = F.floor(F.col("value").cast("double") * 1000 + F.lit(0.5)).cast("long")
    q = events.filter(F.col("value").isNotNull()).select(
        "event_id", "event_type", "value", qv.alias("qv")
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    stats = q.groupBy(F.col("event_type").alias("st_type")).agg(
        d(F.sum("qv")).alias("s"),
        F.sum(d(F.col("qv")) * d(F.col("qv"))).alias("ss"),
        d(F.count(F.lit(1))).alias("n"),
    )
    j = q.join(F.broadcast(stats), q.event_type == F.col("st_type"))
    lhs_root = F.col("n") * d(F.col("qv")) - F.col("s")
    return (
        j.filter(
            (F.col("n") >= 3)
            & (lhs_root * lhs_root > 9 * (F.col("n") * F.col("ss") - F.col("s") * F.col("s")))
        )
        .select("event_id", "event_type", "value")
    )


# =====================================================================
# 30. Equi-depth histogram (operators/stats.py): per-group counts over
#     buckets cut at the corpus's own exact quartiles — data-derived
#     binning with BIGINT cut points (engine-identical), no row sorts.
# =====================================================================
@query(
    "equidepth_doc_lengths",
    oracle="""
WITH hist AS (
  SELECT CAST(length(text) AS BIGINT) AS v, COUNT(*) AS n
  FROM documents WHERE text IS NOT NULL GROUP BY v
),
cum AS (
  SELECT v,
         SUM(n) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cf,
         SUM(n) OVER () AS tot
  FROM hist
),
cuts AS (
  SELECT
    CAST(MIN(CASE WHEN cf >= (tot * 25 + 99) // 100 THEN v END) AS BIGINT) AS q25,
    CAST(MIN(CASE WHEN cf >= (tot * 50 + 99) // 100 THEN v END) AS BIGINT) AS q50,
    CAST(MIN(CASE WHEN cf >= (tot * 75 + 99) // 100 THEN v END) AS BIGINT) AS q75
  FROM cum
)
SELECT lang,
       CAST(CASE WHEN length(text) > q25 THEN 1 ELSE 0 END
          + CASE WHEN length(text) > q50 THEN 1 ELSE 0 END
          + CASE WHEN length(text) > q75 THEN 1 ELSE 0 END AS INT) AS bucket,
       COUNT(*) AS n
FROM documents, cuts
WHERE text IS NOT NULL
GROUP BY 1, 2
""",
)
def q_equidepth_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-length distribution per language over GLOBAL equi-depth
    quartile buckets: the cut points are exact type-1 quantiles from the
    value-count histogram (BIGINT — identical in any engine), broadcast to
    the scan; bucket id is a sum of integer comparisons. The binning a
    drift check wants when fixed edges would leave most buckets empty."""
    from data_validator_guard_spark.operators.stats import equi_depth_histogram

    docs = read_table(spark, sf_dir, "documents")
    return equi_depth_histogram(docs, "lang", F.length("text"), n_buckets=4)


# =====================================================================
# 73. Functional-dependency profiling (round 5): "is this mapping even a
#     function?" — the question a rulebook author asks before writing a
#     derived_equality / group_consistency rule. doc_id -> source holds
#     by construction (source = 'src' || doc_id % 20); source -> lang and
#     lang -> source are genuinely violated in the data.
# =====================================================================
@query(
    "fd_profile",
    oracle="""
WITH p AS (
  SELECT 'doc_id' AS determinant, 'source' AS dependent,
         COUNT(*) AS n_keys,
         CAST(SUM(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_keys
  FROM (SELECT doc_id, COUNT(DISTINCT source) AS nv FROM documents GROUP BY doc_id)
  UNION ALL
  SELECT 'source', 'lang', COUNT(*),
         CAST(SUM(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT)
  FROM (SELECT source, COUNT(DISTINCT lang) AS nv FROM documents GROUP BY source)
  UNION ALL
  SELECT 'lang', 'source', COUNT(*),
         CAST(SUM(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT)
  FROM (SELECT lang, COUNT(DISTINCT source) AS nv FROM documents GROUP BY lang)
)
SELECT determinant, dependent, n_keys, n_violating_keys,
       n_violating_keys = 0 AS fd_holds
FROM p
""",
)
def q_fd_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency survey over documents: one exact two-level
    aggregation per candidate pair (partial count_distinct per input
    partition, merged by determinant), NULL determinants grouped, NULL
    dependents ignored — identical GROUP BY / COUNT(DISTINCT) semantics
    in both engines."""
    from data_validator_guard_spark.operators.stats import functional_dependencies

    docs = read_table(spark, sf_dir, "documents")
    return functional_dependencies(
        docs, [("doc_id", "source"), ("source", "lang"), ("lang", "source")]
    )


# =====================================================================
# 74. Per-partition anomaly screen (round 5): flag partitions whose mean
#     or NULL rate deviates from the global — exact-integer verdicts
#     (decimal cross-multiplication), no float on the decision boundary.
#     Planted: src3's values are tripled, src5 loses half its values.
# =====================================================================
@query(
    "partition_outliers",
    oracle="""
WITH t AS (
  SELECT source,
         CASE WHEN source = 'src5' AND doc_id % 2 = 0 THEN NULL
              WHEN source = 'src3' THEN n_chars * 3
              ELSE n_chars END AS v
  FROM documents
),
per AS (
  SELECT source AS "partition", COUNT(*) AS n_rows, COUNT(v) AS n_val,
         COALESCE(SUM(v), 0) AS sum_val
  FROM t GROUP BY source
),
g AS (
  SELECT SUM(n_rows) AS g_rows, SUM(n_val) AS g_val, SUM(sum_val) AS g_sum
  FROM per
)
SELECT "partition", n_rows,
       round(CAST(sum_val AS DOUBLE) / n_val, 6) AS mean_val,
       round(CAST(n_rows - n_val AS DOUBLE) / n_rows, 6) AS null_rate,
       CASE WHEN n_val > 0
            THEN abs(sum_val * g_val - g_sum * n_val) * 1000 > 200 * abs(g_sum) * n_val
       END AS mean_outlier,
       abs((n_rows - n_val) * g_rows - (g_rows - g_val) * n_rows) * 1000
         > 100 * n_rows * g_rows AS null_outlier
FROM per, g
""",
)
def q_partition_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly screen over documents partitioned by source, with a 3x mean
    shift planted into src3 and a ~50% NULL rate planted into src5 — both
    must flag; every honest partition must not."""
    from data_validator_guard_spark.operators.stats import partition_outlier_report

    docs = read_table(spark, sf_dir, "documents").select(
        "source",
        F.when((F.col("source") == "src5") & (F.col("doc_id") % 2 == 0), F.lit(None))
        .when(F.col("source") == "src3", F.col("n_chars") * 3)
        .otherwise(F.col("n_chars"))
        .alias("v"),
    )
    return partition_outlier_report(
        docs, "source", "v", tol_permille=200, null_tol_permille=100
    )


# =====================================================================
# 31. Count-min sketch (round 5): mergeable approximate FREQUENCY — the
#     companion to the HLL cardinality partials. Build per-half grids
#     over events.user_id, merge (counters add — bit-identical to one
#     full-data grid, which is exactly how the oracle computes it), then
#     point-estimate every distinct user against the merged grid and pair
#     with the exact count. Estimates are md5-arithmetic — oracle-exact;
#     CMS never undercounts (est >= exact always, pinned by pytest).
# =====================================================================
def _cms_bucket_sql(seed: int, expr: str, width: int) -> str:
    from data_validator_guard_spark.queries.sampling import _hex12_sql

    h = "md5('cms" + str(seed) + ":' || " + expr + ")"
    return f"({_hex12_sql(h)} % {width})"


_CMS_DEPTH, _CMS_WIDTH = 4, 1024

_CMS_ORACLE = f"""
WITH e AS (
  SELECT CAST(user_id AS VARCHAR) AS k, user_id FROM events WHERE user_id IS NOT NULL
), g AS (
  SELECT row_i, bucket, COUNT(*) AS n FROM (
    {" UNION ALL ".join(f"SELECT {i} AS row_i, {_cms_bucket_sql(i, 'k', _CMS_WIDTH)} AS bucket FROM e" for i in range(_CMS_DEPTH))}
  ) GROUP BY row_i, bucket
), probes AS (
  SELECT DISTINCT k, user_id FROM e
), pe AS (
  {" UNION ALL ".join(f"SELECT user_id, {i} AS row_i, {_cms_bucket_sql(i, 'k', _CMS_WIDTH)} AS bucket FROM probes" for i in range(_CMS_DEPTH))}
), est AS (
  SELECT pe.user_id, MIN(COALESCE(g.n, 0)) AS est
  FROM pe LEFT JOIN g USING (row_i, bucket) GROUP BY pe.user_id
), exact AS (
  SELECT user_id, COUNT(*) AS exact_n FROM e GROUP BY user_id
)
SELECT est.user_id, CAST(est AS BIGINT) AS est, CAST(exact_n AS BIGINT) AS exact_n
FROM est JOIN exact USING (user_id)
"""


@query("cms_user_counts", oracle=_CMS_ORACLE)
def q_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over events.user_id: per-half partial grids merged
    (counters add — the merged grid equals a full-data build bit for bit),
    every distinct user point-estimated against the merged grid, paired
    with the exact count. The grid is depth x width counters — broadcast-
    scale regardless of corpus size; the md5 bucket hashes are uniform, so
    the build shuffle is skew-free even under a hot user."""
    from data_validator_guard_spark.operators.stats import (
        cms_estimate,
        cms_merge,
        cms_partial,
    )

    ev = read_table(spark, sf_dir, "events")
    partials = cms_partial(
        ev,
        F.col("user_id"),
        depth=_CMS_DEPTH,
        width=_CMS_WIDTH,
        partition_by="CASE WHEN event_id % 2 = 0 THEN 'a' ELSE 'b' END",
    )
    merged = cms_merge(partials)
    probes = ev.filter(F.col("user_id").isNotNull()).select("user_id").distinct()
    est = cms_estimate(merged, probes, "user_id", _CMS_WIDTH, depth=_CMS_DEPTH)
    exact = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_n"))
    )
    return est.join(exact, ["user_id"]).select("user_id", "est", "exact_n")


# =====================================================================
# 25. Mergeable bottom-k quantile sketch (round 5): the quantile member
#     of the stored-sketch trio (HLL cardinality, count-min frequency,
#     bottom-k quantiles). The query models the production flow end to
#     end: per-snapshot partials built over two disjoint corpus halves,
#     merged, then quantile-estimated — the oracle replays the bottom-k
#     over the WHOLE table, so a PASS proves merge == full build exactly.
# =====================================================================
_QSK_ORACLE = """
WITH pr AS (
  SELECT COALESCE(CAST(lang AS VARCHAR), '__null__') AS p,
         md5('qsk:' || CAST(doc_id AS VARCHAR)) AS pri,
         CAST(n_chars AS BIGINT) AS v
  FROM documents
  WHERE n_chars IS NOT NULL AND doc_id IS NOT NULL
),
rk AS (
  SELECT p, pri, v, row_number() OVER (PARTITION BY p ORDER BY pri, v) AS r
  FROM pr
),
samp AS (SELECT p, pri, v FROM rk WHERE r <= 32),
m AS (SELECT p, COUNT(*) AS m FROM samp GROUP BY p),
sv AS (
  SELECT s.p, s.v,
         row_number() OVER (PARTITION BY s.p ORDER BY s.v, s.pri) AS r,
         m.m
  FROM samp s JOIN m ON m.p = s.p
),
qs AS (SELECT * FROM (VALUES (CAST(0.25 AS DOUBLE)), (CAST(0.5 AS DOUBLE)), (CAST(0.75 AS DOUBLE))) AS t(q))
SELECT sv.p AS "partition", qs.q, sv.v AS est, sv.m
FROM sv JOIN qs ON sv.r = GREATEST(CAST(ceil(qs.q * sv.m) AS BIGINT), 1)
"""


@query("quantile_sketch_doclen", oracle=_QSK_ORACLE)
def q_quantile_sketch_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang n_chars quartiles from a k=32 bottom-k sketch, built the
    incremental way: one partial per corpus half (split by doc_id parity —
    two 'snapshots'), merged, estimated. The oracle computes the bottom-32
    sample over the un-split table, so equality IS the merge-parity proof
    at registry level (the pytest pins it frame-wise too)."""
    from data_validator_guard_spark.operators.stats import (
        quantile_sketch_merge,
        quantile_sketch_partial,
        quantile_sketch_quantiles,
    )

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.col("n_chars").cast("bigint").alias("n_chars")
    )
    halves = [docs.filter(F.col("doc_id") % 2 == i) for i in (0, 1)]
    partials = [
        quantile_sketch_partial(h, "n_chars", "doc_id", k=32, partition_by="lang")
        for h in halves
    ]
    merged = quantile_sketch_merge(partials[0].unionByName(partials[1]), k=32)
    return quantile_sketch_quantiles(merged, [0.25, 0.5, 0.75])


# =====================================================================
# 26. Bloom membership sketch (round 5): the approximate-MEMBERSHIP
#     member of the stored-sketch family (HLL cardinality, count-min
#     frequency, bottom-k quantiles, Bloom membership). Built the
#     incremental way (one partial per corpus half, merged), probed
#     with every 11th doc_id (stored -> must be True: no false
#     negatives) and the same ids shifted out of the corpus (absent ->
#     True only on a full d-way collision, the measured FP rate). The
#     oracle replays the md5 bit positions exactly, so the merged
#     filter — and every probe verdict — is bit-identical.
# =====================================================================
def _bloom_pos_sql(key_expr: str, i: int, m: int) -> str:
    from data_validator_guard_spark.queries.incremental import _hexn_sql

    h = f"md5('blm{i}:' || CAST({key_expr} AS VARCHAR))"
    return f"({_hexn_sql(h, 1, 12)} % {m})"


_BLOOM_M, _BLOOM_D = 65536, 3

_BLOOM_ORACLE = f"""
WITH bits AS (
  SELECT DISTINCT pos FROM (
    {" UNION ALL ".join(f"SELECT {_bloom_pos_sql('doc_id', i, _BLOOM_M)} AS pos FROM documents WHERE doc_id IS NOT NULL" for i in range(_BLOOM_D))}
  ) u
),
probes AS (
  SELECT doc_id AS probe_id, TRUE AS actually_present
  FROM documents WHERE doc_id % 11 = 0
  UNION ALL
  SELECT doc_id + 10000000, FALSE
  FROM documents WHERE doc_id % 11 = 0
),
ppos AS (
  SELECT DISTINCT probe_id, pos FROM (
    {" UNION ALL ".join(f"SELECT probe_id, {_bloom_pos_sql('probe_id', i, _BLOOM_M)} AS pos FROM probes" for i in range(_BLOOM_D))}
  ) u
),
verdict AS (
  SELECT p.probe_id,
         COUNT(*) = COUNT(b.pos) AS maybe_present
  FROM ppos p LEFT JOIN bits b ON b.pos = p.pos
  GROUP BY p.probe_id
)
SELECT v.probe_id, v.maybe_present, pr.actually_present
FROM verdict v JOIN probes pr ON pr.probe_id = v.probe_id
"""


@query("bloom_membership_docs", oracle=_BLOOM_ORACLE)
def q_bloom_membership_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Membership probes against a merged Bloom filter over doc_id (m=65536,
    d=3, one partial per corpus half): stored keys always True (no false
    negatives — a theorem under the relational bit-set form), absent keys
    True only on a full 3-way collision. Filter work is one projection +
    one md5-uniform distinct per partial; the probe is sketch-sized."""
    from data_validator_guard_spark.operators.stats import (
        bloom_merge,
        bloom_partial,
        bloom_probe,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    halves = [docs.filter(F.col("doc_id") % 2 == i) for i in (0, 1)]
    parts = [
        bloom_partial(h, "doc_id", m=_BLOOM_M, d=_BLOOM_D) for h in halves
    ]
    bloom = bloom_merge(parts[0].unionByName(parts[1]))
    hit = docs.filter(F.col("doc_id") % 11 == 0)
    probes = (
        hit.select(
            F.col("doc_id").alias("probe_id"), F.lit(True).alias("actually_present")
        )
        .unionByName(
            hit.select(
                (F.col("doc_id") + 10000000).alias("probe_id"),
                F.lit(False).alias("actually_present"),
            )
        )
    )
    verdicts = bloom_probe(bloom, probes, "probe_id", m=_BLOOM_M, d=_BLOOM_D)
    return verdicts.join(probes, "probe_id").select(
        "probe_id", "maybe_present", "actually_present"
    )


# =====================================================================
# 27. Pairwise correlation profile (round 5): the numeric sibling of
#     fd_profile — which feature columns are redundant, per lang, from
#     ONE aggregation pass of exact decimal sums (the float tail is two
#     casts, one multiply, one sqrt, one division — engine-identical).
#     Columns: n_chars and two derived exact counts (spaces, lowercase
#     letters), so the correlations are real structure, not plants.
# =====================================================================
_CORR_FIELDS = """
  SELECT COALESCE(CAST(lang AS VARCHAR), '__null__') AS lang,
         CAST(n_chars AS BIGINT) AS n_chars,
         CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_spaces,
         CAST(length(text) - length(regexp_replace(text, '[a-z]', '', 'g')) AS BIGINT) AS n_lower
  FROM documents
"""


def _corr_pair_sql(cx: str, cy: str) -> str:
    both = f"{cx} IS NOT NULL AND {cy} IS NOT NULL"
    return f"""
SELECT lang AS "partition", '{cx}' AS col_x, '{cy}' AS col_y,
       CAST(nn AS BIGINT) AS n,
       CASE WHEN (nn * sx2 - sx * sx) > 0 AND (nn * sy2 - sy * sy) > 0 THEN
         CAST(nn * sxy - sx * sy AS DOUBLE)
         / sqrt(CAST(nn * sx2 - sx * sx AS DOUBLE) * CAST(nn * sy2 - sy * sy AS DOUBLE))
       END AS corr
FROM (
  SELECT lang,
         CAST(COUNT(CASE WHEN {both} THEN 1 END) AS HUGEINT) AS nn,
         COALESCE(SUM(CASE WHEN {both} THEN CAST({cx} AS HUGEINT) END), 0) AS sx,
         COALESCE(SUM(CASE WHEN {both} THEN CAST({cy} AS HUGEINT) END), 0) AS sy,
         COALESCE(SUM(CASE WHEN {both} THEN CAST({cx} AS HUGEINT) * CAST({cy} AS HUGEINT) END), 0) AS sxy,
         COALESCE(SUM(CASE WHEN {both} THEN CAST({cx} AS HUGEINT) * CAST({cx} AS HUGEINT) END), 0) AS sx2,
         COALESCE(SUM(CASE WHEN {both} THEN CAST({cy} AS HUGEINT) * CAST({cy} AS HUGEINT) END), 0) AS sy2
  FROM f GROUP BY lang
) t
"""


_CORR_ORACLE = (
    f"WITH f AS ({_CORR_FIELDS})\n"
    + "\nUNION ALL\n".join(
        _corr_pair_sql(cx, cy)
        for cx, cy in [
            ("n_chars", "n_spaces"),
            ("n_chars", "n_lower"),
            ("n_spaces", "n_lower"),
        ]
    )
)


@query("corr_profile_docs", oracle=_CORR_ORACLE)
def q_corr_profile_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang Pearson correlations between n_chars, space count, and
    lowercase-letter count — 3 pairs, 18 exact decimal sums, ONE scan."""
    from data_validator_guard_spark.operators.stats import correlation_profile

    docs = read_table(spark, sf_dir, "documents")
    feats = docs.select(
        "lang",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        (F.length("text") - F.length(F.regexp_replace(F.col("text"), " ", "")))
        .cast("bigint")
        .alias("n_spaces"),
        (F.length("text") - F.length(F.regexp_replace(F.col("text"), "[a-z]", "")))
        .cast("bigint")
        .alias("n_lower"),
    )
    return correlation_profile(
        feats, ["n_chars", "n_spaces", "n_lower"], partition_by="lang"
    )


# =====================================================================
# 28. Robust (median/MAD) outliers (round 5): the skew-resistant
#     companion to the mean/std z-score screen above (a mean/std bar is
#     dragged by the very outliers it hunts). Same quantized events
#     value, same group key; medians are type-1 over the value-count
#     histogram, so every number on the decision boundary is an exact
#     BIGINT in both engines.
# =====================================================================
_ROBUST_ORACLE = """
WITH q AS (
  SELECT event_type AS g,
         CAST(floor(CAST(value AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL
),
hist AS (SELECT g, v, COUNT(*) AS n FROM q GROUP BY g, v),
medc AS (
  SELECT g, v,
         SUM(n) OVER (PARTITION BY g ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(n) OVER (PARTITION BY g) AS tot
  FROM hist
),
med AS (
  SELECT g, MIN(CASE WHEN cum >= (tot + 1) // 2 THEN v END) AS med
  FROM medc GROUP BY g
),
dev AS (
  SELECT h.g, abs(h.v - m.med) AS d, SUM(h.n) AS n
  FROM hist h JOIN med m ON m.g = h.g
  GROUP BY h.g, abs(h.v - m.med)
),
madc AS (
  SELECT g, d,
         SUM(n) OVER (PARTITION BY g ORDER BY d
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(n) OVER (PARTITION BY g) AS tot
  FROM dev
),
mad AS (
  SELECT g, MIN(CASE WHEN cum >= (tot + 1) // 2 THEN d END) AS mad
  FROM madc GROUP BY g
)
SELECT h.g AS event_type, h.v AS value, CAST(h.n AS BIGINT) AS n, m.med, a.mad
FROM hist h JOIN med m ON m.g = h.g JOIN mad a ON a.g = h.g
WHERE abs(h.v - m.med) > 3 * a.mad
"""


@query("robust_outliers", oracle=_ROBUST_ORACLE)
def q_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type robust outlier values: |x - median| > 3 * MAD over
    the x1000-quantized value — ONE data scan to the count histogram, the
    deviation histogram derived from it arithmetically, medians from
    histogram windows, verdicts by exact integer comparison."""
    from data_validator_guard_spark.operators.stats import robust_outlier_values

    events = read_table(spark, sf_dir, "events")
    qv = F.floor(F.col("value").cast("double") * 1000 + F.lit(0.5)).cast("long")
    return robust_outlier_values(events, "event_type", qv, k_num=3, k_den=1)
