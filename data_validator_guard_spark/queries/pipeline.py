"""Training-data pipeline composition: hash split, decontamination,
quality filtering, curation, packing, key-skew diagnostics.

Split out of the original single-file registry (round-5 verdict item #7);
sections moved verbatim, registration order preserved per family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F
from data_validator_guard_spark.sources import read_table
from data_validator_guard_spark.queries._registry import query

# =====================================================================
# 44. Deterministic hash split (train/val/test) — the training-pipeline
#     sampling primitive: bucket = md5(doc_id) mod 100, engine-portable
#     (no RNG, no order dependence; stable across reruns and engines).
# =====================================================================
_SPLIT_BUCKET_SQL = """
(((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
  + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)) * 16
  + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1)) % 100
"""


@query(
    "train_val_split",
    oracle=f"""
SELECT doc_id,
       CAST({_SPLIT_BUCKET_SQL} AS BIGINT) AS bucket,
       CASE WHEN {_SPLIT_BUCKET_SQL} < 80 THEN 'train'
            WHEN {_SPLIT_BUCKET_SQL} < 90 THEN 'val'
            ELSE 'test' END AS split
FROM documents
""",
)
def q_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 split assignment from the first 3 hex nibbles of
    md5(doc_id) — adding rows never reshuffles existing assignments (the
    property RNG-based sampling lacks)."""
    docs = read_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 3), 16, 10)
        .cast("bigint")
        % 100
    )
    return docs.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


# =====================================================================
# 55. Train/eval contamination (decontamination pass): eval = the 'test'
#     hash split PLUS three planted verbatim copies of train docs — both
#     the exact and the n-gram detectors must find the plants.
# =====================================================================
_CONTAM_CTE = f"""
WITH b AS (
  SELECT doc_id, text, {_SPLIT_BUCKET_SQL} AS bucket FROM documents
),
train AS (SELECT doc_id, text FROM b WHERE bucket < 80),
eval_docs AS (
  SELECT doc_id, text FROM b WHERE bucket >= 90
  UNION ALL
  SELECT doc_id + 200000, text FROM train WHERE doc_id % 97 = 0
)
"""


def _spark_contam_frames(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 3), 16, 10)
        .cast("bigint")
        % 100
    )
    b = docs.withColumn("bucket", bucket)
    train = b.filter(F.col("bucket") < 80).select("doc_id", "text")
    eval_docs = (
        b.filter(F.col("bucket") >= 90)
        .select("doc_id", "text")
        .unionByName(
            train.filter(F.col("doc_id") % 97 == 0).select(
                (F.col("doc_id") + 200000).alias("doc_id"), "text"
            )
        )
    )
    return train, eval_docs


@query(
    "split_contamination_exact",
    oracle=_CONTAM_CTE
    + r"""
, tfp AS (
  SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp FROM train
),
tc AS (SELECT fp, COUNT(*) AS n_train_copies FROM tfp GROUP BY fp)
SELECT e.doc_id AS id,
       md5(lower(regexp_replace(trim(e.text), '\s+', ' ', 'g'))) AS fp,
       tc.n_train_copies
FROM eval_docs e
JOIN tc ON tc.fp = md5(lower(regexp_replace(trim(e.text), '\s+', ' ', 'g')))
""",
)
def q_split_contamination_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_validator_guard_spark.operators.contamination import exact_contamination

    train, eval_docs = _spark_contam_frames(spark, sf_dir)
    return exact_contamination(train, eval_docs, "text", "doc_id")


@query(
    "split_contamination_ngram",
    oracle=_CONTAM_CTE
    + r"""
, tsh AS (
  SELECT DISTINCT shingle FROM (
    SELECT unnest(list_transform(
             generate_series(1, greatest(len(w) - 7, 0)),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' '
                  || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7])) AS shingle
    FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS w FROM train)
  )
),
esh AS (
  SELECT DISTINCT doc_id AS id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(
             generate_series(1, greatest(len(w) - 7, 0)),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' '
                  || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7])) AS shingle
    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM eval_docs)
  )
),
sizes AS (SELECT id, COUNT(*) AS n_ngrams FROM esh GROUP BY id),
shared AS (
  SELECT e.id, COUNT(*) AS n_shared
  FROM esh e JOIN tsh t ON t.shingle = e.shingle
  GROUP BY e.id
)
SELECT s.id,
       CAST(COALESCE(sh.n_shared, 0) AS BIGINT) AS n_shared_ngrams,
       s.n_ngrams,
       CAST(COALESCE(sh.n_shared, 0) AS DOUBLE) / CAST(s.n_ngrams AS DOUBLE) AS overlap_frac
FROM sizes s LEFT JOIN shared sh ON sh.id = s.id
WHERE COALESCE(sh.n_shared, 0) >= 1
""",
)
def q_split_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_validator_guard_spark.operators.contamination import ngram_contamination

    train, eval_docs = _spark_contam_frames(spark, sf_dir)
    return ngram_contamination(train, eval_docs, "text", "doc_id", n=8)


# =====================================================================
# 56. Composed quality-filter pipeline (Dolma/Gopher-style): one pass that
#     combines length, stopword, repetition and PII signals into keep/drop
#     with machine-readable reasons — the decision layer on top of the
#     individual signal operators, still entirely expression-level.
# =====================================================================
@query(
    "quality_filter_pipeline",
    oracle=r"""
WITH f AS (
  SELECT doc_id,
         length(text) AS n_chars,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
         len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS n_distinct,
         len(regexp_extract_all(text, '\b(the|a|of|and|to|in)\b')) AS n_stop,
         len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email
  FROM documents
),
r AS (
  SELECT doc_id,
         n_chars < 64 AS too_short,
         n_chars > 100000 AS too_long,
         n_tokens > 0 AND CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) < 0.01 AS low_stopword,
         n_tokens > 0 AND 1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) > 0.6 AS too_repetitive,
         n_email > 0 AS has_pii
  FROM f
)
SELECT doc_id,
       NOT (too_short OR too_long OR low_stopword OR too_repetitive OR has_pii) AS keep,
       concat_ws(',',
         CASE WHEN too_short THEN 'too_short' END,
         CASE WHEN too_long THEN 'too_long' END,
         CASE WHEN low_stopword THEN 'low_stopword' END,
         CASE WHEN too_repetitive THEN 'too_repetitive' END,
         CASE WHEN has_pii THEN 'has_pii' END) AS reasons
FROM r
""",
)
def q_quality_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_validator_guard_spark.operators.quality import with_quality

    docs = read_table(spark, sf_dir, "documents")
    return with_quality(docs, "text").select("doc_id", "keep", "reasons")


# =====================================================================
# 56b. End-to-end curation disposition: the ENTIRE curation pipeline
#     (quality filter → exact dedup → md5 split → decontamination) folded
#     into one per-document label — the same shared operator jobs/curate.py
#     routes on, so the job's semantics are oracle-checked here (round-2
#     verdict: the job carried an unchecked, drifted copy of the filter).
# =====================================================================
_DISPOSITION_ORACLE = (
    r"""
WITH f AS (
  SELECT doc_id,
         length(text) AS n_chars,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
         len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS n_distinct,
         len(regexp_extract_all(text, '\b(the|a|of|and|to|in)\b')) AS n_stop,
         len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
         md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
  FROM documents
),
r AS (
  SELECT doc_id, fp,
         n_chars < 64 AS too_short,
         n_chars > 100000 AS too_long,
         n_tokens > 0 AND CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) < 0.01 AS low_stopword,
         n_tokens > 0 AND 1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) > 0.6 AS too_repetitive,
         n_email > 0 AS has_pii
  FROM f
),
k AS (
  SELECT doc_id, fp,
         NOT (too_short OR too_long OR low_stopword OR too_repetitive OR has_pii) AS keep,
         concat_ws(',',
           CASE WHEN too_short THEN 'too_short' END,
           CASE WHEN too_long THEN 'too_long' END,
           CASE WHEN low_stopword THEN 'low_stopword' END,
           CASE WHEN too_repetitive THEN 'too_repetitive' END,
           CASE WHEN has_pii THEN 'has_pii' END) AS reasons
  FROM r
),
m AS (
  SELECT *, MIN(CASE WHEN keep THEN doc_id END) OVER (PARTITION BY fp) AS min_kept
  FROM k
),
s AS (
  SELECT *, COALESCE(keep AND doc_id = min_kept, FALSE) AS surv,
         CASE WHEN """
    + _SPLIT_BUCKET_SQL
    + """ < 80 THEN 'train'
              WHEN """
    + _SPLIT_BUCKET_SQL
    + r""" < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM m
),
e AS (SELECT DISTINCT fp FROM s WHERE surv AND split <> 'train')
SELECT s.doc_id,
       CASE WHEN NOT s.keep THEN 'dropped'
            WHEN NOT s.surv THEN 'duplicate'
            WHEN s.split = 'train' AND e.fp IS NOT NULL THEN 'contaminated'
            ELSE s.split END AS disposition,
       s.reasons
FROM s LEFT JOIN e ON e.fp = s.fp
"""
)


@query("curation_pipeline", oracle=_DISPOSITION_ORACLE)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_validator_guard_spark.operators.quality import curation_disposition

    docs = read_table(spark, sf_dir, "documents")
    return curation_disposition(docs, "text", "doc_id")


# Same pipeline with an EXTERNAL benchmark corpus (docs with doc_id % 97 == 0
# stand in for an eval set): their content fingerprints decontaminate the
# train split, so the 'contaminated' branch is exercised for real (within a
# self-split, exact dedup makes internal contamination impossible).
_DISPOSITION_DECONTAM_ORACLE = _DISPOSITION_ORACLE.replace(
    "e AS (SELECT DISTINCT fp FROM s WHERE surv AND split <> 'train')",
    "e AS (SELECT DISTINCT fp FROM ("
    "SELECT fp FROM s WHERE surv AND split <> 'train' "
    "UNION ALL SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp "
    "FROM documents WHERE doc_id % 97 = 0))",
)


@query("curation_pipeline_decontam", oracle=_DISPOSITION_DECONTAM_ORACLE)
def q_curation_pipeline_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_validator_guard_spark.operators.quality import curation_disposition

    docs = read_table(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") % 97 == 0).select("text")
    return curation_disposition(docs, "text", "doc_id", eval_docs=benchmark)


# =====================================================================
# 60. Composed analytics over the pipeline signals.
# =====================================================================
@query(
    "lang_confusion",
    oracle=r"""
WITH c AS (
  SELECT lang,
         len(regexp_extract_all(text, '\bthe\b')) AS c_en,
         len(regexp_extract_all(text, '\btable\b')) AS c_fr,
         len(regexp_extract_all(text, '\bdata\b')) AS c_de,
         len(regexp_extract_all(text, '\brow\b')) AS c_es
  FROM documents
)
SELECT lang,
       CASE WHEN c_en >= greatest(c_fr, c_de, c_es) THEN 'en'
            WHEN c_fr >= greatest(c_de, c_es) THEN 'fr'
            WHEN c_de >= c_es THEN 'de'
            ELSE 'es' END AS pred_lang,
       COUNT(*) AS n
FROM c GROUP BY lang, pred_lang
""",
)
def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic-vs-label confusion counts — the eval harness for the
    language-ID operator (model-quality measurement as a query)."""
    from data_validator_guard_spark.operators.text import language_id

    docs = read_table(spark, sf_dir, "documents")
    pred = language_id(docs, "text", "doc_id").select("doc_id", "pred_lang")
    return (
        docs.select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "signup_click_purchase_funnel",
    oracle="""
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT
  COUNT(*) AS n_users,
  CAST(SUM(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_signed_up,
  CAST(SUM(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked_after,
  CAST(SUM(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup
                 AND t_purchase > t_click THEN 1 ELSE 0 END) AS BIGINT) AS n_purchased_after
FROM firsts
""",
)
def q_signup_click_purchase_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential funnel (signup -> first click after it -> first purchase
    after that) via one conditional-min aggregation — no self-joins, no
    window over raw events; the per-user firsts reduce in a single shuffle."""
    events = read_table(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    signed = F.col("t_signup").isNotNull()
    clicked = signed & (F.col("t_click") > F.col("t_signup"))
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    return firsts.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(signed.cast("bigint")).alias("n_signed_up"),
        F.sum(clicked.cast("bigint")).alias("n_clicked_after"),
        F.sum(purchased.cast("bigint")).alias("n_purchased_after"),
    )


@query(
    "orders_yearly_growth",
    oracle="""
WITH y AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
         SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS rev,
         COUNT(*) AS n
  FROM orders GROUP BY yr
)
SELECT yr, CAST(rev AS DOUBLE) AS revenue, n,
       CAST(rev - lag(rev) OVER (ORDER BY yr) AS DOUBLE) AS revenue_delta
FROM y
""",
)
def q_orders_yearly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year deltas: lag over the (tiny) yearly aggregate — the
    window runs on |years| rows, never on the fact table; subtraction stays
    exact decimal with one final double cast."""
    o = read_table(spark, sf_dir, "orders")
    y = o.groupBy(F.year("o_orderdate").cast("bigint").alias("yr")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(20,4)")).alias("rev"),
        F.count(F.lit(1)).alias("n"),
    )
    w = Window.orderBy("yr")
    return y.select(
        "yr",
        F.col("rev").cast("double").alias("revenue"),
        "n",
        (F.col("rev") - F.lag("rev").over(w)).cast("double").alias("revenue_delta"),
    )


# =====================================================================
# 61. Sequence packing (concat-and-chunk, LLM pretraining layout): docs
#     hash-sharded, ordered by a portable hash inside the shard, bin
#     span a pure function of the cumulative token offset — per-shard
#     parallel, zero cross-shard coordination, exact-integer outputs.
# =====================================================================
_PACK_BASE_SQL = r"""
  SELECT doc_id,
         (((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)) * 16
           + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1)) % 8 AS shard,
         md5(CAST(doc_id AS VARCHAR)) AS h,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens
  FROM documents
"""


@query(
    "pack_sequences",
    oracle=f"""
WITH b AS ({_PACK_BASE_SQL}),
c AS (
  SELECT doc_id, shard, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY h, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM b
)
SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tokens,
       CAST(cum - n_tokens AS BIGINT) AS start_offset,
       CAST((cum - n_tokens) // 512 AS BIGINT) AS first_bin,
       CAST(CASE WHEN n_tokens = 0 THEN 0
                 ELSE (cum - 1) // 512 - (cum - n_tokens) // 512 + 1 END AS BIGINT) AS n_bins
FROM c
""",
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_validator_guard_spark.operators.packing import pack_sequences

    return pack_sequences(
        read_table(spark, sf_dir, "documents"), "text", "doc_id", ctx_len=512, n_shards=8
    )


@query(
    "packing_summary",
    oracle=f"""
WITH b AS ({_PACK_BASE_SQL})
SELECT CAST(shard AS BIGINT) AS shard,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST((SUM(n_tokens) + 511) // 512 AS BIGINT) AS n_windows,
       CAST((SUM(n_tokens) + 511) // 512 * 512 - SUM(n_tokens) AS BIGINT) AS waste_tokens
FROM b GROUP BY shard
""",
)
def q_packing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_validator_guard_spark.operators.packing import pack_sequences, packing_summary

    packed = pack_sequences(
        read_table(spark, sf_dir, "documents"), "text", "doc_id", ctx_len=512, n_shards=8
    )
    return packing_summary(packed, ctx_len=512)


# =====================================================================
# 62. Key-skew diagnostic: the observable behind every salting / AQE
#     decision. Exact discrete percentiles of per-key counts from the
#     count-of-counts histogram (never a global key sort); hottest key
#     via TakeOrdered; max/mean ratio as ONE IEEE division.
# =====================================================================
@query(
    "key_skew_events",
    oracle="""
WITH c AS (SELECT user_id AS k, COUNT(*) AS cnt FROM events GROUP BY user_id),
t AS (SELECT COUNT(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS n_rows,
             MAX(cnt) AS max_count FROM c),
h AS (SELECT cnt, COUNT(*) AS freq FROM c GROUP BY cnt),
cum AS (SELECT cnt, SUM(freq) OVER (ORDER BY cnt
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cf FROM h),
p AS (SELECT
        MIN(CASE WHEN cf >= (50 * t.n_keys + 99) // 100 THEN cnt END) AS p50_count,
        MIN(CASE WHEN cf >= (90 * t.n_keys + 99) // 100 THEN cnt END) AS p90_count,
        MIN(CASE WHEN cf >= (99 * t.n_keys + 99) // 100 THEN cnt END) AS p99_count
      FROM cum, t),
top AS (SELECT CAST(k AS VARCHAR) AS top_key FROM c ORDER BY cnt DESC, k ASC LIMIT 1)
SELECT CAST(t.n_keys AS BIGINT) AS n_keys, t.n_rows,
       CAST(t.max_count AS BIGINT) AS max_count,
       CAST(p.p50_count AS BIGINT) AS p50_count,
       CAST(p.p90_count AS BIGINT) AS p90_count,
       CAST(p.p99_count AS BIGINT) AS p99_count,
       top.top_key,
       CAST(t.max_count * t.n_keys AS DOUBLE) / CAST(t.n_rows AS DOUBLE) AS skew_ratio
FROM t, p, top
""",
)
def q_key_skew_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_validator_guard_spark.operators.stats import key_skew_profile

    return key_skew_profile(read_table(spark, sf_dir, "events"), "user_id")


# =====================================================================
# 30. Lakehouse layout: Z-order clustering key (functions.zorder_key) —
#     the multi-column extension of compact_small_files' sorted rewrite.
#     Quantize (o_custkey, o_orderdate-as-epoch-day) into a 2^8 x 2^8 grid
#     over the observed min/max (4 literals, guarded driver pull — the
#     drift-edges pattern), then bit-interleave. Sorting the rewrite by
#     this one key bounds per-file min/max footers on BOTH columns, so
#     predicates on either prune whole files. The oracle replicates the
#     quantization and interleave bit for bit via scalar-subquery min/max.
# =====================================================================
def _zorder_interleave_sql(xe: str, ye: str, bits: int = 8) -> str:
    terms = []
    for b in range(bits):
        terms.append(f"((({xe} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({ye} >> {b}) & 1) << {2 * b + 1})")
    return "(" + " + ".join(terms) + ")"


_ZORDER_ORACLE = f"""
WITH bounds AS (
  SELECT MIN(o_custkey) AS cmin, MAX(o_custkey) AS cmax,
         MIN(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))) AS dmin,
         MAX(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))) AS dmax
  FROM orders
), g AS (
  SELECT o_orderkey,
         CAST(FLOOR(CAST((o_custkey - cmin) * 256 AS DOUBLE)
                    / (cmax - cmin + 1)) AS BIGINT) AS cx,
         CAST(FLOOR(CAST((date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) - dmin) * 256 AS DOUBLE)
                    / (dmax - dmin + 1)) AS BIGINT) AS cy
  FROM orders, bounds
)
SELECT o_orderkey, CAST({_zorder_interleave_sql("cx", "cy")} AS BIGINT) AS zkey
FROM g
"""


@query("zorder_assignment", oracle=_ZORDER_ORACLE)
def q_zorder_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over orders: (o_custkey, epoch-day of
    o_orderdate) quantized to a 256x256 equi-width grid over the observed
    min/max, bits interleaved into one BIGINT sort key. Feed the key to
    compact_small_files(sort_col=...) to get a rewrite whose files carry
    tight min/max footers on BOTH columns."""
    from data_validator_guard_spark.functions import equi_width_bucket, zorder_key

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey"),
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date")).alias(
            "__eday"
        ),
    )
    # guarded driver pull: exactly one 4-value row (the drift-edges pattern)
    b = orders.agg(
        F.min("o_custkey").alias("cmin"),
        F.max("o_custkey").alias("cmax"),
        F.min("__eday").alias("dmin"),
        F.max("__eday").alias("dmax"),
    ).collect()[0]
    cx = equi_width_bucket(F.col("o_custkey"), int(b.cmin), int(b.cmax), 256)
    cy = equi_width_bucket(F.col("__eday"), int(b.dmin), int(b.dmax), 256)
    return orders.select(
        "o_orderkey", zorder_key(cx, cy, bits=8).alias("zkey")
    )


# =====================================================================
# 55b. Fuzzy (MinHash) decontamination (round 5): the third strength
#      between the exact-fingerprint and raw n-gram checks — eval docs
#      NEAR-duplicating any train doc survive light edits that defeat
#      the verbatim check. Eval = the test hash split + verbatim plants
#      (%97, jaccard 1.0) + suffix-perturbed plants (%89 — the genuinely
#      fuzzy catches). The oracle replays the whole cross-corpus LSH
#      pipeline (shingle → 8 minhashes → 4 bands → eval x train candidate
#      join → exact Jaccard >= 0.7) in DuckDB list expressions.
# =====================================================================
_FUZZY_CTE = f"""
WITH b AS (
  SELECT doc_id, text, {_SPLIT_BUCKET_SQL} AS bucket FROM documents
),
train AS (SELECT doc_id, text FROM b WHERE bucket < 80),
eval_docs AS (
  SELECT doc_id, text FROM b WHERE bucket >= 90
  UNION ALL
  SELECT doc_id + 200000, text FROM train WHERE doc_id % 97 = 0
  UNION ALL
  SELECT doc_id + 300000, text || ' extra suffix tokens appended here'
  FROM train WHERE doc_id % 89 = 0
)
"""

_FUZZY_ORACLE = (
    _FUZZY_CTE
    + r""",
tw AS (SELECT doc_id AS id, regexp_split_to_array(trim(text), '\s+') AS w FROM train),
ew AS (SELECT doc_id AS id, regexp_split_to_array(trim(text), '\s+') AS w FROM eval_docs),
tsh AS (
  SELECT DISTINCT id,
         unnest(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
                               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
  FROM tw
),
esh AS (
  SELECT DISTINCT id,
         unnest(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
                               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
  FROM ew
),
tsig AS (
  SELECT id,
         min(md5('0:' || shingle)) AS mh0, min(md5('1:' || shingle)) AS mh1,
         min(md5('2:' || shingle)) AS mh2, min(md5('3:' || shingle)) AS mh3,
         min(md5('4:' || shingle)) AS mh4, min(md5('5:' || shingle)) AS mh5,
         min(md5('6:' || shingle)) AS mh6, min(md5('7:' || shingle)) AS mh7
  FROM tsh GROUP BY id
),
esig AS (
  SELECT id,
         min(md5('0:' || shingle)) AS mh0, min(md5('1:' || shingle)) AS mh1,
         min(md5('2:' || shingle)) AS mh2, min(md5('3:' || shingle)) AS mh3,
         min(md5('4:' || shingle)) AS mh4, min(md5('5:' || shingle)) AS mh5,
         min(md5('6:' || shingle)) AS mh6, min(md5('7:' || shingle)) AS mh7
  FROM esh GROUP BY id
),
tbands AS (
  SELECT id, 0 AS band, mh0 || '#' || mh1 AS val FROM tsig
  UNION ALL SELECT id, 1, mh2 || '#' || mh3 FROM tsig
  UNION ALL SELECT id, 2, mh4 || '#' || mh5 FROM tsig
  UNION ALL SELECT id, 3, mh6 || '#' || mh7 FROM tsig
),
ebands AS (
  SELECT id, 0 AS band, mh0 || '#' || mh1 AS val FROM esig
  UNION ALL SELECT id, 1, mh2 || '#' || mh3 FROM esig
  UNION ALL SELECT id, 2, mh4 || '#' || mh5 FROM esig
  UNION ALL SELECT id, 3, mh6 || '#' || mh7 FROM esig
),
cand AS (
  SELECT DISTINCT e.id AS eval_id, t.id AS train_id
  FROM ebands e JOIN tbands t ON e.band = t.band AND e.val = t.val
),
tsizes AS (SELECT id, COUNT(*) AS sz FROM tsh GROUP BY id),
esizes AS (SELECT id, COUNT(*) AS sz FROM esh GROUP BY id),
inter AS (
  SELECT c.eval_id, c.train_id, COUNT(*) AS n_inter
  FROM cand c
  JOIN esh s1 ON s1.id = c.eval_id
  JOIN tsh s2 ON s2.id = c.train_id AND s2.shingle = s1.shingle
  GROUP BY c.eval_id, c.train_id
)
SELECT i.eval_id, i.train_id,
       CAST(i.n_inter AS DOUBLE) / CAST(e.sz + t.sz - i.n_inter AS DOUBLE) AS jaccard
FROM inter i
JOIN esizes e ON e.id = i.eval_id
JOIN tsizes t ON t.id = i.train_id
WHERE CAST(i.n_inter AS DOUBLE) / CAST(e.sz + t.sz - i.n_inter AS DOUBLE) >= 0.7
"""
)


@query("split_contamination_fuzzy", oracle=_FUZZY_ORACLE)
def q_split_contamination_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash decontamination: eval docs near-duplicating any train doc at
    exact Jaccard >= 0.7 via cross-corpus LSH (eval-band x train-band
    candidates only — neither corpus is ever self-joined). Must find both
    the verbatim plants (jaccard 1.0) and the suffix-perturbed ones the
    exact check misses. Uncapped (``max_bucket=None``), as the oracle
    replays the pipeline with no bucket cap."""
    from data_validator_guard_spark.operators.contamination import fuzzy_contamination

    train, eval_docs = _spark_contam_frames(spark, sf_dir)
    perturbed = train.filter(F.col("doc_id") % 89 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra suffix tokens appended here")).alias("text"),
    )
    eval_fuzzy = eval_docs.unionByName(perturbed)
    return fuzzy_contamination(
        train, eval_fuzzy, "text", "doc_id", k=8, bands=4, n=3, threshold=0.7,
        max_bucket=None,
    )
