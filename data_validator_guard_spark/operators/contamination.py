"""Train/eval contamination checks — the decontamination pass every serious
training pipeline runs before shipping a split (no reference ancestor; the
LLM-data extension of the dedup family, same shingle machinery).

Three strengths:
- **exact**: eval documents whose normalized fingerprint also appears in the
  train split (verbatim leakage);
- **n-gram**: eval documents sharing any word n-gram (the GPT-3 paper used
  13-grams) with any train document — catches paraphrase-adjacent leakage
  and quoted snippets;
- **fuzzy**: eval documents near-duplicating a train document at exact
  Jaccard >= threshold, mined by the dedup module's two-sided MinHash miner
  (eval x train band collisions only).

Scale shape: the join key is the fingerprint / shingle, so the shuffle is
partitioned by content, never all-pairs; the n-gram path reuses
``dedup.shingle_table`` (distinct shingles per doc) and aggregates matches
per eval doc. Train-side shingles are the big side and stay partitioned;
no driver-side state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_validator_guard_spark.operators.dedup import (
    DEFAULT_MAX_BUCKET,
    _minhash_probe_pairs,
    minhash_signature,
    shingle_table,
)
from data_validator_guard_spark.operators.text import normalize_text
from data_validator_guard_spark.session import track_persist


def exact_contamination(
    train: DataFrame, eval_df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Eval docs verbatim-present in train: ``id, fp, n_train_copies``."""
    tfp = train.select(F.md5(normalize_text(F.col(text_col))).alias("fp"))
    tcounts = tfp.groupBy("fp").agg(F.count(F.lit(1)).alias("n_train_copies"))
    efp = eval_df.select(
        F.col(id_col).alias("id"), F.md5(normalize_text(F.col(text_col))).alias("fp")
    )
    return efp.join(tcounts, "fp", "inner").select("id", "fp", "n_train_copies")


def ngram_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    min_overlap: int = 1,
) -> DataFrame:
    """Eval docs sharing >= ``min_overlap`` distinct word n-grams with the
    train split: ``id, n_shared_ngrams, n_ngrams, overlap_frac``.

    ``overlap_frac`` = shared / total distinct n-grams of the eval doc (one
    IEEE division of exact integers). Train-side n-grams are deduplicated
    before the join so a shingle repeated across many train docs costs one
    row, not a fan-out.
    """
    train_sh = shingle_table(train, text_col, id_col, n).select("shingle").distinct()
    eval_sh = shingle_table(eval_df, text_col, id_col, n)
    sizes = eval_sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_ngrams"))
    shared = (
        eval_sh.join(train_sh, "shingle", "left_semi")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
    )
    return (
        sizes.join(shared, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("n_shared_ngrams"), F.lit(0)).alias("n_shared_ngrams"),
            "n_ngrams",
            (
                F.coalesce(F.col("n_shared_ngrams"), F.lit(0)).cast("double")
                / F.col("n_ngrams").cast("double")
            ).alias("overlap_frac"),
        )
        .filter(F.col("n_shared_ngrams") >= min_overlap)
    )


def fuzzy_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.7,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Eval documents NEAR-duplicating any train document (the fuzzy third
    strength, between ``exact_contamination`` and raw n-gram overlap):
    ``eval_id, train_id, jaccard`` for every cross-corpus pair with exact
    Jaccard >= ``threshold`` — the MinHash decontamination pass frontier
    training pipelines run so a lightly-edited eval document (reformatted,
    suffixed, translated boilerplate) cannot hide from the verbatim check.

    Cross-corpus LSH through dedup's two-sided MinHash miner (the one
    ``incremental_near_duplicates`` runs): sign both sides (k MinHashes over
    word n-gram shingles), band, cap degenerate buckets over the COMBINED
    band population, and keep eval-band x train-band collisions ONLY — the
    pair predicate is pushed into each join side, so train x train and
    eval x eval pairs are never formed and candidate work is proportional to
    genuine cross-corpus collisions, not either corpus squared. Verification
    is exact Jaccard over shingles semi-joined down to candidate ids before
    the intersection join. ``max_bucket=None`` turns the cap off, as in every
    near-dup operator. Contract (as for the incremental miner): ids must be
    disjoint across the two sides.
    """
    t_sig = track_persist(minhash_signature(train, text_col, id_col, k, n))
    keep = F.col("a.__probe") & ~F.col("b.__probe")  # eval (probe) x train only
    pairs = _minhash_probe_pairs(
        eval_df, t_sig, shingle_table(train, text_col, id_col, n), text_col, id_col,
        k, bands, n, threshold, max_bucket, keep,
    )
    return pairs.select(F.col("id1").alias("eval_id"), F.col("id2").alias("train_id"), "jaccard")
