"""spark-submit entry point: end-to-end training-data curation.

Chains the pipeline operators the way a real pretraining-data run does::

    raw documents
      → quality filter (length / stopword / repetition / PII screen)
      → exact dedup (keep min-id survivor per normalized fingerprint)
      → deterministic md5 train/val/test split
      → decontamination (drop TRAIN docs whose fingerprint appears in
        val/test — eval stays pristine, train loses the leaks)
      → chunking of the train split (overlapping char windows)

The whole decision layer is ONE shared operator —
``operators.quality.curation_disposition`` — which labels every document
dropped / duplicate / contaminated / train / val / test. The registry's
``curation_pipeline`` query runs the identical operator against a full SQL
oracle, so this job's semantics (not just its stage counts) are
oracle-checked; this file only routes rows by label and writes outputs.

Outputs under --out: ``train_chunks/ val/ test/ dropped/`` (parquet) and a
one-line JSON summary on stdout.

Example::

    spark-submit --py-files dist/dvg.zip jobs/curate.py \
        --input /data/documents --out /data/curated \
        --chunk-size 512 --stride 384
"""

from __future__ import annotations

import argparse
import json
import os
import sys

_repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if os.path.isdir(os.path.join(_repo_root, "data_validator_guard_spark")):
    sys.path.insert(0, _repo_root)


def curate(
    spark,
    docs,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 512,
    stride: int = 384,
    **thresholds,
) -> dict:
    from pyspark.sql import functions as F

    from data_validator_guard_spark.operators.quality import curation_disposition
    from data_validator_guard_spark.operators.text import chunk_documents
    from data_validator_guard_spark.session import track_persist, unpersist_intermediates

    disp = curation_disposition(docs, text_col, id_col, **thresholds)
    labeled = track_persist(docs.join(disp, id_col))
    try:
        by = {
            r["disposition"]: r["n"]
            for r in labeled.groupBy("disposition")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

        labeled.filter(F.col("disposition") == "dropped").drop(
            "disposition"
        ).write.mode("overwrite").parquet(os.path.join(out_dir, "dropped"))
        for name in ("val", "test"):
            labeled.filter(F.col("disposition") == name).drop(
                "disposition", "reasons"
            ).write.mode("overwrite").parquet(os.path.join(out_dir, name))

        train_clean = labeled.filter(F.col("disposition") == "train").drop(
            "disposition", "reasons"
        )
        chunks = chunk_documents(train_clean, text_col, id_col, chunk_size, stride)
        chunks.write.mode("overwrite").parquet(os.path.join(out_dir, "train_chunks"))
        n_chunks = spark.read.parquet(os.path.join(out_dir, "train_chunks")).count()
    finally:
        # labeled and curation_disposition's dedup intermediates
        # (signatures/shingles); everything is written out above, so release
        # them here — the terminal-action contract from the session module
        # docstring (MEMORY_AND_DISK spill blocks are not LRU-evicted).
        unpersist_intermediates()

    return {
        "n_input": sum(by.values()),
        "n_dropped": by.get("dropped", 0),
        # survivors of filter+dedup (train incl. later-decontaminated + eval)
        "n_deduped": sum(
            by.get(k, 0) for k in ("train", "contaminated", "val", "test")
        ),
        "n_contaminated": by.get("contaminated", 0),
        "n_train": by.get("train", 0),
        "n_val": by.get("val", 0),
        "n_test": by.get("test", 0),
        "n_train_chunks": n_chunks,
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="parquet dir with (doc_id, text, ...)")
    p.add_argument("--out", required=True)
    p.add_argument("--chunk-size", type=int, default=512)
    p.add_argument("--stride", type=int, default=384)
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("dvg-curate").getOrCreate()
    docs = spark.read.parquet(args.input)
    stats = curate(
        spark, docs, args.out, chunk_size=args.chunk_size, stride=args.stride
    )
    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
