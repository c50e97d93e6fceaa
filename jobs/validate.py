"""spark-submit entry point: validate a source-code table with the ledger.

North-rule packaging contract: ``spark-submit --py-files dvg.zip
jobs/validate.py --input <table dir> --out <out dir> ...``. Build the zip
with ``python tools/package.py`` (writes dist/dvg.zip).

On a cluster nothing here changes: the session comes from spark-submit's
master/conf; locally it falls back to local[*].

Example::

    spark-submit --py-files dist/dvg.zip jobs/validate.py \
        --input /data/source_code --out /data/dvg_out \
        --snapshot-id snap-2026-08-16 --rule-version v1 \
        --partitions 256

Outputs under --out: verdicts/ violations/ (parquet, partitioned by verdict
partition) and ledger/ (append-only resume checkpoint). Re-running after a
kill validates only unfinished partitions.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# Under spark-submit --py-files the package comes from dvg.zip; for a plain
# ``python jobs/validate.py`` run, fall back to the repo checkout next door.
_repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if os.path.isdir(os.path.join(_repo_root, "data_validator_guard_spark")):
    sys.path.insert(0, _repo_root)


def _positive_int(text: str) -> int:
    """argparse type for a count that must be at least 1."""
    n = int(text)
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be >= 1, got {n}")
    return n


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument(
        "--input",
        required=True,
        help="Iceberg table id or parquet dir of (repo, path, commit, lang, content)",
    )
    p.add_argument("--out", required=True, help="output dir (verdicts/ violations/ ledger/)")
    p.add_argument("--snapshot-id", required=True, help="input snapshot lineage id")
    p.add_argument("--rule-version", default="v1")
    p.add_argument(
        "--partitions", type=_positive_int, default=16, help="repo-hash verdict buckets"
    )
    p.add_argument("--baseline-hist", default=None, help="optional parquet (grp,bucket,n) for drift")
    p.add_argument(
        "--violation-sample-ppm",
        type=int,
        default=None,
        help="bound EMITTED violation rows to ~ppm/10^6 via a deterministic "
        "md5 threshold (verdict counts stay exact); default: emit all",
    )
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("dvg-validate").getOrCreate()

    from data_validator_guard_spark.ledger import run_with_ledger
    from data_validator_guard_spark.sources import read_source
    from data_validator_guard_spark.suites import source_code_suite

    baseline = spark.read.parquet(args.baseline_hist) if args.baseline_hist else None
    suite = source_code_suite(
        spark,
        baseline_hist=baseline,
        partition_by=f"pmod(xxhash64(repo), {args.partitions})",
    )
    # Pin the read only where the source can honor it (snapstore/Iceberg).
    # Plain parquet is immutable-by-convention: the snapshot id still goes to
    # the ledger as lineage, but pretending the READ is pinned would be the
    # silent-unpinned bug read_source refuses — so say it out loud instead.
    from data_validator_guard_spark.sources import snapstore

    if os.path.isdir(args.input) and not snapstore.is_snapstore(args.input):
        # Plain parquet directory: the only shape that genuinely cannot pin.
        print(
            f"WARNING: {args.input} is a plain parquet dir (not snapstore/"
            f"Iceberg); snapshot-id {args.snapshot_id!r} is recorded as "
            "ledger lineage only — the read itself is NOT pinned",
            file=sys.stderr,
        )
        df = read_source(spark, args.input)
    else:
        # Snapstore dir OR a non-path Iceberg table identifier: both honor
        # snapshot pinning, so the id must reach the read — otherwise a
        # resume after a kill could re-read a different snapshot than the
        # ledger records, breaking clone-before-clean.
        df = read_source(spark, args.input, snapshot_id=args.snapshot_id)
    t0 = time.time()
    stats = run_with_ledger(
        df,
        suite,
        args.out,
        snapshot_id=args.snapshot_id,
        rule_version=args.rule_version,
        violation_sample_ppm=args.violation_sample_ppm,
    )
    stats["wall_sec"] = round(time.time() - t0, 2)
    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    sys.exit(main())
