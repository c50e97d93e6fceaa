"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
``{"metric": "...", "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ..., ...}``

Two workload groups:
- testdata queries (the oracle-checked operator set, run at the bench sf dir);
- the flagship full-suite validation over a deterministically generated
  synthetic source-code table (SYNTH_ROWS rows, hot-repo skew) — this is the
  north-rule workload, and the basis of the rows/sec headline.

Forcing strategy: ``df.write.format("noop")`` — full materialization of every
operator with no sink cost.

Per-layer split of one validation run (Spark's own metrics): ``python3 dvgbench/run.py --trace 1``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_validator_guard_spark.session import get_session, unpersist_intermediates  # noqa: E402

SYNTH_ROWS = int(os.environ.get("DVG_BENCH_SYNTH_ROWS", "8000000"))

HEADLINE = [
    "verdicts_documents",
    "violations_documents",
    "stats_documents",
    "duplicate_event_keys",
    "fk_violations_lang",
    "group_consistency_users",
    "pricing_summary",
    "revenue_by_nation",
    "event_types_per_user",
    "top3_orders_per_customer",
    "days_from_signup",
    "dedup_exact",
    "token_counts",
    "similarity_topk",
    "drift_psi",
]


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_session(
        "dvg-bench",
        master=f"local[{cpus}]",
        extra_confs={
            "spark.sql.shuffle.partitions": str(max(cpus, 16)),
            # split scans into >= ~2 tasks/core: the synth table is ~100 B/row
            # so default 128 MB splits would starve a 32-core scan.
            "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    from data_validator_guard_spark.queries import QUERIES
    from data_validator_guard_spark.engine import validate
    from data_validator_guard_spark.suites import source_code_suite
    from data_validator_guard_spark.synth import source_code_table

    # warm-up: JVM + every headline plan shape at the smallest sf (codegen is
    # cached per plan shape, so the timed sf run measures execution, not
    # Janino compilation — the cluster steady state).
    _force(spark.range(1000000).selectExpr("sum(id) as s"))
    warm_sf = "/root/testdata/sf0.001"
    for name in HEADLINE:
        fn = QUERIES.get(name)
        if fn is not None and os.path.isdir(warm_sf):
            try:
                _force(fn(spark, warm_sf))
            except Exception:
                pass

    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = QUERIES.get(name)
        if fn is None:
            continue
        t0 = time.perf_counter()
        _force(fn(spark, sf_dir))
        timings[name] = round(time.perf_counter() - t0, 3)

    # north-rule workload: full suite over the synthetic source-code table.
    # The table is materialized to parquet once (the engine's contract is a
    # columnar table scan, per BASELINE.json input_hint) so the measurement is
    # validation throughput, not generation cost.
    synth_path = f"/tmp/dvg_bench/synth_{SYNTH_ROWS}.parquet"
    if not os.path.exists(synth_path):
        source_code_table(spark, SYNTH_ROWS, num_partitions=cpus * 2).write.mode(
            "overwrite"
        ).parquet(synth_path)
    src = spark.read.parquet(synth_path)
    # baseline histogram for the drift suite (a separate reference input by
    # definition; materialized once, outside the timed run)
    base_path = synth_path + ".basehist"
    if not os.path.exists(base_path):
        from pyspark.sql import functions as F

        from data_validator_guard_spark.operators.drift import histogram
        from data_validator_guard_spark.suites import LENGTH_EDGES

        histogram(src, "lang", F.expr("length(content)"), LENGTH_EDGES).write.mode(
            "overwrite"
        ).parquet(base_path)
    suite = source_code_suite(spark, baseline_hist=spark.read.parquet(base_path))
    # warm-up on a small slice: compiles the exact same codegen stages (the
    # first execution of each unique plan shape costs ~tens of seconds of
    # Janino compilation that a long-running cluster pays once, not per job);
    # the measurement below is steady-state validation throughput.
    warm_v, warm_viol = validate(src.limit(50000), suite)
    _force(warm_v)
    _force(warm_viol)
    # adjacent-pair rule applied to the headline number too (BENCH/BASELINE.md):
    # this host's wall time varies up to 1.5x between windows, so the north-rule
    # measurement runs twice back-to-back and the best leg is the steady-state
    # number (both legs are recorded for honesty).
    legs = []
    for _ in range(2):
        # each leg must run uncached, not from the previous run's cached
        # fragment union and drift histogram
        unpersist_intermediates()
        t0 = time.perf_counter()
        verdicts, violations = validate(src, suite)
        _force(verdicts)
        _force(violations)
        legs.append(time.perf_counter() - t0)
    validate_sec = min(legs)
    timings["validate_synth"] = round(validate_sec, 3)
    n_violations = violations.count()  # cached fragments + cheap row recount

    # high-violation leg (round-2 verdict #9): violations/sec on the happy
    # path is ~60x below validated rows/s, which is fine while violations are
    # rare — this leg plants a ~10% defect rate (blank paths) at scan time so
    # the violation-EMIT path's throughput is tracked before someone hits it
    # at 100x. Same parquet input, one extra expression — no storage cost.
    from pyspark.sql import functions as F

    hv_src = src.withColumn(
        "path",
        F.when(F.pmod(F.xxhash64("repo", "path", "commit"), 10) == 0, F.lit("")).otherwise(
            F.col("path")
        ),
    )
    # each validate() call above cached its fragment union + drift
    # histogram; drop them so this leg measures the plan, not cache pressure
    unpersist_intermediates()
    warm_hv_v, warm_hv_x = validate(hv_src.limit(50000), suite)
    _force(warm_hv_v)
    _force(warm_hv_x)
    hv_legs = []
    for _ in range(2):
        unpersist_intermediates()
        t0 = time.perf_counter()
        hv_verdicts, hv_violations = validate(hv_src, suite)
        _force(hv_verdicts)
        _force(hv_violations)
        hv_legs.append(time.perf_counter() - t0)
    hv_sec = min(hv_legs)
    hv_n = hv_violations.count()

    # The hv leg is reported ONLY via the hiviol_* fields below: folding it
    # into `timings` would change what the headline `value` (sum of timings)
    # measures and break cross-round comparability of the metric label.
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline queries + full-suite validation wall time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir.rstrip("/").split("sf")[-1],
        "synth_rows": SYNTH_ROWS,
        "validate_synth_legs": [round(x, 3) for x in legs],
        "validated_rows_per_sec": round(SYNTH_ROWS / validate_sec, 1),
        "violations": n_violations,
        "violations_per_sec": round(n_violations / validate_sec, 1),
        "hiviol_sec": round(hv_sec, 3),
        "validate_synth_hiviol_legs": [round(x, 3) for x in hv_legs],
        "hiviol_validated_rows_per_sec": round(SYNTH_ROWS / hv_sec, 1),
        "hiviol_violations": hv_n,
        "hiviol_violations_per_sec": round(hv_n / hv_sec, 1),
        "cpus": cpus,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
