"""Resume test (SURVEY.md §5.2): kill-and-resume re-validates only unfinished
partitions and the final results equal a single full run."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_validator_guard_spark.ledger import load_results, run_with_ledger
from data_validator_guard_spark.rules import Rule, RuleSuite
from data_validator_guard_spark.session import unpersist_intermediates


@pytest.fixture()
def suite():
    return RuleSuite(
        "t",
        [
            Rule("v_not_null", "not_null", ("v",)),
            Rule("v_unique", "unique", ("grp", "v")),
        ],
        partition_by="grp",
        key_cols=("v",),
    )


def _mkdf(spark):
    rows = [(f"p{i % 4}", None if i % 11 == 0 else i % 37) for i in range(200)]
    return spark.createDataFrame(rows, "grp string, v int")


def _persistent(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_resume_only_recomputes_unfinished(spark, suite, tmp_path):
    df = _mkdf(spark)
    out = str(tmp_path / "run")

    # simulated kill: first attempt saw only partitions p0/p1
    partial = df.filter(F.col("grp").isin(["p0", "p1"]))
    s1 = run_with_ledger(partial, suite, out, snapshot_id="s1", rule_version="r1")
    assert s1 == {"partitions_done_before": 0, "partitions_validated": 2}

    # resume over the full input: only p2/p3 are validated
    s2 = run_with_ledger(df, suite, out, snapshot_id="s1", rule_version="r1")
    assert s2 == {"partitions_done_before": 2, "partitions_validated": 2}

    # a third run is a no-op
    s3 = run_with_ledger(df, suite, out, snapshot_id="s1", rule_version="r1")
    assert s3 == {"partitions_done_before": 4, "partitions_validated": 0}

    # results identical to one uninterrupted run
    fresh_out = str(tmp_path / "fresh")
    run_with_ledger(df, suite, fresh_out, snapshot_id="s1", rule_version="r1")
    got_v, got_x = load_results(spark, out)
    exp_v, exp_x = load_results(spark, fresh_out)
    assert sorted(map(tuple, got_v.collect())) == sorted(map(tuple, exp_v.collect()))
    assert sorted(map(tuple, got_x.collect())) == sorted(map(tuple, exp_x.collect()))


def test_commit_point_reads_only_this_run(spark, suite, tmp_path):
    """Round-2 'what's wrong' #4: ledger entries must derive from THIS run's
    verdicts frame, not a re-read of the accumulated verdicts directory.
    Plant a foreign, schema-incompatible partition dir under verdicts/
    between runs — a commit point that rescans history would choke on (or
    absorb) it; the fixed one never touches it."""
    import os

    df = _mkdf(spark)
    out = str(tmp_path / "run")
    partial = df.filter(F.col("grp").isin(["p0", "p1"]))
    run_with_ledger(partial, suite, out, snapshot_id="s1", rule_version="r1")

    # foreign junk in the output tree (e.g. another tool's leftovers)
    junk_dir = os.path.join(out, "verdicts", "pt=__junk__")
    spark.createDataFrame([("bogus",)], "totally_different string").write.mode(
        "overwrite"
    ).parquet(junk_dir)

    s2 = run_with_ledger(df, suite, out, snapshot_id="s1", rule_version="r1")
    assert s2 == {"partitions_done_before": 2, "partitions_validated": 2}
    led = spark.read.parquet(os.path.join(out, "ledger"))
    parts = {r.partition for r in led.select("partition").distinct().collect()}
    assert parts == {"p0", "p1", "p2", "p3"}  # junk never entered the ledger


def test_new_rule_version_revalidates(spark, suite, tmp_path):
    df = _mkdf(spark)
    out = str(tmp_path / "run")
    run_with_ledger(df, suite, out, snapshot_id="s1", rule_version="r1")
    s = run_with_ledger(df, suite, out, snapshot_id="s1", rule_version="r2")
    assert s["partitions_done_before"] == 0
    assert s["partitions_validated"] == 4


def test_partial_partition_rewrite_is_idempotent(spark, suite, tmp_path):
    """A killed run that wrote parquet for a partition but died before the
    ledger append: the resume overwrites that partition's output (dynamic
    partition overwrite), never duplicates it."""
    df = _mkdf(spark)
    out = str(tmp_path / "run")
    partial = df.filter(F.col("grp") == "p0").limit(10)  # half-finished p0
    run_with_ledger(partial, suite, out, snapshot_id="s1", rule_version="r1")
    # wipe the ledger to simulate dying before the commit point
    import shutil

    shutil.rmtree(str(tmp_path / "run" / "ledger"))
    run_with_ledger(df, suite, out, snapshot_id="s1", rule_version="r1")
    got_v, _ = load_results(spark, out)
    fresh_out = str(tmp_path / "fresh")
    run_with_ledger(df, suite, fresh_out, snapshot_id="s1", rule_version="r1")
    exp_v, _ = load_results(spark, fresh_out)
    assert sorted(map(tuple, got_v.collect())) == sorted(map(tuple, exp_v.collect()))


def test_ledger_writes_mergeable_stats(spark, tmp_path):
    from pyspark.sql import functions as F

    from data_validator_guard_spark.ledger import run_with_ledger
    from data_validator_guard_spark.operators.stats import (
        merge_column_stats,
        partial_column_stats,
    )
    from data_validator_guard_spark.rules import Rule, RuleSuite

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    suite = RuleSuite(
        "docs",
        [Rule("nb", "not_blank", ("text",))],
        partition_by="pmod(doc_id, 4)",
        key_cols=("doc_id",),
    )
    out = str(tmp_path / "out")
    run_with_ledger(df, suite, out, "snap1", "v1", stats_columns=["lang", "source"])
    stored = spark.read.parquet(out + "/stats").drop("pt")
    merged = {r.column: r.asDict() for r in merge_column_stats(stored).collect()}
    direct = {
        r.column: r.asDict()
        for r in merge_column_stats(
            partial_column_stats(df, ["lang", "source"])
        ).collect()
    }
    assert merged == direct
    assert merged["lang"]["n_rows"] == df.count()


def test_session_overwrite_mode_is_left_unchanged(spark, suite, tmp_path):
    """Dynamic overwrite is a per-write option: run_with_ledger leaves the
    session's partitionOverwriteMode as the caller set it, and a resumed
    run still replaces only the partitions it writes."""
    key = "spark.sql.sources.partitionOverwriteMode"
    saved = spark.conf.get(key)
    spark.conf.set(key, "STATIC")
    try:
        before = spark.conf.get(key)
        df = _mkdf(spark)
        out = str(tmp_path / "run")
        partial = df.filter(F.col("grp").isin(["p0", "p1"]))
        run_with_ledger(partial, suite, out, snapshot_id="s1", rule_version="r1")
        run_with_ledger(df, suite, out, snapshot_id="s1", rule_version="r1")
        assert spark.conf.get(key) == before
        got_v, _ = load_results(spark, out)
        assert {r.partition for r in got_v.collect()} == {"p0", "p1", "p2", "p3"}
    finally:
        spark.conf.set(key, saved)


def test_resume_of_a_drift_suite_with_every_partition_done(spark, tmp_path):
    """A drift suite's validate collects its histogram when called; on a
    resume with every partition done that histogram is empty, and the run
    validates nothing."""
    from data_validator_guard_spark.operators.drift import histogram

    df = _mkdf(spark)
    edges = [0.0, 10.0, 20.0]
    drift = Rule(
        "v_drift",
        "drift",
        ("v",),
        {
            "group_by": "grp",
            "value": "v",
            "edges": edges,
            "baseline": histogram(df, "grp", F.col("v"), edges),
            "threshold": 0.1,
        },
    )
    suite = RuleSuite("d", [Rule("v_not_null", "not_null", ("v",)), drift], partition_by="grp")
    out = str(tmp_path / "run")
    s1 = run_with_ledger(df, suite, out, snapshot_id="s1", rule_version="r1")
    assert s1 == {"partitions_done_before": 0, "partitions_validated": 4}
    s2 = run_with_ledger(df, suite, out, snapshot_id="s1", rule_version="r1")
    assert s2 == {"partitions_done_before": 4, "partitions_validated": 0}


def test_ledger_releases_its_caches(spark, suite, tmp_path):
    """After run_with_ledger returns, no RDD it cached (its verdicts,
    validate()'s fragment union) is still persisted."""
    unpersist_intermediates()  # clean slate
    before = _persistent(spark)
    run_with_ledger(_mkdf(spark), suite, str(tmp_path / "run"), "s1", "r1")
    assert not _persistent(spark) - before


def test_ledger_releases_its_caches_when_a_sink_raises(spark, suite, tmp_path):
    """A regular file where violations/ should go: the verdicts sink runs
    and fills the caches, the violations sink raises, and the caches are
    still released."""
    out = tmp_path / "run"
    out.mkdir()
    (out / "violations").write_text("not a directory")
    unpersist_intermediates()  # clean slate
    before = _persistent(spark)
    with pytest.raises(Exception):
        run_with_ledger(_mkdf(spark), suite, str(out), "s1", "r1")
    assert (out / "verdicts").is_dir()
    assert not _persistent(spark) - before


def test_stats_partitions_match_verdict_partitions(spark, suite, tmp_path):
    """A NULL partition value carries one label in every ledger output: the
    stored stat partials can be matched to the verdicts (and so to the
    ledger's done partitions) partition by partition."""
    rows = [(None if i % 5 == 0 else f"p{i % 2}", i) for i in range(40)]
    df = spark.createDataFrame(rows, "grp string, v int")
    out = str(tmp_path / "run")
    run_with_ledger(df, suite, out, "s1", "r1", stats_columns=["v"])

    def labels(sub: str) -> set:
        got = spark.read.parquet(f"{out}/{sub}").select("partition", "pt").distinct()
        return {(r.partition, r.pt) for r in got.collect()}

    verdict_labels = labels("verdicts")
    assert {p for p, _ in verdict_labels} == {"__null__", "p0", "p1"}
    assert labels("stats") == verdict_labels
    done = spark.read.parquet(f"{out}/ledger").select("partition").distinct()
    assert {r.partition for r in done.collect()} == {p for p, _ in verdict_labels}


def test_each_partition_is_written_as_one_file(spark, suite, tmp_path):
    """One batch writes one parquet file per verdict partition in verdicts/
    and violations/, and one ledger file; the next batch appends one more
    ledger file."""
    import glob

    out = str(tmp_path / "run")

    def files(pattern: str) -> list[int]:
        return [len(glob.glob(f"{d}/part-*.parquet")) for d in glob.glob(f"{out}/{pattern}")]

    run_with_ledger(_mkdf(spark), suite, out, "s1", "r1")
    assert files("verdicts/pt=*") == [1] * 4
    assert files("violations/pt=*") == [1] * 4
    assert files("ledger") == [1]
    run_with_ledger(_mkdf(spark), suite, out, "s2", "r1")
    assert files("ledger") == [2]


def test_warm_batch_compiles_no_code(spark, suite, tmp_path):
    """A batch over a new snapshot compiles nothing once an earlier batch
    has run the same plans: the batch constants (snapshot id, rule version,
    ts) reach the ledger rows as data, not as literals in generated code."""
    metrics = getattr(spark._jvm.org.apache.spark.metrics.source, "CodegenMetrics$")
    compiled = metrics.__getattr__("MODULE$").METRIC_COMPILATION_TIME()
    out = str(tmp_path / "run")
    # the first batch finds no ledger; the second is the first to read it
    run_with_ledger(_mkdf(spark), suite, out, "s1", "r1")
    run_with_ledger(_mkdf(spark), suite, out, "s2", "r1")
    before = compiled.getCount()
    assert run_with_ledger(_mkdf(spark), suite, out, "s3", "r1")["partitions_validated"] == 4
    assert compiled.getCount() == before
