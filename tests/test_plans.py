"""Physical-plan assertions: the scale properties are tested, not assumed.

Each test pins one of the plan invariants the 100 TB path depends on
(SURVEY.md §4.2): broadcast joins for dims, column pruning down to the
rule-referenced columns, filter pushdown to the parquet scan, and
whole-stage codegen on the hot path.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_validator_guard_spark import plans

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_fk_check_broadcasts_dimension(spark, docs):
    dim = spark.createDataFrame([("en",), ("fr",)], "lang string")
    out = docs.join(F.broadcast(dim), "lang", "left_anti")
    assert plans.uses_broadcast_join(out) or "BroadcastNestedLoop" not in plans.plan_string(out)
    assert "BroadcastExchange" in plans.plan_string(out)


def test_stats_scan_prunes_columns(spark, docs):
    from data_validator_guard_spark.operators.stats import column_stats

    out = column_stats(docs, ["lang", "source"])
    schemas = plans.scan_read_schemas(out)
    assert schemas, "expected a parquet scan"
    # text (the 1.5KB payload) must NOT be read when no rule touches it
    assert all("text" not in s for s in schemas)
    assert all("lang" in s for s in schemas)


def test_filter_pushdown_reaches_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    out = li.filter(F.col("l_quantity") > 30).select("l_orderkey")
    pf = plans.pushed_filters(out)
    assert any("l_quantity" in f for f in pf), f"no pushdown in {pf}"
    schemas = plans.scan_read_schemas(out)
    assert all("l_extendedprice" not in s for s in schemas)


def test_validate_totals_scan_prunes_content(spark, docs):
    """The engine's totals scan must not read `text`/`content` when only
    cheap columns carry table-level rules."""
    from data_validator_guard_spark.engine import validate
    from data_validator_guard_spark.rules import Rule, RuleSuite

    suite = RuleSuite(
        "p",
        [Rule("lang_nulls", "null_rate_max", ("lang",), {"max_rate": 0.5})],
        partition_by="source",
    )
    verdicts, _ = validate(docs, suite)
    schemas = plans.scan_read_schemas(verdicts)
    assert schemas and all("text" not in s for s in schemas)


def test_violation_scan_has_codegen(spark, docs):
    from data_validator_guard_spark.engine import validate
    from data_validator_guard_spark.rules import Rule, RuleSuite

    suite = RuleSuite(
        "p",
        [Rule("lang_pattern", "regex_match", ("lang",), {"pattern": "^[a-z]{2}$"})],
        key_cols=("doc_id",),
    )
    _, violations = validate(docs, suite)
    assert plans.has_whole_stage_codegen(violations)


def test_unique_hash_mode_shuffles_hashes_not_strings(spark, docs):
    from data_validator_guard_spark.engine import validate
    from data_validator_guard_spark.rules import Rule, RuleSuite

    suite = RuleSuite("p", [Rule("u", "unique", ("text", "source"))])
    _, violations = validate(docs, suite)
    s = plans.plan_string(violations)
    # the exchange must carry the 64-bit hash column, not raw text
    assert "xxhash64" in s
    # one exchange for the hash count, one for the exact count of the
    # candidate keys
    assert plans.shuffle_exchange_count(violations) == 2


def test_verdicts_single_totals_execution(spark, docs):
    """The verdict unpivot must execute the totals aggregation ONCE: the plan
    contains exactly one parquet scan no matter how many row/agg rules the
    suite has (regression: per-rule union branches re-ran the whole scan)."""
    from data_validator_guard_spark.engine import validate
    from data_validator_guard_spark.rules import Rule, RuleSuite

    suite = RuleSuite(
        "p",
        [
            Rule("a", "not_blank", ("lang",)),
            Rule("b", "regex_match", ("source",), {"pattern": "^src"}),
            Rule("c", "min_max", ("n_chars",), {"lo": 0, "hi": 10**9}),
            Rule("d", "null_rate_max", ("lang",), {"max_rate": 0.5}),
            Rule("e", "min_rows", (), {"n": 1}),
        ],
        partition_by="lang",
    )
    verdicts, _ = validate(docs, suite)
    schemas = plans.scan_read_schemas(verdicts)
    assert len(schemas) == 1, f"expected 1 scan, got {len(schemas)}: {schemas}"


def test_fused_drift_adds_no_extra_scan(spark, docs):
    """With a drift rule, the current histogram must come from the fused
    totals aggregation — 1 scan of the data + 1 scan of the baseline, never
    a second scan of the value column."""
    from data_validator_guard_spark.engine import validate
    from data_validator_guard_spark.operators.drift import histogram
    from data_validator_guard_spark.rules import Rule, RuleSuite

    edges = [0.0, 100.0, 300.0]
    baseline = histogram(docs, "lang", F.length("text"), edges)
    suite = RuleSuite(
        "p",
        [
            Rule("nb", "not_blank", ("text",)),
            Rule(
                "dr",
                "drift",
                ("text",),
                {
                    "group_by": "lang",
                    "value": "length(text)",
                    "edges": edges,
                    "baseline": baseline,
                    "threshold": 0.2,
                },
            ),
        ],
        partition_by="source",
    )
    verdicts, _ = validate(docs, suite)
    s = plans.plan_string(verdicts)
    assert "InMemoryTableScan" in s or "InMemoryRelation" in s, "fine agg not cached/shared"
    # scans: the fused fine aggregation's one data scan + the baseline's scan
    schemas = plans.scan_read_schemas(verdicts)
    assert len(schemas) <= 2, f"expected <=2 scans, got {len(schemas)}: {schemas}"


def test_drift_is_one_pandas_call_without_a_grid(spark, docs):
    """A drift suite's verdicts score the PSI on the driver: no grouped
    pandas call (no FlatMapGroupsInPandas), no (partition, grp) x bucket
    grid — no cross join of any kind — and the drift scores are a local
    relation, the suite's only LocalTableScan."""
    from data_validator_guard_spark.engine import validate
    from data_validator_guard_spark.operators.drift import histogram
    from data_validator_guard_spark.rules import Rule, RuleSuite

    edges = [0.0, 100.0, 300.0]
    rule = Rule(
        "dr",
        "drift",
        ("text",),
        {
            "group_by": "lang",
            "value": "length(text)",
            "edges": edges,
            "baseline": histogram(docs, "lang", F.length("text"), edges),
            "threshold": 0.2,
        },
    )
    verdicts, _ = validate(docs, RuleSuite("p", [rule], partition_by="source"))
    s = plans.plan_string(verdicts, "simple")
    assert s.count("FlatMapGroupsInPandas") == 0, s
    assert "CartesianProduct" not in s and "BroadcastNestedLoopJoin" not in s, s
    assert s.count("LocalTableScan") == 1, s


def test_validate_plans_start_no_python_worker(spark, docs):
    """Over parquet input, the executed verdicts and violations plans of a
    row-rule suite (its violations union the empty plan-level frame), a
    depends_on suite (the gate's edge frame) and a drift suite (the drift
    scores) read no Python RDD (no ExistingRDD scan) and run no grouped
    pandas call: the engine's constant frames are local relations."""
    from data_validator_guard_spark.engine import validate
    from data_validator_guard_spark.operators.drift import histogram
    from data_validator_guard_spark.rules import Rule, RuleSuite

    edges = [0.0, 100.0, 300.0]
    not_null = Rule("lang_set", "not_null", ("lang",))
    suites = [
        RuleSuite("rows", [not_null], partition_by="source"),
        RuleSuite(
            "gated",
            [
                not_null,
                Rule("text_len", "length_range", ("text",), {"hi": 200, "depends_on": ["lang_set"]}),
            ],
            partition_by="source",
        ),
        RuleSuite(
            "drift",
            [
                Rule(
                    "dr",
                    "drift",
                    ("text",),
                    {
                        "group_by": "lang",
                        "value": "length(text)",
                        "edges": edges,
                        "baseline": histogram(docs, "lang", F.length("text"), edges),
                        "threshold": 0.2,
                    },
                )
            ],
            partition_by="source",
        ),
    ]
    for suite in suites:
        for out in validate(docs, suite):
            out.collect()
            s = plans.plan_string(out, "simple")
            assert "isFinalPlan=false" not in s, s
            assert "ExistingRDD" not in s and "FlatMapGroupsInPandas" not in s, (suite.name, s)


def test_topk_compiles_to_take_ordered_not_global_window(spark):
    """Top-k paths must be distributed TakeOrderedAndProject — a k-row merge
    of per-partition top-ks — never a partition-less Window that funnels
    every row through one task (the 100×-scale killer flagged in round 1)."""
    from data_validator_guard_spark.operators.text import heavy_hitters

    events = spark.read.parquet(f"{SF}/events.parquet")
    out = heavy_hitters(events, "user_id", k=10)
    s = plans.plan_string(out)
    assert "TakeOrderedAndProject" in s, s
    # the only Window left runs AFTER the k-row take (rank assignment on <=k
    # rows) — assert the take feeds the window, not the other way round
    assert s.index("TakeOrderedAndProject") > s.index("Window"), (
        "Window must consume the k-row TakeOrderedAndProject output"
    )


def test_approx_percentile_within_error_of_exact(spark, docs):
    """The 10^12-row percentile path is approx_percentile (single-pass
    sketch, no global sort); pin its accuracy against the exact value so the
    scale substitution is a measured trade, not a hope."""
    from pyspark.sql import functions as F

    row = docs.agg(
        F.percentile_approx("n_chars", 0.5, 1000).alias("approx"),
        F.expr("percentile(n_chars, 0.5)").alias("exact"),
    ).collect()[0]
    assert abs(row.approx - row.exact) / max(row.exact, 1.0) < 0.05


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """The materialize-once-join-many contract: two tables bucketed on the
    same key with the same bucket count sort-merge-join with ZERO shuffle
    exchanges (the write-side shuffle was paid once), and an aggregation on
    the bucket key is likewise exchange-free. `hint('merge')` pins SMJ so
    the broadcast threshold can't hide the property being tested."""
    from data_validator_guard_spark.sources import read_bucketed, write_bucketed

    left = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    right = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") + 1).alias("w")
    )
    try:
        write_bucketed(left, "t_bkt_left", ["id"], 4, sort_cols=["id"])
        write_bucketed(right, "t_bkt_right", ["id"], 4, sort_cols=["id"])
        l = read_bucketed(spark, "t_bkt_left")
        r = read_bucketed(spark, "t_bkt_right")

        joined = l.join(r.hint("merge"), "id")
        assert plans.shuffle_exchange_count(joined) == 0, plans.plan_string(joined)
        assert joined.count() == 1000
        got = {(row.id, row.v, row.w) for row in joined.collect()}
        assert (7, 14, 8) in got

        agg = l.groupBy("id").agg(F.sum("v").alias("sv"))
        assert plans.shuffle_exchange_count(agg) == 0, plans.plan_string(agg)
        assert agg.count() == 1000

        # control: path-reading the SAME bucketed files loses the catalog
        # spec, so the identical join DOES shuffle — the spec, not the file
        # layout, carries the win
        loc = {
            r.col_name: r.data_type
            for r in spark.sql("DESCRIBE TABLE EXTENDED t_bkt_left").collect()
        }["Location"]
        locr = {
            r.col_name: r.data_type
            for r in spark.sql("DESCRIBE TABLE EXTENDED t_bkt_right").collect()
        }["Location"]
        lp = spark.read.parquet(loc)
        rp = spark.read.parquet(locr)
        control = lp.join(rp.hint("merge"), "id")
        assert plans.shuffle_exchange_count(control) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bkt_left")
        spark.sql("DROP TABLE IF EXISTS t_bkt_right")


def test_partition_fingerprints_prune_to_fingerprint_columns(spark):
    """The incremental-validation economics depend on the fingerprint pass
    being NARROW: scanning only the partition expression + fingerprint
    columns. A fingerprint over (doc_id) must not read the 1.5 KB text
    payload."""
    from data_validator_guard_spark.operators.snapshot_diff import (
        partition_fingerprints,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    fp = partition_fingerprints(docs, "lang", ["doc_id"])
    schemas = plans.scan_read_schemas(fp)
    assert schemas, "expected a parquet scan"
    assert all("text" not in s for s in schemas), schemas
    assert all("doc_id" in s and "lang" in s for s in schemas), schemas


def test_stratified_sample_has_no_full_stratum_window_sort(spark):
    """Round-4 weak-item fix (stratified_sample_n): no Window in the plan
    may partition raw rows by the stratum alone — phase 1 must rank within
    (stratum, salt) so a hot stratum spreads over n_salts tasks; the only
    stratum-wide window runs over the <= n_salts*n candidate rows."""
    import re

    from data_validator_guard_spark.operators.sampling import stratified_sample_n

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = stratified_sample_n(docs, "lang", "doc_id", 10, n_salts=16)
    s = plans.plan_string(out)
    # formatted plan: each Window node's Arguments line is
    #   [window exprs], [partition spec], [order spec]
    blocks = re.findall(r"\(\d+\) Window\nInput[^\n]*\nArguments: \[.*?\], \[([^\]]*)\], \[", s)
    assert blocks, f"no Window found in plan:\n{s}"
    salted = [b for b in blocks if "__salt" in b]
    unsalted = [b for b in blocks if "__salt" not in b]
    # phase 1 (raw rows) ranks within (stratum, salt); phase 2 (candidate
    # merge, <= n_salts*n rows per stratum) is the only stratum-only window
    assert len(salted) == 1 and len(unsalted) == 1, blocks
    # and Spark inserts WindowGroupLimit above/below the exchange, so even
    # the shuffle carries at most n rows per (stratum, salt) group
    assert "WindowGroupLimit" in s


def test_row_diff_join_adds_no_third_exchange(spark):
    """row_diff's scale contract: one hash-agg shuffle per side and NOTHING
    else — the full-outer join runs on the aggregation key itself (the
    ``__key`` image), so both sides arrive at the join already partitioned
    on it. A ``<=>`` join condition would repartition both sides on
    ``(coalesce(k), isnull(k))``, adding two more exchanges; the control
    below pins that this is what the rekey buys."""
    from data_validator_guard_spark.operators.snapshot_diff import row_diff

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    old = docs.filter(F.col("doc_id") % 7 != 0)
    out = row_diff(old, docs, ["doc_id"], ["text", "lang"])
    assert plans.shuffle_exchange_count(out) == 2, plans.plan_string(out, "simple")
    assert "FullOuter" in plans.plan_string(out, "simple")

    # control: the same two aggregates joined null-safely on the raw key
    # need 4 exchanges (each side re-shuffled onto the derived condition)
    o = old.groupBy(F.md5(F.col("doc_id").cast("string")).alias("__key")).agg(
        F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_old")
    )
    n = docs.groupBy(F.md5(F.col("doc_id").cast("string")).alias("__key")).agg(
        F.min("doc_id").alias("doc_id2"), F.count(F.lit(1)).alias("n_new")
    )
    ctl = o.join(n, o["doc_id"].eqNullSafe(n["doc_id2"]), "full_outer")
    assert plans.shuffle_exchange_count(ctl) == 4, plans.plan_string(ctl, "simple")
