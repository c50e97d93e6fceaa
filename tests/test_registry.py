"""Static checks on the driver-contract registry (no Spark execution)."""

from __future__ import annotations

import json
import re
from pathlib import Path

import pytest

from data_validator_guard_spark.queries import ORACLES, QUERIES


def test_every_oracle_has_a_query():
    assert set(ORACLES) <= set(QUERIES)


def test_registry_covers_operator_families():
    names = set(QUERIES)
    required = {
        # SURVEY.md §2 families
        "verdicts_documents", "violations_documents",      # engine contract
        "stats_documents",                                 # A-family fused stats
        "duplicate_event_keys", "normalized_duplicates",   # A1/A2/A3
        "fk_violations_lang", "allowed_values_events",     # J4/P4
        "group_consistency_users",                         # A8 / rule 11
        "pricing_summary", "revenue_by_nation",            # aggs + joins
        "event_types_per_user",                            # A4
        "top3_orders_per_customer",                        # window/top-k
        "days_from_signup",                                # A11
        "clicked_not_purchased", "union_ids",              # U1/U2/A10
        "click_purchase_outer",                            # J3
        "derived_source_check",                            # rule 14
        "order_total_consistency",                         # rule 13
        "row_completeness",                                # A7 / rules 9+12
        "negative_regex_filter",                           # P3
        "search_values", "codebook",                       # P5 / M6
        "cleaning_rulebook",                               # M1/M2
        "windowed_event_counts",                           # event-time windows
        # training-data pipeline additions
        "dedup_exact", "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_simhash",
        "similarity_topk", "similarity_bucketed",
        "token_counts", "quality_features", "language_id", "fingerprints",
        "drift_psi",
    }
    missing = required - names
    assert not missing, f"registry missing: {sorted(missing)}"


def test_gated_queries_stay_registered_with_oracles():
    """A query may leave the registry only if it is not one of the 50 that
    ``CORRECTNESS_r05.json`` gates; each of those keeps its oracle."""
    gated = json.loads((Path(__file__).parents[1] / "CORRECTNESS_r05.json").read_text())
    assert len(gated) == 50
    assert not set(gated) - set(QUERIES), "gated query unregistered"
    assert not set(gated) - set(ORACLES), "gated query has no oracle"


def test_oracles_are_duckdb_safe():
    for name, sql in ORACLES.items():
        assert "(?!" not in sql and "(?=" not in sql, f"{name}: RE2 has no lookahead"
        assert "regexp_count" not in sql, f"{name}: DuckDB 1.0 lacks regexp_count"
        # replace-all semantics need the explicit 'g' flag in DuckDB
        n_repl = sql.count("regexp_replace(")
        n_glob = len(re.findall(r",\s*'g'\s*\)", sql))
        assert n_repl == n_glob, f"{name}: regexp_replace without 'g' flag"


def test_read_source_parquet_fallback(spark, tmp_path):
    from data_validator_guard_spark.sources import read_source

    p = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(p)
    got = read_source(spark, p).collect()
    assert [(r.id, r.v) for r in got] == [(1, "a")]
    # a pinned read over mutable plain parquet would silently NOT be pinned —
    # read_source refuses rather than pretending (snapstore/Iceberg required)
    with pytest.raises(ValueError, match="snapshot_id requires"):
        read_source(spark, p, snapshot_id="snap1")


def test_detect_encoding_bom_and_fallback(spark, tmp_path):
    from data_validator_guard_spark.sources import detect_encoding, read_csv

    d = tmp_path / "enc"
    d.mkdir()
    (d / "a.csv").write_bytes("id;v\n1;café\n".encode("utf-8"))
    (d / "b.csv").write_bytes("id;v\n2;naïve\n".encode("utf-8"))
    assert detect_encoding(spark, str(d)) == "UTF-8"

    d16 = tmp_path / "enc16"
    d16.mkdir()
    (d16 / "a.csv").write_bytes("id;v\n1;x\n".encode("utf-16"))  # writes BOM
    enc16 = detect_encoding(spark, str(d16))
    assert enc16.startswith("UTF-16")

    dlatin = tmp_path / "enclatin"
    dlatin.mkdir()
    (dlatin / "a.csv").write_bytes(b"id;v\n1;caf\xe9\n")  # bare latin-1 byte
    assert detect_encoding(spark, str(dlatin)) == "ISO-8859-1"
    df = read_csv(spark, str(dlatin), "id int, v string", encoding="ISO-8859-1")
    assert df.collect()[0].v == "café"


def _mini_xlsx(rows, tmp, name):
    """Hand-construct a minimal xlsx (zip of XML): header via inline strings,
    data via shared strings + numeric cells."""
    import zipfile

    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    shared = []

    def cell(ref, val):
        if isinstance(val, (int, float)):
            return f'<c r="{ref}"><v>{val}</v></c>'
        if val is None:
            return f'<c r="{ref}"/>'
        shared.append(str(val))
        return f'<c r="{ref}" t="s"><v>{len(shared) - 1}</v></c>'

    body = []
    for i, row in enumerate(rows, start=1):
        cells = "".join(cell(f"{chr(ord('A') + j)}{i}", v) for j, v in enumerate(row))
        body.append(f'<row r="{i}">{cells}</row>')
    sheet = f'<worksheet {ns}><sheetData>{"".join(body)}</sheetData></worksheet>'
    sst = f'<sst {ns}>' + "".join(f"<si><t>{s}</t></si>" for s in shared) + "</sst>"
    p = tmp / name
    with zipfile.ZipFile(p, "w") as z:
        z.writestr("xl/worksheets/sheet1.xml", sheet)
        z.writestr("xl/sharedStrings.xml", sst)
    return p


def test_read_excel_minimal_workbooks(spark, tmp_path):
    """S2: distributed stdlib xlsx ingest — two workbooks in one directory
    parse in parallel via binaryFile + mapInPandas; header maps by name."""
    from data_validator_guard_spark.sources import read_excel

    d = tmp_path / "xlsx"
    d.mkdir()
    _mini_xlsx(
        [("pid", "city", "n"), ("P1", "London", 3), ("P2", "Paris", 4)], d, "a.xlsx"
    )
    _mini_xlsx([("pid", "city", "n"), ("P3", None, 5)], d, "b.xlsx")
    df = read_excel(spark, str(d), ["pid", "city", "n"])
    got = {r.pid: (r.city, r.n) for r in df.collect()}
    assert got == {"P1": ("London", "3"), "P2": ("Paris", "4"), "P3": (None, "5")}


def test_compact_small_files_shrinks_layout(spark, tmp_path):
    """Maintenance op: 32 tiny files compact into the planned target count
    with byte-identical content; an already-compact layout is a no-op
    (idempotent daily maintenance)."""
    import os

    from pyspark.sql import functions as F

    from data_validator_guard_spark.sources import compact_small_files, plan_compaction

    src = str(tmp_path / "frag")
    out = str(tmp_path / "compact")
    spark.range(10_000).withColumn("v", F.col("id") * 3).repartition(32).write.parquet(src)

    def n_parquet(p):
        return sum(
            1
            for root, _d, fs in os.walk(p)
            for f in fs
            if f.endswith(".parquet") and not f.startswith(".")
        )

    assert n_parquet(src) == 32
    plan = plan_compaction(spark, src, target_bytes=1 << 40)
    assert plan["n_files"] == 32 and plan["target_files"] == 1 and not plan["skipped"]

    done = compact_small_files(spark, src, out, target_bytes=1 << 40)
    assert not done["skipped"] and n_parquet(out) == 1
    a = spark.read.parquet(src).agg(
        F.count("*").alias("n"), F.sum(F.hash("id", "v").cast("bigint")).alias("h")
    ).collect()[0]
    b = spark.read.parquet(out).agg(
        F.count("*").alias("n"), F.sum(F.hash("id", "v").cast("bigint")).alias("h")
    ).collect()[0]
    assert (a.n, a.h) == (b.n, b.h)

    # already-compact source: planning says skip, compact writes nothing
    plan2 = plan_compaction(spark, out, target_bytes=1 << 40)
    assert plan2["skipped"]
    res = compact_small_files(spark, out, str(tmp_path / "noop"), target_bytes=1 << 40)
    assert res["skipped"] and not os.path.exists(str(tmp_path / "noop"))


def test_compact_sorted_layout_prunes_files(spark, tmp_path):
    """sort_col variant: range-partitioned rewrite gives min/max footer
    stats that let a point/range filter prune whole files — the read-side
    payoff that justifies the rewrite's one shuffle."""
    from pyspark.sql import functions as F

    from data_validator_guard_spark.sources import compact_small_files

    src = str(tmp_path / "frag2")
    out = str(tmp_path / "sorted")
    spark.range(40_000).withColumn("v", F.col("id") % 7).repartition(16).write.parquet(src)
    # pick target_bytes for ~4 output files so the range layout is observable
    from data_validator_guard_spark.sources import plan_compaction as _pc

    total = _pc(spark, src, target_bytes=1 << 40)["total_bytes"]
    compact_small_files(spark, src, out, target_bytes=max(1, total // 4), sort_col="id")
    got = spark.read.parquet(src).count()
    assert spark.read.parquet(out).count() == got
    # file-level pruning: a narrow id range must touch ONE file's rows only.
    # numFiles pruning is visible via the scan's partition/file metrics; at
    # this tier assert the cheap invariant — per-file disjoint id ranges.
    import os

    files = sorted(
        os.path.join(root, f)
        for root, _d, fs in os.walk(out)
        for f in fs
        if f.endswith(".parquet") and not f.startswith(".")
    )
    assert len(files) > 1
    ranges = []
    for f in files:
        r = spark.read.parquet(f).agg(F.min("id"), F.max("id")).collect()[0]
        ranges.append((r[0], r[1]))
    ranges.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"overlapping file ranges: {(lo1, hi1)} vs {(lo2, _hi2)}"


def test_zorder_key_matches_reference_and_is_bijective(spark):
    """zorder_key == the textbook Morton interleave (python reference) on a
    full grid, is a bijection there, and the out-of-grid guard raises."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql.utils import PythonException

    from data_validator_guard_spark.functions import equi_width_bucket, zorder_key

    def ref_z(x, y, bits):
        return sum(
            (((x >> b) & 1) << (2 * b)) | (((y >> b) & 1) << (2 * b + 1))
            for b in range(bits)
        )

    bits = 4
    grid = spark.createDataFrame(
        [(x, y) for x in range(16) for y in range(16)], "x long, y long"
    )
    got = {
        (r.x, r.y): r.z
        for r in grid.select(
            "x", "y", zorder_key(F.col("x"), F.col("y"), bits=bits).alias("z")
        ).collect()
    }
    assert got == {(x, y): ref_z(x, y, bits) for x in range(16) for y in range(16)}
    assert len(set(got.values())) == 256  # bijection on the grid

    # quantizer: clamps out-of-range, exact cells, validation guards
    q = spark.createDataFrame([(-5,), (0,), (99,), (150,)], "v long").select(
        equi_width_bucket(F.col("v"), 0, 99, 16).alias("c")
    )
    assert [r.c for r in q.collect()] == [0, 0, 15, 15]
    with pytest.raises(ValueError, match="2\\^53"):
        equi_width_bucket(F.col("v"), 0, 2**45, 2**20)

    # out-of-grid z input raises at runtime instead of aliasing cells
    bad = spark.createDataFrame([(20, 3)], "x long, y long")
    with pytest.raises(Exception, match="out of \\[0, 16\\)"):
        bad.select(zorder_key(F.col("x"), F.col("y"), bits=4)).collect()


def test_zorder_compaction_bounds_both_dimensions(spark, tmp_path):
    """The read-side payoff of z-ordering, in two layers. (a) Exact property:
    a bit-aligned z-block (top-3 z bits, i.e. fixing y_hi, x_hi, y_mid)
    bounds BOTH dimensions — x to ~half, y to ~quarter of the grid. (b) The
    rewrite through compact_small_files uses sampled range boundaries, so a
    straddling file can span one dimension — but the worst per-file y-range
    must still be materially below the single-column x-sort control, whose
    every file spans y fully."""
    import os

    from pyspark.sql import functions as F

    from data_validator_guard_spark.functions import equi_width_bucket, zorder_key
    from data_validator_guard_spark.sources import compact_small_files, plan_compaction

    src = str(tmp_path / "grid_src")
    n = 200
    df = (
        spark.range(n * n)
        .select(
            (F.col("id") % n).alias("x"),
            (F.col("id") / n).cast("long").alias("y"),
        )
        .withColumn(
            "zkey",
            zorder_key(
                equi_width_bucket(F.col("x"), 0, n - 1, 256),
                equi_width_bucket(F.col("y"), 0, n - 1, 256),
                bits=8,
            ),
        )
    )

    # (a) deterministic bit-aligned blocks: both dims bounded in EVERY block
    blocks = (
        df.groupBy(F.shiftrightunsigned(F.col("zkey"), 13).alias("blk"))
        .agg(
            (F.max("x") - F.min("x")).alias("xr"),
            (F.max("y") - F.min("y")).alias("yr"),
        )
        .collect()
    )
    assert len(blocks) == 8
    assert all(r.xr <= 0.55 * n for r in blocks), [r.xr for r in blocks]
    assert all(r.yr <= 0.30 * n for r in blocks), [r.yr for r in blocks]

    # (b) rewrite comparison vs the x-sort control
    df.repartition(16).write.parquet(src)
    total = plan_compaction(spark, src, target_bytes=1 << 40)["total_bytes"]
    target = max(1, total // 8)

    def file_ranges(path, col):
        out = []
        for root, _d, fs in os.walk(path):
            for f in fs:
                if f.endswith(".parquet") and not f.startswith("."):
                    r = spark.read.parquet(os.path.join(root, f)).agg(
                        F.min(col), F.max(col)
                    ).collect()[0]
                    out.append(r[1] - r[0])
        return out

    z_out = str(tmp_path / "zsorted")
    compact_small_files(spark, src, z_out, target_bytes=target, sort_col="zkey")
    x_out = str(tmp_path / "xsorted")
    compact_small_files(spark, src, x_out, target_bytes=target, sort_col="x")

    zy = file_ranges(z_out, "y")
    xy = file_ranges(x_out, "y")
    assert len(zy) >= 4, f"expected a multi-file z layout, got {len(zy)}"
    assert max(xy) >= 0.9 * n, "control broke: x-sort should leave y unbounded"
    assert max(zy) * 1.5 <= max(xy), (
        f"z-order did not improve worst-file y pruning: {max(zy)} vs {max(xy)}"
    )


def test_compact_refuses_source_as_destination(spark, tmp_path):
    """The lazy-read corruption guard: compacting INTO the source directory
    must fail loudly before any write starts."""
    import pytest
    from pyspark.sql import functions as F

    from data_validator_guard_spark.sources import compact_small_files

    src = str(tmp_path / "frag3")
    spark.range(100).withColumn("v", F.col("id")).repartition(4).write.parquet(src)
    with pytest.raises(ValueError, match="must differ from the source"):
        compact_small_files(spark, src, src, target_bytes=1 << 40, sort_col="id")


def test_duplicate_query_registration_fails_loud():
    """Registry names are frozen: re-registering an existing name must
    raise at import time (a silent replacement would swap a query and its
    oracle out from under the cross-round driver comparison) and must NOT
    disturb the original registration."""
    from data_validator_guard_spark.queries._registry import query

    existing = next(iter(QUERIES))
    before = QUERIES[existing]
    with pytest.raises(ValueError, match="already registered"):
        @query(existing, oracle="SELECT 1 AS x")
        def _clobber(spark, sf_dir):  # pragma: no cover
            raise AssertionError("must never register")
    assert QUERIES[existing] is before
