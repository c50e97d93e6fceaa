"""End-to-end job smoke tests (the spark-submit surface run in-process)."""

from __future__ import annotations

import os

import pytest


def test_curate_pipeline_end_to_end(spark, tmp_path):
    """filter -> dedup -> split -> decontaminate -> chunk over sf0.001 docs:
    stage counts must be consistent and the train split free of eval
    fingerprints."""
    from pyspark.sql import functions as F

    from jobs.curate import curate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "curated")
    stats = curate(spark, docs, out)

    assert stats["n_input"] == docs.count()
    assert stats["n_dropped"] + stats["n_deduped"] <= stats["n_input"]
    assert stats["n_train"] + stats["n_val"] + stats["n_test"] <= stats["n_deduped"]
    assert stats["n_train_chunks"] >= stats["n_train"]  # >=1 chunk per doc

    # decontamination invariant: no train chunk source doc shares a
    # fingerprint with val/test
    fp = F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")))
    val = spark.read.parquet(out + "/val").select(fp.alias("f"))
    test = spark.read.parquet(out + "/test").select(fp.alias("f"))
    train_ids = spark.read.parquet(out + "/train_chunks").select("id").distinct()
    train_docs = docs.join(train_ids, docs.doc_id == train_ids.id, "left_semi")
    leaked = train_docs.select(fp.alias("f")).join(
        val.unionByName(test).distinct(), "f", "left_semi"
    )
    assert leaked.count() == 0


def _natural_text(stem: str, n: int = 100) -> str:
    """Synthetic doc that passes every quality screen: mostly-unique words
    (low repetition) with a stopword every 5th position (healthy stopword
    ratio), length well over the 64-char floor."""
    stop_cycle = ["the", "of", "and", "to", "in", "a"]
    words: list[str] = []
    for i in range(n):
        words.append(f"{stem}{i}")
        if i % 5 == 0:
            words.append(stop_cycle[(i // 5) % 6])
    return " ".join(words)


def test_curate_drops_planted_low_stopword_doc(spark, tmp_path):
    """Round-2 verdict regression: the job's stopword screen was a silent
    no-op (`< 0.0`). A long, stopword-free, non-repetitive doc MUST land in
    dropped/ with reason low_stopword; a clean natural-language doc must
    survive to a split."""
    from pyspark.sql import functions as F

    from jobs.curate import curate

    # ~120 distinct pseudo-words, zero stopwords → stopword ratio 0 < 0.01
    low_stop_text = " ".join(f"zq{i}xv" for i in range(120))
    clean_text = _natural_text("word")
    docs = spark.createDataFrame(
        [(1, low_stop_text), (2, clean_text)], "doc_id bigint, text string"
    )
    out = str(tmp_path / "curated")
    stats = curate(spark, docs, out)

    assert stats["n_dropped"] == 1
    dropped = spark.read.parquet(out + "/dropped")
    row = dropped.filter(F.col("doc_id") == 1).collect()
    assert len(row) == 1 and "low_stopword" in row[0]["reasons"]
    assert stats["n_deduped"] == 1  # the clean doc survived the screen


def test_curation_disposition_labels(spark):
    """Every pipeline stage visible in one frame: planted dropped, duplicate,
    and contaminated docs get exactly their label."""
    from pyspark.sql import functions as F

    from data_validator_guard_spark.operators.quality import curation_disposition

    clean = _natural_text("alpha")
    other = _natural_text("beta")
    rows = [
        (1, clean),          # survivor of the {1, 7} duplicate group
        (7, clean + " "),    # same normalized fingerprint → duplicate
        (3, "short"),        # fails min_chars → dropped
        (4, other),
    ]
    disp = {
        r["doc_id"]: r["disposition"]
        for r in curation_disposition(
            spark.createDataFrame(rows, "doc_id bigint, text string")
        ).collect()
    }
    assert disp[3] == "dropped"
    assert disp[7] == "duplicate"
    assert disp[1] in ("train", "val", "test")
    assert disp[4] in ("train", "val", "test")

    # contamination requires an EXTERNAL benchmark corpus (exact dedup makes
    # internal-split contamination impossible): a train survivor whose
    # content matches a benchmark doc must flip to 'contaminated'.
    from data_validator_guard_spark.operators.quality import split_bucket

    probe = spark.range(0, 200).select(
        F.col("id"), split_bucket(F.col("id")).alias("b")
    )
    train_id = next(r["id"] for r in probe.collect() if r["b"] < 80)
    solo = spark.createDataFrame(
        [(int(train_id), clean)], "doc_id bigint, text string"
    )
    benchmark = spark.createDataFrame([(clean + "  ",)], "text string")
    with_eval = {
        r["doc_id"]: r["disposition"]
        for r in curation_disposition(solo, eval_docs=benchmark).collect()
    }
    assert with_eval[int(train_id)] == "contaminated"
    without_eval = {
        r["doc_id"]: r["disposition"] for r in curation_disposition(solo).collect()
    }
    assert without_eval[int(train_id)] == "train"


def test_spark_submit_py_files_validate(spark, tmp_path):
    """The north-rule packaging contract, for real: build dist/dvg.zip, then
    run jobs/validate.py through an actual ``spark-submit --py-files`` in a
    separate JVM, from a cwd where the repo checkout is NOT importable — the
    job's imports must come from the zip. Asserts the run emits its stats
    JSON and writes verdicts/violations/ledger parquet."""
    import json
    import shutil
    import subprocess
    import sys

    import pyspark

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run([sys.executable, os.path.join(root, "tools", "package.py")], check=True)
    zip_path = os.path.join(root, "dist", "dvg.zip")
    assert os.path.exists(zip_path)

    inp = str(tmp_path / "code.parquet")
    spark.createDataFrame(
        [
            (f"org/repo{i % 3}", f"src/f{i}.py", f"c{i:04x}", "python", f"print({i})\n")
            for i in range(200)
        ],
        "repo string, path string, commit string, lang string, content string",
    ).write.parquet(inp)

    # copy the job file out of the repo so its repo-checkout fallback cannot
    # fire — only --py-files can satisfy the package import
    job = str(tmp_path / "validate_job.py")
    shutil.copyfile(os.path.join(root, "jobs", "validate.py"), job)
    out = str(tmp_path / "out")
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    proc = subprocess.run(
        [
            submit,
            "--master", "local[2]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--py-files", zip_path,
            job,
            "--input", inp,
            "--out", out,
            "--snapshot-id", "snap-test",
            "--partitions", "4",
        ],
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    stats_line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    stats = json.loads(stats_line)
    assert stats["partitions_validated"] >= 1 and stats["partitions_done_before"] == 0
    for sub in ("verdicts", "violations", "ledger"):
        assert os.path.isdir(os.path.join(out, sub)), sub
    got = spark.read.parquet(os.path.join(out, "verdicts"))
    assert got.count() > 0


def test_validate_job_pins_snapstore_input(spark, tmp_path):
    """Round-3 advice (high): the job must route every pinnable input
    through the snapshot-pinned read — only plain parquet dirs may
    warn-and-unpin. Pin the behavior through the job surface: validate a
    snapstore table at --snapshot-id 1 AFTER a second snapshot landed; the
    verdicts must count snapshot 1's rows, not the current table's."""
    from pyspark.sql import functions as F

    from data_validator_guard_spark.sources import snapstore
    from jobs import validate as vjob

    t = str(tmp_path / "code_store")
    rows1 = [
        (f"org/repo{i % 3}", f"src/f{i}.py", f"c{i:04x}", "python", f"print({i})\n")
        for i in range(100)
    ]
    schema = "repo string, path string, commit string, lang string, content string"
    s1 = snapstore.create_table(t, spark.createDataFrame(rows1, schema))
    rows2 = [
        (f"org/late{i}", f"src/g{i}.py", f"d{i:04x}", "python", f"print(-{i})\n")
        for i in range(150)
    ]
    s2 = snapstore.append(t, spark.createDataFrame(rows2, schema))
    assert (s1, s2) == (1, 2)

    out = str(tmp_path / "out")
    rc = vjob.main(
        [
            "--input", t,
            "--out", out,
            "--snapshot-id", "1",
            "--partitions", "4",
        ]
    )
    assert rc == 0
    verdicts = spark.read.parquet(os.path.join(out, "verdicts"))
    # every rule sees the same row universe; take one rule's total
    one_rule = verdicts.filter(F.col("rule_id") == verdicts.first().rule_id)
    n = one_rule.agg(F.sum("n_rows").alias("n")).collect()[0].n
    assert n == 100, f"pinned read leaked snapshot 2 rows: n_rows={n}"
    # lineage records the pinned snapshot id
    ledger = spark.read.parquet(os.path.join(out, "ledger"))
    assert {r.snapshot_id for r in ledger.select("snapshot_id").collect()} == {"1"}


def test_validate_job_rejects_partitions_below_one(tmp_path):
    """--partitions is the N of pmod(xxhash64(repo), N): 0 would fail only at
    the first action (REMAINDER_BY_ZERO) and a negative N would run with
    buckets that are not the N the flag names, so argparse refuses both."""
    from jobs import validate as vjob

    for bad in ("0", "-3"):
        with pytest.raises(SystemExit) as e:
            vjob.main(
                [
                    "--input", str(tmp_path),
                    "--out", str(tmp_path / "out"),
                    "--snapshot-id", "1",
                    "--partitions", bad,
                ]
            )
        assert e.value.code == 2
