"""Streaming validation: exactly-once per file via checkpoint (the streaming
analog of the batch ledger resume test)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from data_validator_guard_spark.rules import Rule, RuleSuite
from data_validator_guard_spark.streaming import validate_stream, windowed_event_counts

SCHEMA = "grp string, v int"


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


def test_stream_validates_each_file_once(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    suite = RuleSuite("s", [Rule("v_not_null", "not_null", ("v",))], partition_by="grp")

    _write_batch(spark, inp, [("a", 1), ("a", None)])
    q = validate_stream(spark, inp, SCHEMA, suite, out)
    q.awaitTermination(120)

    v1 = spark.read.parquet(os.path.join(out, "verdicts"))
    assert v1.count() == 1
    assert v1.collect()[0].n_violations == 1

    # second file arrives; resume processes ONLY it
    _write_batch(spark, inp, [("b", 2), ("b", 3)])
    q = validate_stream(spark, inp, SCHEMA, suite, out)
    q.awaitTermination(120)

    v2 = spark.read.parquet(os.path.join(out, "verdicts"))
    got = {r.partition: (r.n_rows, r.n_violations) for r in v2.collect()}
    assert got == {"a": (2, 1), "b": (2, 0)}
    # batch ids differ -> file one was not reprocessed
    assert v2.select("batch_id").distinct().count() == 2


def test_stream_releases_each_batch_caches(spark, tmp_path):
    """Each micro-batch releases validate()'s cached frames after its
    sinks: once the stream drains, the persist registry is empty and no
    RDD the run added is still persisted."""
    from data_validator_guard_spark import session

    inp = str(tmp_path / "in")
    suite = RuleSuite(
        "s",
        [Rule("v_not_null", "not_null", ("v",)), Rule("v_unique", "unique", ("grp", "v"))],
        partition_by="grp",
    )
    _write_batch(spark, inp, [("a", 1), ("a", 1), ("b", None)])
    session.unpersist_intermediates()  # clean slate
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    q = validate_stream(spark, inp, SCHEMA, suite, str(tmp_path / "out"))
    q.awaitTermination(120)
    assert not q.isActive
    assert session._PERSISTED == []
    assert not set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) - before


def test_windowed_counts_batch_parity(spark):
    df = spark.createDataFrame(
        [
            ("click", "2024-01-01 10:00:00"),
            ("click", "2024-01-01 23:00:00"),
            ("click", "2024-01-02 00:30:00"),
            ("view", "2024-01-01 05:00:00"),
        ],
        "event_type string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {(r.event_type, str(r.day)): r.n for r in windowed_event_counts(df).collect()}
    assert got == {
        ("click", "2024-01-01"): 2,
        ("click", "2024-01-02"): 1,
        ("view", "2024-01-01"): 1,
    }


def test_running_verdicts_stateful(spark, tmp_path):
    """applyInPandasWithState: cumulative verdicts survive across batches and
    across a query restart (state store checkpoint)."""
    from pyspark.sql import functions as F

    from data_validator_guard_spark.streaming.incremental import running_verdicts_stream

    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    schema = "partition string, is_violation int"

    out_dir = str(tmp_path / "out")

    def run_once():
        stream = spark.readStream.schema(schema).parquet(in_dir)
        out = running_verdicts_stream(stream)

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out_dir)

        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # cumulative counters are monotone: the latest state per partition is
        # the row with max n_rows
        rows = spark.read.parquet(out_dir).collect()
        latest = {}
        for r in rows:
            cur = latest.get(r.partition)
            if cur is None or r.n_rows > cur[0]:
                latest[r.partition] = (r.n_rows, r.n_violations, r["pass"])
        return latest

    spark.createDataFrame(
        [("a", 0), ("a", 1), ("b", 0)], schema
    ).write.mode("append").parquet(in_dir)
    got1 = run_once()
    assert got1["a"] == (2, 1, False)
    assert got1["b"] == (1, 0, True)

    # second batch arrives; restarted query resumes state from the checkpoint
    spark.createDataFrame([("a", 0), ("b", 1), ("b", 0)], schema).write.mode(
        "append"
    ).parquet(in_dir)
    got2 = run_once()
    assert got2["a"] == (3, 1, False)
    assert got2["b"] == (3, 1, False)


def test_watermark_drops_late_data(spark, tmp_path):
    """Event-time watermark contract: in append mode a window only emits once
    the watermark passes its end, and rows arriving later than the watermark
    are dropped from state — the bounded-state guarantee that keeps the
    streaming aggregation viable on an unbounded source."""
    inp = str(tmp_path / "win")
    ck = str(tmp_path / "ck")
    schema = "ts timestamp, event_type string"

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(inp)

    import datetime as dt

    d = lambda day, h=0: dt.datetime(2026, 1, day, h)  # noqa: E731

    outp = str(tmp_path / "wm_out")

    def run_drain():
        q = (
            spark.readStream.schema(schema)
            .parquet(inp)
            .transform(
                lambda df: windowed_event_counts(df, ts_col="ts", key_col="event_type")
            )
            .writeStream.format("parquet")
            .option("path", outp)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: days 1-4; max event time = day 4 -> watermark day 2 (2-day lag)
    write([(d(1), "click"), (d(1, 6), "click"), (d(2), "view"), (d(4), "click")])
    run_drain()
    # batch 2: one LATE row for day 1 (far behind the day-2 watermark) plus a
    # fresh day-7 row that advances the watermark past day 4's window.
    write([(d(1, 12), "click"), (d(7), "view")])
    run_drain()

    got = {
        (r.event_type, str(r.day)): r.n
        for r in spark.read.parquet(outp).collect()
    }
    # day 1 emitted with the ON-TIME count only (2 clicks); the late third
    # click was dropped, not merged and not re-emitted
    assert got[("click", "2026-01-01")] == 2
    # day 4's window closed once the watermark advanced past it
    assert got[("click", "2026-01-04")] == 1


def test_stream_with_plan_level_rules(spark, tmp_path):
    """Plan-level rules (unique + drift) run unchanged inside foreachBatch —
    the streaming path reuses the full batch compiler, not a reduced rule
    subset."""
    import os as _os

    from data_validator_guard_spark.operators.drift import histogram
    from data_validator_guard_spark.rules import Rule as _Rule
    from data_validator_guard_spark.rules import RuleSuite as _Suite

    inp = str(tmp_path / "in2")
    out = str(tmp_path / "out2")
    rows = [("a", i % 5) for i in range(40)] + [("a", 1)]  # one duplicate v per k
    df = spark.createDataFrame(rows, SCHEMA)
    df.coalesce(1).write.mode("append").parquet(inp)
    baseline = histogram(df, "grp", F.col("v").cast("double"), [0.0, 2.0, 4.0])
    suite = _Suite(
        "s2",
        [
            _Rule("v_unique", "unique", ("v",)),
            _Rule(
                "v_drift",
                "drift",
                ("v",),
                {
                    "group_by": "grp",
                    "value": "cast(v as double)",
                    "edges": [0.0, 2.0, 4.0],
                    "baseline": baseline,
                    "threshold": 0.5,
                },
            ),
        ],
        partition_by="grp",
    )
    q = validate_stream(spark, inp, SCHEMA, suite, out)
    q.awaitTermination(120)
    v = spark.read.parquet(_os.path.join(out, "verdicts"))
    got = {r.rule_id: (r["pass"], r.n_violations) for r in v.collect()}
    assert got["v_unique"][0] is False and got["v_unique"][1] > 0
    assert got["v_drift"] == (True, 0)  # same data as baseline -> no drift


def test_dedup_stream_drops_duplicates_across_restart(spark, tmp_path):
    """Streaming exact dedup: in-batch and cross-file duplicates collapse to
    first-arrival; after a checkpointed restart, a duplicate of a key seen
    BEFORE the restart is still dropped (state survives in the store)."""
    from data_validator_guard_spark.streaming import dedup_stream

    schema = "k string, ts timestamp"
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ck = os.path.join(out, "_ck")
    t = "2026-01-01 12:00:00"

    def drain():
        stream = spark.readStream.schema(schema).parquet(inp)
        deduped = dedup_stream(stream, ("k",), "ts", "1 hour")
        q = (
            deduped.writeStream.format("parquet")
            .option("path", os.path.join(out, "rows"))
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def batch(rows):
        spark.createDataFrame(
            [(k, ts) for k, ts in rows], "k string, ts string"
        ).select(F.col("k"), F.col("ts").cast("timestamp")).coalesce(
            1
        ).write.mode("append").parquet(inp)

    batch([("a", t), ("a", t), ("b", t)])  # in-batch duplicate
    drain()
    batch([("a", t), ("c", t)])  # cross-restart duplicate of a
    drain()

    got = sorted(r.k for r in spark.read.parquet(os.path.join(out, "rows")).collect())
    assert got == ["a", "b", "c"]


def test_minhash_stream_pairs_across_restart(spark, tmp_path):
    """Round-3 verdict #5 (streaming near-dup bridge): signatures are emitted
    per micro-batch into the store; a near-duplicate planted in drain 2 of a
    RESTARTED query pairs with its partner from drain 1; exactly-once means
    the pairing sees no duplicate signature rows."""
    from data_validator_guard_spark.streaming import (
        minhash_signature_stream,
        near_duplicates_from_store,
    )

    schema = "doc_id long, text string"
    inp = str(tmp_path / "in")
    store = str(tmp_path / "store")
    base = "the quick brown fox jumps over the lazy dog again and again today"

    def batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(inp)

    def drain():
        q = minhash_signature_stream(spark, inp, schema, store, "text", "doc_id")
        q.awaitTermination(120)

    # drain 1: the original + an unrelated doc
    batch([(1, base), (2, "completely different words about spark shuffles and joins etc")])
    drain()
    # drain 2 (fresh query object, same checkpoint): a near-dup of doc 1
    batch([(3, base + " extra")])
    drain()

    sig = spark.read.parquet(os.path.join(store, "signatures"))
    assert sig.count() == 3  # exactly-once: no re-emission on restart
    pairs = {
        (r.id1, r.id2)
        for r in near_duplicates_from_store(spark, store, threshold=0.5).collect()
    }
    assert (1, 3) in pairs
    assert all(2 not in p for p in pairs)


def test_store_pairing_max_bucket_none_means_no_cap(spark, tmp_path, monkeypatch):
    """``near_duplicates_from_store(max_bucket=None)`` pairs without a cap,
    as every near-dup operator does, whatever the module default is."""
    from data_validator_guard_spark.operators import dedup
    from data_validator_guard_spark.streaming import near_duplicates_from_store

    monkeypatch.setattr(dedup, "DEFAULT_MAX_BUCKET", 2)
    text = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame([(i, text) for i in (1, 2, 3)], "doc_id long, text string")
    store = str(tmp_path / "store")
    sig, sh = dedup.build_signature_store(docs, "text", "doc_id")
    sig.withColumn("batch_id", F.lit(0)).write.parquet(os.path.join(store, "signatures"))
    sh.withColumn("batch_id", F.lit(0)).write.parquet(os.path.join(store, "shingles"))
    pairs = {
        (r.id1, r.id2)
        for r in near_duplicates_from_store(spark, store, max_bucket=None).collect()
    }
    assert pairs == {(1, 2), (1, 3), (2, 3)}
    assert near_duplicates_from_store(spark, store, max_bucket=2).count() == 0


def test_hash_sample_is_streaming_safe(spark, tmp_path):
    """hash_sample is a pure per-row filter (no shuffle, no state), so it
    must work unchanged on a streaming DataFrame — the sampled stream is the
    same subset the batch operator selects, across micro-batches."""
    from data_validator_guard_spark.operators.sampling import hash_sample

    schema = "doc_id long, text string"
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")

    spark.createDataFrame(
        [(i, f"d{i}") for i in range(500)], schema
    ).coalesce(1).write.mode("append").parquet(inp)

    stream = spark.readStream.schema(schema).parquet(inp)
    sampled = hash_sample(stream, "doc_id", 200_000)
    assert sampled.isStreaming
    q = (
        sampled.writeStream.format("parquet")
        .option("path", os.path.join(out, "rows"))
        .option("checkpointLocation", os.path.join(out, "_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch_ids = {
        r.doc_id
        for r in hash_sample(
            spark.read.parquet(inp), "doc_id", 200_000
        ).collect()
    }
    stream_ids = {
        r.doc_id for r in spark.read.parquet(os.path.join(out, "rows")).collect()
    }
    assert stream_ids == batch_ids and 0 < len(batch_ids) < 500
