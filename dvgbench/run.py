"""The repository benchmark: one workload per run, started from the repo root.

    python3 dvgbench/run.py --cores 2 --workload flagship --seed 1 --seconds 10 --trace 0

Closed loop, one client, one driver process at ``local[N]``. A run starts a
session, builds the workload's inputs from ``--seed`` (several times, for
``setup_s``), pays one cold validation, computes the expected outputs
without the engine, then validates for ``--seconds`` (at least
``MIN_ITERATIONS`` times) and checks every output. ``--trace 1`` is the separate traced run: it alternates untraced and
traced iterations, tags every public call with ``setJobDescription`` and reads
the per-layer numbers from Spark's status stores afterwards.

The last line of standard output is the result
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
context (sample counts, ``failed_frac``, the host-noise control).
"""

from __future__ import annotations

import argparse
import ctypes
import gc
import json
import os
import re
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_validator_guard_spark"
RULE_VERSION = "dvg-bench"

# Rows and parquet files per input snapshot, and the sink. "noop": one input,
# repeated through validate() with verdicts collected and violations sent to
# the noop sink. "ledger": a new snapshot per batch through run_with_ledger
# into one output directory.
WORKLOADS = {
    "flagship": {"rows": 20_000, "files": 4, "sink": "noop"},
    "small_batch": {"rows": 5_000, "files": 2, "sink": "ledger"},
}
DRIVER_MEMORY = "1g"
SHUFFLE_PARTITIONS = 4
SETUP_REPEATS = 3
# Warm iterations a run makes however short --seconds is: an untraced run's
# samples are then always the same iterations of the JIT warm-up, and a traced
# run gets one untraced (odd) and one traced (even) iteration.
MIN_ITERATIONS = 2
CONTROL_ROWS = 40_000_000
BASELINE_ROWS = 20_000
BASELINE_SEED_OFFSET = 7919

END_TO_END = {
    "setup_s": "s",
    "run_s_p50": "s",
    "rows_per_s": "rows/s",
    "verdicts_s_p50": "s",
    "violations_per_s": "rows/s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "cold_run_s": "s",
    "sources.scan_s": "s",
    "sources.input_bytes": "bytes",
    "engine.compile_s": "s",
    "engine.compile_jobs": "count",
    "engine.verdicts_s": "s",
    "engine.totals.fine_rows": "count",
    "engine.stages": "count",
    "engine.unique.shuffle_bytes": "bytes",
    "engine.unique.exchanges": "count",
    "engine.unique.candidate_ratio": "ratio",
    "engine.violations_s": "s",
    "engine.violation_rows": "count",
    "drift.psi_s": "s",
    "drift.pandas_groups": "count",
    "drift.python_udf_s": "s",
    "drift.python_start_s": "s",
    "ledger.run_s": "s",
    "ledger.sink_s": "s",
    "ledger.bytes_written": "bytes",
    "ledger.files_written": "count",
    "ledger.done_partitions_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.broadcast_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.failed_tasks": "count",
    "cache.persisted_rdds_after_run": "count",
    "cache.bytes_after_run": "bytes",
    "host.control_s": "s",
    "trace.run_s_p50": "s",
    "trace.untraced_run_s_p50": "s",
    "trace.overhead_frac": "ratio",
    "trace.span_coverage": "ratio",
    "trace.spark_busy_frac": "ratio",
}
# Layers whose spans make up one validation (the run's wall time); the other
# spans (sources.scan, drift.psi, ledger.done_partitions) are standalone.
RUN_LAYERS = ("sources.read", "engine.compile", "engine.verdicts", "engine.violations", "ledger.run")

_CONFIRMED_DUP = re.compile(r"(?<![\w])n#\d+L > 1")
_CANDIDATE_DUP = re.compile(r"__n#\d+L > 1")


def parse_args(argv) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, required=True, help="local[N] parallelism")
    return p.parse_args(argv)


def vm_mb(pid: int | str, field: str) -> float:
    """A memory figure of a process (``VmHWM``: peak RSS, ``VmRSS``: RSS), in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(d))
            except (OSError, IndexError, ValueError):
                continue
    return out


class Bench:
    def __init__(self, args: argparse.Namespace, work: str) -> None:
        self.args = args
        self.work = work
        spec = WORKLOADS[args.workload]
        self.rows, self.files = spec["rows"], spec["files"]
        self.ledger = spec["sink"] == "ledger"
        self.spark = None
        self.input_root = None  # the latest set-up's input directory
        self.tables: dict = {}  # generated snapshots whose oracle is still due
        self.expected: dict = {}
        self.iter_wall: dict = {}
        self.attempted = 0
        self.failed = 0
        self.context: dict = {"workload": args.workload, "seed": args.seed, "cores": args.cores}

    # ------------------------------------------------------------ session
    def start(self) -> None:
        from data_validator_guard_spark.session import get_session

        local = os.path.join(self.work, "spark-local")
        t0 = time.perf_counter()
        self.spark = get_session(
            "dvg-bench",
            master=f"local[{self.args.cores}]",
            extra_confs={
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.sql.shuffle.partitions": str(SHUFFLE_PARTITIONS),
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            },
        )
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def close(self) -> None:
        """Stop the session, then the driver JVM and its Python workers,
        and wait for each to end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        workers = children(self.jvm_pid)
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        deadline = time.time() + 30
        while workers and time.time() < deadline:
            workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
            time.sleep(0.05)

    # ------------------------------------------------------------ inputs
    def build_inputs(self, k: int) -> float:
        """Generate the first input snapshot and the drift baseline from the
        seed, write the snapshot as parquet and build the suite; returns the
        seconds it took."""
        from data_validator_guard_spark.suites import source_code_suite
        from inputs import baseline_frame, drift_rule, generate, histogram

        spark, seed = self.spark, self.args.seed
        old = self.input_root
        t0 = time.perf_counter()
        self.input_root = os.path.join(self.work, f"input{k}")
        self.add_snapshot(0)
        empty = spark.createDataFrame([], "grp string, bucket int, n bigint")
        params = drift_rule(source_code_suite(spark, baseline_hist=empty)).params
        self.baseline = histogram(generate(BASELINE_ROWS, seed + BASELINE_SEED_OFFSET, shift=None), params)
        self.suite = source_code_suite(spark, baseline_hist=baseline_frame(spark, self.baseline))
        seconds = time.perf_counter() - t0
        if old:
            shutil.rmtree(old, ignore_errors=True)
        return seconds

    def add_snapshot(self, i: int) -> None:
        """Generate snapshot ``i`` from seed·1000 + i and write it as parquet."""
        from inputs import generate

        table = generate(self.rows, self.args.seed * 1000 + i)
        table.write(self.snap_path(i), self.files)
        self.tables[i] = table

    def snap(self, it: int) -> int:
        """The input snapshot of iteration ``it``: a repeated single input,
        or one new snapshot per batch."""
        return it if self.ledger else 0

    def snap_path(self, i: int) -> str:
        return os.path.join(self.input_root, f"snap={i}")

    def input_path(self, it: int) -> str:
        return self.snap_path(self.snap(it))

    def expected_for(self, it: int):
        """The oracle's outputs for iteration ``it``'s snapshot. Computed at
        its first check: for the first snapshot that is after the cold run's
        Spark work, so the oracle's one Spark job does not take the session's
        first-job warm-up away from ``cold_run_s``."""
        from inputs import expected_outputs, partitions_of

        i = self.snap(it)
        if i not in self.expected:
            t0 = time.perf_counter()
            table = self.tables.pop(i)
            part_of = partitions_of(self.spark, self.suite, table.cols["repo"])
            self.expected[i] = expected_outputs(table, self.suite, part_of, self.baseline)
            self.context["oracle_s"] = round(self.context.get("oracle_s", 0.0) + time.perf_counter() - t0, 3)
        return self.expected[i]

    def prepare(self, it: int) -> None:
        """Make iteration ``it``'s input and its expected outputs, outside
        every timed span: a ledger batch gets a new snapshot."""
        if self.snap(it) not in self.expected:
            self.add_snapshot(self.snap(it))
            self.expected_for(it)

    def settle(self) -> None:
        """Collect garbage in both processes before a timed iteration: with
        one or two warm iterations a run, whether a JVM collection cycle
        falls inside an iteration must not depend on the previous one's heap."""
        gc.collect()
        self.spark._jvm.java.lang.System.gc()

    def python_rss_mb(self) -> float:
        """The Python process's RSS once the generated tables are released:
        the package's driver-side share, without the benchmark's generator."""
        self.tables.clear()
        gc.collect()
        try:
            ctypes.CDLL("libc.so.6").malloc_trim(0)  # hand freed heap back to the OS
        except (OSError, AttributeError):
            pass
        return vm_mb("self", "VmRSS")

    # ------------------------------------------------------------ one validation
    def iterate(self, it: int, spans) -> dict | None:
        """One validation of input ``it``, timed by ``spans`` and checked;
        returns its sample, or None when it failed (counted)."""
        self.attempted += 1
        t0 = time.time()
        try:
            sample, errors = (self._ledger_run if self.ledger else self._noop_run)(it, spans)
        except Exception:  # a failing run is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            sample, errors = None, ["raised"]
        if not self.ledger:
            # release every cached frame: the next iteration over the same
            # input must not be served from this one's persisted blocks
            self.spark.catalog.clearCache()
        self.iter_wall[it] = time.time() - t0
        if errors:
            self.failed += 1
            print(f"dvg-bench: iteration {it} failed: {errors}", file=sys.stderr)
            return None
        return sample

    def _noop_run(self, it: int, spans):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from data_validator_guard_spark.engine import validate
        from data_validator_guard_spark.sources import read_source

        rule_ids = [r.rule_id for r in self.suite.rules]
        with spans("sources.read", it):
            df = read_source(self.spark, self.input_path(it))
        with spans("engine.compile", it):
            verdicts, violations = validate(df, self.suite)
        with spans("engine.verdicts", it):
            rows = verdicts.collect()
        obs = Observation(f"dvg_bench_{it}")
        counted = violations.observe(
            obs,
            F.count(F.lit(1)).alias("__all"),
            *[F.sum((F.col("rule_id") == rid).cast("bigint")).alias(rid) for rid in rule_ids],
        )
        with spans("engine.violations", it):
            counted.write.format("noop").mode("overwrite").save()
        got = obs.get
        per_rule = {rid: int(got[rid] or 0) for rid in rule_ids}
        exp = self.expected_for(it)
        errors = exp.check_verdicts(rows) + exp.check_violation_rows(per_rule)
        if int(got["__all"]) != sum(per_rule.values()):
            errors.append(f"violations carry unknown rule ids ({got})")
        s = spans.of(it)
        start = s["sources.read"].t0
        return {
            "run_s": s["engine.violations"].t1 - start,
            "verdicts_s": s["engine.verdicts"].t1 - start,
            "rows": exp.n_rows,
            "violation_rows": int(got["__all"]),
        }, errors

    def snapshot_id(self, it: int) -> str:
        return f"{self.args.workload}-{self.args.seed}-{it}"

    def _ledger_run(self, it: int, spans):
        from data_validator_guard_spark.ledger import done_partitions, run_with_ledger
        from data_validator_guard_spark.sources import read_source

        out = os.path.join(self.work, "out")
        if spans.traced:
            with spans("ledger.done_partitions", it):
                done_partitions(self.spark, os.path.join(out, "ledger"), self.snapshot_id(it), RULE_VERSION)
        with spans("sources.read", it):
            df = read_source(self.spark, self.input_path(it))
        with spans("ledger.run", it):
            res = run_with_ledger(df, self.suite, out, self.snapshot_id(it), RULE_VERSION)
        s = spans.of(it)
        start, end = s["sources.read"].t0, s["ledger.run"].t1
        # the verdicts sink commits (renames its partition dirs) before the
        # violations sink starts: the directory's mtime is when verdicts landed
        verdicts_at = os.stat(os.path.join(out, "verdicts")).st_mtime
        exp = self.expected_for(it)
        errors, n_viol = self._check_ledger_outputs(out, exp, res, self.snapshot_id(it))
        if not start < verdicts_at <= end:
            errors.append("verdicts directory was not written inside the run")
        return {
            "run_s": end - start,
            "verdicts_s": verdicts_at - start,
            "rows": exp.n_rows,
            "violation_rows": n_viol,
        }, errors

    def _check_ledger_outputs(self, out: str, exp, res: dict, snapshot_id: str):
        from pyspark.sql import functions as F

        spark = self.spark
        n_parts = len({p for (_r, p) in exp.verdicts})
        verdicts = (
            spark.read.parquet(os.path.join(out, "verdicts"))
            .select("rule_id", "partition", "pass", "n_rows", "n_violations")
            .collect()
        )
        errors = exp.check_verdicts(verdicts)
        per_rule = {
            r["rule_id"]: r["count"]
            for r in spark.read.parquet(os.path.join(out, "violations")).groupBy("rule_id").count().collect()
        }
        errors += exp.check_violation_rows(per_rule)
        if res.get("partitions_validated") != n_parts:
            errors.append(f"run_with_ledger validated {res} partitions, expected {n_parts}")
        led = (
            spark.read.parquet(os.path.join(out, "ledger"))
            .filter(F.col("snapshot_id") == snapshot_id)
            .agg(F.count(F.lit(1)).alias("n"), F.sum("rows_scanned").alias("rows"), F.sum("rows_failed").alias("failed"))
            .collect()[0]
        )
        want_failed = sum(nv for (_ok, _n, nv) in exp.verdicts.values())
        if (led["n"], led["rows"], led["failed"]) != (n_parts, exp.n_rows, want_failed):
            errors.append(f"ledger rows {led} != ({n_parts}, {exp.n_rows}, {want_failed})")
        return errors, sum(per_rule.values())

    def check_resume(self) -> None:
        """Re-submitting a finished snapshot id must validate 0 partitions."""
        from data_validator_guard_spark.ledger import run_with_ledger
        from data_validator_guard_spark.sources import read_source

        self.attempted += 1
        n_parts = len({p for (_r, p) in self.expected_for(0).verdicts})
        try:
            res = run_with_ledger(
                read_source(self.spark, self.input_path(0)), self.suite, os.path.join(self.work, "out"),
                self.snapshot_id(0), RULE_VERSION,
            )
            ok = res == {"partitions_done_before": n_parts, "partitions_validated": 0}
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok, res = False, "raised"
        if not ok:
            self.failed += 1
            print(f"dvg-bench: resume of a finished snapshot returned {res}", file=sys.stderr)

    # ------------------------------------------------------------ standalone probes
    def scan_floor(self, it: int, spans) -> None:
        """sources layer: noop force of the input projected to the suite's columns."""
        from data_validator_guard_spark.sources import read_source

        df = read_source(self.spark, self.input_path(it))
        cols = set(self.suite.key_cols)
        for r in self.suite.rules:
            cols.update(r.columns)
            cols.update(c for c in (r.params.get("group_by"),) if isinstance(c, str))
        with spans("sources.scan", it):
            df.select(*sorted(c for c in cols if c in df.columns)).write.format("noop").mode("overwrite").save()

    def psi_alone(self, it: int, spans) -> None:
        """drift layer: drift_violations over a cached current histogram."""
        from pyspark.sql import functions as F

        from data_validator_guard_spark.operators.drift import drift_violations
        from data_validator_guard_spark.sources import read_source
        from inputs import bucket, partition_col

        rule = next(r for r in self.suite.rules if r.type == "drift")
        p = rule.params
        df = read_source(self.spark, self.input_path(it))
        part = partition_col(self.suite)
        cur = (
            df.groupBy(
                part.alias("partition"),
                F.col(p["group_by"]).alias("grp"),
                bucket(F.expr(p["value"]), p["edges"]).alias("bucket"),
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .persist()
        )
        cur.count()
        with spans("drift.psi", it):
            drift_violations(df, rule, part, cur=cur).write.format("noop").mode("overwrite").save()
        cur.unpersist(blocking=True)

    def host_control(self) -> float:
        """Pure-CPU spark.range sum at the same local[N]: flags a throttled window."""
        n, cores = CONTROL_ROWS, self.args.cores

        def job() -> float:
            t0 = time.perf_counter()
            self.spark.range(0, n, 1, cores * 2).selectExpr(
                "sum((id % 1000000) * 3 + (id % 7)) as s"
            ).collect()
            return time.perf_counter() - t0

        job()
        return statistics.median(job() for _ in range(3))

    def cache_state(self) -> tuple[int, int]:
        jsc = self.sc._jsc
        infos = jsc.sc().getRDDStorageInfo()
        return len(jsc.getPersistentRDDs()), int(sum(i.memSize() + i.diskSize() for i in infos))

    # ------------------------------------------------------------ runs
    def run(self) -> dict:
        from tracing import Spans

        self.start()
        repeats = 1 if self.args.trace else SETUP_REPEATS
        setups = [self.build_inputs(k) for k in range(repeats)]
        setup_s = self.session_s + statistics.median(setups)
        self.context["setup_repeats"] = repeats

        plain = Spans(self.sc, self.args.workload, traced=False)
        traced = Spans(self.sc, self.args.workload, traced=True) if self.args.trace else None
        cold = self.iterate(0, plain)
        python_mb = self.python_rss_mb()
        samples, traced_samples = [], {}
        t_end = time.perf_counter() + self.args.seconds
        it = 1
        while time.perf_counter() < t_end or it <= MIN_ITERATIONS:
            self.prepare(it)
            self.settle()
            tracing = traced is not None and it % 2 == 0
            sample = self.iterate(it, traced if tracing else plain)
            if tracing:
                self.scan_floor(it, traced)
                self.psi_alone(it, traced)
                if sample:
                    traced_samples[it] = sample
            elif sample:
                samples.append(sample)
            it += 1
        if self.ledger and traced:
            self.check_resume()
        control_s = self.host_control()
        n_cached, cached_bytes = self.cache_state()
        rss_mb = vm_mb(self.jvm_pid, "VmHWM") + python_mb
        self.context.update(
            snapshots=len(self.expected),
            input_bytes_per_snapshot=sum(
                os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(self.snap_path(0)) for f in fs
            ),
            python_rss_mb=round(python_mb, 1),
            cold_run_s=round(cold["run_s"], 3) if cold else None,
            samples=len(samples),
            run_s_samples=[round(x["run_s"], 3) for x in samples],
            traced_samples=len(traced_samples),
            failed_frac=self.failed / max(1, self.attempted),
            host_control_s=round(control_s, 4),
            session_s=round(self.session_s, 3),
            setup_each_s=[round(s, 3) for s in setups],
        )
        if not traced:
            run_s = [s["run_s"] for s in samples] or [0.0]
            busy = sum(s["run_s"] for s in samples) or float("inf")
            metrics = {
                "setup_s": setup_s,
                "run_s_p50": statistics.median(run_s),
                "rows_per_s": sum(s["rows"] for s in samples) / busy,
                "verdicts_s_p50": statistics.median([s["verdicts_s"] for s in samples] or [0.0]),
                "violations_per_s": sum(s["violation_rows"] for s in samples) / busy,
                "peak_rss_mb": rss_mb,
            }
            units = END_TO_END
        else:
            metrics = self.layer_metrics(traced, traced_samples, samples)
            metrics.update(
                {
                    "cold_run_s": cold["run_s"] if cold else 0.0,
                    "cache.persisted_rdds_after_run": n_cached,
                    "cache.bytes_after_run": cached_bytes,
                    "host.control_s": control_s,
                }
            )
            units = PER_LAYER
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }

    def layer_metrics(self, spans, traced_samples: dict, untraced: list) -> dict:
        """Per-layer numbers of each traced iteration, as medians."""
        from tracing import read_store

        store = read_store(self.spark)
        per_it = []
        for it, sample in traced_samples.items():
            s = spans.of(it)
            run = store.select(it, RUN_LAYERS)
            wall = max(s[k].t1 for k in s if k in RUN_LAYERS) - min(s[k].t0 for k in s if k in RUN_LAYERS)
            busy = sum(e.seconds for e in run.executions)
            m = {
                "sources.scan_s": s["sources.scan"].seconds,
                "sources.input_bytes": sum(x["inputBytes"] for x in store.select(it, ("sources.scan",)).stages),
                "drift.psi_s": s["drift.psi"].seconds,
                "engine.totals.fine_rows": max(
                    [n.value("number of output rows") for n in run.nodes("InMemoryTableScan", lambda d: "__n#" in d)] or [0]
                ),
                "engine.stages": sum(1 for x in run.stages if x["status"] == "COMPLETE"),
                "engine.unique.exchanges": len(run.nodes("Exchange", _unique_key)),
                "engine.unique.shuffle_bytes": run.total("shuffle bytes written", "Exchange", _unique_key),
                "drift.pandas_groups": run.total("number of output rows", "FlatMapGroupsInPandas"),
                "drift.python_udf_s": run.total("time to run Python workers", "FlatMapGroupsInPandas"),
                "drift.python_start_s": run.total("time to start Python workers", "FlatMapGroupsInPandas")
                + run.total("time to initialize Python workers", "FlatMapGroupsInPandas"),
                "spark.executor_cpu_s": sum(x["executorCpuTime"] for x in run.stages) / 1e9,
                "spark.shuffle_write_bytes": sum(x["shuffleWriteBytes"] for x in run.stages),
                "spark.spill_bytes": sum(x["memoryBytesSpilled"] + x["diskBytesSpilled"] for x in run.stages),
                "spark.broadcast_bytes": run.total("data size", "BroadcastExchange"),
                "spark.gc_s": sum(x["jvmGcTime"] for x in run.stages) / 1e3,
                "spark.failed_tasks": sum(x["numFailedTasks"] for x in run.stages),
                "trace.spark_busy_frac": busy / wall,
            }
            confirmed = run.total("number of output rows", "Filter", _CONFIRMED_DUP.search)
            candidates = run.total("number of output rows", "Filter", _CANDIDATE_DUP.search)
            m["engine.unique.candidate_ratio"] = confirmed / candidates if candidates else 0.0
            m.update(self._ledger_layers(s, run, it) if self.ledger else self._noop_layers(s, store, it, sample))
            per_it.append(m)
        out = {k: statistics.median(m[k] for m in per_it) for k in per_it[0]} if per_it else {}
        traced_p50 = statistics.median([x["run_s"] for x in traced_samples.values()] or [0.0])
        plain_p50 = statistics.median([x["run_s"] for x in untraced] or [0.0])
        out.update(
            {
                "trace.run_s_p50": traced_p50,
                "trace.untraced_run_s_p50": plain_p50,
                "trace.overhead_frac": traced_p50 / plain_p50 - 1.0 if plain_p50 else 0.0,
            }
        )
        return out

    def _noop_layers(self, s: dict, store, it: int, sample: dict) -> dict:
        """The validation's spans; they must cover the whole iteration
        (read, compile, verdicts, violations, the check and the release)."""
        return {
            "trace.span_coverage": sum(s[k].seconds for k in RUN_LAYERS if k in s) / self.iter_wall[it],
            "engine.compile_s": s["engine.compile"].seconds,
            "engine.compile_jobs": len(store.select(it, ("engine.compile",)).jobs),
            "engine.verdicts_s": s["engine.verdicts"].seconds,
            "engine.violations_s": s["engine.violations"].seconds,
            "engine.violation_rows": sample["violation_rows"],
            "ledger.run_s": 0.0,
            "ledger.sink_s": 0.0,
            "ledger.bytes_written": 0,
            "ledger.files_written": 0,
            "ledger.done_partitions_s": 0.0,
        }

    def _ledger_layers(self, s: dict, run, it: int) -> dict:
        """Split the run_with_ledger span by its SQL executions: the sinks are
        the InsertIntoHadoopFsRelation writes, compile is the driver time from
        the call to the first sink less the ledger read. The breakdown covers
        compile, the ledger read and every execution from the first sink on;
        what it misses is driver time between those executions."""
        execs = sorted((e for e in run.executions if e.layer == "ledger.run"), key=lambda e: e.t0)
        writes = {}
        for e in execs:
            for n in e.nodes:
                if n.name == "Execute InsertIntoHadoopFsRelationCommand":
                    writes[n.desc.split(",")[0].rstrip("/").rsplit("/", 1)[-1]] = (e, n)
        first = min(e.t0 for e, _n in writes.values())
        before = [e for e in execs if e.t1 <= first]
        ledger_path = os.path.join(self.work, "out", "ledger")
        ledger_reads = [e for e in before if ledger_path in e.plan]
        v_exec, _ = writes["verdicts"]
        x_exec, x_node = writes["violations"]
        read_s = sum(e.seconds for e in ledger_reads)
        compile_s = first - s["ledger.run"].t0 - read_s
        after_first = sum(e.seconds for e in execs if e.t0 >= first)
        return {
            "trace.span_coverage": (compile_s + read_s + after_first) / s["ledger.run"].seconds,
            "engine.compile_s": compile_s,
            "engine.compile_jobs": sum(len(e.jobs) for e in before if e not in ledger_reads),
            "engine.verdicts_s": v_exec.seconds,
            "engine.violations_s": x_exec.seconds,
            "engine.violation_rows": x_node.value("number of output rows"),
            "ledger.run_s": s["ledger.run"].seconds,
            "ledger.sink_s": sum(e.seconds for e, _n in writes.values()),
            "ledger.bytes_written": sum(n.value("written output") for _e, n in writes.values()),
            "ledger.files_written": sum(n.value("number of written files") for _e, n in writes.values()),
            "ledger.done_partitions_s": s["ledger.done_partitions"].seconds,
        }


def _unique_key(desc: str) -> bool:
    """An exchange of the uniqueness check: it shuffles the key hash or keys."""
    return "__h#" in desc or "__k0#" in desc


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"dvg-bench: no {PACKAGE}/ package next to {HERE}; run from a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".dvgbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # keep every file Spark, the JVM and Python write inside the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tempfile.tempdir}"
    sys.path.insert(0, ROOT)
    bench = Bench(args, work)
    try:
        result = bench.run()
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(bench.context))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
