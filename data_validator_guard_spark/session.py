"""SparkSession factory with scale-appropriate defaults, and the package's one
owner of cached frames.

The reference runs eager single-threaded pandas (no session concept). Here the
session is configured for the plans this engine emits: AQE on (runtime shuffle
coalescing + skew-join splitting), Arrow on (the drift histograms reach the
driver as Arrow batches), and a shuffle-partition count suited to the local[]
harness while remaining a plain config knob for a real cluster.

Generated-code cache: Spark 4.1.2 keeps at most 100 compiled classes, which
is too few for this engine's plans: a warm batch recompiled 22-31 of the ~99
classes its cold batch compiled. The cache is keyed on (context class
loader, code), and each whole-stage class is compiled once on the driver
thread at planning and again on a task thread, so it takes two entries. The
Guava cache behind it (``NonFateSharingCache``) sets only ``maximumSize``,
so Guava's default concurrency level of 4 splits it into four segments that
each evict at about 25 entries, well before 100, and identity hash codes
decide which classes thrash. ``DEFAULT_CONFS`` sizes it so a warm run of
the same plans compiles nothing.

Constant frames: :func:`local_frame` builds a small driver-side frame as a
local relation, so reading it starts no Python worker.

Caching: this is the only module that persists or releases a frame. Every
frame the package reuses across subplans (``engine.validate``'s fine
histogram and fragment union, the ledger's verdicts, the near-dup and stats
operators' intermediates, ``jobs/curate.py``'s labeled docs) is
cached with :func:`track_persist` at ``MEMORY_AND_DISK``. DataFrames are
lazy, so the code that caches a frame cannot know when its caller is done
with it: after the terminal action (the last sink), the caller calls
:func:`unpersist_intermediates`. ``ledger.run_with_ledger`` and
``jobs/curate.py`` do this in a ``finally``; anything else that drives
``validate`` or the operators in a loop must too, because
``MEMORY_AND_DISK`` blocks evicted from memory land on executor disk and are
not LRU-evicted — they accumulate until the session ends.
"""

from __future__ import annotations

import os
import threading
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

if TYPE_CHECKING:
    import pandas as pd

DEFAULT_CONFS: dict[str, str] = {
    # AQE: coalesce small shuffle partitions, split skewed ones at runtime.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for toPandas: the drift histograms reach the driver as Arrow
    # batches (SURVEY.md §2.10).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Broadcast dims/rulebooks aggressively; every join in this engine is
    # intentionally broadcastable (SURVEY.md §2.3: "every join ... is a
    # broadcast join except the uniqueness self-check").
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Static: read once, when the session builds. The default 100 entries
    # thrash on this engine's plans: each whole-stage class takes two
    # entries (the key holds the compiling thread's class loader, and a
    # class compiles on the driver at planning and again on a task thread),
    # and the cache's four Guava segments each evict at ~25 entries.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # ANSI on (the Spark 4 default, pinned explicitly): a VALIDATION engine
    # must fail loudly on overflow / invalid casts in its own arithmetic,
    # never silently null them into wrong verdicts. Every oracle-facing cast
    # in this repo is null-safe by construction under ANSI (string-widening
    # casts, guarded numeric casts, bounded decimal arithmetic).
    "spark.sql.ansi.enabled": "true",
    # Local harness default; a real cluster sets this per input size.
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.session.timeZone": "UTC",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
}


def get_session(
    app_name: str = "data-validator-guard-spark",
    master: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback ``local[*]``)
    in the sandbox; on a real cluster it comes from spark-submit and is left
    unset here.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.appName(app_name).master(master)
    confs = dict(DEFAULT_CONFS)
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, schema: str, data: pd.DataFrame | None = None) -> DataFrame:
    """The rows of ``data`` (none when omitted) as a local relation with the
    DDL ``schema``, every field nullable: a plan reads it as a
    ``LocalTableScan`` on the driver. ``createDataFrame`` of a list or of an
    empty pandas frame is a Python RDD instead, and every action that scans
    it starts Python workers."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    struct = DataType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    table = (
        arrow.empty_table()
        if data is None
        else pa.Table.from_pandas(data, schema=arrow, preserve_index=False)
    )
    return spark.createDataFrame(table, struct)


# Frames cached by track_persist since the last unpersist_intermediates().
# Process-global, shared across threads and sessions — guarded by a lock.
_PERSISTED: list[DataFrame] = []
_PERSISTED_LOCK = threading.Lock()


def track_persist(df: DataFrame) -> DataFrame:
    """Cache ``df`` at ``MEMORY_AND_DISK`` and register it, so the next
    :func:`unpersist_intermediates` call releases it."""
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    with _PERSISTED_LOCK:
        _PERSISTED.append(out)
    return out


def unpersist_intermediates() -> int:
    """Unpersist every frame :func:`track_persist` cached since the last
    call; returns how many were released. Safe to call anytime — results
    already computed are unaffected, and a frame another caller still uses
    only costs that caller a recompute if it is re-executed afterwards,
    never a wrong result. Thread-safe: concurrent callers each release a
    disjoint subset."""
    n = 0
    while True:
        with _PERSISTED_LOCK:
            if not _PERSISTED:
                break
            df = _PERSISTED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n
