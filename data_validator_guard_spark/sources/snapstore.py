"""Filesystem snapshot-table test double for Iceberg semantics.

The engine's production contract is an Iceberg catalog: ``read_source``
pins reads to a snapshot id, M4 UPDATE fan-out uses ``MERGE INTO``, and the
ledger records the input snapshot id so resume re-reads exactly what the
first attempt saw. The sandbox ships no iceberg-spark-runtime jar (and no
network to vendor one), so those code paths ran untested in rounds 1-2 —
this module is a minimal single-writer snapshot store over parquet that
reproduces the semantics the engine depends on, letting the snapshot-pinned
resume and merge paths be exercised end to end:

- **snapshots are immutable**: every commit writes a fresh data directory
  ``data/snap-<id>/``; an *append* snapshot references its parent's
  directories plus the new one, an *overwrite/merge* snapshot references
  only the new one. Old snapshot reads are stable forever (no compaction).
- **commit protocol**: data first, then the metadata json is atomically
  replaced (``os.replace``) — a reader never observes a half-commit, and a
  writer dying before the metadata swap leaves the table at its previous
  snapshot (exactly Iceberg's commit-into-metadata model, minus the
  catalog's compare-and-swap, hence single-writer).
- **merge_into** is copy-on-write: the merged table state becomes one new
  snapshot, matching Iceberg's COW ``MERGE INTO`` default.

On a real cluster, swap these calls for ``spark.read.option("snapshot-id",
...).table(...)`` and ``MERGE INTO`` — ``read_source`` in
``sources/__init__.py`` already routes table identifiers there; it routes
snapstore paths (a dir containing ``dvg_snapstore.json``) here.

Reference parity: the reference clones its SQLite DB before destructive
cleaning (`/root/reference/database/db.py:113-126`); a snapshot commit is
the distributed form — the pre-merge snapshot id IS the clone.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

METADATA_FILE = "dvg_snapstore.json"


def is_snapstore(path: str) -> bool:
    return os.path.isfile(os.path.join(path, METADATA_FILE))


def _read_meta(path: str) -> dict:
    with open(os.path.join(path, METADATA_FILE)) as f:
        return json.load(f)


def _write_meta(path: str, meta: dict) -> None:
    tmp = os.path.join(path, METADATA_FILE + ".tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=1)
    os.replace(tmp, os.path.join(path, METADATA_FILE))


def _commit(path: str, df: DataFrame, operation: str, inherit_parent_files: bool) -> int:
    """Write df as a new data dir and commit a new snapshot referencing it
    (plus the parent's dirs for appends). Returns the new snapshot id."""
    if os.path.isfile(os.path.join(path, METADATA_FILE)):
        meta = _read_meta(path)
    else:
        os.makedirs(path, exist_ok=True)
        meta = {"format": "dvg-snapstore/1", "current_snapshot_id": None, "snapshots": []}
    parent = meta["current_snapshot_id"]
    snap_id = (parent or 0) + 1
    rel_dir = f"data/snap-{snap_id}"
    df.write.mode("overwrite").parquet(os.path.join(path, rel_dir))
    files = [rel_dir]
    if inherit_parent_files and parent is not None:
        parent_snap = next(s for s in meta["snapshots"] if s["id"] == parent)
        files = parent_snap["files"] + files
    meta["snapshots"].append(
        {
            "id": snap_id,
            "parent": parent,
            "operation": operation,
            "files": files,
            "ts": time.time(),
        }
    )
    meta["current_snapshot_id"] = snap_id
    _write_meta(path, meta)
    return snap_id


def create_table(path: str, df: DataFrame) -> int:
    """Create the table with df as snapshot 1."""
    if is_snapstore(path):
        raise ValueError(f"snapstore table already exists at {path}")
    return _commit(path, df, "append", inherit_parent_files=False)


def append(path: str, df: DataFrame) -> int:
    """Append rows → new snapshot (parent data remains referenced)."""
    return _commit(path, df, "append", inherit_parent_files=True)


def overwrite(path: str, df: DataFrame) -> int:
    """Replace table contents → new snapshot (old snapshots stay readable)."""
    return _commit(path, df, "overwrite", inherit_parent_files=False)


def current_snapshot_id(path: str) -> int:
    return _read_meta(path)["current_snapshot_id"]


def read_snapshot(
    spark: SparkSession, path: str, snapshot_id: int | None = None
) -> DataFrame:
    """Read the table pinned to ``snapshot_id`` (default: current). The
    file list comes from the snapshot's immutable manifest, so concurrent
    later commits never change what this read returns — the property the
    ledger's resume depends on."""
    meta = _read_meta(path)
    sid = meta["current_snapshot_id"] if snapshot_id is None else int(snapshot_id)
    for s in meta["snapshots"]:
        if s["id"] == sid:
            dirs = [os.path.join(path, d) for d in s["files"]]
            return spark.read.parquet(*dirs)
    raise ValueError(f"snapshot {snapshot_id} not found in {path}")


DEFAULT_MAX_BROADCAST_ROWS = 1_000_000


def _choose_broadcast(
    source: DataFrame, broadcast: bool | None, max_broadcast_rows: int
) -> bool:
    """Size-aware join side selection for MERGE. ``broadcast=None`` (auto)
    probes the source with a bounded count (stops scanning at the guard+1,
    like the engine's inline-FK ``max_inline_values`` fail-fast,
    engine.py:474-482): rulebook-sized sources broadcast, a large correction
    set (the M4 fan-out at 100x can be millions of keys) takes the shuffle
    join instead of OOMing the executors — which is what real Iceberg MERGE
    does when the source is big."""
    if broadcast is not None:
        return bool(broadcast)
    probe = source.select(F.lit(1).alias("one")).limit(max_broadcast_rows + 1).count()
    return probe <= max_broadcast_rows


def merge_into(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    on: list[str],
    update_cols: list[str] | None = None,
    insert_unmatched: bool = True,
    delete_matched: bool = False,
    broadcast: bool | None = None,
    max_broadcast_rows: int = DEFAULT_MAX_BROADCAST_ROWS,
) -> int:
    """Copy-on-write MERGE (the M4 UPDATE fan-out path; Iceberg:
    ``MERGE INTO t USING s ON ... WHEN MATCHED THEN UPDATE/DELETE WHEN NOT
    MATCHED THEN INSERT``). ``source`` must be unique on ``on`` (checked —
    duplicate source keys make MERGE semantics ambiguous and Iceberg itself
    rejects them at runtime).

    - matched target rows: deleted (``delete_matched``) or their
      ``update_cols`` replaced by the source values (default: every shared
      non-key column);
    - unmatched source rows: inserted with NULLs for target-only columns
      (``insert_unmatched``).

    The merged state commits as ONE new snapshot; the pre-merge snapshot id
    is the rollback/lineage handle.

    Join strategy: ``broadcast=None`` (default) auto-selects — sources up to
    ``max_broadcast_rows`` are broadcast, bigger ones shuffle on the merge
    keys (see ``_choose_broadcast``). Pass True/False to force either side.
    """
    merged = merged_frame(
        spark,
        path,
        source,
        on,
        update_cols=update_cols,
        insert_unmatched=insert_unmatched,
        delete_matched=delete_matched,
        broadcast=broadcast,
        max_broadcast_rows=max_broadcast_rows,
    )
    return _commit(path, merged, "merge", inherit_parent_files=False)


def merged_frame(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    on: list[str],
    update_cols: list[str] | None = None,
    insert_unmatched: bool = True,
    delete_matched: bool = False,
    broadcast: bool | None = None,
    max_broadcast_rows: int = DEFAULT_MAX_BROADCAST_ROWS,
) -> DataFrame:
    """The (lazy) post-MERGE table state ``merge_into`` commits — exposed so
    tests and dry-runs can inspect the plan (e.g. that a large source really
    takes the shuffle join) without committing a snapshot."""
    target = read_snapshot(spark, path)
    dup = source.groupBy(*on).count().filter(F.col("count") > 1).limit(1).collect()
    if dup:
        raise ValueError(
            f"merge_into: source is not unique on {on} (e.g. {dup[0].asDict()})"
        )
    if update_cols is None:
        update_cols = [
            c for c in source.columns if c in target.columns and c not in on
        ]
    src = source.select(
        *[F.col(c) for c in on],
        *[F.col(c).alias(f"__src_{c}") for c in source.columns if c not in on],
        F.lit(True).alias("__src_match"),
    )
    right = F.broadcast(src) if _choose_broadcast(source, broadcast, max_broadcast_rows) else src
    joined = target.join(right, on, "left")
    if delete_matched:
        merged_existing = joined.filter(F.col("__src_match").isNull()).select(
            *target.columns
        )
    else:
        merged_existing = joined.select(
            *[
                (
                    F.when(
                        F.col("__src_match").isNotNull(), F.col(f"__src_{c}")
                    ).otherwise(F.col(c)).alias(c)
                    if c in update_cols
                    else F.col(c)
                )
                for c in target.columns
            ]
        )
    if insert_unmatched:
        anti = source.join(target.select(*on), on, "left_anti")
        inserts = anti.select(
            *[
                (F.col(c) if c in anti.columns else F.lit(None)).alias(c)
                for c in target.columns
            ]
        )
        merged = merged_existing.unionByName(inserts)
    else:
        merged = merged_existing
    return merged
