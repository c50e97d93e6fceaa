"""Sources/sinks (SURVEY.md §2.1).

The reference ingests CSV/XLSX directory trees into SQLite
(`/root/reference/database/db.py:78-110`) with delimiter sniffing and encoding
detection. The engine's contract is schema-first columnar input: parquet (the
sandbox stand-in for Iceberg), plus CSV with an explicit schema for parity.
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table (S5 analog). Parquet → predicate pushdown,
    column pruning and partition pruning come free from the reader."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# BOM signatures in sniff order (longest first — UTF-32 LE's BOM starts with
# UTF-16 LE's two bytes).
_BOMS = (
    (b"\x00\x00\xfe\xff", "UTF-32BE"),
    (b"\xff\xfe\x00\x00", "UTF-32LE"),
    (b"\xef\xbb\xbf", "UTF-8"),
    (b"\xfe\xff", "UTF-16BE"),
    (b"\xff\xfe", "UTF-16LE"),
)


def detect_encoding(spark: SparkSession, path: str, sample_files: int = 4) -> str:
    """Encoding detection for text sources (S3; the reference sniffs with
    chardet per file, `database/db.py:82-90`).

    Distributed-safe shape: sample the first ``sample_files`` files via the
    ``binaryFile`` reader (driver sees only K × leading bytes, never file
    bodies at scale), sniff BOMs, else try strict UTF-8 and fall back to
    ISO-8859-1 (which decodes any byte sequence). Heuristic by nature —
    callers with a known contract should pass the encoding explicitly.
    """
    from pyspark.sql import functions as F

    # Slice to the leading 4 KiB ON THE EXECUTORS (substring works on binary)
    # so the driver receives only sample_files × 4 KiB — never whole file
    # bodies (a multi-GB member file would otherwise OOM the driver).
    rows = (
        spark.read.format("binaryFile")
        .load(path)
        .select(F.substring(F.col("content"), 1, 4096).alias("head"))
        .limit(sample_files)
        .collect()
    )
    votes: list[str] = []
    for (data,) in rows:
        head = bytes(data)
        enc = None
        for bom, name in _BOMS:
            if head.startswith(bom):
                enc = name
                break
        if enc is None:
            try:
                head.decode("utf-8")
                enc = "UTF-8"
            except UnicodeDecodeError:
                enc = "ISO-8859-1"
        votes.append(enc)
    if not votes:
        return "UTF-8"
    # majority vote, ties broken by first-seen (deterministic: binaryFile
    # lists files in path order)
    return max(votes, key=lambda e: (votes.count(e), -votes.index(e)))


def read_csv(
    spark: SparkSession,
    path: str,
    schema: str,
    sep: str = ";",
    encoding: str | None = None,
) -> DataFrame:
    """CSV scan with explicit schema (S1 analog) — no schema sniffing: the
    engine's input contract declares schema + separator up front.
    ``encoding=None`` keeps the reader default (UTF-8); pass
    ``detect_encoding(...)``'s result to mirror the reference's sniffing
    ingest (S3) when the contract is unknown."""
    reader = spark.read.option("header", True).option("sep", sep).schema(schema)
    if encoding is not None:
        reader = reader.option("encoding", encoding)
    return reader.csv(path)


def read_source(
    spark: SparkSession, source: str, snapshot_id: str | int | None = None
) -> DataFrame:
    """Read the north-rule input table ``(repo, path, commit, lang, content)``.

    ``source`` is one of:

    - an Iceberg table identifier (``catalog.db.table`` — requires the
      Iceberg runtime on the cluster classpath);
    - a snapstore table directory (``sources.snapstore`` — the sandbox's
      filesystem double for Iceberg snapshot semantics);
    - a plain parquet path (no snapshot support; ``snapshot_id`` rejected).

    ``snapshot_id`` pins the read to a snapshot (the lineage id the ledger
    records), so resume always re-reads the exact snapshot the first attempt
    saw — the distributed version of the reference's clone-before-clean
    (`database/db.py:113-126`).
    """
    from data_validator_guard_spark.sources import snapstore

    if os.path.isdir(source) and snapstore.is_snapstore(source):
        return snapstore.read_snapshot(spark, source, snapshot_id)
    if os.path.exists(source) or source.endswith(".parquet"):
        if snapshot_id is not None:
            raise ValueError(
                "snapshot_id requires an Iceberg table or a snapstore dir; "
                f"{source!r} is plain parquet (a pinned read over mutable "
                "files would silently NOT be pinned)"
            )
        return spark.read.parquet(source)
    # CONTRACT NOTE — untested in this sandbox: the branch below is the
    # production Iceberg path (``option("snapshot-id", ...).table(id)``,
    # per the Iceberg Spark docs' time-travel read options). The sandbox
    # ships no iceberg-spark-runtime jar and has no network to vendor one,
    # so this exact line has never executed here; its SEMANTICS (pinned
    # snapshot read, immutable manifests, COW merge, pinned resume) are
    # exercised end-to-end against the snapstore double above, which was
    # built to match them. First deployment against a real catalog should
    # smoke-test a snapshot-pinned read before trusting resume.
    reader = spark.read
    if snapshot_id is not None:
        reader = reader.option("snapshot-id", str(snapshot_id))
    return reader.table(source)


def _parse_xlsx_bytes(content: bytes, columns: list[str], sheet: str) -> "list[dict]":
    """Parse one xlsx payload (zip of XML — stdlib only) into row dicts of
    strings keyed by ``columns``. Supports the cell types the reference's
    intake actually meets (`/root/reference/database/db.py:78-110` via
    pandas.read_excel): shared strings, inline strings, numeric/boolean
    values. First row = header; rows map header→column by name."""
    import io
    import re
    import zipfile
    import xml.etree.ElementTree as ET

    NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    z = zipfile.ZipFile(io.BytesIO(content))
    shared: list[str] = []
    if "xl/sharedStrings.xml" in z.namelist():
        root = ET.fromstring(z.read("xl/sharedStrings.xml"))
        shared = [
            "".join(t.text or "" for t in si.iter(f"{NS}t"))
            for si in root.iter(f"{NS}si")
        ]
    sheet_root = ET.fromstring(z.read(f"xl/worksheets/{sheet}.xml"))

    def col_index(ref: str | None) -> int | None:
        if not ref:
            return None
        letters = re.match(r"[A-Z]+", ref)
        if not letters:
            return None
        idx = 0
        for ch in letters.group(0):
            idx = idx * 26 + (ord(ch) - ord("A") + 1)
        return idx - 1

    raw_rows: list[dict[int, str | None]] = []
    for row in sheet_root.iter(f"{NS}row"):
        cells: dict[int, str | None] = {}
        auto_idx = 0
        for c in row.iter(f"{NS}c"):
            idx = col_index(c.get("r"))
            if idx is None:
                idx = auto_idx
            auto_idx = idx + 1
            t = c.get("t")
            if t == "s":
                v = c.find(f"{NS}v")
                val = shared[int(v.text)] if v is not None else None
            elif t == "inlineStr":
                is_el = c.find(f"{NS}is")
                val = (
                    "".join(tt.text or "" for tt in is_el.iter(f"{NS}t"))
                    if is_el is not None
                    else None
                )
            else:
                v = c.find(f"{NS}v")
                val = v.text if v is not None else None
            cells[idx] = val
        raw_rows.append(cells)
    if not raw_rows:
        return []
    header = raw_rows[0]
    pos_by_name = {name: pos for pos, name in header.items() if name is not None}
    out = []
    for cells in raw_rows[1:]:
        out.append({col: cells.get(pos_by_name.get(col, -1)) for col in columns})
    return out


def read_excel(
    spark: SparkSession, path: str, columns: list[str], sheet: str = "sheet1"
) -> DataFrame:
    """Distributed minimal XLSX scan (S2 — the reference ingests .xlsx trees
    via pandas.read_excel, `database/db.py:78-110`; round 1 documented this
    out of scope for lack of a distributed Excel reader, so here is one).

    Shape: ``binaryFile`` scan (one row per file, bytes never touch the
    driver) → Arrow-batched ``mapInPandas`` parsing each workbook with
    stdlib ``zipfile`` + ``ElementTree`` — xlsx IS a zip of XML, no external
    engine needed. One task per file; a directory of workbooks parses in
    parallel. All values emitted as strings (header row maps cells to
    ``columns`` by name); cast downstream per the declared contract —
    exactly the reference's pandas dtype=str intake.

    Deliberately minimal: shared/inline strings, numbers, booleans; no
    formula evaluation, no date-style conversion (the serial number string
    comes through as stored).
    """
    import pandas as pd

    files = spark.read.format("binaryFile").load(path)

    def parse(batches):
        for pdf in batches:
            rows: list[dict] = []
            for content in pdf["content"]:
                rows.extend(_parse_xlsx_bytes(bytes(content), columns, sheet))
            yield pd.DataFrame(rows, columns=columns, dtype=object)

    out_schema = ", ".join(f"`{c}` string" for c in columns)
    return files.select("content").mapInPandas(parse, out_schema)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a DataFrame as a Spark-bucketed parquet table (S8's scale
    sibling): rows are hash-distributed into ``n_buckets`` files per
    partition by ``bucket_cols``, and the bucketing spec is recorded in the
    catalog, so every later equi-join or aggregation on the bucket key reads
    the co-located layout and skips its shuffle entirely (the physical plan
    has NO Exchange on the bucketed side — plan-asserted in
    tests/test_plans.py). ``sort_cols`` additionally sorts within each
    bucket file, which lets a sort-merge join skip its per-task sort.

    This is the materialize-once-join-many primitive at 100 TB: the
    validation engine's outputs (violations keyed by (rule_id, partition),
    dedup cluster assignments keyed by doc id, IVF cell assignments keyed by
    centroid) are re-joined constantly downstream; paying ONE write-side
    shuffle here removes the join-side exchange from every consumer.
    Choose ``n_buckets`` like shuffle partitions: corpus_bytes /
    target_partition_bytes (e.g. 100 TB / 256 MB ~ 400k buckets is too many
    files per write-task — bucket the TABLE, partition the directory: in
    production pair this with ``partitionBy`` on a coarse column so each
    directory partition holds ``n_buckets`` files).

    Requires ``saveAsTable`` (bucket metadata lives in the catalog — a bare
    ``parquet(path)`` write silently drops the bucketing spec; Spark's
    DataFrameWriter raises on that combination, which this wrapper inherits).
    """
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    writer = df.write.format("parquet").mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table back. The bucketing spec comes from the catalog
    (``spark.table``, never ``read.parquet`` — a path read loses the spec
    and reintroduces the join-side shuffle)."""
    return spark.table(table)


def plan_compaction(
    spark: SparkSession, path: str, target_bytes: int = 256 * 1024 * 1024
) -> dict:
    """Inspect a parquet directory's physical layout and plan a compaction:
    returns ``{n_files, total_bytes, target_files, skipped}`` where
    ``target_files = max(1, ceil(total_bytes / target_bytes))`` and
    ``skipped`` is True when the layout is already at-or-under the target
    (compacting further would REWRITE data for no read-side gain).

    Listing is driver-side filesystem metadata (one directory listing —
    the same cost every Spark scan already pays at planning time), never a
    data read. At 100 TB the small-files problem is the dominant silent
    scan tax: 10^7 x 10 MB files means 10^7 scheduler tasks, 10^7 footer
    reads and open/close round-trips; compaction to ~256 MB units cuts
    task count ~25x with zero semantic change.
    """
    import math

    total = 0
    n = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith("."):
                total += os.path.getsize(os.path.join(root, f))
                n += 1
    if n == 0:
        raise ValueError(f"no parquet files under {path!r} — nothing to compact")
    target = max(1, math.ceil(total / target_bytes))
    return {
        "n_files": n,
        "total_bytes": total,
        "target_files": target,
        "skipped": n <= target,
    }


def compact_small_files(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_bytes: int = 256 * 1024 * 1024,
    sort_col: str | None = None,
) -> dict:
    """Rewrite a many-small-files parquet directory into ``target_files``
    right-sized files (the maintenance half of S10's materialize-once
    story; Iceberg calls this ``rewrite_data_files``, Delta ``OPTIMIZE``).

    Layout strategy: ``coalesce(target_files)`` when shrinking — coalesce
    merges existing partitions WITHOUT a shuffle, so compaction costs one
    read + one write and zero exchanges. With ``sort_col`` the rewrite
    instead uses ``repartitionByRange(target_files, sort_col)`` +
    ``sortWithinPartitions`` — that DOES pay one range shuffle, and buys
    min/max footer statistics so every later range predicate on
    ``sort_col`` prunes whole files (at 100 TB pruning beats the one-time
    shuffle after the first filtered scan). For multi-column pruning pass
    ``functions.zorder_key`` output as ``sort_col`` — bit-aligned z-blocks
    bound per-file min/max on BOTH interleaved columns. Returns the plan dict with ``skipped`` False only if a rewrite
    happened; a no-op plan writes nothing — idempotent daily-maintenance
    semantics, and never compacts INTO the source directory (the read is
    lazy; overwriting the input mid-scan would corrupt it).
    """
    if os.path.abspath(out_path) == os.path.abspath(path):
        raise ValueError(
            "compact_small_files: out_path must differ from the source path "
            "— the read is lazy, so overwriting the input mid-scan would "
            "corrupt it; write to a sibling directory and swap afterwards"
        )
    plan = plan_compaction(spark, path, target_bytes)
    if plan["skipped"] and sort_col is None:
        return plan
    # a sort_col rewrite is a LAYOUT change (buys footer min/max pruning),
    # not a pure shrink — it proceeds even when the file count wouldn't drop.
    plan["skipped"] = False
    df = spark.read.parquet(path)
    if sort_col is not None:
        # never emit MORE files than the source had — this is maintenance,
        # not a fragmenter; a tiny target_bytes must not explode task count.
        n_out = min(plan["target_files"], plan["n_files"])
        out = df.repartitionByRange(n_out, sort_col).sortWithinPartitions(sort_col)
    else:
        out = df.coalesce(plan["target_files"])
    out.write.mode("overwrite").parquet(out_path)
    return plan
