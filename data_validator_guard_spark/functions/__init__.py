"""Column-expression helpers shared across the engine.

These are the vectorized equivalents of the reference's per-row Python lambdas
(`/root/reference/validation/maganamed_validation.py:108-263` uses
``df.apply(axis=1)`` for every one of these). Everything here stays JVM-side
inside whole-stage codegen — no Python UDFs.

:func:`partition_value` is the one place a ``partition_by`` expression
becomes a partition value: the engine's verdicts and violations, the
ledger's resume filter and its ``stats/`` partials, the snapshot diff and
every per-partition stats/sketch operator call it, so a NULL partition
carries the same label in all of them.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def is_blank(c: Column | str) -> Column:
    """Null OR empty-after-strip — the reference's unified "missing" test
    (`maganamed_validation.py:197-198`, `general_id_cleaning.py:263`).

    Implemented as an anchored regex rather than ``trim(c) = ''``: both
    Spark's and ANSI ``trim`` strip only spaces, so a space-only regex is
    semantically identical — but it rejects a non-blank value at its first
    non-space byte instead of copying the whole string (on multi-KB content
    columns the trim form allocated a full copy per row per scan).

    Anchors are ``\\A``/``\\z`` (absolute input edges), NOT ``^``/``$``:
    Java's ``$`` also matches *before a final line terminator*, so ``" \\n"``
    would wrongly classify as blank under ``^ *$`` while ``trim`` semantics
    (and every SQL oracle) keep it non-blank."""
    col = F.col(c) if isinstance(c, str) else c
    return col.isNull() | col.cast("string").rlike(r"\A *\z")


def partition_value(partition_by: str) -> Column:
    """The partition value of a row: ``partition_by`` (a SQL expression)
    cast to string, with NULL rendered as ``'__null__'``. Unaliased.

    NULL gets a literal label for two reasons: verdict counts join on
    ``partition``, and a NULL key would silently drop rows in that join;
    and a partitioned write (the ledger's ``pt`` directories) puts a NULL
    value under ``__HIVE_DEFAULT_PARTITION__``, which reads back as NULL
    and so no longer matches the label the verdicts carry."""
    return F.coalesce(F.expr(partition_by).cast("string"), F.lit("__null__"))


def normalized(c: Column | str) -> Column:
    """Case/whitespace normalization used before duplicate detection
    (`general_validation.py:58`: ``.str.strip().str.upper()``)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.upper(F.trim(col))


def suffix_normalized(c: Column | str, suffix_pattern: str = r"(?i)[_-]?v$") -> Column:
    """Strip a version suffix before duplicate detection
    (`maganamed_validation.py:136-155`)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.regexp_replace(F.trim(col), suffix_pattern, "")


def content_sha256(c: Column | str) -> Column:
    """The per-row byte-identity invariant (BASELINE.json input_hint)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.sha2(col.cast("string"), 256)


def equi_width_bucket(c: Column, vmin: int, vmax: int, n_buckets: int) -> Column:
    """Quantize an integer column into ``[0, n_buckets)`` equi-width cells
    over the closed range [vmin, vmax]: ``floor((v - vmin) * n / (range+1))``.
    Both engines evaluate this as floor of one IEEE division of exact
    integers — bit-identical as long as ``range * n_buckets < 2^53`` (the
    exact-double range; ample for any key/date range at n_buckets <= 2^20,
    and validated below). Values outside [vmin, vmax] are clamped to the
    edge cells so a stale min/max never produces an out-of-grid cell id."""
    if vmax < vmin:
        raise ValueError(f"vmax {vmax} < vmin {vmin}")
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    if (vmax - vmin + 1) * n_buckets >= 2**53:
        raise ValueError(
            "range * n_buckets exceeds 2^53 — the floor-of-IEEE-division "
            "quantizer is no longer exact; shrink n_buckets or pre-scale"
        )
    v = F.greatest(F.least(c.cast("bigint"), F.lit(vmax)), F.lit(vmin))
    width = vmax - vmin + 1
    return F.floor((v - F.lit(vmin)) * F.lit(n_buckets) / F.lit(width)).cast("bigint")


def zorder_key(x: Column, y: Column, bits: int = 8) -> Column:
    """Morton / Z-order key of two pre-quantized cell ids in [0, 2^bits):
    interleave their bits (x on even positions, y on odd) so that sorting by
    the single key places rows close in BOTH dimensions into the same
    neighborhood — the multi-column extension of the sorted compaction
    rewrite (``sources.compact_small_files(sort_col=...)``; Delta calls it
    ``OPTIMIZE ZORDER BY``, Iceberg a multi-column sort order). A range
    rewrite on the z-key buys per-file min/max footer bounds on BOTH
    columns, so later predicates on either column prune whole files.

    Pure shift/mask integer expression — whole-stage codegen in Spark and
    bit-identical in any ANSI engine with shift operators; the oracle
    replicates it verbatim. Inputs MUST already be in [0, 2^bits)
    (:func:`equi_width_bucket` produces exactly that); out-of-range inputs
    raise at runtime via an ANSI-safe guard column rather than silently
    aliasing distant cells.
    """
    if not (1 <= bits <= 31):
        raise ValueError(f"bits must be in [1, 31], got {bits}")
    lim = 1 << bits
    xv, yv = x.cast("bigint"), y.cast("bigint")
    # fail loud on out-of-grid cells: raise_error is ANSI-safe and constant-
    # folds away when inputs provably fit (e.g. equi_width_bucket output)
    guard_msg = f"zorder_key: cell id out of [0, {lim})"
    xg = F.when((xv >= 0) & (xv < lim), xv).otherwise(
        F.raise_error(F.lit(guard_msg)).cast("bigint")
    )
    yg = F.when((yv >= 0) & (yv < lim), yv).otherwise(
        F.raise_error(F.lit(guard_msg)).cast("bigint")
    )
    z: Column = F.lit(0).cast("bigint")
    for b in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftrightunsigned(xg, b).bitwiseAND(F.lit(1)), 2 * b)
            + F.shiftleft(F.shiftrightunsigned(yg, b).bitwiseAND(F.lit(1)), 2 * b + 1)
        )
    return z
