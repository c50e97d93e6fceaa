"""Deterministic synthetic source-code table (repo, path, commit, lang, content).

The north-rule input shape (BASELINE.json input_hint). Generated entirely
JVM-side from ``spark.range`` + hash expressions — no driver-side data, no RNG
state, so the same (n_rows, seed, knobs) produce byte-identical tables at any
parallelism on any cluster. This mirrors the *spirit* of the reference's only
fixture (`/root/reference/validation/testing/mock_data.py:3-28`): every defect
is planted at known positions so expected verdicts/violations are known a
priori.

Planted defects (rates per FIXTURES.md §1):
- one hot repo holding ``hot_fraction`` of rows (skew knob, north rule);
- ~1% bad paths (null / blank / ``..`` traversal / missing extension);
- ~0.5% bad commits (uppercase / 39-char);
- ~0.2% duplicated (repo, path, commit) triples, including inside the hot repo;
- ~1% bad langs (not in the allowed dimension);
- optional drift: ``shift_lang`` gets systematically longer content so a
  current-vs-baseline histogram comparison flags exactly that language.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_validator_guard_spark.session import local_frame

ALLOWED_LANGS = ["python", "java", "scala", "go", "rust", "c", "cpp", "js"]
LANG_EXT = {
    "python": "py", "java": "java", "scala": "scala", "go": "go",
    "rust": "rs", "c": "c", "cpp": "cc", "js": "js",
}
BAD_LANGS = ["klingon", "", None]
_VOCAB = [
    "def", "return", "class", "import", "for", "while", "if", "else",
    "match", "struct", "impl", "fn", "let", "const", "var", "public",
]


def _h(seed: int, tag: str, *cols: Column) -> Column:
    """Deterministic 64-bit hash stream, independent per tag."""
    return F.xxhash64(F.lit(f"{seed}:{tag}"), *cols)


def _u(seed: int, tag: str, col: Column, m: int) -> Column:
    """Deterministic uniform integer in [0, m)."""
    return F.pmod(_h(seed, tag, col), F.lit(m))


def source_code_table(
    spark: SparkSession,
    n_rows: int,
    seed: int = 42,
    n_repos: int = 200,
    hot_fraction: float = 0.3,
    shift_lang: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Build the synthetic table. Columns: repo, path, commit, lang, content."""
    df = spark.range(0, n_rows, 1, num_partitions) if num_partitions else spark.range(n_rows)
    rid = F.col("id")

    # duplicate planting: every 499th row re-emits the previous row's identity
    # → identical (repo, path, commit) triples (~0.2%).
    kid = F.when((F.pmod(rid, F.lit(499)) == 0) & (rid > 0), rid - 1).otherwise(rid)

    # repo with a hot key: hot_fraction of rows land on one repo (skew knob).
    hot_m = max(1, int(round(hot_fraction * 1000)))
    is_hot = _u(seed, "hot", kid, 1000) < hot_m
    repo = F.when(is_hot, F.lit("org0/hot-repo")).otherwise(
        F.concat(
            F.lit("org"),
            _u(seed, "org", kid, 50).cast("string"),
            F.lit("/repo"),
            _u(seed, "repo", kid, n_repos).cast("string"),
        )
    )

    # lang: mostly from the allowed dim; ~1% planted referential violations.
    lang_pick = F.array(*[F.lit(x) for x in ALLOWED_LANGS])[
        _u(seed, "lang", kid, len(ALLOWED_LANGS)).cast("int")
    ]
    bad_lang_sel = _u(seed, "badlang", kid, 1000)
    lang = (
        F.when(bad_lang_sel == 0, F.lit("klingon"))
        .when(bad_lang_sel == 1, F.lit(""))
        .when(bad_lang_sel == 2, F.lit(None).cast("string"))
        .otherwise(lang_pick)
    )

    # extension consistent with lang (hash-indexed over the same order).
    ext = F.array(*[F.lit(LANG_EXT[x]) for x in ALLOWED_LANGS])[
        _u(seed, "lang", kid, len(ALLOWED_LANGS)).cast("int")
    ]
    good_path = F.concat(
        F.lit("src/dir"),
        _u(seed, "dir", kid, 40).cast("string"),
        F.lit("/file"),
        _u(seed, "file", kid, 5000).cast("string"),
        F.lit("."),
        ext,
    )
    bad_path_sel = _u(seed, "badpath", kid, 1000)
    path = (
        F.when(bad_path_sel == 0, F.lit(None).cast("string"))
        .when(bad_path_sel == 1, F.lit(""))
        .when(bad_path_sel == 2, F.concat(F.lit("../escape/file"), kid.cast("string")))
        .when(bad_path_sel == 3, F.concat(F.lit("src/noext/file"), kid.cast("string")))
        .otherwise(good_path)
    )

    # commit: 40-char lowercase hex (md5 32 hex + 8 more); ~0.5% planted
    # regex violations (uppercase / 39-char).
    full_hex = F.concat(
        F.md5(F.concat(F.lit(f"{seed}:c1:"), kid.cast("string"))),
        F.substring(F.md5(F.concat(F.lit(f"{seed}:c2:"), kid.cast("string"))), 1, 8),
    )
    bad_commit_sel = _u(seed, "badcommit", kid, 1000)
    commit = (
        F.when(bad_commit_sel == 0, F.upper(full_hex))
        .when(bad_commit_sel == 1, F.substring(full_hex, 1, 39))
        .otherwise(full_hex)
    )

    # content: deterministic pseudo-code; length varies by hash; drift knob
    # makes shift_lang systematically longer.
    phrase = F.concat_ws(
        " ",
        *[
            F.array(*[F.lit(w) for w in _VOCAB])[
                _u(seed, f"w{i}", kid, len(_VOCAB)).cast("int")
            ]
            for i in range(6)
        ],
    )
    reps = (_u(seed, "len", kid, 40) + 2).cast("int")
    if shift_lang is not None:
        reps = F.when(lang_pick == F.lit(shift_lang), reps + 60).otherwise(reps)
    content = F.concat(
        F.lit("// "), kid.cast("string"), F.lit("\n"),
        F.repeat(F.concat(phrase, F.lit("\n")), reps),
    )

    return df.select(
        repo.alias("repo"),
        path.alias("path"),
        commit.alias("commit"),
        lang.alias("lang"),
        content.alias("content"),
    )


def allowed_langs_dim(spark: SparkSession) -> DataFrame:
    """The broadcast referential dimension (FIXTURES.md §1), as a local
    relation: the inline-FK collect at compile starts no Python worker."""
    return local_frame(
        spark,
        "lang string, ext string",
        pd.DataFrame({"lang": ALLOWED_LANGS, "ext": [LANG_EXT[l] for l in ALLOWED_LANGS]}),
    )
