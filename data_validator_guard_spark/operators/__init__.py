"""Physical operators that go beyond single-expression rules.

Each module is a Spark-first implementation of a capability family:

- :mod:`uniqueness` — exact key counts and duplicate detection.
- :mod:`drift` — distribution drift (PSI / chi-square): JVM histograms,
  scored on the driver.
- :mod:`schema` — schema contract, checked before any data scan.
- :mod:`stats` — fused per-column statistics suite (one aggregation pass).
- :mod:`snapshot_diff` — re-validate only the partitions that changed.
- :mod:`compare` — what regressed between two runs' verdicts.
- :mod:`search` — catalog-wide substring search, schema check and codebook.
- :mod:`cleaning` — rulebook-driven corrections (delete/update/merge).
- :mod:`temporal` — as-of join and sessionization.
- :mod:`dedup` — exact + near-duplicate detection (hash, MinHash-LSH, SimHash,
  n-gram Jaccard).
- :mod:`similarity` — embedding similarity search (brute-force + bucketed).
- :mod:`contamination` — train/eval overlap checks.
- :mod:`text` — language-ID, quality scoring, token counting, fingerprinting.
- :mod:`quality` — shared quality filters and curation dispositions.
- :mod:`sampling` — deterministic hash, stratified and budgeted sampling.
- :mod:`packing` — sequence packing for LLM pretraining.
"""
