"""Large-scale training-data pipeline operators.

Beyond GenIE parity (SURVEY.md §2), a 100 TB web corpus needs corpus
hygiene before any triple extraction: deduplication (text and embedding
near-dup), sampling and splitting, and text quality analysis. Every
operator here is declarative DataFrame API with cross-engine-
deterministic hashing (md5-derived 60-bit ints) so correctness is
DuckDB-oracle-checkable; only salts that never reach an oracle use
Spark's cheaper xxhash64.
"""
