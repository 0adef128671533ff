"""Large-scale training-data pipeline operators.

Beyond GenIE parity (SURVEY.md §2), a 100 TB web corpus needs corpus
hygiene before any triple extraction: deduplication, similarity search
and text quality analysis. Every operator here is declarative DataFrame
API with cross-engine-deterministic hashing (md5-derived 60-bit ints) so
correctness is DuckDB-oracle-checkable; the production path can swap
xxhash64 for md5 where noted (same plan shape, ~5× cheaper hashing).
"""
