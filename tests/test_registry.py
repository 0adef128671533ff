"""Registry guards that need no Spark session."""

import __spark_entry__ as entry
import bench


def test_bench_headline_names_are_registered():
    """A query deleted from the registry must also leave bench.HEADLINE;
    otherwise the bench run fails with a KeyError partway through."""
    missing = sorted(set(bench.HEADLINE) - set(entry.queries()))
    assert not missing, f"HEADLINE names with no queries() entry: {missing}"


def test_every_query_is_oracled(monkeypatch):
    """Every queries() entry has an oracle_sql() text and every oracle
    belongs to an entry: a deleted entry must take its ORACLES[...]
    assignment with it, and a new entry must bring one."""
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF", entry.SF_DEFAULT)
    queries, oracles = set(entry.queries()), set(entry.oracle_sql())
    assert queries == oracles, (
        f"no oracle: {sorted(queries - oracles)}; "
        f"no query: {sorted(oracles - queries)}"
    )
