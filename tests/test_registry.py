"""Registry guards that need no Spark session."""

import __spark_entry__ as entry
import bench


def test_bench_headline_names_are_registered():
    """A query deleted from the registry must also leave bench.HEADLINE;
    otherwise the bench run fails with a KeyError partway through."""
    missing = sorted(set(bench.HEADLINE) - set(entry.queries()))
    assert not missing, f"HEADLINE names with no queries() entry: {missing}"
