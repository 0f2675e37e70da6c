"""The contract in __spark_entry__.py: queries() and oracle_sql()
return the catalog registries in registration order."""

from __future__ import annotations


def test_queries_and_oracles_share_registration_order():
    import __spark_entry__ as entry
    import predictor_spark.plans.catalog as catalog

    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert len(qs) == 436
    assert list(oracles) == list(qs)
    assert list(entry.queries()) == list(qs)
    assert list(qs) == list(catalog.QUERIES)
    assert all(catalog.QUERIES[n] is fn for n, fn in qs.items())
