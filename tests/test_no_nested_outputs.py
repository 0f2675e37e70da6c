"""No registered query may emit a nested output type (Array/Map/Struct).

The driver's correctness harness canonicalizes results by sorting raw
pandas columns; a list/dict cell raises `unhashable type: 'list'` and the
row ERRs regardless of Spark-side correctness (round 5:
inverted_index_postings, the FOURTH local-pass/driver-fail divergence).
tools/check_correctness.py now hard-FAILs nested schemas before
execution; this test pins the same invariant at pytest time so an array
column can never reach a driver round again.  Plan-only: each callable is
invoked to build its DataFrame and the SCHEMA is inspected — results are
not materialized (streaming/rows-only queries do run their bounded
micro-batch, which is why this is marked slow).
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR


@pytest.mark.slow
def test_no_registered_query_emits_nested_types(spark):
    import __spark_entry__ as entry
    from tools.check_correctness import nested_output_columns

    offenders: dict[str, list[str]] = {}
    errors: dict[str, str] = {}
    qs = dict(entry._load_catalog().QUERIES)
    assert len(qs) >= 200
    for name, fn in qs.items():
        try:
            df = fn(spark, SF_DIR)
        except Exception as e:  # noqa: BLE001 - report, don't abort scan
            errors[name] = repr(e)[:120]
            continue
        finally:
            spark.catalog.clearCache()
        nested = nested_output_columns(df)
        if nested:
            offenders[name] = nested
    assert not errors, f"queries failed to plan: {errors}"
    assert not offenders, (
        "nested output types are forbidden (driver canonicalizer cannot "
        f"sort list/dict cells) — use array_join/to_json: {offenders}")
