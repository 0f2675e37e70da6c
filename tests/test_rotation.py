"""Catalog discovery and registry order behind __spark_entry__.

queries() and oracle_sql() return the catalog registries in registration
order: a module's rows register, in source order, when _load_catalog
imports it. Every discovered module must import, and a name registered
a second time — from another module — is rejected at registration."""

from __future__ import annotations

import pkgutil
import re
import sys

import pytest

import __spark_entry__ as entry

#: the @query("name", ...) decorator with the name on the same or next line
_DECORATED = re.compile(r'@query\(\s*\n?\s*"([a-z0-9_]+)"')


def _discovered() -> list[str]:
    import predictor_spark.plans as plans

    return [f"{plans.__name__}.{m.name}"
            for m in pkgutil.iter_modules(plans.__path__)
            if m.name.startswith("catalog") or m.name == "champion"]


def test_rotation_priority_and_stability():
    """Order law: queries() is catalog.QUERIES in registration order, and
    within one module its decorated rows keep their source order. A
    repeat call (which re-runs _load_catalog) changes nothing."""
    import predictor_spark.plans.catalog as catalog

    qs = entry.queries()
    assert list(qs) == list(catalog.QUERIES)
    assert list(entry.queries()) == list(qs)
    assert list(entry.oracle_sql()) == [n for n in qs if n in catalog.ORACLE]

    checked = 0
    for modname in {fn.__module__ for fn in qs.values()}:
        literal = _DECORATED.findall(open(sys.modules[modname].__file__).read())
        mine = set(literal)
        got = [n for n, fn in qs.items()
               if n in mine and fn.__module__ == modname]
        assert got == [n for n in literal if n in set(got)], modname
        checked += len(got)
    assert checked >= 400


def test_every_catalog_module_imports_cleanly():
    """_load_catalog imports each discovered module and lets an import
    error propagate; on the complete tree every module loads and each
    registered row comes from one of them."""
    cat = entry._load_catalog()
    mods = _discovered()
    assert len(mods) >= 120
    assert "predictor_spark.plans.champion" in mods
    assert all(m in sys.modules for m in mods)
    assert {fn.__module__ for fn in cat.QUERIES.values()} <= set(mods)


def test_shadow_guard_detects_duplicate_registration():
    """A second module registering an already-registered name would
    shadow the first row for every caller; catalog.query raises instead
    and the first registration stays."""
    import predictor_spark.plans.catalog as catalog

    def first(spark, sf_dir):  # pragma: no cover - identity only
        pass

    def second(spark, sf_dir):  # pragma: no cover - identity only
        pass

    first.__module__ = "predictor_spark.plans.catalog_shadow_a"
    second.__module__ = "predictor_spark.plans.catalog_shadow_b"
    name = "__shadow_test"
    try:
        catalog.query(name, oracle="SELECT 1")(first)
        with pytest.raises(ValueError, match="catalog_shadow_b would "
                           "overwrite the one in .*catalog_shadow_a"):
            catalog.query(name, oracle="SELECT 2")(second)
        assert catalog.QUERIES[name] is first
        assert catalog.ORACLE[name] == "SELECT 1"
    finally:
        catalog.QUERIES.pop(name, None)
        catalog.ORACLE.pop(name, None)
