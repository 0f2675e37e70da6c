"""Every @query name must be defined EXACTLY once across all catalog
modules.

The registries are one shared dict, so a duplicate name would replace
the earlier query for whoever imports the second module (round 7: three
r10/r11 rows shadowed nelson_aalen_hazard, degree_assortativity and
benford_first_digit). catalog.query rejects a duplicate at registration;
the static scan below also catches one in a module nothing imports, and
the registry must hold every name that scan finds.
"""

from __future__ import annotations

import glob
import os
import re
from collections import Counter

#: both decorator spellings used in the codebase:
#:   @query("name", ...)   and   @query(\n    "name",\n    oracle=...
_PATTERNS = (
    re.compile(r'@query\(\s*\n?\s*"([a-z0-9_]+)"'),
    re.compile(r'@query\("([a-z0-9_]+)"'),
)


def test_query_names_are_globally_unique():
    counts: Counter[str] = Counter()
    where: dict[str, list[str]] = {}
    for path in glob.glob("/root/repo/predictor_spark/plans/*.py"):
        src = open(path).read()
        names = set()
        for pat in _PATTERNS:
            names.update(pat.findall(src))
        for n in names:
            counts[n] += 1
            where.setdefault(n, []).append(path.rsplit("/", 1)[-1])
    dupes = {n: where[n] for n, c in counts.items() if c > 1}
    assert not dupes, f"duplicate @query names: {dupes}"
    # sanity: the scan actually sees the catalog (a handful of rows
    # register programmatically and are invisible to the literal scan,
    # so the floor sits slightly below the registry)
    assert len(counts) >= 340


def test_intra_module_duplicate_guard():
    """catalog.query rejects a name that is already registered, in both
    registration forms: the @query decorator and the programmatic
    query(...)(fn) call. One check at registration covers a duplicate
    within one module and across modules alike."""
    import pytest

    import predictor_spark.plans.catalog as catalog

    def fn(spark, sf_dir):  # pragma: no cover - identity only
        pass

    names = ("__dup_test_deco", "__dup_test_prog")
    try:
        @catalog.query(names[0], oracle="SELECT 1")
        def first(spark, sf_dir):  # pragma: no cover - identity only
            pass

        with pytest.raises(ValueError, match="duplicate query name"):
            @catalog.query(names[0])
            def second(spark, sf_dir):  # pragma: no cover - identity only
                pass
        assert catalog.QUERIES[names[0]] is first

        catalog.query(names[1])(fn)
        with pytest.raises(ValueError, match="duplicate query name"):
            catalog.query(names[1], oracle="SELECT 2")(first)
        assert catalog.QUERIES[names[1]] is fn
        assert names[1] not in catalog.ORACLE
    finally:
        for n in names:
            catalog.QUERIES.pop(n, None)
            catalog.ORACLE.pop(n, None)


def test_registry_scan_recovers_every_registered_name():
    """The catalog registry holds every name the literal scan finds in
    plans/*.py, and every plans module that calls query( is one that
    _load_catalog discovers — no registering module is left unimported."""
    import sys

    import __spark_entry__ as entry

    cat = entry._load_catalog()
    plans_dir = os.path.dirname(cat.__file__)
    calls = re.compile(r"(^|[^a-z_.])query\(", re.M)
    scanned: set[str] = set()
    registering: set[str] = set()
    for path in glob.glob(os.path.join(plans_dir, "*.py")):
        src = open(path).read()
        for pat in _PATTERNS:
            scanned.update(pat.findall(src))
        if calls.search(src.replace("def query(", "")):
            registering.add(path.rsplit("/", 1)[-1][:-3])
    assert len(scanned) >= 400
    assert scanned <= set(cat.QUERIES), sorted(scanned - set(cat.QUERIES))
    assert "catalog" in registering and "champion" in registering
    for mod in registering:
        assert mod.startswith("catalog") or mod == "champion", mod
        assert f"predictor_spark.plans.{mod}" in sys.modules, mod
