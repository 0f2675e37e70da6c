"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship query on /root/testdata/sf0.001.
queries()      — every implemented operator from SURVEY.md §2 as
                 (spark, sf_dir) -> DataFrame callables.
oracle_sql()   — matching DuckDB SQL for the correctness gate.

Implementation lives in predictor_spark/plans/catalog*.py; this module is a
thin stable shim.
"""

from __future__ import annotations

import importlib
import os
import pkgutil
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from predictor_spark.plans.catalog import QUERIES

    return QUERIES["flagship_persistence_metrics"](spark, "/root/testdata/sf0.001")


def _load_catalog():
    """Import every plans module that registers queries — each `catalog*`
    module plus `champion` — populating the QUERIES/ORACLE registries.
    A module that fails to import raises: it must not silently drop its
    rows. A duplicate query name raises at registration (catalog.query)."""
    import predictor_spark.plans as plans
    import predictor_spark.plans.catalog as catalog

    for mod in pkgutil.iter_modules(plans.__path__):
        if mod.name.startswith("catalog") or mod.name == "champion":
            importlib.import_module(f"{plans.__name__}.{mod.name}")
    return catalog


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_load_catalog().QUERIES)


def oracle_sql() -> dict[str, str]:
    cat = _load_catalog()
    return {n: cat.ORACLE[n] for n in cat.QUERIES if n in cat.ORACLE}
