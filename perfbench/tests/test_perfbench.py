"""Tests for the benchmark's own code: the event-log fold, the metric names
it reports, and the seeded inputs and their match with the engine's
reference test data. They need no Spark session:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

import datagen  # noqa: E402
import datastats  # noqa: E402
import eventlog  # noqa: E402
import run  # noqa: E402
from predictor_spark.sources.tables import TABLES  # noqa: E402
from workloads import WORKLOADS, pass_orders  # noqa: E402

#: Event log of one traced pass over three rows at scale 0.001, cut down to
#: the events and fields the fold reads. Untagged warm-up jobs are kept.
FIXTURE = os.path.join(HERE, "data", "eventlog")
NAME = re.compile(r"[A-Za-z0-9_.-]+")
#: ``datastats.py`` profile of the engine's reference test data at scale 0.01.
REFERENCE = os.path.join(HERE, "data", "reference_sf0.01.json")


def _declared() -> dict:
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_fold_counts_jobs_per_row_and_phase():
    groups = eventlog.fold(eventlog.read_events(FIXTURE))
    assert set(groups) == {(q, ph) for q in ("q1_pricing_summary", "stl_per_series",
                                             "knn_cosine_bruteforce")
                           for ph in ("build", "action")}
    for (query, phase), g in groups.items():
        assert g["jobs"] >= 1, (query, phase)
        assert g["tasks"] >= g["stages"] >= 1, (query, phase)
        assert g["failed_tasks"] == 0
    # every row reads its parquet through load_table, whose schema
    # inference runs a job during build and never during the action
    for query in ("q1_pricing_summary", "stl_per_series", "knn_cosine_bruteforce"):
        assert groups[(query, "build")]["load_table_jobs"] >= 1
        assert groups[(query, "action")]["load_table_jobs"] == 0


def test_fold_attributes_python_worker_metrics():
    groups = eventlog.fold(eventlog.read_events(FIXTURE))
    stl = groups[("stl_per_series", "action")]
    assert stl["python.run_s"] > 0 and stl["python.bytes_sent"] > 0
    assert stl["python.bytes_received"] > 0
    q1 = eventlog.combine(g for (q, _), g in groups.items() if q == "q1_pricing_summary")
    assert all(q1[k] == 0 for k in eventlog.PYTHON_METRICS.values())
    assert q1["exec.run_s"] > 0 and q1["exec.shuffle_write_bytes"] > 0


def test_combine_sums_counters_and_keeps_the_memory_peak():
    a = dict.fromkeys(eventlog.FIELDS, 0) | {"jobs": 2, "exec.peak_mem_bytes": 10}
    b = dict.fromkeys(eventlog.FIELDS, 0) | {"jobs": 3, "exec.peak_mem_bytes": 7}
    out = eventlog.combine([a, b])
    assert out["jobs"] == 5 and out["exec.peak_mem_bytes"] == 10


def test_reported_metrics_are_the_declared_ones():
    declared = _declared()
    for key, emitted in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        assert [(m["name"], m["unit"]) for m in declared[key]] == list(emitted)
        for name, _unit in emitted:
            assert NAME.fullmatch(name), name
    assert [w["name"] for w in declared["workloads"]] == list(WORKLOADS)
    # the per-layer set covers every counter the event-log fold produces
    per_layer = {name for name, _ in run.PER_LAYER}
    assert {k for k in eventlog.FIELDS if "." in k} <= per_layer


def test_same_seed_gives_the_same_row_orders():
    rows = WORKLOADS["forecast"].rows
    a, b = pass_orders(rows, 7), pass_orders(rows, 7)
    first = [next(a) for _ in range(5)]
    assert first == [next(b) for _ in range(5)]
    assert all(sorted(order) == sorted(rows) for order in first)
    other = pass_orders(rows, 8)
    assert first != [next(other) for _ in range(5)]


def test_same_seed_gives_the_same_tables():
    a, b = datagen.make_tables(0.001, 3), datagen.make_tables(0.001, 3)
    assert sorted(a) == sorted(TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    c = datagen.make_tables(0.001, 4)
    assert not a["lineitem"].equals(c["lineitem"])


@pytest.fixture(scope="module")
def reference_and_generated(tmp_path_factory):
    with open(REFERENCE) as fh:
        ref = json.load(fh)
    sf_dir = datagen.ensure_dataset(str(tmp_path_factory.mktemp("data")), 0.01, run.DATA_SEED)
    return ref, datastats.profile(sf_dir)


def test_generated_schema_is_the_reference_schema(reference_and_generated):
    ref, gen = reference_and_generated
    assert list(gen["schema"]) == list(ref["schema"])
    for table, cols in ref["schema"].items():
        # name, parquet physical type and logical type, field by field
        assert gen["schema"][table] == cols, table
    ts = dict((c[0], c[2]) for c in gen["schema"]["events"])["ts"]
    assert "timeUnit=microseconds" in ts


def test_generated_tables_match_the_reference_profile(reference_and_generated):
    ref, gen = reference_and_generated
    assert gen["rows"] == ref["rows"]
    off = [c for c in datastats.compare(ref, gen) if not c[-1]]
    assert not off, off


def test_profile_comparison_flags_a_changed_type_and_distribution(reference_and_generated):
    ref, gen = reference_and_generated
    bad = json.loads(json.dumps(gen))
    bad["schema"]["events"][1][2] = bad["schema"]["events"][1][2].replace("micro", "nano")
    bad["stats"]["documents.near_dup_docs"] = 0
    off = {item for item, *_, ok in datastats.compare(ref, bad) if not ok}
    assert off == {"events.ts type", "documents.near_dup_docs"}


def test_oracle_verdict_keeps_the_correctness_gate_guards():
    import pandas as pd

    rows = pd.DataFrame({"k": ["a", "b"], "v": [1.5, 2.5]})
    assert run.oracle_verdict("r", rows, rows[::-1].reset_index(drop=True)) == "ok"
    assert run.oracle_verdict("r", rows, rows.assign(v=[1.5, 9.0])).startswith("mismatch")
    assert run.oracle_verdict("r", rows, rows.head(1)).startswith("mismatch")
    # agreeing with the oracle is not enough when the result cannot fail
    empty = rows.head(0)
    assert "vacuous" in run.oracle_verdict("r", empty, empty)
    flat = rows.assign(v=[1.0, 1.0])
    assert "degenerate" in run.oracle_verdict("r", flat, flat)
