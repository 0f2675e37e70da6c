"""Property test: the two connected-components implementations
(operators/dedup.py min-label propagation and large-star/small-star)
agree with each other AND with a pure-Python union-find ground truth on
random graphs — including long chains (diameter stress for min-label)
and whale clusters (hub-degree stress for star) (VERDICT r7 #10: cheap
insurance on the operator the whole dedup family leans on).

Each operator has two paths: up to ``dedup.MAX_CC_EDGES`` edges it
finishes by union-find on the driver, past it the distributed rounds
run.  Every test here runs on both: ``driver`` (the default bound) and
``distributed`` (the bound monkeypatched to -1; a bound of 0 would
still send an empty edge list to the driver)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from predictor_spark.operators import dedup
from predictor_spark.operators.dedup import (connected_components,
                                             connected_components_star)
from tests.conftest import count_jobs

VARIANTS = (connected_components, connected_components_star)


@pytest.fixture(params=["driver", "distributed"])
def cc_path(request, monkeypatch):
    if request.param == "distributed":
        monkeypatch.setattr(dedup, "MAX_CC_EDGES", -1)
    return request.param


def _union_find(n_vertices: set[int], edges: list[tuple[int, int]]):
    parent = {v: v for v in n_vertices}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component id = min vertex id in the component (both operators'
    # output contract)
    comp_min: dict[int, int] = {}
    for v in n_vertices:
        r = find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
    return {v: comp_min[find(v)] for v in n_vertices}


@st.composite
def graphs(draw):
    """Random edges + optionally a long chain and/or a whale hub, glued
    onto the same vertex id space so shapes can merge."""
    edges = draw(st.lists(
        st.tuples(st.integers(0, 39), st.integers(0, 39)),
        min_size=0, max_size=40))
    if draw(st.booleans()):  # long chain: diameter >> log(n)
        base = draw(st.integers(0, 60))
        length = draw(st.integers(5, 25))
        edges += [(base + i, base + i + 1) for i in range(length)]
    if draw(st.booleans()):  # whale: one hub touching many spokes
        hub = draw(st.integers(0, 80))
        spokes = draw(st.integers(8, 20))
        edges += [(hub, hub + 1 + s) for s in range(spokes)]
    return [(a, b) for a, b in edges if a != b]


def _labels(df) -> dict:
    return {r["vertex"]: r["component"] for r in df.collect()}


def _run_both_paths(monkeypatch, fn):
    """(driver result, distributed result) of ``fn()``."""
    driver = fn()
    with monkeypatch.context() as m:
        m.setattr(dedup, "MAX_CC_EDGES", -1)
        distributed = fn()
    return driver, distributed


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(graphs())
def test_min_label_and_star_match_union_find(spark, monkeypatch, edge_list):
    if not edge_list:
        return
    verts = {v for e in edge_list for v in e}
    want = _union_find(verts, edge_list)

    edges = spark.createDataFrame(edge_list, "id_a bigint, id_b bigint")
    # max_iter = |V| upper-bounds any diameter the strategy can build
    for cc, kw in ((connected_components, {"max_iter": len(verts)}),
                   (connected_components_star, {})):
        driver, distributed = _run_both_paths(
            monkeypatch, lambda: _labels(cc(edges, **kw)))
        assert driver == distributed == want, cc.__name__


@pytest.mark.parametrize("cc", VARIANTS)
@pytest.mark.parametrize("ddl", ["id_a int, id_b int",
                                 "id_a bigint, id_b bigint",
                                 "id_a int, id_b bigint"])
def test_both_paths_return_one_schema(spark, monkeypatch, cc, ddl):
    edges = spark.createDataFrame([(1, 2), (2, 3), (7, 9)], ddl)
    driver, distributed = _run_both_paths(monkeypatch, lambda: cc(edges))
    assert driver.schema == distributed.schema
    want = "bigint" if "bigint" in ddl else "int"
    assert [t for _, t in driver.dtypes] == [want, want]
    assert _labels(driver) == _labels(distributed) == {
        1: 1, 2: 1, 3: 1, 7: 7, 9: 7}


@pytest.mark.parametrize("cc", VARIANTS)
def test_empty_edge_list(spark, cc_path, cc):
    edges = spark.createDataFrame([], "id_a bigint, id_b bigint")
    out = cc(edges)
    assert out.collect() == []
    assert out.dtypes == [("vertex", "bigint"), ("component", "bigint")]


@pytest.mark.parametrize("cc", VARIANTS)
def test_self_loops_only(spark, cc_path, cc):
    edges = spark.createDataFrame([(4, 4), (2, 2), (4, 4)],
                                  "id_a bigint, id_b bigint")
    assert _labels(cc(edges)) == {2: 2, 4: 4}


# NULL ids, as each variant has always returned them: min-label keeps a
# NULL endpoint as a vertex labelled NULL; star orients an edge with
# greatest/least, which skip NULL, so (5, NULL) becomes the self-loop
# (5, 5) and only an all-NULL edge leaves a NULL vertex
@pytest.mark.parametrize("cc, edge_rows, want", [
    (connected_components, [(5, None)], {5: 5, None: None}),
    (connected_components_star, [(5, None)], {5: 5}),
    (connected_components, [(None, None), (1, 2)],
     {None: None, 1: 1, 2: 1}),
    (connected_components_star, [(None, None), (1, 2)],
     {None: None, 1: 1, 2: 1}),
    (connected_components, [(3, None), (None, 1), (1, 2)],
     {None: None, 1: 1, 2: 1, 3: 3}),
    (connected_components_star, [(3, None), (None, 1), (1, 2)],
     {1: 1, 2: 1, 3: 3}),
])
def test_null_ids(spark, cc_path, cc, edge_rows, want):
    edges = spark.createDataFrame(edge_rows, "id_a bigint, id_b bigint")
    out = cc(edges).collect()
    assert len(out) == len(want)
    assert {r["vertex"]: r["component"] for r in out} == want


@pytest.mark.parametrize("cc", VARIANTS)
def test_distributed_rounds_fail_loudly_past_max_iter(spark, monkeypatch, cc):
    monkeypatch.setattr(dedup, "MAX_CC_EDGES", -1)
    chain = spark.createDataFrame([(i, i + 1) for i in range(40)],
                                  "id_a bigint, id_b bigint")
    with pytest.raises(ValueError,
                       match=rf"{cc.__name__}: .*max_iter=2\b"):
        cc(chain, max_iter=2)


def test_small_graph_runs_on_the_driver(spark):
    """Under the bound, building the star components launches at most
    the raw checkpoint and the bounded fetch, and collecting the result
    (a local relation) launches nothing."""
    edges = spark.createDataFrame(
        spark.sparkContext.parallelize([(1, 2), (2, 3), (10, 11)], 2),
        "id_a bigint, id_b bigint")
    n_build, out = count_jobs(
        spark, lambda: connected_components_star(edges))
    n_action, rows = count_jobs(spark, out.collect)
    assert n_build <= 2
    assert n_action == 0
    assert {r["vertex"]: r["component"] for r in rows} == {
        1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
