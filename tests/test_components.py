"""``connected_components``: edge lists up to ``_NEEDS_BROADCAST_MAX``
rows are solved on the driver, larger ones by ``connected_components_star``
rounds on the cluster. Both tiers must give the same (node, label) rows:
label = the component minimum, isolated vertices label themselves, an
edge with a null endpoint is no edge, and both columns keep the id
column's type. Setting ``_NEEDS_BROADCAST_MAX`` to -1 forces the star
tier at any size."""

from __future__ import annotations

import random

import pytest

from breweries_case_spark.operators import dedup


def _reference(edges, nodes):
    """Component minimum per node by a plain graph search."""
    adj: dict = {}
    for u, v in edges:
        if u is None or v is None:
            continue
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    label: dict = {}
    for start in adj:
        if start in label:
            continue
        comp, todo = {start}, [start]
        while todo:
            for y in adj[todo.pop()] - comp:
                comp.add(y)
                todo.append(y)
        label.update(dict.fromkeys(comp, min(comp)))
    return {(n, label.get(n, n)) for n in nodes}


def _graph(seed, span):
    """Sparse ids of both signs, self-loops, duplicate and reversed
    edges, an edge with a null endpoint, vertices without edges, and edge
    endpoints missing from the vertex set."""
    rng = random.Random(seed)
    ids = rng.sample(range(-span, span), 80)
    edges = [(rng.choice(ids), rng.choice(ids)) for _ in range(60)]
    edges += [(ids[0], ids[0]), (ids[1], ids[1])]
    edges += edges[:5] + [(v, u) for u, v in edges[5:10]]
    edges += [(ids[2], None)]
    return edges, ids[:70]


def _components(spark, edges, nodes, typ, monkeypatch, driver):
    """Labels from ``connected_components``, asserting which tier ran."""
    ran = []
    for name in ("_min_labels", "connected_components_star"):
        real = getattr(dedup, name)
        monkeypatch.setattr(
            dedup, name, lambda *a, _n=name, _f=real: ran.append(_n) or _f(*a)
        )
    if not driver:
        monkeypatch.setattr(dedup, "_NEEDS_BROADCAST_MAX", -1)
    out = dedup.connected_components(
        spark.createDataFrame(edges, f"u {typ}, v {typ}"),
        spark.createDataFrame([(n,) for n in nodes], f"node {typ}"),
    )
    got = {(r.node, r.label) for r in out.collect()}
    monkeypatch.undo()
    assert ran == ["_min_labels" if driver else "connected_components_star"]
    spark_type = {"int": "int", "long": "bigint"}[typ]
    assert out.schema.simpleString() == (
        f"struct<node:{spark_type},label:{spark_type}>"
    )
    return got


@pytest.mark.parametrize(
    "typ,span,seed", [("int", 10**6, 1), ("long", 2**40, 2)], ids=["int", "long"]
)
def test_driver_and_distributed_components_agree(spark, monkeypatch, typ, span, seed):
    edges, nodes = _graph(seed, span)
    driver = _components(spark, edges, nodes, typ, monkeypatch, driver=True)
    distributed = _components(spark, edges, nodes, typ, monkeypatch, driver=False)
    assert driver == distributed == _reference(edges, nodes)


def test_components_of_an_empty_edge_set(spark, monkeypatch):
    nodes = [-5, 0, 7]
    want = {(n, n) for n in nodes}
    for driver in (True, False):
        assert _components(spark, [], nodes, "long", monkeypatch, driver) == want


def test_star_tier_labels_a_long_shuffled_path(spark, monkeypatch):
    """A path's diameter is its length, the worst case for any tier whose
    rounds follow the diameter; star rounds are O(log n), so a 10,000-node
    path with shuffled ids converges inside the round bound and every node
    gets the path minimum."""
    rng = random.Random(11)
    ids = rng.sample(range(-(2**40), 2**40), 10_000)
    edges = list(zip(ids, ids[1:]))
    got = _components(spark, edges, ids, "long", monkeypatch, driver=False)
    assert got == {(n, min(ids)) for n in ids}


def test_driver_components_without_arrow_conversion(spark, monkeypatch):
    """A vanilla SparkSession leaves Arrow conversion off; the
    driver-side path must not depend on it."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prior = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        edges = [(3, 2), (2, 1), (10, 11), (-4, -4)]
        nodes = [1, 2, 3, 10, 11, 99, -4]
        got = _components(spark, edges, nodes, "int", monkeypatch, driver=True)
    finally:
        spark.conf.set(key, prior)
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (99, 99), (-4, -4)}


def test_broadcast_if_small_gates_on_observed_rows(spark):
    """One materialization per call; the hint follows the observed row
    count and the rows are unchanged either way."""
    df = spark.range(10).selectExpr("id % 4 AS k").distinct()

    def hinted(frame):
        return "broadcast" in frame._jdf.queryExecution().analyzed().toString()  # noqa: SLF001

    small = dedup.broadcast_if_small(df, max_rows=4)
    big = dedup.broadcast_if_small(df, max_rows=3)
    assert hinted(small) and not hinted(big)
    assert sorted(r.k for r in small.collect()) == sorted(r.k for r in big.collect()) == [0, 1, 2, 3]
