"""Driver-twin parity pins: every size-dispatched operator's driver
path must match its distributed sibling on graphs that exercise the
tie-break rules, and the one size policy (collect_if_small) must cut
exactly at its cap.

- canonical_map: driver path (LSH → cosine → components in-process)
  vs canonical_map_distributed.
- label_propagation / modularity_refine: numpy-vectorized driver loops
  vs the *_distributed rounds — integer weights (the documented
  bit-parity contract).
- pagerank: driver power iteration vs pagerank_distributed at 1e-12.
- kmeans: both paths raise on an empty input (the full parity pins
  live in test_clustering.py).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from graphrag_kb_server_spark.session import get_spark

    return get_spark("test_r06_parity", cpus=4, shuffle_partitions=4)


def test_canonical_map_driver_matches_distributed(spark):
    from graphrag_kb_server_spark.operators.linking import (
        canonical_map,
        canonical_map_distributed,
    )

    names = [
        # similar-name cluster (shared 3-grams, cosine >= 0.8)
        "Quantum Analytics Systems", "Quantum Analytic Systems",
        "Quantum Analytics System",
        # abbreviation channel
        "AI", "Artificial Intelligence",
        "KG", "Knowledge Graph",
        # singletons
        "Zebra", "Wombat Industries", "Data Mesh",
        # single-char + near-identical short names
        "Xx", "Xy",
    ] + [f"Node {i} Alpha" for i in range(30)]
    nodes = spark.createDataFrame([(n,) for n in names], "name string")
    drv = sorted(
        (r["name"], r["canonical_name"])
        for r in canonical_map(nodes).collect()
    )
    dist = sorted(
        (r["name"], r["canonical_name"])
        for r in canonical_map_distributed(nodes).collect()
    )
    assert drv == dist
    # sanity: the abbreviation collapses onto the expansion
    m = dict(drv)
    assert m["AI"] == "Artificial Intelligence"


def test_canonical_map_driver_skips_non_ascii(spark):
    from graphrag_kb_server_spark.operators.linking import (
        canonical_map,
        canonical_map_distributed,
    )

    nodes = spark.createDataFrame(
        [("Café",), ("Cafe",), ("Plain",)], "name string"
    )
    # must not crash and must match the distributed path (non-ASCII
    # vocabularies bypass the driver shortcut entirely)
    drv = sorted(
        (r["name"], r["canonical_name"])
        for r in canonical_map(nodes).collect()
    )
    dist = sorted(
        (r["name"], r["canonical_name"])
        for r in canonical_map_distributed(nodes).collect()
    )
    assert drv == dist


def _random_edges(seed: int, n_nodes: int = 40, n_edges: int = 90):
    rnd = random.Random(seed)
    seen, rows = set(), []
    while len(rows) < n_edges:
        a, b = rnd.sample(range(n_nodes), 2)
        key = (min(a, b), max(a, b))
        if key in seen:
            continue
        seen.add(key)
        rows.append((f"n{key[0]}", f"n{key[1]}", float(rnd.randint(1, 9))))
    return rows


@pytest.mark.parametrize("seed", [1, 2])
def test_lpa_vectorized_driver_matches_distributed(spark, seed):
    from graphrag_kb_server_spark.operators.communities import (
        label_propagation,
        label_propagation_distributed,
    )

    edf = spark.createDataFrame(
        _random_edges(seed), "src string, tgt string, weight double"
    )
    drv = sorted(
        (r["node"], r["label"])
        for r in label_propagation(edf, max_iterations=6).collect()
    )
    dist = sorted(
        (r["node"], r["label"])
        for r in label_propagation_distributed(edf, max_iterations=6).collect()
    )
    assert drv == dist


@pytest.mark.parametrize("seed", [3])
def test_refine_vectorized_driver_matches_distributed(spark, seed):
    from graphrag_kb_server_spark.operators.communities import (
        label_propagation,
        modularity_refine,
        modularity_refine_distributed,
    )

    edf = spark.createDataFrame(
        _random_edges(seed), "src string, tgt string, weight double"
    )
    lab = label_propagation(edf, max_iterations=6)
    kw = dict(outer_rounds=1, max_merge_passes=4, local_rounds=3)
    drv = sorted(
        (r["node"], r["label"])
        for r in modularity_refine(edf, lab, **kw).collect()
    )
    dist = sorted(
        (r["node"], r["label"])
        for r in modularity_refine_distributed(edf, lab, **kw).collect()
    )
    assert drv == dist


@pytest.mark.parametrize("num_sources", [None, 8])
def test_betweenness_driver_matches_distributed(spark, num_sources):
    from graphrag_kb_server_spark.operators.centrality import (
        approx_betweenness,
        approx_betweenness_distributed,
    )

    edf = spark.createDataFrame(
        [(a, b) for a, b, _ in _random_edges(7, n_nodes=25, n_edges=45)],
        "src string, tgt string",
    )
    drv = {
        r["name"]: round(r["centrality"], 4)
        for r in approx_betweenness(edf, num_sources=num_sources).collect()
    }
    dist = {
        r["name"]: round(r["centrality"], 4)
        for r in approx_betweenness_distributed(
            edf, num_sources=num_sources
        ).collect()
    }
    assert drv == dist


def test_collect_if_small_cuts_exactly_at_max_rows(spark):
    from graphrag_kb_server_spark.session import collect_if_small

    fits = collect_if_small(spark.range(5), max_rows=5)
    assert fits is not None and sorted(fits["id"]) == [0, 1, 2, 3, 4]
    assert collect_if_small(spark.range(6), max_rows=5) is None
    assert len(collect_if_small(spark.range(0), max_rows=0)) == 0


@pytest.mark.parametrize("with_nodes", [True, False])
def test_pagerank_driver_matches_distributed(spark, with_nodes):
    from graphrag_kb_server_spark.operators.centrality import (
        pagerank,
        pagerank_distributed,
    )

    rnd = random.Random(11)
    rows = [
        (a, b, rnd.randint(1, 9) / 4.0)
        for a, b, _ in _random_edges(11, n_nodes=20, n_edges=50)
    ]
    # a source whose out-weights sum to 0 must count as dangling
    rows += [("z", "n1", 0.0), ("z", "n2", 0.0)]
    edf = spark.createDataFrame(rows, "src string, tgt string, w double")
    names = {a for a, _, _ in rows} | {b for _, b, _ in rows}
    nodes = None
    if with_nodes:
        names.add("isolated")
        nodes = spark.createDataFrame([(n,) for n in names], "name string")
    drv = {
        r["name"]: r["rank"]
        for r in pagerank(edf, nodes=nodes, weight="w").collect()
    }
    dist = {
        r["name"]: r["rank"]
        for r in pagerank_distributed(edf, nodes=nodes, weight="w").collect()
    }
    assert drv.keys() == dist.keys() == names
    assert all(abs(drv[n] - dist[n]) <= 1e-12 for n in names)
    assert abs(sum(drv.values()) - 1.0) < 1e-9


@pytest.mark.parametrize("name", ["kmeans", "kmeans_distributed"])
def test_kmeans_empty_input_raises(spark, name):
    from graphrag_kb_server_spark.operators import clustering

    empty = spark.createDataFrame([], "id string, v array<float>")
    with pytest.raises(ValueError, match="empty"):
        getattr(clustering, name)(empty, "id", "v", k=3, iters=1)
