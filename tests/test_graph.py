"""Fixed-point PageRank (datalib/graph.py): numpy reference parity, the
SQL twin, and rank-ordering sanity."""

import numpy as np
import pandas as pd
import pytest


def _np_pagerank(edges, iters, d_num=85, d_den=100, scale=1_000_000):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    deg = {}
    for u, _ in edges:
        deg[u] = deg.get(u, 0) + 1
    r = {n: scale for n in nodes}
    for _ in range(iters):
        contrib = {n: 0 for n in nodes}
        for u, v in edges:
            contrib[v] += r[u] // deg[u]
        r = {n: ((d_den - d_num) * scale + d_num * contrib[n]) // d_den
             for n in nodes}
    return r, idx


def test_pagerank_matches_numpy_reference(spark):
    from nifi_spark.datalib.graph import pagerank
    rng = np.random.default_rng(2)
    edges = [(int(rng.integers(0, 30)), int(rng.integers(0, 30)))
             for _ in range(200)]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    got = {r["node"]: r["rank"]
           for r in pagerank(df, iters=4, partitions=4).collect()}
    exp, _ = _np_pagerank(edges, 4)
    assert got == exp


def test_pagerank_hub_ranks_highest(spark):
    from nifi_spark.datalib.graph import pagerank
    # star into node 0, whose single out-link feeds node 1: both the hub
    # and its sole target must crush the leaf nodes (which get teleport
    # mass only); node 1 ends highest because 0 passes ALL its mass on
    edges = [(i, 0) for i in range(1, 20)] + [(0, 1)]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    ranks = {r["node"]: r["rank"] for r in pagerank(df, iters=6).collect()}
    assert ranks[1] == max(ranks.values())
    assert ranks[0] > 5 * ranks[2]
    assert all(ranks[n] == ranks[2] for n in range(2, 20))  # teleport only


def test_pagerank_oracle_sql_replays_iterations(spark):
    import duckdb
    from nifi_spark.datalib.graph import pagerank, pagerank_oracle_sql
    rng = np.random.default_rng(7)
    edges = [(int(rng.integers(0, 25)), int(rng.integers(0, 25)))
             for _ in range(120)]
    pdf = pd.DataFrame(edges, columns=["src", "dst"])
    got = pagerank(spark.createDataFrame(pdf), iters=3).toPandas() \
        .sort_values("node").reset_index(drop=True)
    con = duckdb.connect()
    con.register("t", pdf)
    exp = con.execute(pagerank_oracle_sql(
        "SELECT src, dst FROM t", iters=3)).df() \
        .sort_values("node").reset_index(drop=True)
    assert (got["node"].to_numpy() == exp["node"].to_numpy()).all()
    assert (got["rank"].to_numpy() == exp["rank"].to_numpy()).all()


def test_pagerank_dangling_nodes_get_teleport_only(spark):
    from nifi_spark.datalib.graph import pagerank
    # 1 -> 2; node 2 has no out-links but must keep the teleport term
    df = spark.createDataFrame(pd.DataFrame([(1, 2)], columns=["src", "dst"]))
    ranks = {r["node"]: r["rank"] for r in pagerank(df, iters=2).collect()}
    scale = 1_000_000
    r1_1 = (15 * scale + 85 * 0) // 100                 # 150000
    r1_2 = (15 * scale + 85 * (scale // 1)) // 100      # 1000000
    assert ranks[1] == (15 * scale + 0) // 100 == r1_1
    assert ranks[2] == (15 * scale + 85 * (r1_1 // 1)) // 100
    assert r1_2 == scale  # sanity of the fixed-point arithmetic


def _uf_components(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min id per component
    comp = {}
    for n in nodes:
        r = find(n)
        comp.setdefault(r, []).append(n)
    return {n: min(ns) for r, ns in comp.items() for n in ns}


def test_connected_components_random_vs_union_find(spark):
    from nifi_spark.datalib.graph import connected_components
    import random
    rnd = random.Random(7)
    nodes = list(range(120))
    edges = [(rnd.randrange(120), rnd.randrange(120)) for _ in range(90)]
    edges += [(n, n) for n in (3, 77)]          # self loops are no-ops
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    got = {r["node"]: r["component"]
           for r in connected_components(df).collect()}
    present = sorted({x for e in edges for x in e})
    exp = _uf_components(edges, present)
    assert got == exp


def test_connected_components_adversarial_path(spark):
    """A 500-node path — the O(diameter) killer for label propagation —
    must converge inside the star algorithm's O(log n) round budget."""
    from nifi_spark.datalib.graph import connected_components
    edges = [(i, i + 1) for i in range(499)]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    out = connected_components(df, max_iters=12).collect()
    assert len(out) == 500
    assert all(r["component"] == 0 for r in out)


def test_connected_components_raises_when_out_of_rounds(spark):
    """A path that needs more rounds than `max_iters` allows raises
    instead of returning unconverged components."""
    from nifi_spark.datalib.graph import connected_components
    edges = [(i, i + 1) for i in range(499)]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    with pytest.raises(RuntimeError, match="did not converge in 3 rounds"):
        connected_components(df, max_iters=3)
