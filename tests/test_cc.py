import networkx as nx
import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from dedup_spark.operators.cc import connected_components


def _run_cc(spark, edge_list, node_list):
    edges = spark.createDataFrame(
        pd.DataFrame(edge_list, columns=["a", "b"])
        if edge_list
        else pd.DataFrame({"a": pd.Series(dtype=str), "b": pd.Series(dtype=str)})
    )
    nodes = spark.createDataFrame(pd.DataFrame({"image_id": node_list}))
    out = connected_components(edges, nodes).toPandas()
    return dict(zip(out.image_id, out.cluster_id))


@pytest.mark.parametrize("seed,n,m", [(0, 30, 25), (1, 60, 80), (2, 40, 10)])
def test_cc_matches_networkx(spark, seed, n, m):
    rng = np.random.default_rng(seed)
    nodes = [f"n{i:03d}" for i in range(n)]
    edges = []
    for _ in range(m):
        i, j = rng.integers(0, n, size=2)
        if i != j:
            edges.append((nodes[min(i, j)], nodes[max(i, j)]))
    got = _run_cc(spark, edges, nodes)
    g = nx.Graph()
    g.add_nodes_from(nodes)
    g.add_edges_from(edges)
    exp = {}
    for comp in nx.connected_components(g):
        root = min(comp)
        for x in comp:
            exp[x] = root
    assert got == exp
    assert len(got) == n  # every node labeled exactly once


def test_cc_chain_and_star(spark):
    # pathological shapes: long chain (max rounds) and giant star
    chain = [(f"c{i:03d}", f"c{i+1:03d}") for i in range(40)]
    star = [("s000", f"s{i:03d}") for i in range(1, 30)]
    nodes = sorted({x for e in chain + star for x in e}) + ["lonely"]
    got = _run_cc(spark, chain + star, nodes)
    assert {got[f"c{i:03d}"] for i in range(41)} == {"c000"}
    assert {got[f"s{i:03d}"] for i in range(30)} == {"s000"}
    assert got["lonely"] == "lonely"


# mixed case, non-ASCII and shared prefixes: the min id is by UTF-8 bytes
# ("Z" < "a" < "a/b" < "n000" < "é"), the order of Spark's min and of the
# DuckDB twin of docs_cc_labels
ODD_IDS = ["a", "a/b", "Z", "é", "img/É", "img/e", "img/e/1"]


def _utf8_min(ids):
    return min(ids, key=str.encode)


@pytest.mark.parametrize("local_threshold", [1_000_000, 0])
def test_cc_paths_agree(spark, local_threshold):
    """Both paths (in-task Arrow-coded union-find, iterative
    star-contraction) produce identical assignments."""
    rng = np.random.default_rng(9)
    nodes = [f"n{i:03d}" for i in range(120)] + ODD_IDS
    edges = []
    for _ in range(160):
        i, j = rng.integers(0, len(nodes), size=2)
        if i != j:
            edges.append((nodes[min(i, j)], nodes[max(i, j)]))
    # every odd id joins one component, so its root must be "Z"
    edges += list(zip(ODD_IDS, ODD_IDS[1:]))
    e_df = spark.createDataFrame(pd.DataFrame(edges, columns=["a", "b"]))
    n_df = spark.createDataFrame(pd.DataFrame({"image_id": nodes}))
    out = connected_components(
        e_df, n_df, local_threshold=local_threshold
    ).toPandas()
    got = dict(zip(out.image_id, out.cluster_id))
    g = nx.Graph()
    g.add_nodes_from(nodes)
    g.add_edges_from(edges)
    exp = {x: _utf8_min(c) for c in nx.connected_components(g) for x in c}
    assert got == exp
    assert got["é"] == "Z"


def test_label_batches_multi_chunk_and_empty():
    """The in-task path without Spark: edges spread over several Arrow
    batches (one of them empty) share one code space; no batches, or only
    empty ones, yield nothing."""
    from dedup_spark.operators.cc import _label_batches

    def batch(pairs):
        a, b = zip(*pairs) if pairs else ((), ())
        return pa.RecordBatch.from_arrays(
            [pa.array(a, pa.string()), pa.array(b, pa.string())], names=["a", "b"]
        )

    rng = np.random.default_rng(4)
    nodes = [f"x{i:03d}" for i in range(80)] + ODD_IDS
    edges = [
        (nodes[i], nodes[j])
        for i, j in rng.integers(0, len(nodes), size=(90, 2))
        if i != j
    ]
    batches = [batch(edges[k : k + 7]) for k in range(0, len(edges), 7)]
    batches.insert(3, batch([]))
    out = pa.Table.from_batches(list(_label_batches(iter(batches)))).to_pydict()
    got = dict(zip(out["image_id"], out["cluster_id"]))
    g = nx.Graph()
    g.add_edges_from(edges)
    exp = {}
    for comp in nx.connected_components(g):
        root = _utf8_min(comp)
        exp.update({x: root for x in comp if x != root})
    assert got == exp
    assert list(_label_batches(iter([]))) == []
    assert list(_label_batches(iter([batch([])]))) == []


def test_numpy_components_random_graphs():
    from dedup_spark.operators.cc import _numpy_components

    rng = np.random.default_rng(21)
    for _ in range(25):
        n = int(rng.integers(2, 200))
        m = int(rng.integers(1, 400))
        a = rng.integers(0, n, size=m).astype(np.int32)
        b = rng.integers(0, n, size=m).astype(np.int32)
        roots = _numpy_components(a, b, n)
        g = nx.Graph()
        g.add_nodes_from(range(n))
        g.add_edges_from(zip(a.tolist(), b.tolist()))
        exp = np.empty(n, dtype=np.int64)
        for comp in nx.connected_components(g):
            exp[list(comp)] = min(comp)
        assert np.array_equal(roots, exp)
