"""Connected components: equivalence with the Python BFS closure, chains,
convergence counters."""

from __future__ import annotations

import pandas as pd
import pytest

from transcript_dedup.cluster import connected_components
from transcript_dedup.config import DedupConfig
from transcript_dedup.oracle import transitive_closure


def _cc(spark, edges, driver_path=True):
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["conv_a", "conv_b"]))
    counters: dict = {}
    cfg = DedupConfig() if driver_path else DedupConfig().with_(cc_driver_threshold=0)
    out = connected_components(df, cfg, counters)
    got = {r["conv_id"]: r["component_id"] for r in out.collect()}
    return got, counters


def test_simple_chain(spark):
    got, counters = _cc(spark, [("a", "b"), ("b", "c"), ("x", "y")])
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_driver_and_distributed_paths_agree(spark):
    import numpy as np

    rng = np.random.default_rng(5)
    nodes = [f"m{i:03d}" for i in range(60)]
    edges = sorted({tuple(sorted((nodes[a], nodes[b])))
                    for a, b in rng.choice(60, size=(45, 2)) if a != b})
    fast, c1 = _cc(spark, edges, driver_path=True)
    dist, c2 = _cc(spark, edges, driver_path=False)
    assert fast == dist
    assert c1.get("cc_driver_edges") == len(edges)
    assert c2["cc_iterations"] >= 1


def test_matches_python_bfs(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    nodes = [f"n{i:03d}" for i in range(80)]
    edges = set()
    for _ in range(60):
        a, b = rng.choice(80, size=2, replace=False)
        edges.add(tuple(sorted((nodes[a], nodes[b]))))
    got, _ = _cc(spark, sorted(edges), driver_path=False)
    want = transitive_closure(edges)
    assert got == want


def test_long_path_converges(spark):
    # a path graph has maximal diameter — worst case for label propagation
    n = 33
    edges = [(f"p{i:02d}", f"p{i+1:02d}") for i in range(n - 1)]
    got, counters = _cc(spark, edges, driver_path=False)
    assert set(got.values()) == {"p00"}
    assert 1 <= counters["cc_iterations"] <= DedupConfig().cc_max_iters


def test_unconverged_labels_raise(spark):
    # one round cannot settle a 33-node path: returning its labels would
    # split the component silently
    edges = [(f"p{i:02d}", f"p{i+1:02d}") for i in range(32)]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["conv_a", "conv_b"]))
    cfg = DedupConfig().with_(cc_driver_threshold=0, cc_max_iters=1)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, cfg)
