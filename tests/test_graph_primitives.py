"""Graph primitives: connected components (both strategies), degrees,
communities."""

import random

import pytest

from graphrag_rs_spark.operators.graph import (
    communities,
    connected_components,
    degrees,
)


def _random_component_graph(seed=7, n_components=6, max_size=8):
    """Known-partition random graph: each component is a random tree plus
    a few extra intra-component edges."""
    rng = random.Random(seed)
    edges, truth = [], {}
    node_id = 0
    for c in range(n_components):
        size = rng.randint(2, max_size)
        members = [f"n{node_id + i:03d}" for i in range(size)]
        node_id += size
        for i, m in enumerate(members):
            truth[m] = members[0]  # min string id = first member
            if i:
                edges.append((m, members[rng.randrange(i)]))
        for _ in range(rng.randint(0, 2)):
            a, b = rng.sample(members, 2)
            edges.append((a, b))
    rng.shuffle(edges)
    return edges, truth


@pytest.mark.parametrize("strategy", ["local", "two_level", "distributed"])
def test_connected_components_strategies_match_truth(spark, strategy):
    edges, truth = _random_component_graph()
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["id"]: r["component"]
        for r in connected_components(df, strategy=strategy).collect()
    }
    assert got == truth


@pytest.mark.parametrize(
    "strategy", ["auto", "local", "two_level", "distributed"])
def test_connected_components_null_endpoint_is_not_an_edge(spark, strategy):
    """A row with a NULL endpoint is dropped on every strategy: no error,
    no (None, None) row, and the other endpoint joins no component."""
    df = spark.createDataFrame(
        [("a", None), ("a", "b"), (None, None)], "src string, dst string")
    got = {
        (r["id"], r["component"])
        for r in connected_components(df, strategy=strategy).collect()
    }
    assert got == {("a", "a"), ("b", "a")}


def test_auto_cc_decides_in_one_action_without_count(spark, monkeypatch):
    """The local path decides and fetches with one bounded collect; a
    separate count() would be a second Spark job per call."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    edges, truth = _random_component_graph(seed=5)
    df = spark.createDataFrame(edges, "src string, dst string")

    def banned(self):  # pragma: no cover - failure path
        raise AssertionError("connected_components counted its edges")

    monkeypatch.setattr(ClassicDataFrame, "count", banned)
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert got == truth


@pytest.mark.parametrize("strategy", ["auto", "local"])
def test_local_cc_result_is_jvm_only(spark, strategy):
    """The driver-side union-find comes back as Arrow batches held by the
    JVM: scanning it runs no Python worker."""
    edges, truth = _random_component_graph(seed=13)
    df = spark.createDataFrame(edges, "src string, dst string")
    cc = connected_components(df, strategy=strategy)
    assert "PythonRDD" not in cc._jdf.rdd().toDebugString()
    assert {r["id"]: r["component"] for r in cc.collect()} == truth


def test_local_cc_empty_result_keeps_schema(spark):
    df = spark.createDataFrame([("a", None)], "src string, dst string")
    cc = connected_components(df)
    assert cc.schema.simpleString() == "struct<id:string,component:string>"
    assert cc.collect() == []


def test_auto_cc_local_bound_counts_distinct_edges(spark, monkeypatch):
    """Exactly ``local_threshold`` distinct edges, each listed twice, stay
    on the local path; one more distinct edge leaves it."""
    import graphrag_rs_spark.operators.graph as graph_mod

    threshold = 6
    chain = [(f"x{i}", f"x{i+1}") for i in range(threshold)]
    truth = {(f"x{i}", "x0") for i in range(threshold + 1)}
    df = spark.createDataFrame(chain * 2, "src string, dst string")

    def banned(*a, **kw):  # pragma: no cover - failure path
        raise AssertionError("left the local path at the threshold")

    monkeypatch.setattr(graph_mod, "_two_level_cc", banned)
    got = {
        (r["id"], r["component"])
        for r in graph_mod.connected_components(
            df, local_threshold=threshold).collect()
    }
    assert got == truth

    def banned_local(*a, **kw):  # pragma: no cover - failure path
        raise AssertionError("stayed local above the threshold")

    monkeypatch.undo()
    monkeypatch.setattr(graph_mod, "_local_cc", banned_local)
    over = (chain + [("z1", "z2")]) * 2
    df = spark.createDataFrame(over, "src string, dst string")
    got = {
        (r["id"], r["component"])
        for r in graph_mod.connected_components(
            df, local_threshold=threshold).collect()
    }
    assert got == truth | {("z1", "z1"), ("z2", "z1")}


def test_connected_components_rejects_unknown_strategy(spark):
    # a typo like "two-level" must raise, not silently run the heaviest
    # distributed star-contraction path
    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError, match="unknown strategy"):
        connected_components(df, strategy="two-level")


def test_connected_components_auto_picks_local_for_small(spark):
    edges, truth = _random_component_graph(seed=11)
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert got == truth


def test_degrees_counts_both_endpoints(spark):
    df = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c")], "subj string, obj string"
    )
    got = {r["id"]: r["degree"] for r in degrees(df).collect()}
    assert got == {"a": 2, "b": 2, "c": 2}


def test_communities_sizes(spark):
    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "subj string, obj string"
    )
    got = {r["id"]: (r["community_id"], r["community_size"])
           for r in communities(df).collect()}
    assert got["a"] == ("a", 3) and got["c"] == ("a", 3)
    assert got["x"] == ("x", 2) and got["y"] == ("x", 2)


def test_connected_components_auto_picks_distributed_above_threshold(spark):
    """Above ``local_threshold`` auto must route executor-side (two-level
    up to its bound, star iterations past it — never a driver collect)
    and still produce min-string components."""
    edges = [(f"x{i}", f"x{i+1}") for i in range(10)] + [("z1", "z2")]
    df = spark.createDataFrame(edges, "src string, dst string")
    chain = {(f"x{i}", "x0") for i in range(11)}
    expected = chain | {("z1", "z1"), ("z2", "z1")}
    # auto → two-level band
    got = {
        (r["id"], r["component"])
        for r in connected_components(df, local_threshold=2).collect()
    }
    assert got == expected
    # auto → star iterations past the two-level bound
    got = {
        (r["id"], r["component"])
        for r in connected_components(
            df, local_threshold=2, two_level_threshold=3
        ).collect()
    }
    assert got == expected


def test_two_level_cc_spans_partitions(spark):
    """Components whose edges land in different partitions must still merge
    in the two-level path (round-2 single-task union over the contracted
    forests)."""
    edges, truth = _random_component_graph(seed=23, n_components=12)
    df = spark.createDataFrame(edges, "src string, dst string").repartition(8)
    got = {
        r["id"]: r["component"]
        for r in connected_components(df, strategy="two_level").collect()
    }
    assert got == truth


def test_auto_cc_node_count_gates_two_level(spark, monkeypatch):
    """The single merge task's input is bounded by V (distinct nodes), not
    E — so a sparse graph whose V exceeds ``two_level_max_nodes`` must
    take the star-iteration path even when E is under the edge threshold,
    and a dense E≫V graph stays on the two-level path."""
    import graphrag_rs_spark.operators.graph as graph_mod

    edges = [(f"x{i}", f"x{i+1}") for i in range(10)] + [("z1", "z2")]
    df = spark.createDataFrame(edges, "src string, dst string")
    expected = {(f"x{i}", "x0") for i in range(11)} | {
        ("z1", "z1"), ("z2", "z1")
    }

    def banned(*a, **kw):  # pragma: no cover - failure path
        raise AssertionError("two_level chosen despite V over the node gate")

    monkeypatch.setattr(graph_mod, "_two_level_cc", banned)
    got = {
        (r["id"], r["component"])
        for r in graph_mod.connected_components(
            df, local_threshold=2, two_level_max_nodes=4
        ).collect()
    }
    assert got == expected

    monkeypatch.undo()
    # dense variant: E ≫ V (every pair of 8 nodes, 28 edges > threshold 2)
    dense = [(f"n{i}", f"n{j}") for i in range(8) for j in range(i + 1, 8)]
    ddf = spark.createDataFrame(dense, "src string, dst string")
    got = {
        (r["id"], r["component"])
        for r in graph_mod.connected_components(
            ddf, local_threshold=2, two_level_max_nodes=1000
        ).collect()
    }
    assert got == {(f"n{i}", "n0") for i in range(8)}


def test_two_level_cc_intermediate_contraction_round(spark):
    """The large-input variant (n_edges hint > 2M) inserts an extra
    contraction round before the single-task merge; the star-forest-union
    argument applies recursively, so the result must be identical."""
    from graphrag_rs_spark.operators.graph import _two_level_cc

    edges, truth = _random_component_graph(seed=31, n_components=15)
    df = spark.createDataFrame(edges, "src string, dst string").repartition(8)
    got = {
        r["id"]: r["component"]
        for r in _two_level_cc(df, "src", "dst", n_edges=5_000_000).collect()
    }
    assert got == truth


def test_greedy_replay_is_seed_local_not_transitive():
    """Greedy semantics over the match edges: a seed absorbs only its OWN
    above-threshold neighbors — a chain A-B-C with no A-C edge must split
    into {A, B} and {C}, exactly like the reference's seed-based scan
    (CC would put all three together; the replay re-partitions)."""
    import pandas as pd

    from graphrag_rs_spark.operators.canonicalize import _greedy_replay_cogroup

    members = pd.DataFrame(
        {
            "entity_id": ["A", "B", "C"],
            "confidence": [0.5, 0.9, 0.7],
            "conv_id": ["c1", "c2", "c3"],
            "chunk_idx": [0, 0, 0],
            "rank": [0, 0, 0],
            "component": ["A"] * 3,
        }
    )
    edges = pd.DataFrame(
        {"component": ["A", "A"], "id1": ["A", "B"], "id2": ["B", "C"]}
    )
    out = _greedy_replay_cogroup(members, edges)
    got = dict(zip(out["entity_id"], out["cluster_id"]))
    # seed A absorbs neighbor B; C (no edge to A) seeds its own cluster;
    # canonical of {A, B} is B (higher confidence)
    assert got == {"A": "B", "B": "B", "C": "C"}


def _serial_greedy_walk_reference(members_pdf, edges_pdf):
    """The round-4 per-position serial scan, kept verbatim as the test
    oracle for the replay's earlier-neighbor walk: iterate scan positions;
    an unclustered position seeds and absorbs its unclustered neighbors;
    canonical is max by (confidence, entity_id)."""
    import numpy as np
    import pandas as pd

    n = len(members_pdf)
    ids = members_pdf["entity_id"].to_numpy()
    confs = members_pdf["confidence"].to_numpy()
    order = np.lexsort(
        (
            ids,
            members_pdf["rank"].to_numpy(),
            members_pdf["chunk_idx"].to_numpy(),
            members_pdf["conv_id"].to_numpy(),
        )
    )
    pos_of_row = np.empty(n, dtype=np.int64)
    pos_of_row[order] = np.arange(n)
    ids_by_pos = ids[order]
    confs_by_pos = confs[order]
    row_by_id = pd.Series(pos_of_row, index=ids)
    if len(edges_pdf):
        u = edges_pdf["id1"].map(row_by_id).to_numpy(dtype=np.int64)
        v = edges_pdf["id2"].map(row_by_id).to_numpy(dtype=np.int64)
        src = np.concatenate([u, v])
        dst = np.concatenate([v, u])
        e_order = np.lexsort((dst, src))
        src = src[e_order]
        dst = dst[e_order]
        offsets = np.searchsorted(src, np.arange(n + 1))
    else:
        dst = np.empty(0, dtype=np.int64)
        offsets = np.zeros(n + 1, dtype=np.int64)
    out_entity, out_cluster = [], []
    clustered = np.zeros(n, dtype=bool)
    for p in range(n):
        if clustered[p]:
            continue
        nbs = dst[offsets[p] : offsets[p + 1]]
        fresh = nbs[~clustered[nbs]]
        clustered[p] = True
        if len(fresh):
            fresh = pd.unique(fresh)
            clustered[fresh] = True
            cluster_pos = np.concatenate(([p], fresh))
        else:
            cluster_pos = np.array([p], dtype=np.int64)
        c_ids = ids_by_pos[cluster_pos]
        c_confs = confs_by_pos[cluster_pos]
        best = np.flatnonzero(c_confs == c_confs.max())
        canon = max(c_ids[best])
        out_entity.extend(c_ids)
        out_cluster.extend([canon] * len(c_ids))
    return pd.DataFrame({"entity_id": out_entity, "cluster_id": out_cluster})


def _random_replay_case(rng, n, n_edges, conv_buckets):
    """Members with colliding scan keys + random multigraph edges."""
    import pandas as pd

    members = pd.DataFrame(
        {
            "entity_id": [f"E_{i:05d}" for i in range(n)],
            "confidence": [round(rng.uniform(0.3, 1.0), 2) for _ in range(n)],
            "conv_id": [f"c{rng.randrange(conv_buckets)}" for _ in range(n)],
            "chunk_idx": [rng.randrange(3) for _ in range(n)],
            "rank": [rng.randrange(4) for _ in range(n)],
            "component": ["X"] * n,
        }
    )
    id1, id2 = [], []
    for _ in range(n_edges):
        a, b = rng.sample(range(n), 2)
        id1.append(f"E_{a:05d}")
        id2.append(f"E_{b:05d}")
    edges = pd.DataFrame({"component": "X", "id1": id1, "id2": id2})
    return members, edges


@pytest.mark.parametrize("seed,n,n_edges,conv_buckets", [
    (1, 60, 90, 10),      # sparse, many singleton-ish pieces
    (2, 60, 400, 10),     # dense hairball
    (3, 200, 300, 5),     # heavy scan-key collisions (ties broken by id)
    (4, 500, 2000, 50),   # mid-size multigraph with duplicate edges
    (11, 300, 700, 20),   # sparse mid-size multigraphs, three seeds
    (12, 300, 700, 20),
    (13, 300, 700, 20),
    (5, 50_000, 500_000, 1000),  # dense component, E = 10·V
])
def test_greedy_replay_matches_serial_walk(seed, n, n_edges, conv_buckets):
    """The replay's scan-order walk over earlier neighbors must be
    POINTWISE equal to the round-4 serial scan (which itself carries the
    reference-parity argument, string_similarity_linker.rs:79-124) on
    adversarial random multigraphs."""
    import random as _random

    from graphrag_rs_spark.operators.canonicalize import _greedy_replay_cogroup

    rng = _random.Random(seed)
    members, edges = _random_replay_case(rng, n, n_edges, conv_buckets)
    got = dict(zip(*(lambda o: (o["entity_id"], o["cluster_id"]))(
        _greedy_replay_cogroup(members, edges))))
    want = dict(zip(*(lambda o: (o["entity_id"], o["cluster_id"]))(
        _serial_greedy_walk_reference(members, edges))))
    assert got == want


def test_greedy_replay_deep_path_matches_serial_walk():
    """A scan-ordered path of length 2000 has dependency depth 2000: every
    member's decision waits on the one before it, so seeds decided late in
    the walk must still absorb their later neighbors exactly as in the
    serial walk."""
    import pandas as pd

    from graphrag_rs_spark.operators.canonicalize import _greedy_replay_cogroup

    n = 2000
    members = pd.DataFrame(
        {
            "entity_id": [f"P_{i:05d}" for i in range(n)],
            "confidence": [0.5 + (i % 3) / 10.0 for i in range(n)],
            "conv_id": [f"c{i:05d}" for i in range(n)],
            "chunk_idx": [0] * n,
            "rank": [0] * n,
            "component": ["X"] * n,
        }
    )
    edges = pd.DataFrame(
        {
            "component": "X",
            "id1": [f"P_{i:05d}" for i in range(n - 1)],
            "id2": [f"P_{i + 1:05d}" for i in range(n - 1)],
        }
    )
    out = _greedy_replay_cogroup(members, edges)
    want = _serial_greedy_walk_reference(members, edges)
    assert dict(zip(out["entity_id"], out["cluster_id"])) == dict(
        zip(want["entity_id"], want["cluster_id"])
    )
    # the path decomposes into pairs {0,1},{2,3},… — 1000 clusters
    assert out["cluster_id"].nunique() == n // 2


def test_greedy_replay_giant_component_is_linear_walk():
    """A giant component must complete as an O(E) adjacency walk with full
    member coverage — hub families merge with their satellites and no
    component-size cap truncates the result."""
    import time

    import pandas as pd

    from graphrag_rs_spark.operators.canonicalize import _greedy_replay_cogroup

    n = 50_000  # far above any plausible per-task comfort zone for O(n²)
    members = pd.DataFrame(
        {
            "entity_id": [f"E_{i:06d}" for i in range(n)],
            "confidence": [0.5 + (i % 7) / 100.0 for i in range(n)],
            "conv_id": [f"c{i:06d}" for i in range(n)],
            "chunk_idx": [0] * n,
            "rank": [0] * n,
            "component": ["E_000000"] * n,
        }
    )
    # 500 hub families of 100 members: hub ↔ satellites, plus a bridge
    # edge chaining the hubs so everything is ONE CC component
    id1, id2 = [], []
    for fam in range(500):
        hub = fam * 100
        for s in range(1, 100):
            id1.append(f"E_{hub:06d}")
            id2.append(f"E_{hub + s:06d}")
        if fam:
            id1.append(f"E_{(fam - 1) * 100 + 99:06d}")
            id2.append(f"E_{hub:06d}")
    edges = pd.DataFrame({"component": "E_000000", "id1": id1, "id2": id2})
    t0 = time.time()
    out = _greedy_replay_cogroup(members, edges)
    assert time.time() - t0 < 10.0, "adjacency walk must not be quadratic"
    assert set(out["entity_id"]) == set(members["entity_id"])
    # each hub seeds first (scan order) and absorbs its 99 satellites; the
    # bridge endpoints are satellites already clustered by their hubs, so
    # exactly 500 clusters remain
    assert out["cluster_id"].nunique() == 500
