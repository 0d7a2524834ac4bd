"""Property tests: distributed large-star/small-star connected components vs
networkx.connected_components on random edge sets (SURVEY.md §5 test plan)."""

import hashlib
import random

import networkx as nx
import pytest
from pyspark.sql import functions as F

from nama_spark.operators.cluster import connected_components, labels_for_nodes


def _nx_components(edges):
    g = nx.Graph()
    g.add_edges_from(edges)
    return {frozenset(c) for c in nx.connected_components(g)}


def _spark_components(spark, edges, threshold):
    df = spark.createDataFrame(edges, ["src", "dst"])
    labels = connected_components(df, small_graph_threshold=threshold)
    out = {}
    for r in labels.collect():
        out.setdefault(r["component"], set()).add(r["node"])
    return {frozenset(v) for v in out.values()}


# threshold=0 forces the distributed large-star/small-star path;
# a big threshold takes the adaptive driver union-find fast path
@pytest.mark.parametrize("threshold", [0, 10**6])
@pytest.mark.parametrize("seed", [0, 1, 2])
def test_cc_matches_networkx_random(spark, seed, threshold):
    rng = random.Random(seed)
    n, m = 300, 220
    nodes = [f"n{i:04d}" for i in range(n)]
    edges = [
        (rng.choice(nodes), rng.choice(nodes))
        for _ in range(m)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    assert _spark_components(spark, edges, threshold) == _nx_components(edges)


@pytest.mark.parametrize("threshold", [0, 10**6])
def test_cc_chain_and_star(spark, threshold):
    # a long chain stresses the O(log n) contraction
    chain = [(f"c{i:03d}", f"c{i+1:03d}") for i in range(60)]
    star = [("hub", f"leaf{i}") for i in range(20)]
    edges = chain + star + [("x1", "x2")]
    assert _spark_components(spark, edges, threshold) == _nx_components(edges)


@pytest.mark.parametrize("threshold", [0, 10**6])
def test_cc_component_label_is_min(spark, threshold):
    edges = [("b", "c"), ("c", "a"), ("z", "y")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: r["component"]
        for r in connected_components(df, small_graph_threshold=threshold).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "y": "y", "z": "y"}


def test_labels_for_nodes_includes_isolated(spark):
    nodes = spark.createDataFrame([("a",), ("b",), ("solo",)], ["string"])
    edges = spark.createDataFrame([("a", "b")], ["src", "dst"])
    got = {
        r["node"]: r["component"]
        for r in labels_for_nodes(nodes, edges).collect()
    }
    assert got == {"a": "a", "b": "a", "solo": "solo"}


@pytest.mark.parametrize("threshold", [0, 10**6])
def test_cc_lineage_metrics(spark, threshold):
    """The ``edges`` row counts the canonical edge set on both paths: a
    duplicate, a reversed duplicate, a self-loop and a NULL endpoint add
    nothing. Only the driver path logs ``small_graph_union_find``."""
    lineage = []
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "b"), ("b", "a"), ("b", "c"), ("c", "c"),
         ("d", None), ("x", "y")],
        "src string, dst string",
    )
    got = connected_components(
        edges, lineage=lineage, small_graph_threshold=threshold
    )
    assert dict(got.collect()) == {
        "a": "a", "b": "a", "c": "a", "x": "x", "y": "x"
    }
    assert all(e["stage"] == "cc" for e in lineage)
    assert [(e["rows"], e["value"]) for e in lineage
            if e["metric"] == "edges"] == [(3, 3.0)]
    driver = [e for e in lineage if e["metric"] == "small_graph_union_find"]
    assert len(driver) == (1 if threshold else 0)
    assert any(e["metric"] == "wall_sec" for e in lineage) == (not threshold)


def test_cc_driver_path_runs_one_job(spark):
    """Below the threshold CC is one bounded read of its pinned canonical
    edges: no checksum job and no second collect. AQE is off here because
    it submits each shuffle stage (the canonical distinct's) as a job of
    its own; with it off the whole read is one job."""
    sc = spark.sparkContext
    edges = spark.sql(
        "SELECT * FROM VALUES ('a', 'b'), ('b', 'c'), ('x', 'y') AS t(src, dst)"
    )
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup("cc_driver_path", "cc_driver_path")
    try:
        connected_components(edges)
    finally:
        sc.setJobGroup("", "")
        spark.conf.set("spark.sql.adaptive.enabled", old)
    assert len(sc.statusTracker().getJobIdsForGroup("cc_driver_path")) == 1


# ---------------------------------------------------------------------------
# delta CC: fold new edges into a persisted assignment, never re-read history
# ---------------------------------------------------------------------------

from nama_spark.operators.cluster import connected_components_delta, stable_entity_ids


def _labels_map(df):
    return {r["node"]: r["component"] for r in df.collect()}


@pytest.mark.parametrize("threshold", [0, 10**6])
@pytest.mark.parametrize("seed", [0, 1])
def test_cc_delta_equals_full_recompute(spark, seed, threshold):
    """Splitting a random edge set into base+delta and folding the delta into
    the base assignment must equal CC over the union — exactly, including the
    min-id labels, on both the distributed and the driver fast path."""
    rng = random.Random(seed)
    nodes = [f"n{i:04d}" for i in range(250)]
    edges = list({(a, b) for a, b in (
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(300)
    ) if a != b})
    rng.shuffle(edges)
    cut = len(edges) * 3 // 4
    base, delta = edges[:cut], edges[cut:]

    base_df = spark.createDataFrame(base, ["src", "dst"])
    delta_df = spark.createDataFrame(delta, ["src", "dst"])
    full_df = spark.createDataFrame(edges, ["src", "dst"])

    assign = connected_components(base_df, small_graph_threshold=threshold)
    got = connected_components_delta(
        assign, delta_df, small_graph_threshold=threshold
    )
    want = connected_components(full_df, small_graph_threshold=threshold)
    assert _labels_map(got) == _labels_map(want)


def test_cc_delta_new_nodes_and_chain_merge(spark):
    """A delta that (a) introduces brand-new nodes, (b) chains three old
    components into one, and (c) contains a no-op internal edge."""
    base = spark.createDataFrame(
        [("a", "b"), ("c", "d"), ("e", "f")], ["src", "dst"]
    )
    assign = connected_components(base)
    delta = spark.createDataFrame(
        [("b", "c"), ("d", "e"),          # chain the three old components
         ("f", "a"),                       # internal after the merges — no-op
         ("x", "y"), ("y", "a0")],         # new nodes; a0 < a becomes the min
        ["src", "dst"],
    )
    got = _labels_map(connected_components_delta(assign, delta))
    # one merged component rooted at "a" (old), one new component rooted "a0"
    assert got == {
        "a": "a", "b": "a", "c": "a", "d": "a", "e": "a", "f": "a",
        "x": "a0", "y": "a0", "a0": "a0",
    }


def test_cc_delta_isolated_new_nodes_and_empty_delta(spark):
    base = spark.createDataFrame([("a", "b")], ["src", "dst"])
    assign = connected_components(base)
    empty = spark.createDataFrame([], "src string, dst string")
    iso = spark.createDataFrame([("z",), ("a",)], ["node"])
    got = _labels_map(
        connected_components_delta(assign, empty, new_nodes=iso)
    )
    assert got == {"a": "a", "b": "a", "z": "z"}


def test_cc_delta_min_label_can_come_from_new_node(spark):
    """A delta node smaller than every old member must become the root."""
    base = spark.createDataFrame([("m", "p")], ["src", "dst"])
    assign = connected_components(base)
    delta = spark.createDataFrame([("b", "m")], ["src", "dst"])
    got = _labels_map(connected_components_delta(assign, delta))
    assert got == {"m": "b", "p": "b", "b": "b"}


def test_cc_delta_chained_batches(spark):
    """Day-over-day: folding two successive deltas equals one full solve."""
    rng = random.Random(7)
    nodes = [f"n{i:03d}" for i in range(120)]
    edges = list({(a, b) for a, b in (
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(160)
    ) if a != b})
    d0, d1, d2 = edges[:80], edges[80:120], edges[120:]
    assign = connected_components(spark.createDataFrame(d0, ["src", "dst"]))
    assign = connected_components_delta(
        assign, spark.createDataFrame(d1, ["src", "dst"])
    )
    got = connected_components_delta(
        assign, spark.createDataFrame(d2, ["src", "dst"])
    )
    want = connected_components(spark.createDataFrame(edges, ["src", "dst"]))
    assert _labels_map(got) == _labels_map(want)


# ---------------------------------------------------------------------------
# stable entity ids across re-clusterings
# ---------------------------------------------------------------------------


def _ids_map(df):
    return {r["node"]: r["entity_id"] for r in df.collect()}


def test_stable_ids_first_run_mints_deterministically(spark):
    cur = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "c")], ["node", "component"]
    )
    prev = spark.createDataFrame([], "node string, entity_id string")
    got = _ids_map(stable_entity_ids(prev, cur))
    again = _ids_map(stable_entity_ids(prev, cur))
    assert got == again
    assert got["a"] == got["b"] != got["c"]
    assert all(v.startswith("n:") for v in got.values())


def test_stable_ids_survive_label_change_and_growth(spark):
    """The component's min-member label changes (a0 joins) but the entity id
    must carry over from the previous run."""
    prev = spark.createDataFrame(
        [("a", "E1"), ("b", "E1"), ("c", "E2")], ["node", "entity_id"]
    )
    cur = spark.createDataFrame(
        [("a", "a0"), ("b", "a0"), ("a0", "a0"), ("c", "c")],
        ["node", "component"],
    )
    got = _ids_map(stable_entity_ids(prev, cur))
    assert got == {"a": "E1", "b": "E1", "a0": "E1", "c": "E2"}


def test_stable_ids_merge_takes_plurality_then_min(spark):
    """Two old entities merged: the id held by more members wins; on an exact
    tie the lexicographically smaller id wins."""
    prev = spark.createDataFrame(
        [("a", "E2"), ("b", "E2"), ("c", "E1")], ["node", "entity_id"]
    )
    cur = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "a")], ["node", "component"]
    )
    assert set(_ids_map(stable_entity_ids(prev, cur)).values()) == {"E2"}

    prev_tie = spark.createDataFrame(
        [("a", "E2"), ("c", "E1")], ["node", "entity_id"]
    )
    cur_tie = spark.createDataFrame(
        [("a", "a"), ("c", "a")], ["node", "component"]
    )
    assert set(_ids_map(stable_entity_ids(prev_tie, cur_tie)).values()) == {"E1"}


def test_stable_ids_split_keeps_id_on_bigger_half(spark):
    """An old entity split in two: the bigger fragment keeps the id, the
    smaller mints — no id ever appears on two components."""
    prev = spark.createDataFrame(
        [("a", "E1"), ("b", "E1"), ("c", "E1"), ("d", "E1"), ("e", "E1")],
        ["node", "entity_id"],
    )
    cur = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "a"), ("d", "d"), ("e", "d")],
        ["node", "component"],
    )
    got = _ids_map(stable_entity_ids(prev, cur))
    assert got["a"] == got["b"] == got["c"] == "E1"
    assert got["d"] == got["e"] != "E1"
    assert got["d"].startswith("n:")


def test_stable_ids_split_loser_never_remints_the_kept_id(spark):
    """Run 1 mints n:md5(a) for {a,b,c}; run 2 splits it into {a} and
    {b,c}. {b,c} keeps n:md5(a), so {a}'s plain mint — n:md5(a) again —
    would put one id on two components: it takes the ``.1`` suffix."""
    cur1 = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "a")], ["node", "component"]
    )
    empty = spark.createDataFrame([], "node string, entity_id string")
    ids1 = stable_entity_ids(empty, cur1)
    kept = "n:" + hashlib.md5(b"a").hexdigest()
    assert set(_ids_map(ids1).values()) == {kept}

    cur2 = spark.createDataFrame(
        [("a", "a"), ("b", "b"), ("c", "b")], ["node", "component"]
    )
    got = _ids_map(stable_entity_ids(ids1, cur2))
    assert got == {"a": kept + ".1", "b": kept, "c": kept}
    again = _ids_map(stable_entity_ids(ids1.repartition(3), cur2.repartition(5)))
    assert again == got

    # a later split of the same label: every suffix already kept is
    # skipped, and a mint that collides with nothing stays plain
    prev3 = spark.createDataFrame(
        [("a", kept + ".1"), ("d", kept + ".1"), ("e", kept + ".1"),
         ("b", kept), ("c", kept), ("f", "E9")],
        ["node", "entity_id"],
    )
    cur3 = spark.createDataFrame(
        [("a", "a"), ("b", "b"), ("c", "b"), ("d", "d"), ("e", "d"),
         ("f", "f"), ("g", "g")],
        ["node", "component"],
    )
    got3 = _ids_map(stable_entity_ids(prev3, cur3))
    assert got3 == {
        "a": kept + ".2", "b": kept, "c": kept, "d": kept + ".1",
        "e": kept + ".1", "f": "E9",
        "g": "n:" + hashlib.md5(b"g").hexdigest(),
    }


def test_stable_ids_partition_invariance(spark):
    rng = random.Random(3)
    prev_rows = [(f"n{i:03d}", f"E{rng.randrange(8)}") for i in range(100)]
    cur_rows = [(f"n{i:03d}", f"n{rng.randrange(12):03d}") for i in range(100)]
    prev = spark.createDataFrame(prev_rows, ["node", "entity_id"])
    cur = spark.createDataFrame(cur_rows, ["node", "component"])
    a = _ids_map(stable_entity_ids(prev, cur))
    b = _ids_map(stable_entity_ids(prev.repartition(7), cur.repartition(13)))
    assert a == b


# ---------------------------------------------------------------------------
# cluster cohesion audit
# ---------------------------------------------------------------------------


def test_cluster_cohesion_vs_bruteforce(spark):
    from nama_spark.operators.evaluate import cluster_cohesion

    rng = random.Random(11)
    nodes = [f"n{i:03d}" for i in range(60)]
    comp = {n: f"c{rng.randrange(6)}" for n in nodes}
    edges = list({(a, b) for a, b in (
        tuple(sorted((rng.choice(nodes), rng.choice(nodes))))
        for _ in range(150)
    ) if a != b})

    got = {
        r["cluster"]: (r["n_members"], r["n_edges_within"],
                       r["n_boundary_edges"], r["density_milli"])
        for r in cluster_cohesion(
            spark.createDataFrame(list(comp.items()), ["node", "component"]),
            spark.createDataFrame(edges, ["src", "dst"]),
        ).collect()
    }

    want = {}
    for c in set(comp.values()):
        members = [n for n in nodes if comp[n] == c]
        n = len(members)
        within = sum(1 for a, b in edges if comp[a] == c and comp[b] == c)
        boundary = sum(1 for a, b in edges if (comp[a] == c) != (comp[b] == c))
        dens = (2000 * within) // (n * (n - 1)) if n > 1 else 1000
        want[c] = (n, within, boundary, dens)
    assert got == want


def test_cluster_cohesion_flags_chain_merge(spark):
    """A chain-merged cluster (CC's over-merge smell) must score much lower
    density than a clique of the same size."""
    from nama_spark.operators.evaluate import cluster_cohesion

    chain = [(f"a{i}", f"a{i+1}") for i in range(5)]           # 6 nodes, 5 edges
    clique = [(f"b{i}", f"b{j}") for i in range(6) for j in range(i + 1, 6)]
    clusters = spark.createDataFrame(
        [(f"a{i}", "A") for i in range(6)] + [(f"b{i}", "B") for i in range(6)],
        ["node", "component"],
    )
    edges = spark.createDataFrame(chain + clique, ["src", "dst"])
    got = {r["cluster"]: r["density_milli"]
           for r in cluster_cohesion(clusters, edges).collect()}
    assert got["B"] == 1000 and got["A"] == (2000 * 5) // 30 == 333
