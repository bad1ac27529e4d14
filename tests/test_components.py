"""Connected components: hand-built graphs with known answers."""

import random

from dupers_spark.operators.components import (
    connected_components,
    incremental_components,
    incremental_components_delta,
    with_singletons,
)


def _assign(spark, edges):
    df = spark.createDataFrame(edges, ["a", "b"])
    return {
        r["image_id"]: r["component_id"]
        for r in connected_components(df).collect()
    }


def test_chain(spark):
    comp = _assign(spark, [("b", "c"), ("a", "b"), ("c", "d"), ("d", "e")])
    assert len(set(comp.values())) == 1
    assert set(comp) == {"a", "b", "c", "d", "e"}
    assert set(comp.values()) == {"a"}  # root = min member


def test_two_components_and_duplicate_edges(spark):
    comp = _assign(spark, [("x", "y"), ("y", "x"), ("p", "q"), ("q", "r"), ("x", "y")])
    assert comp["x"] == comp["y"] == "x"
    assert comp["p"] == comp["q"] == comp["r"] == "p"


def test_star_and_self_loop_ignored(spark):
    comp = _assign(spark, [("hub", "s1"), ("hub", "s2"), ("hub", "s3"), ("s1", "s1")])
    assert set(comp.values()) == {"hub"}


def test_long_path_converges(spark):
    n = 40
    edges = [(f"v{i:03d}", f"v{i+1:03d}") for i in range(n)]
    comp = _assign(spark, edges)
    assert set(comp.values()) == {"v000"}
    assert len(comp) == n + 1


def test_large_star_hub_component(spark):
    """Hub safety: a star component with 50k members must converge without
    materializing any per-node neighbor array (the min+join-back path) —
    the shape that OOMed collect_set formulations at scale."""
    n = 50_000
    edges = spark.range(1, n).selectExpr(
        "concat('m', lpad(cast(id as string), 6, '0')) AS a",
        "'hub0' AS b",
    )
    assign = connected_components(edges, max_iter=10)
    roots = assign.select("component_id").distinct().collect()
    assert [r["component_id"] for r in roots] == ["hub0"]
    assert assign.count() == n  # hub + n-1 members


def _full_vs_incremental(spark, monkeypatch, base_edges, base_ids,
                         delta_edges, new_ids):
    """Assert incremental_components over (base assignment, delta) equals a
    from-scratch CC over base ∪ delta edges on the union id set — on BOTH
    recluster paths: the driver union-find (default threshold) and the
    distributed star loop (forced by a 0-edge threshold; an empty
    contracted graph has nothing to distribute and stays on the driver).
    The two paths must return identical relabel and new_assign sets.
    Returns the driver path's (relabel, new_assign) sets."""
    base_df = spark.createDataFrame(base_edges or [("__x__", "__x__")], ["a", "b"])
    base_ids_df = spark.createDataFrame([(i,) for i in base_ids], ["image_id"])
    old = with_singletons(connected_components(base_df), base_ids_df)
    delta_df = spark.createDataFrame(delta_edges or [("__x__", "__x__")], ["a", "b"])
    new_ids_df = spark.createDataFrame(
        [(i,) for i in new_ids] or [("__none__",)], ["image_id"])
    if not new_ids:
        new_ids_df = new_ids_df.limit(0)
    all_df = spark.createDataFrame(
        (base_edges + delta_edges) or [("__x__", "__x__")], ["a", "b"])
    all_ids_df = spark.createDataFrame(
        [(i,) for i in (list(base_ids) + list(new_ids))], ["image_id"])
    full = with_singletons(connected_components(all_df), all_ids_df)
    want = {(r["image_id"], r["component_id"]) for r in full.collect()}
    deltas = []
    for max_edges in (None, "0"):
        if max_edges is not None:
            monkeypatch.setenv("SPARK_GRAFT_DRIVER_CC_MAX_EDGES", max_edges)
        inc = incremental_components(old, delta_df, new_ids_df)
        got = {(r["image_id"], r["component_id"]) for r in inc.collect()}
        assert got == want
        relabel, new_assign, n_relabel = incremental_components_delta(
            old, delta_df, new_ids_df)
        rel = {(r["old_lbl"], r["new_lbl"]) for r in relabel.collect()}
        assert n_relabel == len(rel) == relabel.count()
        assigned = {(r["image_id"], r["component_id"])
                    for r in new_assign.collect()}
        assert {i for i, _ in assigned} == set(new_ids)
        assert new_assign.count() == len(new_ids)
        deltas.append((rel, assigned))
    assert deltas[0] == deltas[1]
    return deltas[0]


def test_incremental_matches_full_merge_and_bridge(spark, monkeypatch):
    """Batch edges that (a) merge two old components via a new node,
    (b) merge two old components directly (old-old edge), (c) attach a new
    chain, with isolated new ids left over."""
    base_edges = [("a1", "a2"), ("a2", "a3"), ("b1", "b2"),
                  ("c1", "c2"), ("d1", "d2")]
    base_ids = ["a1", "a2", "a3", "b1", "b2", "c1", "c2", "d1", "d2", "e1"]
    delta_edges = [
        ("n1", "a3"), ("n1", "b1"),      # new node bridges comps a and b
        ("c2", "d1"),                     # old-old merge
        ("n2", "n3"),                     # new-new chain
        ("n4", "e1"),                     # attach to an old singleton
    ]
    new_ids = ["n1", "n2", "n3", "n4", "n5"]  # n5 isolated
    _full_vs_incremental(spark, monkeypatch, base_edges, base_ids,
                         delta_edges, new_ids)


def test_incremental_noop_edges_within_old_component(spark, monkeypatch):
    """Delta edges entirely inside existing components contract to
    self-loops — the assignment must come back unchanged."""
    base_edges = [("a1", "a2"), ("a2", "a3")]
    base_ids = ["a1", "a2", "a3", "z9"]
    delta_edges = [("a1", "a3"), ("a2", "a3")]
    _full_vs_incremental(spark, monkeypatch, base_edges, base_ids,
                         delta_edges, [])


def test_incremental_random_graphs_match_full(spark, monkeypatch):
    """Seeded random base/delta splits — chains of merges across many
    components, repeated batch ids, mixed old/new endpoints."""
    rng = random.Random(7)
    ids = [f"v{i:03d}" for i in range(60)]
    base_ids, new_ids = ids[:40], ids[40:]
    base_edges = [tuple(rng.sample(base_ids, 2)) for _ in range(30)]
    delta_edges = []
    for _ in range(35):
        x = rng.choice(ids)
        y = rng.choice(ids)
        if x != y and (x in base_ids or y in base_ids or True):
            delta_edges.append((x, y))
    # ensure every new id not in delta is still assigned (singleton path)
    _full_vs_incremental(spark, monkeypatch, base_edges, base_ids,
                         delta_edges, new_ids)


def test_incremental_self_loop_and_edgeless_batch_id(spark, monkeypatch):
    """A batch edge between two members of one old component contracts to
    a self-loop (nothing relabeled), a batch id joins an old component
    through one edge, and a batch id with no edge at all labels itself."""
    base_edges = [("a1", "a2"), ("a2", "a3"), ("b1", "b2")]
    base_ids = ["a1", "a2", "a3", "b1", "b2"]
    delta_edges = [("a1", "a3"), ("n1", "a2")]
    new_ids = ["n1", "n2"]
    relabel, new_assign = _full_vs_incremental(
        spark, monkeypatch, base_edges, base_ids, delta_edges, new_ids)
    assert relabel == set()
    assert new_assign == {("n1", "a1"), ("n2", "n2")}


def test_with_singletons(spark):
    pairs = spark.createDataFrame([("a", "b")], ["a", "b"])
    allids = spark.createDataFrame([("a",), ("b",), ("z",)], ["image_id"])
    assign = with_singletons(connected_components(pairs), allids)
    comp = {r["image_id"]: r["component_id"] for r in assign.collect()}
    assert comp == {"a": "a", "b": "a", "z": "z"}
