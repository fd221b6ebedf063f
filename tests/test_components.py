"""Connected components: propagation fixpoint vs union-find ground truth."""

from __future__ import annotations

import pytest

from relieff_lsh_spark.operators import components
from relieff_lsh_spark.operators.components import connected_components, pair_recall
from relieff_lsh_spark.plans.oracle import UnionFind


def _budget(monkeypatch, max_rounds, checkpoint_every):
    """A short round budget and checkpoint cadence, so a small path graph
    runs out of rounds."""
    monkeypatch.setattr(components, "MAX_ROUNDS", max_rounds)
    monkeypatch.setattr(components, "CHECKPOINT_EVERY", checkpoint_every)


def _run(spark, edges, vertices):
    e = spark.createDataFrame(edges, ["a", "b"])
    v = spark.createDataFrame([(x,) for x in vertices], ["clip_id"])
    res = connected_components(e, v)
    return {r["clip_id"]: r["component_id"] for r in res.components.collect()}, res


def test_chain_and_singletons(spark):
    vertices = [f"v{i}" for i in range(8)]
    edges = [("v0", "v1"), ("v1", "v2"), ("v2", "v3"), ("v5", "v6")]
    got, res = _run(spark, edges, vertices)
    assert res.converged
    assert got["v0"] == got["v1"] == got["v2"] == got["v3"] == "v0"
    assert got["v5"] == got["v6"] == "v5"
    assert got["v4"] == "v4" and got["v7"] == "v7"


def _random_edges(vertices):
    import numpy as np

    rng = np.random.default_rng(3)
    edges = []
    for _ in range(100):
        i, j = rng.integers(0, len(vertices), 2)
        if i != j:
            edges.append(tuple(sorted((vertices[i], vertices[j]))))
    return edges


def _long_path(vertices):
    # shuffled ids along the path, so it is not ordered by id
    order = sorted(vertices, key=lambda x: (int(x[1:]) * 37) % len(vertices))
    return list(zip(order, order[1:]))


def _cycles(vertices):
    # three cycles of 40 vertices each
    return [
        (vertices[c + i], vertices[c + (i + 1) % 40])
        for c in range(0, 120, 40) for i in range(40)
    ]


def _duplicate_and_reversed(vertices):
    # every edge of a random graph three times: as is, reversed, repeated
    base = _random_edges(vertices)
    return base + [(b, a) for a, b in base] + base[::2]


@pytest.mark.parametrize(
    "make_edges", [_random_edges, _long_path, _cycles, _duplicate_and_reversed]
)
def test_matches_union_find(spark, make_edges):
    vertices = [f"n{i:03d}" for i in range(120)]
    edges = make_edges(vertices)
    got, res = _run(spark, edges, vertices)
    uf = UnionFind(vertices)
    for a, b in edges:
        uf.union(a, b)
    want = {v: uf.find(v) for v in vertices}
    assert got == want
    assert res.converged


def test_star_forest_input_converges_in_zero_rounds(spark):
    """A star forest is the fixpoint: 2-clip components, and stars whose
    root is the minimum id, converge without a single star round."""
    vertices = [f"s{i:02d}" for i in range(12)]
    edges = [("s00", "s01"), ("s03", "s02"),            # 2-clip components
             ("s04", "s05"), ("s04", "s06"), ("s07", "s04")]  # star at s04
    got, res = _run(spark, edges, vertices)
    assert res.converged and res.iterations == 0
    assert got["s01"] == "s00" and got["s03"] == "s02"
    assert all(got[v] == "s04" for v in ("s04", "s05", "s06", "s07"))
    assert all(got[v] == v for v in ("s08", "s09", "s10", "s11"))


def test_star_forest_test_is_exact(spark):
    """Not a star forest: a child with two parents, or a parent that is a
    child (a 3-path). Both need star rounds and end at the minimum."""
    vertices = ["a", "b", "c", "d"]
    for edges in ([("a", "c"), ("b", "c")], [("a", "b"), ("b", "c")]):
        got, res = _run(spark, edges, vertices)
        assert res.converged and res.iterations > 0
        assert got == {"a": "a", "b": "a", "c": "a", "d": "d"}


def test_pair_recall_contingency(spark):
    oracle = spark.createDataFrame(
        [("a", "g1"), ("b", "g1"), ("c", "g1"), ("d", "g2"), ("e", "g2"), ("f", "g3")],
        ["clip_id", "component_id"],
    )
    # result splits g1 into {a,b} + {c}: catches 1 of g1's 3 pairs + g2's 1 pair
    result = spark.createDataFrame(
        [("a", "r1"), ("b", "r1"), ("c", "r2"), ("d", "r3"), ("e", "r3"), ("f", "r4")],
        ["clip_id", "component_id"],
    )
    m = pair_recall(result, oracle)
    assert m["oracle_pairs"] == 4.0
    assert m["agree_pairs"] == 2.0
    assert m["recall"] == 0.5
    assert m["precision"] == 1.0


def test_resume_from_round_checkpoint(spark, tmp_path, monkeypatch):
    """Kill-mid-fixpoint resume: a run cut off by its round budget leaves
    persisted round state; a fresh call with the same checkpoint_dir
    continues from it (storage-backed, not executor-pinned localCheckpoint
    blocks)."""
    import os

    # a path graph needs several star rounds to collapse
    vertices = [f"p{i:02d}" for i in range(24)]
    edges = [(vertices[i], vertices[i + 1]) for i in range(23)]
    e = spark.createDataFrame(edges, ["a", "b"])
    v = spark.createDataFrame([(x,) for x in vertices], ["clip_id"])
    ckpt = str(tmp_path / "rounds")

    _budget(monkeypatch, 2, 1)
    partial = connected_components(e, v, checkpoint_dir=ckpt)
    assert not partial.converged
    assert os.path.exists(os.path.join(ckpt, "round_2", "_SUCCESS"))

    _budget(monkeypatch, 25, 1)
    resumed = connected_components(e, v, checkpoint_dir=ckpt)
    assert resumed.converged
    assert resumed.iterations > 2  # continued counting from the saved round
    got = {r["clip_id"]: r["component_id"] for r in resumed.components.collect()}
    assert all(c == "p00" for c in got.values())


def test_rerun_with_same_round_budget_makes_progress(spark, tmp_path, monkeypatch):
    """A call that runs out of rounds is retried with the SAME budget (the
    pipeline cannot raise it): each retry gets a fresh budget counted from
    the round it resumed at, so the rounds keep advancing and a long path
    converges on a later call. A budget counted from round 0 would leave
    every retry at the resumed round, unconverged."""
    n = 200
    ids = [f"p{i:03d}" for i in range(n)]
    e = spark.createDataFrame([(ids[i], ids[i + 1]) for i in range(n - 1)], ["a", "b"])
    v = spark.createDataFrame([(x,) for x in ids], ["clip_id"])
    ckpt = str(tmp_path / "rounds_retry")

    _budget(monkeypatch, 4, 1)
    rounds = []
    res = connected_components(e, v, checkpoint_dir=ckpt)
    rounds.append(res.iterations)
    assert not res.converged  # path-200 needs more than 4 rounds
    while not res.converged and len(rounds) < 6:
        res = connected_components(e, v, checkpoint_dir=ckpt)
        rounds.append(res.iterations)
    assert res.converged, rounds
    assert rounds == sorted(set(rounds)), rounds  # every call advanced
    got = {r["clip_id"]: r["component_id"] for r in res.components.collect()}
    assert got == {x: ids[0] for x in ids}


def test_checkpoint_cadence_odd_interval(spark, tmp_path, monkeypatch):
    """CHECKPOINT_EVERY is honored in rounds even though the loop advances
    the round counter by 2 per pass: with a cadence of 3 a long-diameter
    graph must persist a round no later than round 4 (the first pass where
    rounds-since-last-checkpoint >= 3). The pre-fix `it % CHECKPOINT_EVERY`
    test would first fire at round 6."""
    import os

    vertices = [f"c{i:02d}" for i in range(40)]
    edges = [(vertices[i], vertices[i + 1]) for i in range(39)]
    e = spark.createDataFrame(edges, ["a", "b"])
    v = spark.createDataFrame([(x,) for x in vertices], ["clip_id"])
    ckpt = str(tmp_path / "rounds_odd")

    _budget(monkeypatch, 4, 3)
    res = connected_components(e, v, checkpoint_dir=ckpt)
    assert not res.converged  # path-40 needs more than 4 rounds
    assert os.path.exists(os.path.join(ckpt, "round_4", "_SUCCESS"))


def test_long_path_converges_within_round_cap(spark):
    """Adversarial diameter (round-4 VERDICT optional #7): a path graph of
    diameter 400 >> MAX_ROUNDS=25. Plain min-label propagation needs
    O(diameter) rounds and would hit the cap unconverged — the round-2
    defect class. The star algorithm's O(log n) contraction must converge
    well inside the cap and label every vertex with the global minimum."""
    n = 401
    ids = [f"p{i:04d}" for i in range(n)]
    e = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(n - 1)], ["a", "b"]
    )
    v = spark.createDataFrame([(x,) for x in ids], ["clip_id"])
    res = connected_components(e, v)
    assert res.converged
    assert res.iterations <= 25, res.iterations
    got = {(r["clip_id"], r["component_id"]) for r in res.components.collect()}
    assert got == {(x, ids[0]) for x in ids}


def test_pair_recall_disjoint_vertex_sets(spark):
    """pair_recall semantics under vertex-set mismatch (pins the one-job
    full-outer rewrite): oracle-only clips still count toward oracle_pairs
    (missed -> recall loss) and result-only clips toward result_pairs
    (precision loss), exactly as the old per-side aggregates did."""
    oracle = spark.createDataFrame(
        [("x1", "g"), ("x2", "g"), ("x3", "g")], ["clip_id", "component_id"]
    )
    # result knows x1/x2 (same group) but never saw x3; adds y1/y2 pair
    result = spark.createDataFrame(
        [("x1", "g"), ("x2", "g"), ("y1", "h"), ("y2", "h")],
        ["clip_id", "component_id"],
    )
    m = pair_recall(result, oracle)
    assert m["oracle_pairs"] == 3.0   # C(3,2) — x3 still counted
    assert m["result_pairs"] == 2.0   # C(2,2)=1 + C(2,2)=1 — y pair counted
    assert m["agree_pairs"] == 1.0    # only (x1,x2) agreed
    assert m["recall"] == 1.0 / 3.0
    assert m["precision"] == 0.5
