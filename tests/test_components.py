"""Connected components: contraction + star fixpoint vs union-find ground
truth, in both edge-partition regimes: coalesced (AQE folds a small edge
relation into one partition, which contracts to the fixpoint at round 0)
and split (coalescing off, so the star rounds finish what the per-partition
contraction leaves)."""

from __future__ import annotations

import tracemalloc

import numpy as np
import pyarrow as pa
import pytest

from relieff_lsh_spark.operators import components
from relieff_lsh_spark.operators.components import (
    _is_star_forest,
    connected_components,
    pair_recall,
)
from relieff_lsh_spark.plans.oracle import UnionFind


@pytest.fixture
def split_partitions(spark):
    """The multi-partition regime: with AQE coalescing off a small edge
    relation stays spread over 6 shuffle partitions, each partition
    contracts on its own, and the star rounds run. The count is fixed, so
    the spread does not depend on the host's cores; 6 puts the two edges of
    each input of test_star_forest_test_is_exact in different partitions
    (4 and 8 hash the 3-path's edges into one partition, which contracts
    to the fixpoint). Restores the session's settings."""
    conf = {
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.shuffle.partitions": "6",
    }
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    yield
    for k, v in old.items():
        spark.conf.set(k, v)


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


def _uf_roots(vertices, edges):
    uf = UnionFind(vertices)
    for a, b in edges:
        uf.union(a, b)
    return {x: uf.find(x) for x in vertices}


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
    "make_edges, split",
    [
        pytest.param(f, split, id=f.__name__ + ("-split" if split else ""))
        for split in (False, True)
        for f in (_random_edges, _long_path, _cycles, _duplicate_and_reversed)
    ],
)
def test_matches_union_find(spark, request, make_edges, split):
    if split:
        request.getfixturevalue("split_partitions")
    vertices = [f"n{i:03d}" for i in range(120)]
    edges = make_edges(vertices)
    got, res = _run(spark, edges, vertices)
    assert got == _uf_roots(vertices, edges)
    assert res.converged
    if not split:
        assert res.iterations == 0  # one partition contracts to the fixpoint


def _contract(edges, id_type=pa.string(), batch_rows=512):
    """Run the contraction kernel over one partition of `edges`, oriented
    u > v as the entry distinct leaves them, in Arrow batches of
    `batch_rows`: the (child, root) edges it emits."""
    u = pa.array([max(a, b) for a, b in edges if a != b], id_type)
    v = pa.array([min(a, b) for a, b in edges if a != b], id_type)
    part = pa.table({"u": u, "v": v}).to_batches(max_chunksize=batch_rows)
    out = list(components._contract_partition(iter(part)))
    return [(x, y) for b in out for x, y in zip(b["u"].to_pylist(), b["v"].to_pylist())]


def _stars(vertices, edges):
    """The star forest of `edges`: each vertex an edge touches, except its
    component's minimum, points at that minimum."""
    roots = _uf_roots(vertices, edges)
    return {x: roots[x] for e in edges for x in e if roots[x] != x}


@pytest.mark.parametrize(
    "make_edges", [_random_edges, _long_path, _cycles, _duplicate_and_reversed]
)
def test_contract_kernel_matches_union_find(make_edges):
    """One block: every touched vertex but its component's minimum gets
    exactly one edge, to that minimum — the star forest of the input."""
    vertices = [f"n{i:03d}" for i in range(120)]
    edges = make_edges(vertices)
    out = _contract(edges)
    assert len(dict(out)) == len(out)  # one parent per child
    assert dict(out) == _stars(vertices, edges)


def test_contract_kernel_int64_ids():
    # distinct ids spread over the int64 range, negatives included
    ids = [int(x) for x in np.unique(np.random.default_rng(8).integers(-2**62, 2**62, 120))]
    edges = _random_edges(ids)
    got = dict(_contract(edges, pa.int64()))
    assert got == _stars(ids, edges)
    assert all(isinstance(x, int) for x in got.values())


def test_contract_kernel_roots_by_utf8_bytes():
    """Spark orders strings by their UTF-8 bytes. U+FF5E sorts before
    U+1F600 there, and after it in UTF-16 (Java String) order."""
    lo, hi = "k\uff5e", "k\U0001f600"
    assert lo.encode() < hi.encode() and lo.encode("utf-16-be") > hi.encode("utf-16-be")
    edges = [(hi, "z\u00e9"), ("z\u00e9", lo), ("\u00e9a", "\u00e9b")]
    got = dict(_contract(edges))
    assert got == {hi: lo, "z\u00e9": lo, "\u00e9b": "\u00e9a"}


def test_contract_kernel_empty_partition():
    assert list(components._contract_partition(iter([]))) == []
    empty = pa.table({"u": pa.array([], pa.string()), "v": pa.array([], pa.string())})
    assert list(components._contract_partition(iter(empty.to_batches()))) == []


def test_contract_kernel_over_several_blocks(monkeypatch):
    """A partition larger than one block is contracted block by block, each
    block at most CONTRACT_BLOCK edges: a vertex may then get one parent
    per block, but every edge still points down, the output is no larger
    than the input, and the components are the input's."""
    monkeypatch.setattr(components, "CONTRACT_BLOCK", 64)
    sizes = []
    block = components._contract_block

    def counted(t):
        sizes.append(t.num_rows)
        return block(t)

    monkeypatch.setattr(components, "_contract_block", counted)
    vertices = [f"n{i:03d}" for i in range(120)]
    edges = _duplicate_and_reversed(vertices)
    n_in = sum(a != b for a, b in edges)
    out = _contract(edges, batch_rows=50)
    assert max(sizes) == 64 and sum(sizes) == n_in
    assert all(u > v for u, v in out) and len(out) <= n_in
    assert len({u for u, _ in out}) < len(out)  # some child has two parents
    assert _uf_roots(vertices, out) == _uf_roots(vertices, edges)


def test_contract_kernel_memory_bounded_by_one_block():
    """Peak traced memory over an 8-block partition stays at one block's
    (about 5 MiB at CONTRACT_BLOCK = 65,536 edges): batches are consumed
    as they arrive, and a finished block's arrays are freed."""
    def partition(n_blocks):
        rng = np.random.default_rng(11)
        for _ in range(n_blocks * components.CONTRACT_BLOCK // 512):
            x, y = rng.integers(0, 10**6, 512), rng.integers(0, 10**6, 512)
            yield pa.record_batch(
                [pa.array(np.maximum(x, y)), pa.array(np.minimum(x, y))], names=["u", "v"]
            )

    def peak(n_blocks):
        tracemalloc.start()
        try:
            rows = sum(b.num_rows for b in components._contract_partition(partition(n_blocks)))
            return rows, tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()

    peak(1)  # first use of the Arrow kernels allocates once
    rows_one, one = peak(1)
    rows_many, many = peak(8)
    assert rows_many > 7 * rows_one  # eight blocks of contracted output
    assert one < 8 * 2**20, f"one block: {one / 2**20:.1f} MiB"
    assert many < 1.2 * one, f"{many / 2**20:.1f} vs {one / 2**20:.1f} MiB"


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


def test_star_forest_test_is_exact(spark, split_partitions):
    """Not a star forest: a child with two parents, or a parent that is a
    child (a 3-path). Both need star rounds and end at the minimum."""
    vertices = ["a", "b", "c", "d"]
    for edges in ([("a", "c"), ("b", "c")], [("a", "b"), ("b", "c")]):
        state = spark.createDataFrame([(max(x, y), min(x, y)) for x, y in edges], ["u", "v"])
        assert not _is_star_forest(state)
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


def test_resume_from_round_checkpoint(spark, tmp_path, monkeypatch, split_partitions):
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


def test_rerun_with_same_round_budget_makes_progress(
    spark, tmp_path, monkeypatch, split_partitions
):
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


def test_checkpoint_cadence_odd_interval(spark, tmp_path, monkeypatch, split_partitions):
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


@pytest.mark.parametrize("split", [False, True], ids=["coalesced", "split"])
def test_long_path_converges_within_round_cap(spark, request, split):
    """Adversarial diameter (round-4 VERDICT optional #7): a path graph of
    diameter 400 >> MAX_ROUNDS=25. Plain min-label propagation needs
    O(diameter) rounds and would hit the cap unconverged — the round-2
    defect class. The star algorithm's O(log n) contraction must converge
    well inside the cap and label every vertex with the global minimum."""
    if split:
        request.getfixturevalue("split_partitions")
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
