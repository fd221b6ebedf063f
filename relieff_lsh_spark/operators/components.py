"""Connected components: a partition-local contraction, then
large-star/small-star rounds on DataFrames.

Replaces the reference's per-key neighbor aggregation (groupByKey + bounded
neighbor lists, ReliefFFeatureSelector.scala:141-150) with the aggregation a
dedup pipeline needs: every clip gets the minimum clip_id reachable through
verified duplicate edges (SURVEY.md §3.3, §7.1 M6).

Contraction (Łącki, Mirrokni and Włodarczyk, "Connected Components at Scale
via Local Contractions", 2018): one narrow `mapInArrow` pass runs a
vectorized union-find over each edge partition, in blocks of at most
CONTRACT_BLOCK edges, and replaces the block by one child -> block-minimum
edge per non-root vertex. Every output edge joins two vertices of one
component and every block edge's endpoints stay joined, so the components
are unchanged; the output is never larger than the input. AQE coalesces a
dedup-sized edge relation into one partition, where the output already is
the star forest the rounds below converge to: the fixpoint stops at round
0, and the stage pays no round's jobs. At scale a vertex seen in several
partitions or blocks gets several parents, and the star rounds finish the
job on the contracted graph.

Star rounds (Kiveris et al., "Connected Components in MapReduce and
Beyond"): alternate
  large-star: every node's larger neighbors re-attach to the minimum of its
              closed neighborhood
  small-star: every node and its smaller neighbors attach to that minimum
until the edge set is a fixpoint (a forest of stars rooted at each
component's minimum id). Converges in O(log n) rounds vs O(diameter) for
plain min-label propagation — and, critically for scale, each round
shuffles only the EDGE relation (duplicate pairs), never the full vertex
set. Vertices untouched by any edge are singletons and join in exactly
once at the end.

Convergence test: the loop stops as soon as the edge state is a star
forest — every child has exactly one parent and no parent is a child (one
grouped aggregate, `_is_star_forest`). Every state edge points from a
larger to a smaller id and both the contraction and the star rounds
preserve connectivity, so a star forest is exactly the fixpoint, rooted at
component minima: the test is exact and costs no extra round to confirm.

Lineage/restart discipline: each round the edge state is truncated with
localCheckpoint; when `checkpoint_dir` is given, every CHECKPOINT_EVERY-th
round ALSO writes the state to parquet (the reference's persisted-graph
resume, R:262/336) and a fresh call resumes from the newest valid round —
on a real cluster localCheckpoint blocks die with their executor, so the
fixpoint loop needs storage-backed checkpoints to survive restarts. A
resumed state is already contracted and goes straight to the star rounds.
Each call runs at most MAX_ROUNDS rounds counted from the round it resumed
at, so a call that runs out of rounds leaves a checkpoint the next call
continues from.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

# Tuning note (round 5): disabling AQE for the fixpoint loop — on the
# theory that AQE's per-exchange materialization jobs are pure driver
# latency for a tiny edge relation — was tried and measured 8x SLOWER
# (21-24s -> 167-170s on a 200k-edge synthetic at local[8], eager and lazy
# checkpoints alike): without AQE the round-over-round localCheckpoint
# lineage truncation stops holding the executed plan to O(1) stages per
# round and the static 32/64-partition exchanges lose coalescing. The
# AQE + lazy-checkpoint shape below is load-bearing, not incidental. What
# actually fixed the stage's 2->8-core latency was (a) spark.locality.wait=0
# (session.py): each tiny stage sat a full 3s locality timeout before
# launching its first task on cached fixpoint blocks; and (b) expressing
# each star round's min-per-key as a WINDOW over the edge relation instead
# of groupBy + join-back — one exchange per round instead of two, measured
# (BENCH/_work, 392k-edge synthetic incl. a 250k-node tree and a
# 2k-diameter path, interleaved best-of-2) 41.4s -> 29.5s at local[8] and
# 60.1s -> 51.6s at local[2], identical outputs and round count.
#
# Barrier depth, re-measured at the window-star version (same synthetic
# shape, local[8]): 1 and 2 star pairs per barrier are equivalent within
# host noise (bests 11.9-13.9s vs 14.1-14.3s across two interleaved
# sessions), 3-4 are clearly WORSE (19.6s/28.8s — deeper lazy composition
# costs more in plan depth/AQE materialization than the saved
# convergence-test actions). It stays 2: every recorded scaling/bench
# artifact ran it, and 1 is not a demonstrated win.
PAIRS_PER_BARRIER = 2  # star (large+small) pairs composed lazily per
# materialization barrier/convergence test; the fixpoint is latency-bound so
# fewer barriers = less fixed cost, at the price of up to
# PAIRS_PER_BARRIER-1 wasted (cheap, already-converged) rounds after the
# true fixpoint

# Round budget of one call, counted from the round it resumed at. The star
# fixpoint converges in O(log n) rounds (~8 on the 92k-diameter bench
# component), so 25 is a guard against a non-converging loop, not a limit a
# dedup graph reaches.
MAX_ROUNDS = 25
# Rounds between storage-backed checkpoints: one mid-fixpoint write for
# the round counts dedup graphs exhibit — the restart-protection/extra-write
# trade-off round 2 effectively ran with.
CHECKPOINT_EVERY = 10
# Edges one contraction block holds. Memory: the block's ids, their sorted
# dictionary and a few int64 arrays over its vertices — a few MiB per
# Python worker however large the partition is. Size: a multiple of the
# 512-row Arrow batches, and more than the edges of the ~1 MiB partitions
# AQE coalesces a small edge relation into, so such a partition is one
# block and contracts to its star forest in one pass.
CONTRACT_BLOCK = 1 << 16


@dataclass
class ComponentsResult:
    components: DataFrame   # (clip_id, component_id)
    iterations: int
    converged: bool


def _min_roots(a: np.ndarray, b: np.ndarray, n: int) -> np.ndarray:
    """Union-find over nodes 0..n-1 (numbered in id order) and edges
    (a[i], b[i]): root[x] is the smallest node of x's component. Each pass
    hooks every root that has an edge into another tree onto the smallest
    such root, then jumps pointers until every node points at its root.
    Parents only ever point at smaller nodes, so each tree's root is its
    minimum and no pass can close a cycle."""
    root = np.arange(n, dtype=np.int64)
    while True:
        ra, rb = root[a], root[b]
        cross = ra != rb
        if not cross.any():
            return root
        ra, rb = ra[cross], rb[cross]
        np.minimum.at(root, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            jumped = root[root]
            if np.array_equal(jumped, root):
                break
            root = jumped


def _contract_block(block: pa.Table) -> pa.RecordBatch:
    """One block of edges (u, v) -> one (child, block-minimum) edge per
    vertex that is not its block component's minimum. The ids are ranked
    by Arrow's sort, which orders strings by UTF-8 bytes and integers by
    value, as Spark's least/greatest do."""
    ends = pa.chunked_array(block["u"].chunks + block["v"].chunks, block["u"].type)
    ids = pc.unique(ends)
    ids = ids.take(pc.sort_indices(ids))
    node = pc.index_in(ends, value_set=ids).to_numpy()
    m = block.num_rows
    root = _min_roots(node[:m], node[m:], len(ids))
    child = np.flatnonzero(root != np.arange(len(ids)))
    return pa.RecordBatch.from_arrays(
        [ids.take(child), ids.take(root[child])], schema=block.schema
    )


def _contract_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """mapInArrow body: contract a partition's edges block by block, never
    holding more than CONTRACT_BLOCK edges plus one incoming batch."""
    held, n = [], 0
    for batch in batches:
        held.append(batch)
        n += batch.num_rows
        while n >= CONTRACT_BLOCK:
            t = pa.Table.from_batches(held)
            yield _contract_block(t.slice(0, CONTRACT_BLOCK))
            t = t.slice(CONTRACT_BLOCK)
            held, n = t.to_batches(), t.num_rows
    if n:
        yield _contract_block(pa.Table.from_batches(held))


def _large_star(e: DataFrame) -> DataFrame:
    """e(u, v) directed child->parent (u > v). Every node's LARGER neighbors
    attach to min(closed neighborhood).

    min-per-key is a window over the SAME relation, not a groupBy +
    join-back: one exchange of the edge relation per round instead of two
    (the fixpoint is latency-bound — every exchange is an AQE
    materialization job's worth of driver latency — and the window's
    per-key sort is bounded by the largest star, trivially small next to
    the join it replaces). Output multiset identical to the join form:
    mins had exactly one row per u, so the join attached m row-for-row."""
    both = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = F.least(F.col("u"), F.min("v").over(W.partitionBy("u"))).alias("m")
    # No distinct here: duplicates produced within one round are bounded
    # (one row per directed input edge) and the round-closing distinct in
    # _small_star canonicalizes the state — dropping this exchange removes
    # a full shuffle of the edge relation from every round.
    return (
        both.select("u", "v", m)
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Every node and its SMALLER neighbors attach to min(closed nbhd).
    Same window-not-join shape as _large_star; the (u, m) root edge is
    emitted once per input row instead of once per group (the join form's
    union with `mins`), and the round-closing distinct — already present —
    canonicalizes, so the output SET is unchanged."""
    d = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    dw = d.select("u", "v", F.min("v").over(W.partitionBy("u")).alias("m"))
    out = dw.select(F.col("v").alias("u"), F.col("m").alias("v")).union(
        dw.select("u", F.col("m").alias("v"))
    )
    return out.where(F.col("u") != F.col("v")).distinct()


def _is_star_forest(e: DataFrame) -> bool:
    """Exact fixpoint test for the star rounds: True iff the edge state
    e(u, v) (u > v, distinct rows) is a forest of stars — every child u has
    exactly one parent and no parent is itself a child. Both star rounds map
    a star forest to itself (each root is the minimum of its closed
    neighborhood, each child's only neighbor is its root), and both preserve
    connectivity, so a star forest IS the fixpoint, rooted at each
    component's minimum id. One grouped aggregate over the edge state
    answers both conditions per node; the empty state passes. Both roles of
    an edge come from ONE scan of `e`: over a lazy checkpoint a second scan
    would block on the lock of the block the first one is storing."""
    nodes = e.select(F.inline(F.array(
        F.struct(F.col("u").alias("x"), F.lit(1).alias("child"), F.lit(False).alias("parent")),
        F.struct(F.col("v").alias("x"), F.lit(0).alias("child"), F.lit(True).alias("parent")),
    )))
    per_node = nodes.groupBy("x").agg(
        F.sum("child").alias("n_parents"), F.bool_or("parent").alias("is_parent")
    )
    bad = (F.col("n_parents") > 1) | ((F.col("n_parents") == 1) & F.col("is_parent"))
    return per_node.where(bad).isEmpty()


def _latest_checkpoint(checkpoint_dir: str) -> tuple[int, str] | None:
    if not checkpoint_dir or not os.path.isdir(checkpoint_dir):
        return None
    best = None
    for name in os.listdir(checkpoint_dir):
        if name.startswith("round_"):
            p = os.path.join(checkpoint_dir, name)
            if os.path.exists(os.path.join(p, "_SUCCESS")):
                r = int(name.split("_")[1])
                if best is None or r > best[0]:
                    best = (r, p)
    return best


def connected_components(
    edges: DataFrame, vertices: DataFrame, checkpoint_dir: str | None = None
) -> ComponentsResult:
    """edges(a, b) undirected + vertices(clip_id) -> (clip_id, component_id)
    where component_id = min clip_id in the component. Singletons keep their
    own id. `iterations` counts rounds from the first call on this
    `checkpoint_dir`; `converged=False` means this call spent MAX_ROUNDS
    rounds, and a call on the same dir continues from its last checkpoint."""
    spark = edges.sparkSession
    e = (
        edges.select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )

    start_round = 0
    resumed = _latest_checkpoint(checkpoint_dir) if checkpoint_dir else None
    if resumed is not None:
        start_round, path = resumed
        e = spark.read.parquet(path)
    else:
        # the output keeps the input's schema: pipeline ids are strings,
        # the docs chain's are int64
        e = e.mapInArrow(_contract_partition, e.schema)
    # lazy: the entry star-forest test below is the materializing job; an
    # eager checkpoint would run a separate materialization job first — one
    # extra full pass of the edge relation per call
    e = e.localCheckpoint(eager=False)

    # a contracted single-partition graph is already a star forest, the
    # fixpoint: 0 rounds
    converged = _is_star_forest(e)
    it = start_round
    last_ckpt = start_round  # rounds-since-checkpoint tracker: the loop
    # advances `it` by 2 per pass, so a naive `it % CHECKPOINT_EVERY == 0`
    # with an odd cadence would only fire on multiples of 2*CHECKPOINT_EVERY
    while not converged and it - start_round < MAX_ROUNDS:
        # PAIRS_PER_BARRIER star rounds composed lazily per materialization
        # barrier: the stage is latency-bound (per-job scheduling dwarfs the
        # per-round edge shuffle at dedup edge densities), so halving the
        # number of barriers/convergence tests halves its fixed cost.
        it += PAIRS_PER_BARRIER
        ne = e
        for _ in range(PAIRS_PER_BARRIER):
            ne = _small_star(_large_star(ne))
        e = ne.localCheckpoint(eager=False)
        # the exact convergence test materializes the lazy checkpoint
        converged = _is_star_forest(e)
        if checkpoint_dir and (it - last_ckpt >= CHECKPOINT_EVERY) and not converged:
            path = os.path.join(checkpoint_dir, f"round_{it}")
            e.write.mode("overwrite").parquet(path)
            e = spark.read.parquet(path)
            last_ckpt = it

    # star edges: (child u -> root v); roots and singletons map to themselves
    active_labels = e.select(
        F.col("u").alias("clip_id"), F.col("v").alias("component_id")
    )
    comps = (
        vertices.select("clip_id")
        .join(active_labels, "clip_id", "left")
        .select(
            "clip_id",
            F.coalesce("component_id", "clip_id").alias("component_id"),
        )
    )
    return ComponentsResult(components=comps, iterations=it, converged=converged)


def pair_recall(result: DataFrame, oracle: DataFrame) -> dict:
    """Pair-level recall/precision of `result` vs `oracle` component
    assignments, computed from the (oracle_comp x result_comp) contingency
    table — n*(n-1)/2 arithmetic on group sizes, never materializing pairs
    (scales to huge components).

    Both inputs: (clip_id, component_id). ONE Spark action (round-4 ADVICE:
    the old three collects ran the contingency join three times, and this
    runs inside every e2e test): the full-outer contingency table is built
    once behind a lazy checkpoint, and the three aggregates — agree pairs
    over both-labeled cells, oracle pairs over all oracle-labeled rows,
    result pairs over all result-labeled rows — collect as one 1-row
    cross-join."""
    o = oracle.select("clip_id", F.col("component_id").alias("oc"))
    r = result.select("clip_id", F.col("component_id").alias("rc"))
    cell = (
        o.join(r, "clip_id", "full")
        .groupBy("oc", "rc")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )
    pairs = F.sum(F.col("n") * (F.col("n") - 1) / 2)
    both_df = cell.where(
        F.col("oc").isNotNull() & F.col("rc").isNotNull()
    ).agg(pairs.alias("agree"))
    o_df = (
        cell.where(F.col("oc").isNotNull())
        .groupBy("oc").agg(F.sum("n").alias("n"))
        .agg(pairs.alias("op"))
    )
    r_df = (
        cell.where(F.col("rc").isNotNull())
        .groupBy("rc").agg(F.sum("n").alias("n"))
        .agg(pairs.alias("rp"))
    )
    row = both_df.crossJoin(o_df).crossJoin(r_df).collect()[0]
    both = float(row["agree"] or 0.0)
    o_pairs = float(row["op"] or 0.0)
    r_pairs = float(row["rp"] or 0.0)
    return {
        "agree_pairs": both,
        "oracle_pairs": o_pairs,
        "result_pairs": r_pairs,
        "recall": both / o_pairs if o_pairs else 1.0,
        "precision": both / r_pairs if r_pairs else 1.0,
    }
