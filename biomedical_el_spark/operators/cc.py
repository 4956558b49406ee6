"""Stage 3 — transitive clustering: connected components over the
match-edge table.

Generalizes the reference's mention→entity assignment (each mention linked
to its argmax entity, run_e2e_span.py:570-575) to full entity-resolution
clusters: the transitive closure of pairwise matches.

Hybrid execution, chosen from the measured edge count (the strategy rule
of "Hybrid Evaluation for Distributed Iterative Matrix Computation"):
  * up to `_EDGES_PER_PARTITION` edges — the graph fits one task of the
    round loop below, so it is solved in ONE task: a single
    `mapInArrow` pass encodes the endpoints to sorted dense codes and
    runs a vectorized numpy union-find (`_solve_arrow`).  One Spark job
    after the input checkpoint, instead of ~20 scheduling-bound
    round/certificate jobs.
  * above it — the distributed large-star / small-star loop.
Both produce the same rows: (node, component = min node of its class).

Round loop (Kiveris et al., 'Connected Components in MapReduce and
Beyond'): alternate
  large-star(u): connect every neighbor v > u to m = min(N(u) ∪ {u})
  small-star(u): connect every neighbor v ≤ u (v ≠ m) to m
until the edge set is a set of min-rooted stars — O(log n) rounds even on
chains.  Convergence is detected by a STAR CERTIFICATE instead of the
usual edge-set-hash comparison: the hash test needs one extra full round
(6 shuffles) to observe "nothing changed", while the certificate reads
the just-checkpointed edges twice (2 cheap jobs).  Certificate: the edge
set is exactly a forest of min-rooted stars iff
  (a) every src has out-degree 1, and
  (b) no dst has any out-edge (all round outputs point strictly
      downward, src > dst, so an out-edge from a dst would have to go
      even lower — i.e. the dst is not a root).
Stars are a fixpoint of both star operations (large star on a star maps
every leaf back to the root; small star is the identity on it), so
stopping at the certificate yields the same output as hash-stability, one
round earlier.

The input edge set (both paths) and each round's output are checkpointed
to truncate lineage (SURVEY.md §7b: iterative CC lineage blowup MUST
checkpoint).  `checkpoint_dir=None` uses
`localCheckpoint` (executor-local blocks — fine in local mode, NOT safe
under executor loss); pass a reliable `checkpoint_dir` (HDFS/object
store) on a real cluster.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# Target edge rows per shuffle partition inside the CC round loop.  Each
# round is ~6 tiny shuffles over the (usually small) frontier; running
# them at the session-wide shuffle width (sized for the big Arrow stages)
# makes the loop pure task-scheduling overhead — measured 8.2s → 3.3s at
# bench scale by sizing partitions to the edge count instead.  It is also
# the hybrid gate: a graph of at most this many edges would fit one task
# of the loop, so it is solved in one task by `_solve_arrow` instead.
_EDGES_PER_PARTITION = 500_000


def _solve_arrow(batches):
    """mapInArrow body of the one-task path: every (src, dst) edge batch
    of the graph → (node, component) batches.

    Endpoints are encoded to dense codes in sorted order (`unique` →
    `sort_indices` → `index_in`); Arrow's binary string order is Spark's
    UTF8_BINARY order and integers sort numerically, so the minimum code
    of a class is its minimum node.  Union-find on the codes, vectorized:
    hook the larger root of every unsettled edge onto the smaller one
    (`np.minimum.at` keeps the smallest offer per root), then pointer-jump
    until every node points at its root.  parent[x] <= x throughout, so
    no cycle can form.  A root with an unsettled edge either hooks, is
    hooked onto, or — if all its neighbours hooked onto smaller roots —
    hooks on the next pass, so the roots at least halve every two passes:
    O(log n) passes.  No per-row Python."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    batches = [b for b in batches if b.num_rows]
    if not batches:
        return
    src = pa.chunked_array([b.column(0) for b in batches])
    dst = pa.chunked_array([b.column(1) for b in batches])
    both = pa.chunked_array(src.chunks + dst.chunks)
    uniq = pc.unique(both)
    nodes = uniq.take(pc.sort_indices(uniq))
    u = pc.index_in(src, value_set=nodes).to_numpy()
    v = pc.index_in(dst, value_set=nodes).to_numpy()
    parent = np.arange(len(nodes))
    while True:
        ru, rv = parent[u], parent[v]
        open_ = ru != rv
        if not open_.any():
            break
        u, v, ru, rv = u[open_], v[open_], ru[open_], rv[open_]
        np.minimum.at(parent, np.maximum(ru, rv), np.minimum(ru, rv))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
    yield pa.RecordBatch.from_arrays(
        [nodes, nodes.take(parent)], names=["node", "component"]
    )


def _symmetrize(edges: DataFrame, dedup: bool = False) -> DataFrame:
    """Both directions of every edge.  No distinct by default: the min
    aggregation inside _star is duplicate-insensitive and each round ends
    in its own distinct, so deduping here would just add a shuffle."""
    fwd = edges.select(F.col("src"), F.col("dst"))
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    out = fwd.union(rev).filter(F.col("src") != F.col("dst"))
    return out.distinct() if dedup else out


def _star(edges: DataFrame, large: bool, dedup: bool = True) -> DataFrame:
    """One large- or small-star step.  Symmetrizes first: every node must
    see its full undirected neighborhood, including the parent pointers
    produced by the previous step.

    Physical shape (round-6 rewrite, guide §2.4): ONE hash exchange of
    the symmetrized edges + one sort, with m = least(src, min(dst)) as a
    window over src and the per-src (src, m) parent row emitted at
    row_number()==1 — then both output kinds produced in a single
    explode pass.  The previous groupBy(src).min + self-join form paid
    two exchanges of the edge relation per star step, and — node ids
    being strings (urls) — every min(string) aggregate planned as a
    SortAggregate and the join as a SortMergeJoin: four extra sorts of
    the edge set per step.  Results are identical row-for-row (same
    emissions, same duplicate behavior under dedup=False); measured on
    the 250k-page flagship link graph (729k sym edges): CC total
    8.4 s → 4.7 s warm.

    dedup=False skips the output distinct — used after the large-star
    step, whose duplicates are harmless to the following small-star
    (min/neighborhood aggregations are duplicate-insensitive) and whose
    distinct would cost a full extra shuffle per round; the small-star
    step always dedups so the round output (and the per-round growth) is
    bounded."""
    edges = _symmetrize(edges)
    wo = Window.partitionBy("src").orderBy("dst")
    mn = F.min("dst").over(
        wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    moved = F.col("dst") > F.col("src") if large else F.col("dst") <= F.col("src")
    ann = edges.select(
        "src", "dst",
        F.least(F.col("src"), mn).alias("m"),
        F.row_number().over(wo).alias("rn"),
    )
    emitted = F.array_compact(
        F.array(
            F.when(moved, F.struct(F.col("dst").alias("src"), F.col("m").alias("dst"))),
            F.when(
                F.col("rn") == 1,
                F.struct(F.col("src").alias("src"), F.col("m").alias("dst")),
            ),
        )
    )
    out = (
        ann.select(F.explode(emitted).alias("e"))
        .select("e.src", "e.dst")
        .filter(F.col("src") != F.col("dst"))
    )
    return out.distinct() if dedup else out


def _is_star_forest(edges: DataFrame) -> bool:
    """Star certificate (see module docstring).  Two small jobs over the
    just-checkpointed edge set; every round output points strictly
    downward (src > dst), so condition (b) reduces to src∩dst = ∅.

    Deliberately NOT fused into one union+groupBy job: that variant was
    built and micro-benched (round 4, 16c, 100k-page link graph) —
    ~300 ms/round on the converged round (vs ~520 for both jobs here)
    but ~750 ms on every NON-converged round, because this form's first
    job short-circuits False the moment any src has out-degree > 1 and
    the fused aggregation always pays the doubled union input.  Over a
    multi-round run the short-circuit wins; the fusion was reverted on
    measurement."""
    deg = edges.groupBy("src").agg(F.count("*").alias("c"))
    if deg.filter(F.col("c") > 1).limit(1).count() > 0:
        return False
    srcs = edges.select(F.col("src").alias("dst")).distinct()
    return edges.join(srcs, "dst", "left_semi").limit(1).count() == 0


def connected_components(
    links: DataFrame,
    src_col: str = "url_a",
    dst_col: str = "url_b",
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Edge table → (node, component) with component = min node id of the
    cluster.  Nodes absent from `links` are not emitted (callers union
    singletons back; see plans/linkage.py).

    Up to `_EDGES_PER_PARTITION` edges the graph is solved in one task
    (`_solve_arrow`); above it by the star loop, whose shuffle width is
    sized from the same edge count (observed by the input checkpoint's
    own job), capped at the session's shuffle setting: the frontier is
    usually far smaller than the corpus the session width was tuned for,
    and ~6 shuffles/round × oversized task counts turn the loop into
    scheduler overhead.  The session conf is restored on exit.

    checkpoint_dir: if given, checkpoints are RELIABLE `checkpoint()`s
    into it (survives executor loss — required on a real cluster);
    default is `localCheckpoint` (local-mode / test speed)."""
    spark = links.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def ckpt(df: DataFrame) -> DataFrame:
        return df.checkpoint() if checkpoint_dir is not None else df.localCheckpoint()

    # both endpoint columns in their common (union-widened) type: the
    # one-task path's output schema is that type, as the loop's is
    node_t = links.select(src_col).union(links.select(dst_col)).schema[0].dataType
    # No _symmetrize here: _star symmetrizes its input itself, so a
    # pre-symmetrized edge set would enter round 1 with every edge
    # duplicated (sym of sym) — the round-1 window would sort twice the
    # rows for identical output (min/neighborhood ops are
    # duplicate-insensitive).  Only the self-loop filter is kept.
    seen = Observation()
    edges = ckpt(
        links.select(
            F.col(src_col).cast(node_t).alias("src"),
            F.col(dst_col).cast(node_t).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .observe(seen, F.count(F.lit(1)).alias("n"))
    )
    # counted by the checkpoint job itself: a separate count() would cost
    # two more jobs (AQE runs its aggregate exchange as its own job)
    n_edges = seen.get["n"]
    if n_edges <= _EDGES_PER_PARTITION:
        out_t = StructType(
            [StructField("node", node_t), StructField("component", node_t)]
        )
        return edges.coalesce(1).mapInArrow(_solve_arrow, out_t)

    sess_sp = int(spark.conf.get("spark.sql.shuffle.partitions"))
    round_sp = max(8, min(sess_sp, math.ceil(n_edges / _EDGES_PER_PARTITION)))
    spark.conf.set("spark.sql.shuffle.partitions", str(round_sp))
    converged = False
    try:
        for r in range(max_iter):
            # Checkpoint BETWEEN the two star steps: small-star
            # symmetrizes its input (union of both directions), so an
            # unmaterialized large-star subtree is computed twice — once
            # per union branch (ReusedExchange shares the exchange, but
            # the window/explode above it re-runs).  Measured (round 6):
            # 250k-page flagship graph (729k sym edges) CC 7.2 s → 5.2 s
            # warm.  The loop only runs on graphs above
            # _EDGES_PER_PARTITION edges, so this is not gated; late
            # rounds, whose frontier has shrunk, accept the extra
            # checkpoint job rather than a per-round count to re-gate on.
            large = ckpt(_star(edges, large=True, dedup=False))
            edges = ckpt(_star(large, large=False))  # cut lineage every round
            # skip the certificate after round 1: it can only pass on a
            # graph that converges in one round (a star forest, or e.g. a
            # triangle or any other diameter-1 component), and those pay
            # one extra idempotent round instead (stars are a fixpoint of
            # both star ops).  Multi-round graphs — every real link graph
            # — save the round-1 certificate's two jobs.
            if r >= 1 and _is_star_forest(edges):
                converged = True
                break
        comp = edges.select(F.col("src").alias("node"), F.col("dst").alias("component"))
        roots = comp.select(F.col("component").alias("node"), F.col("component"))
        if converged:
            # the certificate just PROVED out-degree == 1 for every src
            # and that no dst ever appears as a src — so comp is already
            # one row per member node and the root set is disjoint from
            # it.  A distinct on the roots is the only dedup needed; the
            # general groupBy-min below would re-aggregate 2x the rows
            # with a string min (SortAggregate) for the same result.
            return comp.union(roots.distinct())
        return (
            comp.union(roots)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(sess_sp))
