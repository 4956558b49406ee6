"""Connected components on known graphs, each solved on both paths: the
one-task Arrow solve and the large-star/small-star loop."""

import random

import pytest
from pyspark.sql import functions as F

from biomedical_el_spark.operators import cc
from biomedical_el_spark.operators.cc import connected_components


@pytest.fixture
def cc_both(spark, monkeypatch):
    """Run connected_components on the one-task path and, with the gate
    lowered to 1 edge, on the star loop; assert identical rows and return
    them as {node: component}.  (A graph of at most one edge takes the
    one-task path under both settings.)"""

    def run(df, **kw):
        fast = sorted(tuple(r) for r in connected_components(df, **kw).collect())
        with monkeypatch.context() as m:
            m.setattr(cc, "_EDGES_PER_PARTITION", 1)
            loop = sorted(tuple(r) for r in connected_components(df, **kw).collect())
        assert fast == loop
        return dict(fast)

    return run


@pytest.fixture
def cc_str(spark, cc_both):
    def run(edges, **kw):
        return cc_both(spark.createDataFrame(edges, "url_a string, url_b string"), **kw)

    return run


def test_two_components(cc_str):
    comp = cc_str([("a", "b"), ("b", "c"), ("x", "y")])
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["x"] == comp["y"] == "x"
    assert comp["a"] != comp["x"]


def test_long_chain(cc_str):
    # chain of 40 nodes — worst case for naive propagation; large/small star
    # must converge in O(log n) rounds within the max_iter budget
    nodes = [f"n{i:03d}" for i in range(40)]
    comp = cc_str(list(zip(nodes, nodes[1:])))
    assert set(comp.values()) == {"n000"}
    assert len(comp) == 40


def test_cycle_and_duplicate_edges(cc_str):
    comp = cc_str([("a", "b"), ("b", "c"), ("c", "a"), ("a", "b"), ("b", "a")])
    assert set(comp.values()) == {"a"}


def test_reliable_checkpoint_option(cc_str, tmp_path):
    """checkpoint_dir switches checkpoints to reliable checkpoint()
    (cluster-safe under executor loss) with identical output."""
    edges = [("a", "b"), ("b", "c"), ("x", "y")]
    ckdir = str(tmp_path / "cc_ck")
    comp = cc_str(edges, checkpoint_dir=ckdir)
    assert comp == cc_str(edges)
    import os

    assert any(os.scandir(ckdir)), "reliable checkpoint dir never written"


def test_star_certificate_matches_hash_convergence(spark, cc_both):
    """The star-certificate stop must produce the same components as
    running the stars to a generous fixed budget (hash-stability upper
    bound) on an adversarial mix: chain + cycle + star + singleton edge."""
    from biomedical_el_spark.operators.cc import _star, _symmetrize

    edges = (
        [(f"c{i}", f"c{i+1}") for i in range(9)]
        + [("r1", "r2"), ("r2", "r3"), ("r3", "r1")]
        + [("h", x) for x in ("h1", "h2", "h3", "h4")]
        + [("s1", "s2")]
    )
    df = spark.createDataFrame(edges, "url_a string, url_b string")
    got = cc_both(df)
    e = _symmetrize(df.select(F.col("url_a").alias("src"), F.col("url_b").alias("dst")))
    for _ in range(10):  # >> log2(n): guaranteed past the fixpoint
        e = _star(_star(e, large=True, dedup=False), large=False).localCheckpoint()
    comp = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = comp.select(F.col("component").alias("node"), F.col("component"))
    ref = {
        r["node"]: r["component"]
        for r in comp.union(roots)
        .groupBy("node")
        .agg(F.min("component").alias("component"))
        .collect()
    }
    assert got == ref


def test_bigint_ids_including_negative(spark, cc_both):
    df = spark.createDataFrame(
        [(-5, 3), (3, 10), (-1, -2), (7, 7), (2**40, -(2**40))],
        "url_a bigint, url_b bigint",
    )
    assert cc_both(df) == {
        -5: -5, 3: -5, 10: -5, -2: -2, -1: -2, -(2**40): -(2**40), 2**40: -(2**40)
    }


def test_non_ascii_ids_use_binary_order(cc_str):
    """Components are the min node in Spark's UTF8_BINARY order, in which
    every ASCII letter sorts before é/ß/日本."""
    comp = cc_str([("é", "Z"), ("ß", "a"), ("日本", "é")])
    assert comp == {"Z": "Z", "é": "Z", "日本": "Z", "a": "a", "ß": "a"}


def test_self_loops_only_give_empty_output(cc_str):
    assert cc_str([("a", "a"), ("b", "b"), ("a", "a")]) == {}


def test_random_graph_matches_reference_union_find(cc_str):
    rng = random.Random(7)
    edges = [(f"p{rng.randrange(400)}", f"p{rng.randrange(400)}") for _ in range(300)]
    parent: dict[str, str] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    ref = {n: find(n) for a, b in edges if a != b for n in (a, b)}
    assert cc_str(edges) == ref


def test_small_graph_runs_in_at_most_three_jobs(spark):
    """A graph under the gate costs the input checkpoint, its count and
    the one-task solve — not a Spark job per star step and certificate."""
    sc = spark.sparkContext
    df = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(20)], "url_a string, url_b string"
    )
    group = "test_cc_job_guard"
    sc.setJobGroup(group, group)
    try:
        connected_components(df).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3


def test_transitivity_invariant(spark, pages):
    """Cluster transitivity: if (a,b) and (b,c) are links then a,b,c share
    a component."""
    from biomedical_el_spark.plans.linkage import run_linkage

    out = run_linkage(spark, pages)
    links = out["links"]
    comp = out["clusters"]
    c1 = comp.select(F.col("node").alias("url_a"), F.col("component").alias("ca"))
    c2 = comp.select(F.col("node").alias("url_b"), F.col("component").alias("cb"))
    joined = links.join(c1, "url_a").join(c2, "url_b")
    assert joined.filter(F.col("ca") != F.col("cb")).count() == 0
    # every page appears exactly once
    assert comp.count() == pages.count()
    assert comp.select("node").distinct().count() == pages.count()
