"""operators.graph: exactness of the integer-micros PageRank beyond the
micros scale — the r10 ADVICE regression (floor(double) vs true integer
division diverges once ranks exceed ~2^53)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F  # noqa: F401


def test_pagerank_integer_division_exact_beyond_double_precision(spark):
    """One iteration from a caller-supplied init vector whose magnitude
    exceeds double precision: floor(r/od) computed through doubles
    would round 2^54+3 to 2^54+4 and yield //2 + 1 — the engine must
    match the pure-Python integer computation bit for bit (the
    warm-start contract's claim for ANY long-domain input)."""
    from clif_spark.operators import graph as G

    big = (1 << 54) + 3  # not double-representable; floor(big/2.0) != big//2
    assert int(float(big)) != big  # precondition of the regression
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c")], "src string, dst string")
    init = spark.createDataFrame(
        [("a", big), ("b", 7), ("c", 11)],
        "node string, rank_micros long")

    # pure-Python mirror of one exact integer iteration
    n = 3
    teleport = ((100 - 85) * 1_000_000 // 100) // n
    contrib = big // 2  # a's rank split over out-degree 2
    expected = {
        "a": teleport,  # no inbound edges
        "b": teleport + (85 * contrib) // 100,
        "c": teleport + (85 * contrib) // 100,
    }
    got = {r.node: r.rank_micros for r in
           G.pagerank(edges, iterations=1, init_ranks=init)
            .collect()}
    assert got == expected
    # and the divergence is real: the double path would differ on b/c
    double_contrib = int(float(big) / 2)
    assert double_contrib != contrib


def test_connected_components_transitive_and_lexicographic(spark):
    """Labels must cross multiple hops (a 3-edge chain collapses to one
    label) and the component id is the LEXICOGRAPHIC min ('n10' < 'n9'
    as strings — a numeric-min shortcut would pick 'n9'). Edges are
    given in ONE direction only; the operator must undirect them."""
    from clif_spark.operators import graph as G

    edges = spark.createDataFrame(
        [("n9", "n10"), ("n11", "n10"), ("n12", "n11"),  # one chain
         ("b", "a")],                                    # separate pair
        "src string, dst string")
    got = {r.node: r.component
           for r in G.connected_components(edges).collect()}
    assert got == {"n9": "n10", "n10": "n10", "n11": "n10",
                   "n12": "n10", "a": "a", "b": "a"}


def test_connected_components_raises_without_convergence(spark):
    """A chain needing >1 round with max_iters=1 must raise, never
    return a half-converged labeling."""
    import pytest

    from clif_spark.operators import graph as G

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")],
        "src string, dst string")
    with pytest.raises(RuntimeError, match="converge"):
        G.connected_components(edges, max_iters=1)


def test_bfs_depths_min_path_and_unreachable_absent(spark):
    """Shortest of two paths wins (s->x->t vs s->a->b->t gives t=2);
    a node with edges only INTO the seed side stays absent
    (directed semantics); self-loops never relax a depth."""
    from clif_spark.operators import graph as G

    edges = spark.createDataFrame(
        [("s", "x"), ("x", "t"),
         ("s", "a"), ("a", "b"), ("b", "t"),
         ("t", "t"),            # self-loop
         ("z", "s")],           # z reaches s but nothing reaches z
        "src string, dst string")
    seeds = spark.createDataFrame([("s",)], "node string")
    got = {r.node: r.depth for r in G.bfs_depths(edges, seeds).collect()}
    assert got == {"s": 0, "x": 1, "a": 1, "t": 2, "b": 2}


def test_fixpoint_results_partition_invariant(spark):
    """The fixpoint relations are pure functions of the graph: min is
    associative/commutative, so neither labels nor depths may depend
    on how the edge relation is partitioned (the property the driver
    gate relies on — it hashes exact values)."""
    from clif_spark.operators import graph as G

    rows = [(f"n{i}", f"n{i + 1}") for i in range(12)] + [("z1", "z2")]
    for parts in (1, 7):
        edges = spark.createDataFrame(
            rows, "src string, dst string").repartition(parts)
        seeds = spark.createDataFrame([("n0",)], "node string")
        cc = {tuple(r) for r in G.connected_components(edges).collect()}
        bf = {tuple(r) for r in G.bfs_depths(edges, seeds).collect()}
        tri_edges = edges.unionByName(spark.createDataFrame(
            [("n0", "n2")], "src string, dst string"))
        tr = {tuple(r) for r in G.triangle_counts(tri_edges).collect()}
        hi = {tuple(r) for r in G.hits_fixed(edges).collect()}
        kc = {tuple(r) for r in G.k_core(tri_edges, 2).collect()}
        pp = {tuple(r) for r in G.pagerank(edges, seeds=seeds).collect()}
        if parts == 1:
            cc1, bf1, tr1, hi1, kc1, pp1 = cc, bf, tr, hi, kc, pp
    assert cc == cc1 and bf == bf1
    assert tr == tr1 == {("n0", 1), ("n1", 1), ("n2", 1)}
    assert hi == hi1
    assert kc == kc1 == {("n0", 2), ("n1", 2), ("n2", 2)}
    assert pp == pp1
    assert ("z1", "z1") in cc1 and ("n5", "n0") in cc1
    assert dict(bf1)["n12"] == 12


def test_bfs_depths_raises_without_convergence(spark):
    import pytest

    from clif_spark.operators import graph as G

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string")
    seeds = spark.createDataFrame([("a",)], "node string")
    with pytest.raises(RuntimeError, match="converge"):
        G.bfs_depths(edges, seeds, max_iters=1)


def test_triangle_counts_clique_and_pendant(spark):
    """triangle_counts: a 4-clique holds C(4,3)=4 triangles with every
    member in 3; a separate triangle gives each member 1; a pendant
    edge's nodes are absent; duplicate and reversed input edges must
    not double-count (canonicalized internally)."""
    from clif_spark.operators import graph as G

    clique = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    edges = spark.createDataFrame(
        clique + [("b", "a")]              # reversed duplicate
        + [("x", "y"), ("y", "z"), ("z", "x")]  # one triangle
        + [("p", "q")],                    # pendant: no triangle
        "src string, dst string")
    got = {r.node: r.n_triangles
           for r in G.triangle_counts(edges).collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3,
                   "x": 1, "y": 1, "z": 1}


def test_scc_cycle_membership_and_lexicographic(spark):
    """strongly_connected_components: a directed 3-cycle is one SCC
    labeled by its LEXICOGRAPHIC min ('n10' < 'n9' as strings — the
    numeric-min shortcut trap); nodes on one-way edges are singleton
    SCCs even when weakly connected to the cycle; labels must cross
    multiple hops (c sits two hops from a around the cycle)."""
    from clif_spark.operators import graph as G

    edges = spark.createDataFrame(
        [("n9", "n10"), ("n10", "n11"), ("n11", "n9"),  # 3-cycle
         ("n11", "d"),                                   # one-way out
         ("e", "n9")],                                   # one-way in
        "src string, dst string")
    got = {r.node: r.component
           for r in G.strongly_connected_components(edges).collect()}
    assert got == {"n9": "n10", "n10": "n10", "n11": "n10",
                   "d": "d", "e": "e"}


def test_scc_directed_path_peels_to_singletons(spark):
    """A DAG has only trivial SCCs: every node on a directed path is
    its own component (the adversary fixture — a path peels a bounded
    prefix per outer round, the documented worst case)."""
    from clif_spark.operators import graph as G

    edges = spark.createDataFrame(
        [(f"v{i}", f"v{i + 1}") for i in range(6)],
        "src string, dst string")
    labels, rounds = G.strongly_connected_components(
        edges, return_rounds=True)
    got = {r.node: r.component for r in labels.collect()}
    assert got == {f"v{i}": f"v{i}" for i in range(7)}
    assert 1 <= rounds <= 7


def test_scc_raises_without_convergence(spark):
    """Loud failure past the round budget. A plain path no longer
    works as the fixture (the trim loop settles any DAG inside round
    1), so chain two 2-cycles: nothing trims (every node has live
    in+out edges), and either the inner min-label fixpoint or the
    outer settle loop must exceed a budget of 1."""
    import pytest

    from clif_spark.operators import graph as G

    edges = spark.createDataFrame(
        [("a1", "a2"), ("a2", "a1"),
         ("a2", "b1"),
         ("b1", "b2"), ("b2", "b1")], "src string, dst string")
    with pytest.raises(RuntimeError, match="converge"):
        G.strongly_connected_components(edges, max_iters=1)


def test_scc_partition_invariant(spark):
    """SCC labels are a pure function of the graph — the driver-gate
    property: identical exact values under different edge
    partitionings (two mutually-bridged cycles merge into ONE SCC;
    the bridge nodes' labels must travel through both cycles)."""
    from clif_spark.operators import graph as G

    # cycle A: a0->a1->a2->a0; cycle B: b0->b1->b2->b0;
    # bridges a1->b1 and b2->a2 make the union one SCC (min 'a0')
    rows = [("a0", "a1"), ("a1", "a2"), ("a2", "a0"),
            ("b0", "b1"), ("b1", "b2"), ("b2", "b0"),
            ("a1", "b1"), ("b2", "a2"),
            ("z", "a0")]  # one-way: z stays a singleton
    expected = {n: "a0" for n in
                ("a0", "a1", "a2", "b0", "b1", "b2")} | {"z": "z"}
    for parts in (1, 7):
        edges = spark.createDataFrame(
            rows, "src string, dst string").repartition(parts)
        got = {r.node: r.component
               for r in G.strongly_connected_components(edges).collect()}
        assert got == expected


def test_k_core_peeling_cascade_and_membership(spark):
    """k_core: a triangle with a 2-edge tail (t0-t1-t2-a) — the tail
    must peel over TWO cascading rounds (t0 first, then t1, then t2);
    survivors are exactly the triangle at degree 2. Duplicate and
    reversed input edges must not inflate degrees; for k=3 the only
    survivor set is the 4-clique, the attached triangle sheds."""
    from clif_spark.operators import graph as G

    tri = [("a", "b"), ("b", "c"), ("c", "a"), ("b", "a")]  # + reversed dup
    tail = [("t0", "t1"), ("t1", "t2"), ("t2", "a")]
    got = {(r.node, r.core_degree) for r in
           G.k_core(spark.createDataFrame(
               tri + tail, "src string, dst string"), 2).collect()}
    assert got == {("a", 2), ("b", 2), ("c", 2)}

    clique = [(x, y) for x in "wxyz" for y in "wxyz" if x < y]
    extra = [("w", "p"), ("p", "q"), ("q", "w")]  # triangle off the clique
    core3 = {(r.node, r.core_degree) for r in
             G.k_core(spark.createDataFrame(
                 clique + extra, "src string, dst string"), 3).collect()}
    assert core3 == {("w", 3), ("x", 3), ("y", 3), ("z", 3)}


def test_k_core_path_dissolves_and_rounds_bound(spark):
    """A path has NO 2-core (trees dissolve completely), peeling one
    layer from each end per round; the empty result must come back
    clean, and the round count stays within the O(n/2) bound."""
    from clif_spark.operators import graph as G

    path = [(f"p{i}", f"p{i + 1}") for i in range(9)]
    core, rounds = G.k_core(
        spark.createDataFrame(path, "src string, dst string"), 2,
        return_rounds=True)
    assert core.count() == 0
    assert rounds <= 6


def test_personalized_pagerank_seed_locality_and_identity(spark):
    """pagerank with seeds: teleport mass lands ONLY on the seeds
    (a node with no path from them holds rank 0 but stays in the
    output), and with seeds = ALL nodes the personalized call equals
    the uniform call BIT-FOR-BIT (same teleport share tnum//n,
    same uniform init — the degenerate-personalization identity)."""
    from clif_spark.operators import graph as G

    edges = spark.createDataFrame(
        [("s", "a"), ("a", "b"),       # seed-reachable chain
         ("x", "y")],                  # island: no path from s
        "src string, dst string")
    seeds = spark.createDataFrame([("s",)], "node string")
    got = {r.node: r.rank_micros for r in
           G.pagerank(edges, iterations=2, seeds=seeds)
            .collect()}
    assert got["x"] == 0 and got["y"] == 0          # outside, present
    assert got["s"] == 150000                        # teleport only
    assert got["a"] > 0 and got["b"] > 0             # flow from seed
    # mirror the exact integer recurrence by hand for two iterations
    tele_s, d = 150000, 85
    r = {"s": 1000000, "a": 0, "b": 0, "x": 0, "y": 0}
    for _ in range(2):
        r = {"s": tele_s,
             "a": (d * (r["s"] // 1)) // 100,
             "b": (d * (r["a"] // 1)) // 100,
             "x": 0, "y": 0}
    assert got == {"s": r["s"], "a": r["a"], "b": r["b"],
                   "x": 0, "y": 0}

    all_nodes = spark.createDataFrame(
        [(n,) for n in "sabxy"], "node string")
    ppr = {tuple(r) for r in
           G.pagerank(edges, iterations=3, seeds=all_nodes)
            .collect()}
    classic = {tuple(r) for r in
               G.pagerank(edges, iterations=3).collect()}
    assert ppr == classic


def test_scc_self_loop_only_node_is_singleton(spark):
    """ADVICE r13: a node whose only edges are self-loops is a valid
    singleton SCC and must appear in the output (the node universe
    derives from the UNFILTERED endpoints; only the traversal relation
    drops loops)."""
    from clif_spark.operators import graph as G

    edges = spark.createDataFrame(
        [("loop", "loop"),               # self-loop-only node
         ("a", "b"), ("b", "a"),         # a 2-cycle
         ("a", "a")],                    # loop on a cycle member: no-op
        "src string, dst string")
    got = {r.node: r.component
           for r in G.strongly_connected_components(edges).collect()}
    assert got == {"loop": "loop", "a": "a", "b": "a"}


def test_scc_trim_settles_dag_in_one_round(spark):
    """The trim accelerant: a pure directed path (the former O(n)
    outer-round adversary) settles ENTIRELY inside round 1's trim loop
    — every node lacks an inbound or outbound live edge at some trim
    layer, so no coloring fixpoint ever runs."""
    from clif_spark.operators import graph as G

    edges = spark.createDataFrame(
        [(f"v{i}", f"v{i + 1}") for i in range(6)],
        "src string, dst string")
    labels, rounds = G.strongly_connected_components(
        edges, return_rounds=True)
    got = {r.node: r.component for r in labels.collect()}
    assert got == {f"v{i}": f"v{i}" for i in range(7)}
    assert rounds == 1

    # trim + coloring together: a 3-cycle with a 3-node inbound tail
    # and a 2-node outbound tail — tails trim in round 1, the cycle
    # settles in round 1's coloring; total one outer round
    edges2 = spark.createDataFrame(
        [("t0", "t1"), ("t1", "t2"), ("t2", "c0"),
         ("c0", "c1"), ("c1", "c2"), ("c2", "c0"),
         ("c1", "o0"), ("o0", "o1")],
        "src string, dst string")
    labels2, rounds2 = G.strongly_connected_components(
        edges2, return_rounds=True)
    got2 = {r.node: r.component for r in labels2.collect()}
    assert got2 == {"t0": "t0", "t1": "t1", "t2": "t2",
                    "c0": "c0", "c1": "c0", "c2": "c0",
                    "o0": "o0", "o1": "o1"}
    assert rounds2 == 1


def test_personalized_pagerank_off_graph_seed_keeps_row(spark):
    """ADVICE r13 (medium): a seed absent from the edge relation gets
    its teleport row (universe = endpoints UNION seeds) instead of
    silently vanishing while deflating every present seed's share.
    With seeds {s, ghost}: k = 2, each seed's teleport = 75000, ghost
    holds teleport only (no inbound flow), and total teleport mass is
    the full (100-d)% * MICROS."""
    from clif_spark.operators import graph as G

    edges = spark.createDataFrame(
        [("s", "a"), ("a", "b")], "src string, dst string")
    seeds = spark.createDataFrame([("s",), ("ghost",)], "node string")
    got = {r.node: r.rank_micros for r in
           G.pagerank(edges, iterations=2, seeds=seeds)
            .collect()}
    assert set(got) == {"s", "a", "b", "ghost"}
    tele, d = 75000, 85
    # hand-mirror: init = MICROS//2 on each seed; ghost never receives
    r = {"s": 500000, "a": 0, "b": 0, "ghost": 500000}
    for _ in range(2):
        r = {"s": tele,
             "a": tele * 0 + (d * r["s"]) // 100,
             "b": (d * r["a"]) // 100,
             "ghost": tele}
    assert got == r



@pytest.mark.parametrize("n_edges, n_seeds",
                         [(150001, None), (1, 150001), (1, 0)],
                         ids=["150002_nodes", "150001_seeds", "no_seeds"])
def test_pagerank_teleport_underflow_fails_loud(spark, n_edges, n_seeds):
    """Every teleport share must be >= 1 micro: (100-d)% * MICROS //
    100 // k is 0 once k > 150,000 at the default damping, and a rank
    vector with a 0 teleport silently loses mass (a 150,002-node path
    used to come back with 750,005 micros in total and rank 0 on its
    source). A uniform call counts every node as a seed, so a large
    graph, a large seed set and an empty seed set all raise."""
    from clif_spark.operators import graph as G

    edges = spark.range(n_edges).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    seeds = (None if n_seeds is None else
             spark.range(n_seeds).select(F.col("id").alias("node")))
    with pytest.raises(ValueError, match="teleport"):
        G.pagerank(edges, iterations=1, seeds=seeds)

def test_pagerank_weighted_identity_and_multiplicity(spark):
    """pagerank with weight_col: (1) DEGENERATE IDENTITY — all weights
    1 makes W(v) the out-degree and w * (r div W) = r div od, so the
    result must equal the unweighted call BIT-FOR-BIT (the contract
    that lets the weighted call claim the same exact-arithmetic
    class); (2) weights actually steer mass — doubling one edge's
    weight moves rank toward its target and away from its sibling;
    (3) parallel (src,dst) rows sum their weights (multigraph
    collapse: two w=1 rows == one w=2); (4) a non-positive weight
    fails loud."""
    import pytest

    from clif_spark.operators import graph as G

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a")],
        "src string, dst string")
    ones = edges.withColumn("weight", F.lit(1).cast("long"))
    fixed = {tuple(r) for r in
             G.pagerank(edges, iterations=3).collect()}
    weighted = {tuple(r) for r in
                G.pagerank(ones, iterations=3,
                           weight_col="weight").collect()}
    assert weighted == fixed

    # weight 3 on a->b: b gains vs the uniform run, c loses
    w3 = spark.createDataFrame(
        [("a", "b", 3), ("a", "c", 1), ("b", "c", 1), ("c", "a", 1)],
        "src string, dst string, weight long")
    got = {r.node: r.rank_micros for r in
           G.pagerank(w3, iterations=3, weight_col="weight").collect()}
    uni = {r.node: r.rank_micros for r in
           G.pagerank(edges, iterations=3).collect()}
    assert got["b"] > uni["b"] and got["c"] < uni["c"]

    # multigraph collapse: two parallel w=1 rows == one w=2 row
    par = spark.createDataFrame(
        [("a", "b", 1), ("a", "b", 1), ("a", "c", 1),
         ("b", "c", 1), ("c", "a", 1)],
        "src string, dst string, weight long")
    merged = spark.createDataFrame(
        [("a", "b", 2), ("a", "c", 1), ("b", "c", 1), ("c", "a", 1)],
        "src string, dst string, weight long")
    assert {tuple(r) for r in G.pagerank(
                par, iterations=2, weight_col="weight").collect()} == \
           {tuple(r) for r in G.pagerank(
                merged, iterations=2, weight_col="weight").collect()}

    # fail-loud weight guard (in-plan assert_true since r16: fires at
    # call time via the eager multigraph-collapse checkpoint)
    from pyspark.errors import SparkRuntimeException
    z = spark.createDataFrame([("a", "b", 0)],
                              "src string, dst string, weight long")
    with pytest.raises(SparkRuntimeException,
                       match="NULL or non-positive"):
        G.pagerank(z, iterations=1, weight_col="weight")


def test_pagerank_weighted_guard_catches_raw_row_corruption(spark):
    """Round-15 review regression, pinned: the weight guard runs on
    RAW edge rows, before the multigraph collapse — a negative row
    that nets positive with a parallel edge, and a NULL row that SUM
    would silently skip, must both fail loud. Since r16 the guard
    rides IN the collapse aggregation (assert_true), so it costs zero
    extra jobs — construction job count must equal the unweighted
    call's (ADVICE r16: the old eager filter().count() re-executed
    the caller's full upstream lineage once per call)."""
    import pytest
    from conftest import launched
    from pyspark.errors import SparkRuntimeException

    from clif_spark.operators import graph as G

    nets_positive = spark.createDataFrame(
        [("a", "b", 5), ("a", "b", -3), ("b", "a", 1)],
        "src string, dst string, weight long")
    with pytest.raises(SparkRuntimeException,
                       match="NULL or non-positive"):
        G.pagerank(nets_positive, iterations=1, weight_col="weight")
    null_row = spark.createDataFrame(
        [("a", "b", 1), ("a", "b", None), ("b", "a", 1)],
        "src string, dst string, weight long")
    with pytest.raises(SparkRuntimeException,
                       match="NULL or non-positive"):
        G.pagerank(null_row, iterations=1, weight_col="weight")

    # guard rides for free: constructing the weighted form runs exactly
    # as many jobs as the unweighted form (checkpoint + node count) —
    # the with_audit job-parity discipline
    edges = spark.createDataFrame(
        [("a", "b", 2), ("b", "c", 1), ("c", "a", 3)],
        "src string, dst string, weight long")
    _, base_jobs, _ = launched(
        spark, lambda: G.pagerank(edges.drop("weight"), iterations=1))
    _, weighted_jobs, _ = launched(
        spark,
        lambda: G.pagerank(edges, iterations=1, weight_col="weight"))
    assert weighted_jobs == base_jobs


def test_pagerank_weighted_personalized_identities(spark):
    """pagerank with weight_col AND seeds: degenerate identities, both
    BIT-FOR-BIT (the contract that lets the composed call claim its
    parents' exact-arithmetic class): (1) all weights 1 == the
    seeded unweighted call on the distinct edge relation; (2) seeds =
    all nodes == the uniform weighted call (per-seed teleport
    tnum//n and init MICROS//n collapse to the uniform shares). Plus:
    the composed call genuinely differs from BOTH parents on a fixture
    where seeds exclude a node and weights are non-uniform, and the
    in-plan weight guard fails loud."""
    import pytest
    from pyspark.errors import SparkRuntimeException

    from clif_spark.operators import graph as G

    edges = spark.createDataFrame(
        [("a", "b", 3), ("a", "c", 1), ("b", "c", 2), ("c", "a", 1),
         ("c", "d", 4), ("d", "a", 1)],
        "src string, dst string, weight long")
    seeds = spark.createDataFrame([("a",), ("c",)], "node string")

    # (1) all-weights-1 == unweighted personalized
    ones = edges.withColumn("weight", F.lit(1).cast("long"))
    got1 = {tuple(r) for r in G.pagerank(
        ones, iterations=3, weight_col="weight", seeds=seeds).collect()}
    exp1 = {tuple(r) for r in G.pagerank(
        edges.drop("weight"), iterations=3, seeds=seeds).collect()}
    assert got1 == exp1

    # (2) seeds = all nodes == plain weighted
    allnodes = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",)], "node string")
    got2 = {tuple(r) for r in G.pagerank(
        edges, iterations=3, weight_col="weight", seeds=allnodes).collect()}
    exp2 = {tuple(r) for r in G.pagerank(
        edges, iterations=3, weight_col="weight").collect()}
    assert got2 == exp2

    # composed form differs from both parents on the asymmetric fixture
    got3 = {r.node: r.rank_micros for r in
            G.pagerank(edges, iterations=3, weight_col="weight",
                       seeds=seeds).collect()}
    assert got3 != {r.node: r.rank_micros for r in
                    G.pagerank(edges.drop("weight"), iterations=3,
                               seeds=seeds).collect()}
    assert got3 != {r.node: r.rank_micros for r in
                    G.pagerank(edges, iterations=3,
                               weight_col="weight").collect()}

    # in-plan raw-row weight guard (the r16 pattern)
    bad = spark.createDataFrame(
        [("a", "b", 2), ("a", "b", None), ("b", "a", 1)],
        "src string, dst string, weight long")
    with pytest.raises(SparkRuntimeException,
                       match="NULL or non-positive"):
        G.pagerank(bad, iterations=1, weight_col="weight", seeds=seeds)


def test_reliable_checkpoint_option_writes_to_dir_and_matches(spark):
    """VERDICT r17 item 8: with spark.clif.checkpointDir set, the
    iterative operators cut lineage through RELIABLE checkpoints under
    that directory (cluster fault-tolerance posture) and produce the
    identical labeling; unset (the default) keeps localCheckpoint —
    nothing appears under the directory."""
    import os
    import tempfile

    from clif_spark.operators import core
    from clif_spark.operators import graph as G

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("d", "e")],
        "src string, dst string")
    base = sorted(map(tuple, G.connected_components(edges).collect()))

    cdir = tempfile.mkdtemp(prefix="clif_graph_ckpt_")
    assert os.listdir(cdir) == []
    spark.conf.set(core.CHECKPOINT_DIR_CONF, cdir)
    try:
        got = sorted(map(tuple,
                         G.connected_components(edges).collect()))
        assert got == base
        # reliable checkpoints physically landed under the conf'd dir
        assert os.listdir(cdir), "no checkpoint data written"
    finally:
        spark.conf.unset(core.CHECKPOINT_DIR_CONF)


def test_reliable_checkpoint_follows_a_changed_dir(spark):
    """ADVICE r18 #2: changing spark.clif.checkpointDir between
    calls re-points the SparkContext — the second directory receives
    the second call's reliable checkpoints (previously the first
    directory, once set on the context, silently kept them all)."""
    import os
    import shutil
    import tempfile

    from clif_spark.operators import core
    from clif_spark.operators import graph as G

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e")], "src string, dst string")
    base = sorted(map(tuple, G.connected_components(edges).collect()))
    dirs = [tempfile.mkdtemp(prefix="clif_graph_ckpt_") for _ in range(2)]
    try:
        for cdir in dirs:
            spark.conf.set(core.CHECKPOINT_DIR_CONF, cdir)
            got = sorted(map(tuple,
                             G.connected_components(edges).collect()))
            assert got == base
            assert os.listdir(cdir), f"no checkpoint data under {cdir}"
    finally:
        spark.conf.unset(core.CHECKPOINT_DIR_CONF)
        for cdir in dirs:
            shutil.rmtree(cdir, ignore_errors=True)


def test_cc_and_scc_read_their_edge_lineage_once(spark):
    """The caller's edge lineage is evaluated in ONE pass per call: a
    row-counting UDF inside it runs exactly once per input row through
    CC and through SCC, final collect included (both directions of the
    undirected view, and SCC's traversal edges and node universe, all
    derive from one checkpoint)."""
    from pyspark.sql.types import StringType

    from clif_spark.operators import graph as G

    rows = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"),
            ("e", "d"), ("f", "f")]
    acc = spark.sparkContext.accumulator(0)

    def tick(x):
        acc.add(1)
        return x

    tick_udf = F.udf(tick, StringType()).asNondeterministic()
    edges = (spark.createDataFrame(rows, "src string, dst string")
             .select(tick_udf("src").alias("src"), "dst"))
    for op in (G.connected_components, G.strongly_connected_components):
        acc.value = 0
        op(edges).collect()
        assert acc.value == len(rows), op.__name__


def test_connected_components_one_execution_per_round(spark):
    """Each CC round is ONE SQL execution — the label checkpoint, with
    the convergence count observed on it — plus one for the edge
    checkpoint: rounds + 1 in total, not a probe job per round."""
    from conftest import launched

    from clif_spark.operators import graph as G

    chain = spark.createDataFrame([(i, i + 1) for i in range(6)],
                                  "src long, dst long")
    (labels, rounds), _, executions = launched(
        spark, lambda: G.connected_components(chain, return_rounds=True))
    assert rounds >= 6  # labels travel six hops
    assert executions == rounds + 1
    assert {r.component for r in labels.collect()} == {0}


def test_scc_fused_colorings_with_unequal_round_counts(spark):
    """The forward and backward colorings run in one loop; on a graph
    where they need different round counts (a 6-cycle with a chord:
    backward labels cross it in 3 rounds, forward ones need 5), the
    converged one must hold still while the other finishes. Matches a
    brute-force mutual-reachability labeling, including a bridge node
    (7) that survives trim and settles in a later outer round."""
    from clif_spark.operators import graph as G

    pairs = ([(i, (i + 1) % 6) for i in range(6)] + [(0, 3)]
             + [(10, 11), (11, 10), (3, 10), (2, 7), (7, 10)])
    nodes = sorted({v for p in pairs for v in p})

    def rounds(flow):
        """Min-label rounds to fixpoint when labels move x -> y."""
        lab, r = {v: v for v in nodes}, 0
        while True:
            r += 1
            nxt = dict(lab)
            for x, y in flow:
                nxt[y] = min(nxt[y], lab[x])
            if nxt == lab:
                return r
            lab = nxt

    # fixture precondition: the two colorings converge at different rounds
    assert rounds(pairs) != rounds([(d, s) for s, d in pairs])

    def reach(v):
        seen, todo = {v}, [v]
        while todo:
            x = todo.pop()
            for s, d in pairs:
                if s == x and d not in seen:
                    seen.add(d)
                    todo.append(d)
        return seen

    r = {v: reach(v) for v in nodes}
    want = {v: min(w for w in r[v] if v in r[w]) for v in nodes}
    edges = spark.createDataFrame(pairs, "src long, dst long")
    got = {x.node: x.component
           for x in G.strongly_connected_components(edges).collect()}
    assert got == want
    assert want[7] == 7 and want[3] == 0 and want[11] == 10
