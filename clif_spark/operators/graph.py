"""Graph operators over edge relations — the iterative-algorithm class
(host-graph centrality for crawl prioritization: a host's rank is a
crawl-budget / quality prior signal, the production use of link graphs
in web-corpus pipelines).

Design decisions that make an ITERATIVE float algorithm driver-gateable:
- **Fixed iteration count**, not convergence detection: the gate needs a
  deterministic relation, and K iterations of a fixed-point map are one
  (an unrolled K-stage SQL expresses it exactly — the oracle). Real
  deployments pick K ~ 10-20; rank ORDERING stabilizes far earlier.
- **Integer-micros arithmetic throughout** (the dsum discipline applied
  to a fixed-point iteration): ranks are BIGINT micros, per-edge
  contributions are floor divisions, the damping multiply is integer —
  every operation is exact and order-independent, so parallel
  aggregation cannot perturb a single bit and both engines agree without
  tolerance bands. The deliberate cost: each floor division truncates
  <1 micro; total mass shrinks by <(E + N) micros per iteration —
  irrelevant for ranking, documented for mass-conservation readers.

Scale shape: each iteration is one join edges->ranks (hash on src, or
broadcast when ranks fit — host graphs are host-count sized, MILLIONS of
rows for the whole web, so broadcast is realistic) plus one groupBy(dst)
sum. K iterations = K such stages; the loop checkpoints the rank vector
every iteration — measured 7-10% faster than the chained K-plan at
sf0.1/sf1 (r18), because every iteration then plans from a materialized
node-sized relation with REAL size stats instead of K-compounded
estimates, and the final action stops re-running broadcast sub-jobs
over the whole chain; real deployments checkpoint to storage — see
``core.CHECKPOINT_DIR_CONF``.

PageRank exists once (``pagerank``): uniform and personalized
teleport, unweighted and weighted edges, cold and warm starts are its
arguments, not separate forms — unweighted is weighted with w = 1 and
uniform is personalized with every node a seed, both bit for bit.

Every iterative operator here reads the caller's edge lineage (for a
crawl graph, the whole link extraction) in ONE pass into an edge-sized
checkpoint and derives everything else from checkpointed leaves. A
fixpoint round is ONE checkpoint job: its convergence certificate is a
``df.observe`` metric riding that job (``core.materialize_observed``),
not a separate count/first probe; the generation a round replaces is
released (``core.release``) once its successor is written.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from clif_spark.operators.core import (fits_broadcast, materialize,
                                       materialize_observed, release)

MICROS = 1_000_000

def _endpoints(rel: DataFrame) -> DataFrame:
    """Distinct ``node`` over both endpoints of a (src, dst) relation,
    in one pass."""
    return (rel.select(F.explode(F.array("src", "dst")).alias("node"))
            .distinct())


#: Default fixpoint-round budget shared by the iterative operators AND
#: the recursive-CTE oracles that gate them: an oracle recursion bound
#: lower than the engine's round budget would silently truncate the
#: closure on a deep-enough fixture and flag a CORRECT engine result as
#: a mismatch (ADVICE r12) — so both sides read this one name.
FIXPOINT_MAX_ITERS = 50


def connected_components(edges: DataFrame, src_col: str = "src",
                         dst_col: str = "dst",
                         max_iters: int = FIXPOINT_MAX_ITERS,
                         return_rounds: bool = False):
    """Connected components over an UNDIRECTED view of the edge
    relation via min-label propagation to FIXPOINT: every node starts
    labeled with itself, each round replaces a node's label by the
    minimum of its own and its neighbors' labels, and the loop stops
    when a round changes nothing. At fixpoint label(u) = MIN(node id
    over u's component) — a pure function of the graph, independent of
    iteration order or partitioning, which is what makes an iterative
    algorithm driver-gateable without a tolerance band (the oracle is
    a recursive transitive closure + MIN).

    Returns (node, component) for every edge endpoint. Raises if the
    fixpoint is not reached within ``max_iters`` (fail loud, never
    return a half-converged labeling).

    Scale shape: O(graph diameter) rounds, each one edge-relation join
    + node-keyed min-agg materialized by ONE checkpoint job, whose
    observed changed-label count is the convergence probe (a driver
    scalar, not data). The undirected edge relation is built from a
    single read of the caller's lineage (each row explodes into both
    directions). Labels are node-relation sized: for host graphs
    (millions of rows at web scale) they broadcast, so a round is one
    scan of the edge relation with no corpus shuffle. Per-round
    checkpoint keeps lineage flat (without it round K re-executes all
    K-1 predecessors — the pagerank lesson). Host-like graphs have
    single-digit diameters. A component whose diameter exceeds
    ``max_iters`` raises; no answer is returned half-converged. This
    is the engine's one CC algorithm: large-star/small-star
    contraction saved at most two rounds per call but launched about
    3x the jobs per round, so it ran 1.1-2.2x slower on every caller
    and was removed (numbers in CHANGES.md)."""
    s, d = F.col(src_col), F.col(dst_col)
    ue = (edges.select(F.explode(F.array(
              F.struct(s.alias("src"), d.alias("dst")),
              F.struct(d.alias("src"), s.alias("dst")))).alias("__e"))
          .select("__e.src", "__e.dst")
          .filter(F.col("src") != F.col("dst"))
          .distinct()
          .transform(materialize))
    labels = (ue.select(F.col("src").alias("node")).distinct()
              .select("node", F.col("node").alias("component")))
    for rounds in range(1, max_iters + 1):
        cand = (ue.join(labels, ue["src"] == labels["node"])
                  .select(F.col("dst").alias("node"), "component"))
        # each node's own row carries its old label (__old) into the
        # same min-aggregation, so the changed-label count is observed
        # on the round's one checkpoint job without a join back to the
        # old labels. A label only ever moves DOWN, so "no changed
        # label" == fixpoint.
        prev = labels
        labels, m = materialize_observed(
            labels.withColumn("__old", F.col("component"))
            .unionByName(cand, allowMissingColumns=True)
            .groupBy("node")
            .agg(F.min("component").alias("component"),
                 F.max("__old").alias("__old")),
            "node", "component",
            changed=F.count_if(F.col("component") != F.col("__old")))
        release(prev)
        if not m["changed"]:
            return (labels, rounds) if return_rounds else labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds")


def bfs_depths(edges: DataFrame, seeds: DataFrame,
               src_col: str = "src", dst_col: str = "dst",
               max_iters: int = FIXPOINT_MAX_ITERS) -> DataFrame:
    """Minimum-hop depth from a seed set over the DIRECTED edge
    relation — the crawl-depth question (how many link hops from the
    seed list does each host sit?). Iterative relaxation to FIXPOINT:
    seeds start at depth 0, each round offers depth+1 across every
    out-edge, nodes keep their MIN, and the loop stops when no depth
    improves. At fixpoint depth(u) = length of the shortest seed->u
    path — again a pure function of the graph, so exactly gateable
    (oracle: depth-bounded recursive closure + MIN). Nodes unreachable
    from the seeds are ABSENT from the result (frontier semantics:
    the crawler never sees them).

    Same scale shape as connected_components: O(max shortest-path
    length) rounds of edge-join + min-agg with a broadcastable
    depth relation, one checkpoint job per round carrying its own
    certificate, loud failure past ``max_iters``."""
    s, d = F.col(src_col), F.col(dst_col)
    e = (edges.select(s.alias("src"), d.alias("dst")).distinct()
         .transform(materialize))

    def cert():
        return {"n": F.count(F.lit(1)), "total": F.sum("depth")}

    # depths only move down and nodes only get added, so the exact
    # integer pair (COUNT, SUM(depth)) is a fixpoint certificate,
    # observed on each checkpoint job. The seed-sized checkpoint also
    # keeps the caller's seed lineage (possibly a corpus-scan
    # aggregate) out of the loop.
    depths, prev = materialize_observed(
        seeds.select(F.col(seeds.columns[0]).alias("node"),
                     F.lit(0).cast("long").alias("depth")), **cert())
    for _ in range(max_iters):
        cand = (e.join(depths, e["src"] == depths["node"])
                 .select(F.col("dst").alias("node"),
                         (F.col("depth") + F.lit(1)).alias("depth")))
        old = depths
        depths, now = materialize_observed(
            depths.unionByName(cand)
            .groupBy("node")
            .agg(F.min("depth").alias("depth")), **cert())
        release(old)
        if now == prev:
            return depths
        prev = now
    raise RuntimeError(f"bfs_depths did not converge in {max_iters} rounds")


def _fw_bw_colors(e: DataFrame, nodes: DataFrame,
                  max_iters: int) -> DataFrame:
    """Both directed min-label colorings of the FW-BW SCC scheme in ONE
    fixpoint loop over (node, f, b):

        f(v) = MIN(node id over {v} ∪ {w : v reaches w})  (against e)
        b(v) = MIN(node id over {v} ∪ {u : u reaches v})  (along e)

    The two labels are independent, so carrying them side by side is
    exactly the two separate propagations, each frozen once converged;
    the loop stops when a round changes neither (labels only move DOWN,
    so a zero changed-count observed on the round's checkpoint job is
    the fixpoint). ``e`` and ``nodes`` must already be materialized.
    Raises past ``max_iters``."""
    lab = nodes.select("node", F.col("node").alias("f"),
                       F.col("node").alias("b"))
    for _ in range(max_iters):
        # u -> v: v's f label reaches u; u's b label reaches v
        fwd = (e.join(lab.select(F.col("node").alias("dst"), "f"), "dst")
               .select(F.col("src").alias("node"), "f"))
        bwd = (e.join(lab.select(F.col("node").alias("src"), "b"), "src")
               .select(F.col("dst").alias("node"), "b"))
        # each node's own row carries its old labels (__f, __b) into the
        # aggregation, as in connected_components
        prev = lab
        lab, m = materialize_observed(
            lab.select("node", "f", "b", F.col("f").alias("__f"),
                       F.col("b").alias("__b"))
            .unionByName(fwd, allowMissingColumns=True)
            .unionByName(bwd, allowMissingColumns=True)
            .groupBy("node")
            .agg(F.min("f").alias("f"), F.min("b").alias("b"),
                 F.max("__f").alias("__f"), F.max("__b").alias("__b")),
            "node", "f", "b",
            changed=F.count_if((F.col("f") != F.col("__f"))
                               | (F.col("b") != F.col("__b"))))
        release(prev)
        if not m["changed"]:
            return lab
    raise RuntimeError(
        f"_fw_bw_colors did not converge in {max_iters} rounds")


def strongly_connected_components(edges: DataFrame,
                                  src_col: str = "src",
                                  dst_col: str = "dst",
                                  max_iters: int = FIXPOINT_MAX_ITERS,
                                  return_rounds: bool = False):
    """Strongly connected components over the DIRECTED edge relation
    via iterative FORWARD/BACKWARD min-label coloring (the classic
    distributed SCC scheme — Orzan's coloring / the FW-BW family): per
    outer round compute over the REMAINING subgraph

        fwdmin(v) = MIN(node id over {v} ∪ {w : v reaches w})
        bwdmin(v) = MIN(node id over {v} ∪ {u : u reaches v})

    (each one directed min-label propagation to fixpoint), then settle
    every node with fwdmin(v) == bwdmin(v) == c at component c. Why
    that is exact: fwdmin(v) = c implies v reaches c AND fwdmin(c) = c
    (anything below c reachable from c would also be reachable from
    v); symmetrically bwdmin(v) = c implies c reaches v — so the
    settled set for c is mutually reachable with c, and conversely
    every w in SCC(c) shares c's reachability sets, hence settles with
    it. At fixpoint component(v) = MIN(node id over v's SCC) — a pure
    function of the graph, independent of partitioning and iteration
    order, which is what makes an iterative algorithm driver-gateable
    without a tolerance band (oracle: recursive closure self-joined on
    MUTUAL reachability + MIN).

    Settled nodes and their edges are removed and the round repeats;
    the remaining-global-min node always satisfies both equalities, so
    every round settles at least one SCC and the loop terminates.
    Worst case O(n) outer rounds (a directed path peels one node per
    round — the same adversary that degrades every pivot-based SCC
    scheme); real host graphs settle in a handful because each round
    clears EVERY locally-minimal SCC at once, not one pivot.

    Each outer round starts with TRIM (the standard FW-BW accelerant):
    a live node with no inbound or no outbound live edge cannot sit on
    a cycle, so it is its own SCC — settle it as a singleton and
    repeat until no such node remains (removals expose new trivial
    nodes, so one-way tails and whole DAG regions peel in the trim
    loop at two-distinct-plus-semi-join cost per layer, never paying
    the two full inner min-label fixpoints coloring costs). Trim
    preserves SCCs exactly: settled SCCs leave the live subgraph only
    as complete components, so the live subgraph's SCCs are always a
    subset of the original graph's. A pure directed path now settles
    ENTIRELY inside round 1's trim loop (the former O(n)-outer-round
    adversary), and tail-heavy web graphs skip the coloring fixpoints
    for their acyclic mass.

    Returns (node, component) for every edge endpoint — including a
    node whose only edges are self-loops, which is a valid singleton
    SCC (self-loop edges drop from the traversal relation, but the
    node universe derives from the UNFILTERED endpoints; ADVICE r13).
    Raises past ``max_iters`` outer rounds (and the inner coloring
    loop carries its own ``max_iters`` bound) — fail loud, never a
    half-converged labeling.

    Scale shape: the caller's lineage is read ONCE, into the distinct
    pair checkpoint both the traversal edges and the node universe
    derive from. Per outer round: the trim loop (one checkpoint job
    per layer: node flags + two semi-joins) + one fused coloring
    fixpoint (``_fw_bw_colors``: edge-joins + node-min-agg over
    broadcastable node-sized labels, one job per round) + one node
    anti-join + one edge semi-join, each over a relation that only
    ever SHRINKS, each count observed on its own checkpoint job."""
    s, d = F.col(src_col), F.col(dst_col)
    is_edge = F.col("src") != F.col("dst")
    allp, m = materialize_observed(
        edges.select(s.alias("src"), d.alias("dst")).distinct(),
        n=F.count_if(is_edge))
    n_e = m["n"]
    e = allp.filter(is_edge)
    nodes = _endpoints(allp)
    settled = (nodes.select("node", F.col("node").alias("component"))
               .limit(0))
    for rounds in range(1, max_iters + 1):
        # TRIM to fixpoint: any live node missing an inbound or an
        # outbound live edge is a singleton SCC. Each layer's removal
        # can expose the next (a tail peels layer by layer). A layer is
        # ONE checkpoint of the core-filtered edge relation with its
        # row count observed; the trimmed singletons are not settled
        # per layer but derived once after the loop (pre-trim universe
        # ANTI-JOIN surviving endpoints — the layer order never changes
        # which nodes survive, only how fast we find them). The
        # fixpoint certificate is the edge count: the core semi-join
        # only ever REMOVES edges, so an unchanged count means every
        # endpoint already has both flags. Every relation derives from
        # a checkpointed leaf, so lineage stays flat.
        while n_e > 0:
            # one pass over e: which endpoints have both an inbound AND
            # an outbound live edge (cycle-eligible core)
            flags = (e.select(F.col("src").alias("node"),
                              F.lit(1).alias("o"), F.lit(0).alias("i"))
                     .unionByName(
                         e.select(F.col("dst").alias("node"),
                                  F.lit(0).alias("o"),
                                  F.lit(1).alias("i")))
                     .groupBy("node")
                     .agg(F.max("o").alias("o"), F.max("i").alias("i")))
            core = (flags.filter((F.col("o") == 1) & (F.col("i") == 1))
                    .select("node"))
            e2, m = materialize_observed(
                e.join(core.withColumnRenamed("node", "src"), "src", "semi")
                .join(core.withColumnRenamed("node", "dst"), "dst", "semi")
                .select("src", "dst"), n=F.count(F.lit(1)))
            if m["n"] == n_e:
                release(e2)
                break  # removed nothing: every endpoint is in the core
            release(e)
            e, n_e = e2, m["n"]
        if n_e == 0:
            live = nodes.limit(0)
        else:
            # at the trim fixpoint the live universe IS e's endpoint
            # set (the break above proves endpoints(e) ⊆ core ⊆
            # endpoints(e))
            live = _endpoints(e).transform(materialize)
        # the previous generations of settled and nodes go once the
        # lazy union reading them is written
        old = (settled, nodes)
        settled = settled.unionByName(
            nodes.join(live, "node", "left_anti")
                 .select("node", F.col("node").alias("component")))
        if n_e == 0:
            return (settled, rounds) if return_rounds else settled
        settled = materialize(settled)
        release(*old)
        nodes = live
        lab = _fw_bw_colors(e, nodes, max_iters)
        now = (lab.filter(F.col("f") == F.col("b"))
               .select("node", F.col("f").alias("component")))
        old = (settled, nodes, lab)
        settled = materialize(settled.unionByName(now))
        nodes, m = materialize_observed(
            nodes.join(now, "node", "left_anti"), n=F.count(F.lit(1)))
        release(*old)
        if m["n"] == 0:
            return (settled, rounds) if return_rounds else settled
        old = e
        e, m = materialize_observed(
            e.join(nodes.withColumnRenamed("node", "src"), "src", "semi")
            .join(nodes.withColumnRenamed("node", "dst"), "dst", "semi")
            .select("src", "dst"), n=F.count(F.lit(1)))
        release(old)
        n_e = m["n"]
    raise RuntimeError(
        f"strongly_connected_components did not converge in "
        f"{max_iters} rounds")


def hits_fixed(edges: DataFrame, iterations: int = 3,
               src_col: str = "src", dst_col: str = "dst",
               init_hub: DataFrame | None = None) -> DataFrame:
    """HITS hubs & authorities (Kleinberg) over a DISTINCT edge
    relation — the co-citation-family complement to PageRank: an
    AUTHORITY is a node good hubs point at, a HUB is a node that
    points at good authorities; crawl pipelines use authority as a
    fetch-priority / quality prior alongside rank, and the hub side
    flags directory/aggregator hosts.

    ``iterations`` exact integer-micros steps of

        a'(v) = L1-normalize( sum_{u->v} h(u) )
        h'(u) = L1-normalize( sum_{u->v} a'(v) )      (the NEW a)

    where L1-normalize rescales the vector to total mass MICROS via
    one exact integer division (x * MICROS div total). Classic HITS
    normalizes by the L2 norm — a sqrt, i.e. libm, which the gate
    bans; L1 normalization keeps the same fixed-point DIRECTION class
    (normalization only rescales between iterations) with every
    operation exact integer arithmetic, so both engines agree
    bit-for-bit (the pagerank discipline; documented deviation).
    Each truncating division loses <1 micro per node per step —
    irrelevant for ranking, stated for mass-conservation readers.

    Returns (node, hub_micros, auth_micros) for every edge endpoint;
    nodes with no outbound edges hold hub 0, no inbound edges
    authority 0. Scale shape: per iteration two edge-relation joins +
    two node-keyed sums + two single-row total aggregates (broadcast
    back — graph-metadata sized, never collected to the driver);
    node-sized vectors broadcast at host-graph scale. The edge and node
    relations are checkpointed once (the node count is observed on the
    node checkpoint's job, not a separate count). Overflow bound:
    s * MICROS needs s < 2^63/1e6 ≈ 9.2e12 — safe while max in-degree
    x MICROS stays under it (any realistic host graph).

    ``init_hub`` (node, hub_micros) WARM-STARTS from a persisted hub
    vector: the hub vector is the iteration's ONLY carried state (each
    authority vector is recomputed from the current hubs), and every
    operation is exact, so K stored + K' warm iterations equal K+K'
    from scratch BIT-FOR-BIT — the pagerank warm-start contract
    on the HITS pair. Nodes missing from init seed with the uniform
    share; ranks for vanished nodes drop."""
    src, dst = F.col(src_col), F.col(dst_col)
    e = (edges.select(src.alias("src"), dst.alias("dst")).distinct()
         .transform(materialize))
    # node-sized checkpoint: every normalization joins it, and its
    # count rides the same job
    nodes, m = materialize_observed(_endpoints(e), n=F.count(F.lit(1)))
    n = m["n"]
    if init_hub is not None:
        h = (nodes.join(
            init_hub.select("node",
                            F.col("hub_micros").alias("__init")),
            "node", "left")
            .select("node", F.coalesce("__init", F.lit(MICROS // n))
                    .cast("long").alias("r")))
    else:
        h = nodes.select("node",
                         F.lit(MICROS // n).cast("long").alias("r"))

    def _norm(raw, prev):
        """(node, s) -> (filled, all nodes with s * MICROS div total)
        (exact), releasing ``prev``, the side's previous filled vector.
        The filled vector is node-relation sized and referenced TWICE
        (the total and the rescale) — without the checkpoint each
        normalization level re-executes its whole upstream chain
        through BOTH references, doubling per level: 2^(2K) stages by
        iteration K (measured 13.2 s for a 25-node graph at K=3; the
        pagerank lesson in exponential form)."""
        filled = (nodes.join(raw, "node", "left")
                  .select("node", F.coalesce("s", F.lit(0))
                          .cast("long").alias("s"))
                  .transform(materialize))
        release(prev)
        total = filled.agg(F.sum("s").alias("t"))
        return filled, (
            filled.crossJoin(F.broadcast(total))
            .select("node", F.expr(f"(s * CAST({MICROS} AS BIGINT))"
                                   f" div t").cast("long").alias("r")))

    a = fa = fh = None
    for _ in range(iterations):
        a_raw = (e.join(h.withColumnRenamed("node", "src"), "src")
                 .groupBy("dst").agg(F.sum("r").alias("s"))
                 .withColumnRenamed("dst", "node"))
        fa, a = _norm(a_raw, fa)
        h_raw = (e.join(a.withColumnRenamed("node", "dst"), "dst")
                 .groupBy("src").agg(F.sum("r").alias("s"))
                 .withColumnRenamed("src", "node"))
        fh, h = _norm(h_raw, fh)
    return (nodes
            .join(h.withColumnRenamed("r", "hub_micros"), "node", "left")
            .join(a.withColumnRenamed("r", "auth_micros"), "node", "left")
            .select("node",
                    F.coalesce("hub_micros", F.lit(0)).cast("long")
                     .alias("hub_micros"),
                    F.coalesce("auth_micros", F.lit(0)).cast("long")
                     .alias("auth_micros")))


def k_core(edges: DataFrame, k: int, src_col: str = "src",
           dst_col: str = "dst", max_iters: int = FIXPOINT_MAX_ITERS,
           return_rounds: bool = False):
    """The k-CORE of the undirected simple view of the edge relation —
    the maximal subgraph in which every node has degree >= k, computed
    by iterative PEELING: drop every node whose current degree is
    below k, recompute degrees over the survivors, repeat to fixpoint.
    The k-core is UNIQUE (the union of all subgraphs with min degree
    >= k), i.e. a pure function of the graph — peel order cannot
    change it — which makes the peeling loop driver-gateable exactly
    (oracle: the same rounds unrolled in SQL). Production use:
    link-farm / spam-cluster cores (organic link neighborhoods shed
    under peeling, near-cliques survive), influencer-core extraction,
    and graph densification before expensive per-node analysis.

    Returns (node, core_degree) for the SURVIVORS ONLY (nodes outside
    the core are absent — membership is the signal), core_degree =
    the node's degree within the core. With ``return_rounds=True``
    returns (core, rounds).

    Convergence certificate: the alive set only ever SHRINKS, so two
    consecutive equal counts — one exact integer per round, observed
    on the round's degree checkpoint job — prove the fixpoint. Loud
    failure past ``max_iters`` (a path graph peels one layer from each
    end per round, O(n/2) rounds — the documented adversary; host
    graphs peel in a handful).

    Scale shape per round: two semi-joins filtering the (shrinking)
    edge relation to alive endpoints + one node-keyed count — the
    alive relation is node-sized (broadcastable at host-graph scale),
    and one checkpoint job per round keeps lineage flat."""
    s, d = F.col(src_col), F.col(dst_col)
    cn = (edges.select(F.least(s, d).alias("u"),
                       F.greatest(s, d).alias("v"))
          .filter(F.col("u") != F.col("v"))
          .distinct()
          .transform(materialize))
    sym = (cn.select(F.col("u").alias("node"), F.col("v").alias("other"))
           .unionByName(cn.select(F.col("v").alias("node"),
                                  F.col("u").alias("other")))
           .transform(materialize))
    alive, m = materialize_observed(sym.select("node").distinct(),
                                    n=F.count(F.lit(1)))
    n_alive = m["n"]
    deg = alive  # the materialization alive reads
    for rounds in range(1, max_iters + 1):
        old = deg
        deg, m = materialize_observed(
            sym.join(alive, "node", "semi")
            .join(alive.withColumnRenamed("node", "other"), "other", "semi")
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("long").alias("core_degree")),
            kept=F.count_if(F.col("core_degree") >= k))
        release(old)
        nxt = deg.filter(F.col("core_degree") >= k)
        if m["kept"] == n_alive:
            # fixpoint: deg was computed over this exact alive set, so
            # the surviving rows carry the final core degrees
            core = nxt.select("node", "core_degree")
            return (core, rounds) if return_rounds else core
        # no checkpoint: alive is a narrow filter+project over the
        # round's ALREADY-CHECKPOINTED deg relation — the next round's
        # two semi-joins re-scan that flat leaf cheaply, and lineage
        # stays bounded at depth one because deg re-checkpoints every
        # round.
        alive = nxt.select("node")
        n_alive = m["kept"]
    raise RuntimeError(f"k_core did not converge in {max_iters} rounds")


def triangle_counts(edges: DataFrame, src_col: str = "src",
                    dst_col: str = "dst") -> DataFrame:
    """Per-node TRIANGLE counts over the undirected simple view of the
    edge relation — the local-density primitive behind clustering
    coefficients and link-farm / spam-cluster detection (organic link
    neighborhoods are sparse; farms are near-cliques, so triangle
    density separates them).

    Exactness: edges canonicalize to (u < v) distinct pairs, triangles
    enumerate as ordered triples a < b < c via two joins
    ((a,b) ⋈ (b,c) ⋈ (a,c)) — each triangle exactly once, a pure
    function of the graph, so the count is driver-gateable against the
    same three-way self-join in SQL. Nodes in no triangle are ABSENT
    (join semantics; the caller left-joins the node relation if zeros
    matter).

    Scale shape: this is the standard distributed triangle enumeration
    — two hash joins on the canonical edge relation, O(E^{3/2}) pair
    work bounded by the join on the lower-degree endpoint ordering
    (the a < b < c constraint is exactly the degree-ordering trick's
    effect on enumeration multiplicity). No iteration, no driver
    state."""
    s, d = F.col(src_col), F.col(dst_col)
    # edge-relation-sized checkpoint: the enumeration scans cn THREE
    # times (e1/e2/e3) — without it each leg re-executes the caller's
    # full upstream lineage (the pagerank lesson; for a crawl-derived
    # graph that is the whole link extraction, three times)
    cn = (edges.select(F.least(s, d).alias("u"),
                       F.greatest(s, d).alias("v"))
          .filter(F.col("u") != F.col("v"))
          .distinct()
          .transform(materialize))
    e1 = cn.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = cn.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = cn.select(F.col("u").alias("a"), F.col("v").alias("c"))
    # Size-gated broadcast (r17, guide §3.1): cn's inherited estimate
    # is unknown, so without the gate all three enumeration joins ran
    # as SortMergeJoins even on a 20-row fixture (audit r17). Under the
    # bounds the two probe joins broadcast the right sides and e1 never
    # shuffles.
    if fits_broadcast(cn, ["u", "v"]):
        e2, e3 = F.broadcast(e2), F.broadcast(e3)
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    # ONE evaluation of the enumeration tree (r17, guide §2.4): the
    # previous union of three projections re-executed the whole
    # two-join subtree per branch (no exchange reuse across the
    # aliased branches — 3x the join work in one job); exploding the
    # member array emits the identical (a, b, c) multiset in a single
    # pass.
    members = tri.select(F.explode(F.array(
        F.col("a"), F.col("b"), F.col("c"))).alias("node"))
    return (members.groupBy("node")
            .agg(F.count(F.lit(1)).cast("long").alias("n_triangles")))


def _collapse_weighted_edges(edges: DataFrame, src_col: str,
                             dst_col: str, weight_col: str) -> DataFrame:
    """Multigraph collapse with the in-plan raw-weight guard: parallel
    (src,dst) rows SUM their weights, and the fail-loud guard runs on
    the RAW per-row weights, BEFORE the collapse — post-aggregation
    totals would let a NULL (skipped by SUM) or a negative row that
    nets positive with a parallel edge pass silently, exactly the
    corruption the guard's message promises to catch. It rides IN the
    collapse aggregation (the dsum(checked=True) assert_true pattern)
    rather than as a separate eager count: the caller's upstream edge
    lineage — the whole corpus-sized link extraction for a crawl
    graph — executes exactly ONCE, in pagerank's eager edge
    checkpoint, which is also the job that evaluates the guard for
    every group (ADVICE r16; the job-count parity with the unweighted
    call is regression-pinned)."""
    src, dst = F.col(src_col), F.col(dst_col)
    w = F.col(weight_col)
    agg = (edges.groupBy(src.alias("src"), dst.alias("dst"))
           .agg(F.sum(w).cast("long").alias("__w"),
                F.sum(F.when(w.isNull() | (w < 1), 1).otherwise(0))
                 .alias("__bad")))
    guard = F.assert_true(
        F.col("__bad") == 0,
        F.concat(
            F.lit("pagerank: "),
            F.col("__bad").cast("string"),
            F.lit(" raw edge row(s) with NULL or non-positive weight"
                  " on one (src,dst) pair — weights must be positive"
                  " integers (a zero/NULL-weight row silently alters"
                  " every sibling edge's share); filter or fix"
                  " upstream")))
    # when() forces the guard before w is served; guard is NULL on pass
    return agg.select("src", "dst",
                      F.when(guard.isNull(), F.col("__w")).alias("w"))


def pagerank(edges: DataFrame, iterations: int = 3, damping_pct: int = 85,
             src_col: str = "src", dst_col: str = "dst",
             weight_col: str | None = None,
             seeds: DataFrame | None = None,
             init_ranks: DataFrame | None = None) -> DataFrame:
    """PageRank in exact integer micros: ``iterations`` steps of

        r'(u) = tele(u) + d% * sum_{v->u} w(v,u) * (r(v) div W(v))

    with every division a floor (see the module docstring for why),
    where W(v) is v's total outbound weight, so each UNIT of weight
    carries one share ``r(v) div W(v)``. Returns (node, rank_micros,
    rank) — rank = micros / 1e6 as double, one exact divide.

    The variants are data, not code:

    - **Weights.** ``weight_col`` unset ranks the DISTINCT edge
      relation with w = 1, so W(v) is the out-degree and
      w * (r div W) = r div od bit for bit. Set, the weight is link
      multiplicity (a crawl's per-host-pair ``n_urls``: ten distinct
      URLs linking a host are stronger evidence than one). Weights
      must be positive integers and parallel (src,dst) rows SUM; a
      NULL, zero or negative raw row fails loud at call time (a w=0
      edge would silently alter W(v) for every sibling edge).
    - **Teleport.** ``seeds`` unset teleports uniformly: every node is
      a seed, k = N. Set, the surfer restarts at the seed set only
      (Haveliwala's topic-sensitive form): tele(u) =
      (100 - d)% * MICROS // 100 // k on the k seeds and 0 elsewhere,
      and the iteration starts from MICROS // k on each seed — rank
      then measures link proximity to the seeds, the crawl-budget
      prior for topic- or site-focused crawling. The seed frame's
      first column holds node ids. The node universe is the edge
      endpoints UNION the seeds, so a seed with no edges keeps its
      row: it holds its teleport share, receives no inbound flow and
      contributes none (ADVICE r13). Nodes unreachable from the seeds
      hold rank 0 and REMAIN in the output.
    - **Warm start.** ``init_ranks`` (node, rank_micros) starts the
      iteration from a persisted rank table instead of the initial
      vector. Each step is a pure exact function of the previous
      vector, so K stored + K' warm iterations equal K+K' from
      scratch BIT-FOR-BIT (the gated warm-start rows): a standing rank
      table advances delivery by delivery without recomputing
      history. Ranks of vanished nodes are dropped; nodes missing from
      init start from the initial share.

    Fails loud (ValueError) unless each teleport share is at least 1
    micro, i.e. k <= (100 - d)% * MICROS // 100 (150,000 at the default
    damping) — a larger graph or seed set needs a bigger mass unit;
    an empty graph and an empty seed set fail the same way. Each
    floor division truncates < 1 micro per weight unit, so total mass
    shrinks by < (sum w + N) micros per iteration — irrelevant for
    ranking. Overflow bound: sum_{v->u} w * (r div W) <= sum r <=
    MICROS * N before damping.

    Scale shape: K stages of edge join + node-keyed sum against a
    node-sized rank relation (broadcastable at host-graph scale).
    Jobs: one edge checkpoint (carrying W and, when weighted, firing
    the guard), one observed count (the node checkpoint when uniform,
    the seed checkpoint when seeded, plus the seeded teleport base's
    checkpoint), then one rank checkpoint per iteration."""
    if weight_col is None:
        we = (edges.select(F.col(src_col).alias("src"),
                           F.col(dst_col).alias("dst"))
              .distinct().withColumn("w", F.lit(1).cast("long")))
    else:
        we = _collapse_weighted_edges(edges, src_col, dst_col, weight_col)
    # Materialize the edge relation ONCE, each source's total weight W
    # riding along: every iteration references it, and without the
    # checkpoint each reference re-executes the caller's full upstream
    # lineage — for a crawl-derived graph the whole link extraction,
    # K x 2 times (measured 38.6 s for K=10 at sf10 vs 3.5 s
    # checkpointed). Edge-relation sized, never corpus-sized.
    e = (we.withColumn("tw", F.sum("w").over(Window.partitionBy("src")))
         .transform(materialize))
    count = F.count(F.lit(1))
    if seeds is None:
        nodes, m = materialize_observed(_endpoints(e), k=count)
    else:
        sd, m = materialize_observed(
            seeds.select(F.col(seeds.columns[0]).alias("node")).distinct(),
            k=count)
        nodes = _endpoints(e).unionByName(sd).distinct()
    k = m["k"]
    tnum = (100 - damping_pct) * MICROS // 100
    if k == 0 or tnum // k == 0:
        raise ValueError(
            f"pagerank: a teleport of {tnum} micros over {k} "
            f"{'node' if seeds is None else 'seed'}(s) leaves no "
            f">= 1 micro share — shrink the graph or seed set, or "
            f"raise the mass unit")
    if seeds is None:
        # a projection of the node checkpoint: every node is a seed
        base = nodes.select("node",
                            F.lit(tnum // k).cast("long").alias("tele"))
    else:
        base = (nodes.join(sd.withColumn("__s", F.lit(1)), "node", "left")
                .select("node",
                        F.when(F.col("__s") == 1, F.lit(tnum // k))
                         .otherwise(F.lit(0)).cast("long").alias("tele"))
                .transform(materialize))
    r0 = F.when(F.col("tele") > 0, F.lit(MICROS // k)).otherwise(F.lit(0))
    ranks = base
    if init_ranks is not None:
        # joins the initial vector only, never base: the snapshot read
        # stays out of every iteration's plan
        ranks = base.join(
            init_ranks.select("node", F.col("rank_micros").alias("__init")),
            "node", "left")
        r0 = F.coalesce("__init", r0)
    ranks = ranks.select("node", r0.cast("long").alias("r"))
    for _ in range(iterations):
        # TRUE integer division (`div`), not floor(double): floor(r/W)
        # agrees with r // W only while r is small enough that the
        # double rounding error stays under 1/W — guaranteed at micros
        # scale but NOT for arbitrary caller-supplied init_ranks. `div`
        # keeps the bit-for-bit warm-start contract over the full long
        # domain (regression: tests/test_graph.py).
        old = ranks
        contrib = (e.join(ranks, e["src"] == ranks["node"])
                    .select(F.col("dst").alias("node"),
                            F.expr("w * (r div tw)").alias("c")))
        s = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = (base.join(s, "node", "left")
                 .select("node",
                         (F.col("tele")
                          + F.expr(f"({damping_pct} * coalesce(s, "
                                   f"CAST(0 AS BIGINT))) div 100"))
                         .cast("long").alias("r"))
                 .transform(materialize))
        release(old)
    return ranks.select(F.col("node"),
                        F.col("r").alias("rank_micros"),
                        (F.col("r") / F.lit(float(MICROS)))
                        .cast("double").alias("rank"))
