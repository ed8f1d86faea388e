"""Link-graph operators: property-graph joins, degrees, BFS frontier.

The reference stores a crawl link graph (NetwIndex/NetwEdges,
hi-csa-db.Rmd:123-128) and runs a BFS web crawl to MaxDepth
(hi-csa-db.Rmd:111-119). Here the graph is nodes/edges DataFrames
(GraphFrames-compatible layout, SURVEY.md section 1.4) and the BFS is
an iterative frontier loop — one distributed job per depth level, the
visited set maintained with a left-anti join (never collect()ed).

Scale notes: each BFS level is one shuffle (frontier join edges); the
visited set stays distributed; at cluster scale the edge table would be
bucketed by src so the frontier join is shuffle-free on one side.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hi_csa_db_spark.catalog import local_frame
from hi_csa_db_spark.operators._cache_ledger import register_cached


# per-partition byte target for cached ITERATIVE frames (r12): every
# round pays (stages x partitions) task overheads, so a tiny subgraph
# pinned at core-count partitions runs dozens of near-empty tasks per
# round — measured: graph_components_star 3.8-5.0 s at 32 partitions
# vs 2.6-2.8 s at 4, bfs 2.5-4.8 s at 32 vs 2.3-2.9 s at 8 (sf0.1,
# cold caches). 512 KiB of optimizer-estimated bytes per partition
# reproduces those optima and the estimate only shrinks the count —
# the cap stays at the session's core parallelism, so large frames
# (the sf10 decade) keep the session's shuffle partition count, which
# SCALE.md "THE partition-sizing rule" sizes.
_ITER_TARGET_BYTES = 512 * 1024


def _iter_layout(df: DataFrame, *keys: str, adaptive: bool = True) -> DataFrame:
    """Materialized layout for iterative consumers: hash-partition on
    the join key, then cache. The explicit partition count matters: a
    cached plan keeps its shuffle partitioning forever (AQE cannot
    re-coalesce through an InMemoryRelation), so caching a
    default-200-partition distinct turns every later iteration into
    hundreds of near-empty tasks — measured 13x slower on local[8] at
    sf0.01. On a cluster this is where the bucketed-by-src table
    layout (SCALE.md) takes over.

    r12: the count is derived from the ANALYZED plan's size estimate
    (floor 2, cap defaultParallelism — see _ITER_TARGET_BYTES).
    analyzed().stats(), not optimizedPlan().stats(): the latter runs
    a full extra optimizer pass over the subtree at call time, which
    costs seconds when the edge list is itself a big composite (the
    LSH pair graph in d10/pipe_v3); the analyzed-plan visitor is
    O(plan) cheap, agrees with the optimized estimate on the simple
    frames this targets, and over-estimates composites — which just
    keeps them at the core-count cap, today's behavior.
    ``adaptive=False`` keeps the fixed core-count layout; pagerank
    uses it because its per-round double sums are only bit-stable
    under a FIXED partitioning (FP addition order), and its rounded
    rank outputs sit behind an oracle whitelist calibrated to it."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if adaptive:
        try:
            est = int(
                str(df._jdf.queryExecution().analyzed().stats().sizeInBytes())
            )
            n = max(2, min(n, -(-est // _ITER_TARGET_BYTES)))
        except Exception:
            pass
    # r13: cached layouts register in the bounded ledger so a long
    # session cannot accumulate unpersisted frames (VERDICT r12 item 5).
    return register_cached(df.repartition(n, *keys).cache())


def _undirected(edges: DataFrame) -> DataFrame:
    """The symmetrized, distinct (src, dst) edge list in the cached
    ``_iter_layout`` keyed on src: the adjacency every undirected
    operator here walks."""
    return _iter_layout(
        edges.select("src", "dst")
        .unionAll(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct(),
        "src",
    )


def _min_label_step(g: DataFrame, labels: DataFrame) -> DataFrame:
    """One min-label round over the (src, dst) layout ``g``: each
    (id, lbl) label becomes the least of itself and the labels of its
    neighbours along g (src -> dst). One join + one map-combined min
    aggregate, then the left join back (a node with no edge keeps its
    label). Every label-propagation operator here runs this step."""
    nb_min = (
        g.join(labels, g["dst"] == labels["id"])
        .groupBy("src")
        .agg(F.min("lbl").alias("__nb"))
    )
    return labels.join(nb_min, labels["id"] == nb_min["src"], "left").select(
        "id",
        F.least(F.col("lbl"), F.coalesce("__nb", F.col("lbl"))).alias("lbl"),
    )


def _label_sum(labels: DataFrame):
    """sum(lbl) of a label table, collected to the driver: the EARLY
    STOP probe of the fixpoint loops (r12). Every label move there is
    non-increasing (the step takes a least() with the current label;
    the pointer jump replaces lbl with lbl's own label, and lbl(x) <= x
    holds from lbl_0 = id), so sum(lbl) strictly decreases until the
    fixpoint and an UNCHANGED sum proves no label moved: every later
    round is an identity map and stopping returns the same table.
    Decimal, so no bigint wrap at any node-id scale; one nodes-sized
    aggregate per round replaces the wasted tail rounds and their
    driver-side plan builds — measured at sf0.1 (graph_components_star):
    10 rounds built in 4.2 s for a graph that converges in 2."""
    return labels.agg(
        F.sum(F.col("lbl").cast("decimal(38,0)")).alias("s")
    ).collect()[0][0]


def _audit_rows(joined: list[DataFrame], resolved: str) -> DataFrame:
    """The convergence-audit table: row k (1-based) of ``joined`` is
    the round-k label table joined to its exact labels, and a node is
    RESOLVED where the SQL condition ``resolved`` holds. One row per
    round: (round, resolved_nodes, total_nodes, resolved_share_micro),
    the share in exact integer micro-units (resolved*1000000 div
    total) — no float, engine-portable."""
    hits = f"sum(CASE WHEN {resolved} THEN 1 ELSE 0 END)"
    rows = [
        j.agg(
            F.lit(k).cast("bigint").alias("round"),
            F.expr(hits).cast("bigint").alias("resolved_nodes"),
            F.count(F.lit(1)).cast("bigint").alias("total_nodes"),
            F.expr(f"CAST({hits} * 1000000 div count(1) AS BIGINT)").alias(
                "resolved_share_micro"
            ),
        )
        for k, j in enumerate(joined, 1)
    ]
    return reduce(DataFrame.unionByName, rows)


def degrees(edges: DataFrame) -> DataFrame:
    """Out/in degree per node id: (id, out_deg, in_deg).

    Single hash-aggregate pass: each edge contributes (src,1,0) and
    (dst,0,1); map-side partial aggregation collapses per-partition
    before ONE shuffle — vs the naive two-groupBy + full-outer-join
    plan (three shuffles, two of them over the full edge list)."""
    contrib = edges.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("src").alias("id"),
                    F.lit(1).alias("o"),
                    F.lit(0).alias("i"),
                ),
                F.struct(
                    F.col("dst").alias("id"),
                    F.lit(0).alias("o"),
                    F.lit(1).alias("i"),
                ),
            )
        ).alias("c")
    ).select("c.id", "c.o", "c.i")
    return contrib.groupBy("id").agg(
        F.sum("o").alias("out_deg"), F.sum("i").alias("in_deg")
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank: (id, rank).

    r_{k+1}(v) = (1-d)/N + d * sum over incoming u of r_k(u)/outdeg(u)
    — the simplified variant without dangling-mass redistribution
    (sink nodes leak mass; deterministic and engine-portable). Each
    iteration is one join + one aggregation; the edge and degree
    tables are computed once and cached since every iteration rescans
    them (at cluster scale: a bucketed-by-src edge table, so the
    per-iteration join is shuffle-free on the edge side).

    The reference stores its crawl link graph but never analyzes it
    (igraph loaded yet unused, hi-csa-db.Rmd:56,123-128) — this is the
    analysis tier it was missing.
    """
    edges = _iter_layout(
        edges.select("src", "dst").distinct(), "src", adaptive=False
    )
    nodes = _iter_layout(
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct(),
        "id",
        adaptive=False,
    )
    n_nodes = nodes.count()
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    # contribution edge list: src, dst, 1/outdeg (static across iters)
    contrib_edges = _iter_layout(
        edges.join(outdeg, "src").select(
            "src", "dst", (F.lit(1.0) / F.col("od")).alias("w")
        ),
        "src",
        adaptive=False,
    )
    base = (1.0 - damping) / n_nodes
    ranks = nodes.select("id", F.lit(1.0 / n_nodes).alias("rank"))
    for _ in range(iterations):
        inflow = (
            contrib_edges.join(ranks, contrib_edges["src"] == ranks["id"])
            .select(F.col("dst").alias("id"), (F.col("rank") * F.col("w")).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = nodes.join(inflow, "id", "left").select(
            "id",
            (F.lit(base) + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))).alias(
                "rank"
            ),
        )
    return ranks


def connected_components_fixpoint(
    edges: DataFrame, rounds: int = 10
) -> DataFrame:
    """TRUE connected components via min-label propagation WITH
    POINTER JUMPING: (id, lbl) where lbl is the component's minimum
    node id — exact, not a bounded-radius approximation.

    Each round does (a) lbl <- min(lbl, neighbors' lbl) — one hop of
    ordinary label propagation — then (b) lbl <- lbl's OWN current
    label (a self-join on the label table), which doubles the
    effective propagation distance per round (the hash-to-min /
    alternating-star family): convergence in O(log diameter) rounds
    instead of O(diameter). ``rounds``=10 covers any graph of
    diameter <= 2^10; connected_components (plain 3-iteration label
    prop) stays the cheap choice when near-dup clusters are known
    shallow, and tests/test_temporal_pagerank.py pins a 20-node chain
    where the plain version has NOT converged but this one has.

    Scale: per round one edge join + map-combined min aggregate + one
    label self-join — same bucketed _iter_layout contract as the other
    iterative ops; the label table is nodes-sized, never edges-sized.
    """
    ud = _undirected(edges)
    labels = ud.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("lbl")
    )
    # r12 EARLY STOP on an unchanged label sum (see _label_sum).
    prev_sum = None
    for _ in range(rounds):
        labels = _min_label_step(ud, labels)
        # pointer jump: follow my label's own label (halves rounds).
        # Rename both sides before the self-join so the lineage-shared
        # attributes can't collide (Spark self-join ambiguity).
        parent = labels.select(
            F.col("id").alias("__pid"), F.col("lbl").alias("__plbl")
        )
        labels = (
            labels.join(parent, labels["lbl"] == parent["__pid"], "left")
            .select(
                "id",
                F.coalesce(F.col("__plbl"), F.col("lbl")).alias("lbl"),
            )
            # 10 rounds x 3 joins of stacked lineage makes Catalyst
            # re-analyze an exponentially nested plan (and re-execute
            # every prior round inside the self-join); a lazy local
            # checkpoint per round keeps the plan one round deep —
            # the standard iterative-algorithm truncation.
            .localCheckpoint(eager=False)
        )
        cur_sum = _label_sum(labels)
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


def personalized_pagerank_micro(
    edges: DataFrame,
    seed_pred,
    iterations: int = 3,
) -> DataFrame:
    """Personalized PageRank with PURE INTEGER micro-rank arithmetic:
    (id, rank_micro). ``seed_pred`` is a Column predicate over ``id``
    selecting the seed set; teleport mass (15%) goes ONLY to seeds, so
    rank measures proximity to the seeds — the corpus-expansion /
    domain-allowlist-growth primitive — not global centrality.

    r_0(v)      = [v in S] * 1_000_000
    r_{k+1}(v)  = [v in S] * 150_000
                  + (850_000 * sum over u->v of (r_k(u) div od(u)))
                    div 1_000_000

    All floor divisions on bigints, so both engines (and any host)
    agree bit-for-bit — unlike pagerank's ROUND(double) ranks, no
    float whitelist entry is needed. Same iterative-join shape and
    cached hash layout as pagerank (_iter_layout): per iteration one
    equi-join + one map-combined aggregate; at cluster scale the
    bucketed-by-src edge table makes the join shuffle-free on the
    edge side."""
    edges = _iter_layout(edges.select("src", "dst").distinct(), "src")
    nodes = _iter_layout(
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct(),
        "id",
    )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    ce = _iter_layout(edges.join(outdeg, "src"), "src")
    teleport = F.when(seed_pred(F.col("id")), F.lit(150000)).otherwise(
        F.lit(0)
    )
    ranks = nodes.select(
        "id",
        F.when(seed_pred(F.col("id")), F.lit(1000000))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("r"),
    )
    for _ in range(iterations):
        contrib = (
            ce.join(ranks.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"), F.expr("r div od").alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("s"))
        )
        ranks = nodes.join(contrib, "id", "left").select(
            "id",
            (
                teleport
                + F.expr(
                    "CAST(850000 * coalesce(s, 0) div 1000000 AS BIGINT)"
                )
            ).alias("r"),
        )
    return ranks.select("id", F.col("r").alias("rank_micro"))


def connected_components(
    edges: DataFrame, iterations: int = 3, directed: bool = False
) -> DataFrame:
    """Label propagation toward connected components: (id, lbl).

    label_0(v) = v; label_{k+1}(v) = min(label_k(v), min over
    neighbors). Pure integer min-propagation — deterministic on any
    engine, no float anywhere. ``iterations`` bounds the propagation
    radius (labels converge within graph diameter); per iteration:
    one join + one aggregation over the undirected edge list, same
    bucketed-by-src layout as pagerank/bfs at cluster scale.

    ``directed=True`` (round 8, graph_scc's FW pass) skips the edge
    symmetrization: labels flow along out-edges only, so lbl(v) is
    the min node id FORWARD-reachable within ``iterations`` hops.
    Nodes are then src UNION dst (a pure sink never appears as src).
    """
    if directed:
        ud = _iter_layout(edges.select("src", "dst").distinct(), "src")
    else:
        ud = _undirected(edges)
    # r13: truncate the LOGICAL lineage on top of the cache. Every
    # caller feeds this operator a near-dup pair graph whose edge
    # frame is a deep LSH/IVF composite, and each round's lazy
    # checkpoint re-OPTIMIZES that whole subtree (the cache substitutes
    # at execution, not at analysis) — measured r13: pipe_v3 spends
    # ~1.5 s of its 3.9 s warm build inside this loop. The checkpoint
    # leaf makes per-round planning O(1) while executing THROUGH the
    # cache, so the cross-query CacheManager reuse that killed the r12
    # cache->checkpoint conversion is retained. Nothing is lost at
    # execution: the round joins key on dst/id, so the cached src
    # partitioning was never elided into them anyway.
    ud = ud.localCheckpoint(eager=False)
    if directed:
        labels = (
            ud.select(F.col("src").alias("id"))
            .unionAll(ud.select(F.col("dst").alias("id")))
            .distinct()
            .select("id", F.col("id").alias("lbl"))
        )
    else:
        labels = ud.select(F.col("src").alias("id")).distinct().select(
            "id", F.col("id").alias("lbl")
        )
    for it in range(iterations):
        labels = _min_label_step(ud, labels)
        # labels_k feeds TWO consumers in round k+1 (the neighbor-min
        # aggregate and the join-back), so without lineage truncation
        # the physical plan doubles per iteration — d10's composite
        # showed 73 Exchanges at 3 iterations from exactly this
        # (VERDICT r6 item 4). Same per-round guard k_core/bfs use;
        # node-sized frame, lazily materialized once per round. The
        # LAST iteration is left un-truncated: it has no second
        # consumer inside the loop, and keeping its real tail makes
        # the returned plan inspectable (PLANS.md evidence).
        if it < iterations - 1:
            labels = labels.localCheckpoint(eager=False)
    return labels


def convergence_audit(
    edges: DataFrame, rounds: int = 3, exact_rounds: int = 10
) -> DataFrame:
    """Resolved-share audit for the bounded-round label-propagation
    contract (VERDICT r8 item 5): one row per round k in 1..``rounds``
    with (round, resolved_nodes, total_nodes, resolved_share_micro),
    where a node is RESOLVED at round k when its k-round
    connected_components label already equals the exact component
    minimum (connected_components_fixpoint, pointer jumping,
    ``exact_rounds`` covers diameter <= 2^exact_rounds). This turns
    the "larger components resolve in later rounds" docstring claim
    into a measured number instead of an assertion.

    The k-round labels are produced by ONE propagation pass that
    snapshots after every round (connected_components' own step,
    _min_label_step, with a lazy per-round checkpoint), so the audit
    measures the real operator without re-running it per k. Share is
    exact integer micro-units (_audit_rows).

    Scale: the exact pass is O(log diameter) rounds; each audit row is
    one node-sized equi-join + a map-combined count — everything is
    bounded by the label table (nodes-sized, never edges-sized).
    """
    ud = _undirected(edges)
    exact = connected_components_fixpoint(edges, rounds=exact_rounds).select(
        "id", F.col("lbl").alias("__xlbl")
    ).localCheckpoint(eager=False)
    labels = ud.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("lbl")
    )
    joined = []
    for _ in range(rounds):
        # 2 consumers: audit + next round
        labels = _min_label_step(ud, labels).localCheckpoint(eager=False)
        joined.append(labels.join(exact, "id"))
    return _audit_rows(joined, "lbl = __xlbl")


def scc_convergence_audit(
    edges: DataFrame, rounds: int = 3, exact_rounds: int = 10
) -> DataFrame:
    """Resolved-share audit for the DIRECTED bounded-round contract
    (VERDICT r9 item 4): graph_scc identifies SCCs after k min-label
    rounds FORWARD (along edges) plus k rounds BACKWARD; this audit
    measures, per round k in 1..``rounds``, the share of nodes whose
    k-round forward AND backward labels both already equal their
    fixpoint values — the directed twin of convergence_audit, so the
    k=3 FW-BW contract is a measured number, not an assertion. Since
    the identified-SCC set is a pure function of the two label
    tables, label convergence bounds identification convergence.

    The exact labels come from ``exact_rounds`` PLAIN directed
    min-propagation rounds — deliberately NO pointer jumping, for
    two measured reasons. (1) Directed min-reach does not get the
    undirected hash-to-min doubling guarantee: on a monotone id
    layout (a directed ring numbered along its edges) l(n) = n for
    every node the wrap hasn't reached, so the jump is a no-op and
    convergence is one hop per round regardless (a 12-ring needs 11
    rounds; tests/test_temporal_pagerank.py pins it). (2) The jump's
    label self-join per round triggers an EXPONENTIAL JVM-side cost
    in the per-round materialization job (~2.5x/round from round
    ~18, identical under eager localCheckpoint AND reliable
    disk checkpoint, i.e. not a lineage problem) — plain
    propagation with an eager per-round checkpoint is flat at
    ~0.2 s/round through 30+ rounds (NOTES.md round 10). So: size
    ``exact_rounds`` >= the directed diameter of the audited graph;
    an UNCONVERGED exact reference silently INFLATES resolved-share
    (a node matching its own not-yet-final label counts as
    resolved — also pinned in the tests), and the registered
    query's oracle — a true recursive-CTE fixpoint in DuckDB —
    hash-mismatches on any undersized setting. Output (round,
    resolved_nodes, total_nodes, resolved_share_micro); share in
    exact integer micro-units, no float.

    Scale: forward and backward passes are the components/pagerank
    shuffle shape on the bucketed edge layout; every audit row is a
    node-sized 3-way equi-join + map-combined count — all state is
    nodes-sized, never edges-sized. The exact tier's O(diameter)
    rounds are the price of DIRECTED reachability (no cheap
    log-round transitive closure without squaring the relation); at
    open scale the audit runs on the same pruned candidate subgraphs
    as graph_scc itself, whose construction bounds the diameter.
    """
    e = _iter_layout(edges.select("src", "dst").distinct(), "src")
    rev = _iter_layout(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        "src",
    )
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionAll(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=False)  # fwd + bwd + both fixpoints
    )

    def _fixpoint(g: DataFrame) -> DataFrame:
        # lbl <- min(lbl, min over OUT-neighbors' lbl) to the fixpoint:
        # the minimum node id reachable from each node along g.
        labels = nodes.select("id", F.col("id").alias("lbl"))
        prev_sum = None
        for _ in range(exact_rounds):
            # EAGER checkpoint: the step references `labels` twice (the
            # neighbor lookup and the least-with-self), so a lazy
            # checkpoint leaves a plan tree that DOUBLES per round —
            # 2^exact_rounds nodes blew the driver heap at 24 rounds
            # before a single task ran. Eager cuts to a LogicalRDD
            # each round (node-sized frame, trivial to materialize),
            # keeping plan and per-round job cost constant (measured
            # flat ~0.2 s/round through 30 rounds); same pattern as
            # ordered.py's global_row_numbers barriers.
            labels = _min_label_step(g, labels).localCheckpoint(eager=True)
            # r12 EARLY STOP (_label_sum; the argument holds for the
            # directed step too). exact_rounds stays the diameter
            # upper BOUND (an undersized value still yields the
            # unconverged labels and hash-mismatches the oracle, the
            # pinned failure mode); the stop only trims the
            # sized-for-margin tail — e.g. the registered
            # graph_scc_convergence runs 24 rounds per direction for
            # a measured diameter ~3.
            cur_sum = _label_sum(labels)
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
        return labels

    exact = (
        _fixpoint(e)
        .select("id", F.col("lbl").alias("__fx"))
        .join(_fixpoint(rev).select("id", F.col("lbl").alias("__bx")), "id")
        .localCheckpoint(eager=False)  # one consumer per audit round
    )
    flab = nodes.select("id", F.col("id").alias("lbl"))
    blab = nodes.select("id", F.col("id").alias("lbl"))
    joined = []
    for _ in range(rounds):
        # 2 consumers each (audit row + next round) -> lazy checkpoint
        flab = _min_label_step(e, flab).localCheckpoint(eager=False)
        blab = _min_label_step(rev, blab).localCheckpoint(eager=False)
        joined.append(
            flab.select("id", F.col("lbl").alias("__f"))
            .join(blab.select("id", F.col("lbl").alias("__b")), "id")
            .join(exact, "id")
        )
    return _audit_rows(joined, "__f = __fx AND __b = __bx")


def k_core(edges: DataFrame, k: int, iterations: int = 3) -> DataFrame:
    """Bounded k-core peeling: (id, degree) of nodes surviving
    ``iterations`` rounds of "drop nodes with undirected degree < k".

    The third iterative-graph pattern next to pagerank (value
    propagation) and components (label propagation): PEELING, where
    the edge set itself shrinks each round — removing a node can push
    its neighbors below k, so one pass is not enough. Fixed unroll
    keeps it one lazy plan (exact k-core needs peel-to-fixpoint; at
    diameter-bounded iterations this is the standard bounded
    approximation, and the oracle unrolls identically). Per round: one
    degree aggregation + two semi-joins over the surviving edge list —
    same bucketed-by-src layout as the rest of the graph tier."""
    ud = _undirected(edges)
    for _ in range(iterations):
        deg = ud.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("src")
        ud = (
            ud.join(keep, "src", "left_semi")
            .join(keep.select(F.col("src").alias("dst")), "dst", "left_semi")
        )
        # each round's survivors feed three consumers next round (the
        # degree agg + both semi-joins); checkpoint stops the shrinking
        # edge list re-deriving its whole lineage per consumer (the
        # same guard bfs uses per level)
        ud = ud.localCheckpoint(eager=False)
    return ud.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("degree"))


def bfs(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int,
    node_col: str = "node",
) -> DataFrame:
    """BFS reachability with min depth: (node, depth).

    ``edges``: (src, dst). ``seeds``: (node,). Iterative frontier —
    the exact shape of the reference's crawl loop (S1): per level,
    frontier joins the edge list, new nodes = exceptAll(visited) via
    left-anti join. Depth count is bounded (crawler MaxDepth <= 4), so
    the loop unrolls into one lazy plan; each level checkpoint is a
    localCheckpoint to stop lineage growth on deep graphs.
    """
    # the edge list is scanned once per level — materialize it instead
    # of recomputing its lineage (at cluster scale: a bucketed-by-src
    # parquet table; locally: cache).
    edges = _iter_layout(edges, "src")
    visited = seeds.select(F.col(node_col).alias("node"), F.lit(0).alias("depth"))
    frontier = visited.select("node")
    for depth in range(1, max_depth + 1):
        nxt = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new_nodes = nxt.join(visited, "node", "left_anti").withColumn(
            "depth", F.lit(depth)
        )
        new_nodes = new_nodes.localCheckpoint(eager=False)
        visited = visited.unionByName(new_nodes)
        frontier = new_nodes.select("node")
    return visited


def label_propagation(edges: DataFrame, iterations: int = 2) -> DataFrame:
    """Community detection by MAJORITY label propagation (Raghavan et
    al. 2007): label_0(v) = v; each synchronous round re-labels every
    node with the most frequent label among its neighbours (ties break
    to the smallest label — fully deterministic, unlike the randomized
    original). The fourth iterative-graph pattern beside value
    propagation (pagerank), min propagation (components), and peeling
    (k-core): this one needs a per-node ARGMAX aggregate per round.

    Per round: one join edge-list x labels + one (node, label) count +
    one per-node top-1 window — all shuffled on the node key; at
    cluster scale the edge list stays bucketed by src like
    pagerank/bfs, and the window's per-node group is bounded by the
    node's distinct neighbour labels (<= degree).
    """
    ud = _undirected(edges)
    labels = ud.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("lbl")
    )
    for _ in range(iterations):
        counts = (
            ud.join(labels, ud["dst"] == labels["id"])
            .groupBy("src", "lbl")
            .agg(F.count(F.lit(1)).alias("__n"))
        )
        w = Window.partitionBy("src").orderBy(
            F.col("__n").desc(), F.col("lbl").asc()
        )
        top = (
            counts.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("src", F.col("lbl").alias("__new"))
        )
        labels = labels.join(top, labels["id"] == top["src"], "left").select(
            "id", F.coalesce("__new", F.col("lbl")).alias("lbl")
        )
    return labels


def hits(edges: DataFrame, iterations: int = 2) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999), fixed synchronous
    iterations in INTEGER arithmetic: hub_0(v) = 1 for every node;
    each round computes auth_t(v) = sum of hub_{t-1} over in-edges,
    then hub_t(u) = sum of auth_t over out-edges. Returns
    (id, hub, auth) after ``iterations`` rounds, UNNORMALIZED — with
    integer seeds every score is an exact bigint (sums of sums of
    1s), so the result is engine-portable with no float/normalization
    ambiguity. Magnitude grows ~(avg_degree^2) per round: with the
    default 2 rounds the scores stay far below 2^53 for any realistic
    degree distribution (guard the output rule before raising it).

    The fifth iterative-graph pattern in this module: mutually
    recursive double propagation. Per round: two edge joins + two
    aggregations, all shuffled on the node key; the distinct edge
    list is computed once and cached (at cluster scale: bucketed by
    src/dst so each propagation is shuffle-free on the edge side).
    """
    e = _iter_layout(edges.select("src", "dst").distinct(), "src")
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    hub = nodes.select("id", F.lit(1).cast("bigint").alias("hub"))
    auth = nodes.select("id", F.lit(0).cast("bigint").alias("auth"))
    for _ in range(iterations):
        auth = (
            e.join(hub, e["src"] == hub["id"])
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("hub").alias("auth"))
        )
        hub = (
            e.join(auth, e["dst"] == auth["id"])
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("auth").alias("hub"))
        )
    return (
        nodes.join(hub, "id", "left")
        .join(auth, "id", "left")
        .select(
            "id",
            F.coalesce("hub", F.lit(0)).cast("bigint").alias("hub"),
            F.coalesce("auth", F.lit(0)).cast("bigint").alias("auth"),
        )
    )


def sssp(
    edges: DataFrame,
    source: int,
    iterations: int = 3,
) -> DataFrame:
    """Single-source shortest paths by synchronous Bellman-Ford
    relaxation over INTEGER edge weights — the sixth iterative-graph
    pattern in this module: per-node MIN over (dist[src] + w), next to
    value propagation (pagerank), min-label propagation (components),
    peeling (k-core), argmax relabeling (label_propagation), and
    double propagation (hits).

    ``edges``: (src, dst, w) with non-negative bigint weights (parallel
    edges collapse to their min). Returns (id, dist): the exact
    minimum total weight over paths of at most ``iterations`` edges
    from ``source`` — equal to the true shortest path wherever the
    hop-diameter from the source is within the round budget (the
    driver fixes rounds so the oracle can unroll them as CTEs).

    Per round: one frontier-side join against the cached edge layout +
    one (id) min-aggregate — both shuffled on the node key; integer
    sums/mins make every distance engine-portable (no float path
    accumulation). At cluster scale the edge table is bucketed by src
    (SCALE.md) so the relaxation join is shuffle-free on the edge
    side; a localCheckpoint per round stops lineage growth.
    """
    e = _iter_layout(
        edges.groupBy("src", "dst").agg(F.min("w").alias("w")), "src"
    )
    dist = (
        e.sparkSession.range(1)
        .select(
            F.lit(source).cast("bigint").alias("id"),
            F.lit(0).cast("bigint").alias("dist"),
        )
    )
    for _ in range(iterations):
        relaxed = (
            dist.join(e, dist["id"] == e["src"])
            .select(F.col("dst").alias("id"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return dist


def landmark_closeness(
    edges: DataFrame,
    landmarks: list[int],
    iterations: int = 3,
) -> DataFrame:
    """Landmark closeness centrality by MULTI-SOURCE synchronous BFS —
    the eighth iterative-graph pattern: one state table keyed
    (landmark, node) carries ALL sources through the same per-round
    join, so k landmarks cost one traversal, not k (the standard
    approximation of closeness at graph scale: exact all-pairs is
    quadratic, landmark BFS is k·E).

    ``edges``: (src, dst), treated as directed (pass both directions
    for undirected graphs). Returns per landmark: nodes reached
    within ``iterations`` hops, total hop distance, and
    closeness_micro = floor(1e6*(reached-1)/total_dist) — all exact
    integers (the bounded-horizon closeness the oracle can replay by
    unrolling rounds).

    Per round: one frontier join against the cached edge layout + one
    (landmark, node) min-aggregate; the landmark key rides the
    shuffle for free. localCheckpoint per round stops lineage growth
    (the _iter_layout contract).
    """
    e = _iter_layout(edges.select("src", "dst").distinct(), "src")
    spark = e.sparkSession
    d = local_frame(
        spark, [(lm, lm, 0) for lm in landmarks], "lm long, id long, dist long"
    )
    for _ in range(iterations):
        nxt = d.join(e, d["id"] == e["src"]).select(
            "lm", F.col("dst").alias("id"), (F.col("dist") + 1).alias("dist")
        )
        d = (
            d.unionByName(nxt)
            .groupBy("lm", "id")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return (
        d.groupBy("lm")
        .agg(
            F.count(F.lit(1)).alias("n_reached"),
            F.sum("dist").cast("bigint").alias("total_dist"),
        )
        .select(
            F.col("lm").alias("landmark"),
            "n_reached",
            "total_dist",
            F.expr(
                "CAST(CASE WHEN total_dist > 0 THEN "
                "(n_reached - 1) * 1000000 div total_dist "
                "ELSE 0 END AS BIGINT)"
            ).alias("closeness_micro"),
        )
    )


def mst_boruvka(
    edges: DataFrame,
    rounds: int = 2,
    cc_iterations: int = 3,
) -> DataFrame:
    """Boruvka minimum-spanning-forest rounds — the seventh
    iterative-graph pattern: per round every COMPONENT selects its
    minimum outgoing edge (cheapest-link hooking), the selections
    join the forest, and components merge. Returns
    (round, a, b, w): the undirected edges selected in each round,
    canonicalized as a = min endpoint, b = max endpoint.

    Determinism: integer weights with the TOTAL edge order
    (w, a, b) as the selection key — a consistent tie-break makes
    Boruvka cycle-free without distinct-weight assumptions, and the
    selected set is a pure function of the edge list. Component
    labels between rounds come from the bounded min-label propagation
    (``connected_components``, ``cc_iterations`` rounds) — exact for
    selection-forest diameter <= cc_iterations, and the SAME bounded
    function the SQL oracle unrolls, so engine and oracle agree by
    construction (the graph_kcore/hits bounded-rounds idiom).

    Scale shape per round: one labels join + one per-component
    row_number window (group size = component's incident edges) + a
    distinct over the tiny selection; the label refresh is the
    components propagation over the selected FOREST (edges <= nodes,
    far smaller than the input graph). Edge layout is cached once
    (_iter_layout)."""
    canon = _iter_layout(
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            F.col("w"),
        )
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.min("w").alias("w")),
        "a",
    )
    ud = canon.select("a", "b", "w", F.col("a").alias("u")).unionByName(
        canon.select("a", "b", "w", F.col("b").alias("u"))
    )
    nodes = (
        canon.select(F.col("a").alias("id"))
        .unionByName(canon.select(F.col("b").alias("id")))
        .distinct()
    )
    labels = nodes.select("id", F.col("id").alias("lbl"))
    out = None
    forest = None
    for rnd in range(1, rounds + 1):
        lu = labels.select(F.col("id").alias("u"), F.col("lbl").alias("__lu"))
        lo = labels.select(
            F.col("id").alias("__other"), F.col("lbl").alias("__lo")
        )
        el = (
            ud.withColumn(
                "__other",
                F.when(F.col("u") == F.col("a"), F.col("b")).otherwise(F.col("a")),
            )
            .join(lu, "u")
            .join(lo, "__other")
            .filter(F.col("__lu") != F.col("__lo"))
        )
        win = Window.partitionBy("__lu").orderBy("w", "a", "b")
        sel = (
            el.withColumn("__rn", F.row_number().over(win))
            .filter(F.col("__rn") == 1)
            .select("a", "b", "w")
            .distinct()
            .localCheckpoint(eager=False)
        )
        tagged = sel.select(F.lit(rnd).alias("round"), "a", "b", "w")
        out = tagged if out is None else out.unionByName(tagged)
        forest = sel if forest is None else forest.unionByName(sel).distinct()
        cc = connected_components(
            forest.select(F.col("a").alias("src"), F.col("b").alias("dst")),
            iterations=cc_iterations,
        )
        labels = (
            nodes.join(cc, "id", "left")
            .select("id", F.coalesce("lbl", F.col("id")).alias("lbl"))
        )
    return out
