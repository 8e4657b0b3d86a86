"""Distributed connected components via min-label propagation.

Backs the near-dup cluster-resolution operator (``docs_dedup_clusters``):
near-duplicate *pairs* alone don't dedup a corpus — the pair graph must
be resolved into components so one keeper per component can be elected.

No reference counterpart (the reference's dedup is single-key
``reduceByKey``, FastqFilter.java:88-94); this exists for the 100 TB
training-data-pipeline bar.

Scale properties:

- Each round is one equi-join (edges ⋈ labels, shuffled on node id) plus
  one min-aggregate — the same shape as one iteration of Pregel-style
  label propagation. Rounds needed = graph diameter; near-dup components
  are shallow (template clusters, not social graphs), so 3-5 rounds
  suffice in practice.
- Iterative DataFrame loops grow lineage EXPONENTIALLY here (each
  round references the label table twice), so since r12 every round
  truncates lineage via ``scale.truncate_lineage`` — lazily, with the
  convergence count as the materializing action, so the flat-plan
  cadence costs no extra job (asserted in tests/test_scale_plans.py;
  the old persist-between-cadence shape compounded to a 38k-line plan
  in embed_dbscan_clusters). The helper picks the store: executor-
  local blocks by default, RELIABLE ``checkpoint()`` automatically
  whenever the session has ``setCheckpointDir`` configured (the
  preemptible-executor requirement — set the dir, every iterative
  operator upgrades; tests/test_checkpoint.py).
- The driver loop is control flow only: data never leaves the cluster;
  the per-round convergence check is a ``count()``.
- For graphs where even per-round work is skewed (one giant component),
  the alternating large-star/small-star algorithm (Kiveris et al.,
  "Connected Components in MapReduce and Beyond") keeps the same
  join+agg shape with provably fewer rounds; this simple propagation is
  the right default for dedup-shaped graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from virapipe_spark.scale import reset_size_stats, truncate_lineage


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    node_col: str = "doc_id",
    label_col: str = "cluster_id",
    max_rounds: int = 50,
) -> DataFrame:
    """Label every node with the minimum node id reachable from it.

    ``edges`` must have columns ``a`` and ``b`` (undirected; symmetrized
    internally, so each pair need appear in one direction only).
    ``nodes`` contributes ``node_col``; isolated nodes label themselves.

    Returns ``(node_col, label_col)`` — one row per node.

    Raises ``RuntimeError`` if propagation has not converged after
    ``max_rounds`` rounds (rounds needed = graph diameter): returning
    partial labels would silently split components, and the caller can't
    detect it. ``max_rounds`` is a safety cap against adversarial
    graphs, not a tuning knob — dedup-shaped graphs converge in 3-5.

    Lineage is truncated every round — see the in-loop comment.
    """
    sym = edges.select("a", "b").union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    # edge lists derive from long upstream chains (shingles -> signatures
    # -> bands); the loop re-reads them every round, so materialize once
    # (edge count ~ dup rate x corpus, ≪ corpus size).
    sym = sym.persist()
    labels = nodes.select(node_col, F.col(node_col).alias(label_col))
    changed = -1
    for rnd in range(max_rounds):
        neigh = (
            sym.join(labels, sym["a"] == labels[node_col])
            .groupBy(F.col("b").alias(node_col))
            .agg(F.min(label_col).alias("__nmin"))
        )
        # r12: the round-start label rides along as __old so the
        # convergence check is a FILTER on the round's own output, not
        # a third vertex-keyed join per round (the doubling variant's
        # documented fix — the new-vs-old count join was ~1/3 of each
        # round's cost there)
        new_labels = labels.join(neigh, node_col, "left").select(
            node_col,
            F.least(label_col, F.coalesce("__nmin", label_col)).alias(label_col),
            F.col(label_col).alias("__old"),
        )
        # truncate lineage EVERY round (r12): the persist-on-off-rounds
        # cadence cached the DATA but let the LOGICAL tree compound —
        # each round references labels twice (neighbor min + shortcut),
        # so a loop converging before the cadence fired returned a
        # 2^rounds-node plan (embed_dbscan_clusters measured 38,619
        # explain lines vs the 87-line catalog median; Catalyst
        # re-analyzes that tree on every round's count AND on every
        # downstream consumer). lazy: the convergence count below is a
        # full action over new_labels, so it materializes the
        # checkpoint in the same job (the CC-doubling fuse,
        # tools/ab_cc_lazyckpt.py) — per-round flat plans at the same
        # one-job-per-round cost, the cadence the doubling variant
        # adopted in r10.
        new_labels = truncate_lineage(
            new_labels, eager=False, reliable=True
        )
        changed = (
            new_labels.filter(F.col(label_col) != F.col("__old")).count()
        )
        # NOTE (r13, ADVICE_r12): no per-round unpersist — the frame is
        # checkpoint-wrapped, so DataFrame.unpersist() on it is a no-op;
        # prior rounds' blocks are reclaimed by the ContextCleaner when
        # the frame is dereferenced (the truncate_lineage lazy-path
        # contract), not deterministically per round.
        labels = new_labels.select(node_col, label_col)
        if changed == 0:
            break
    sym.unpersist()
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge after {max_rounds} "
            f"rounds ({changed} labels still changing); the graph's "
            "diameter exceeds max_rounds — raise it rather than use "
            "partial (wrongly split) components"
        )
    return labels


def connected_components_doubling(
    edges: DataFrame,
    nodes: DataFrame,
    node_col: str = "doc_id",
    label_col: str = "cluster_id",
    max_rounds: int = 50,
) -> DataFrame:
    """Connected components in O(log diameter) rounds: min-label
    propagation with POINTER DOUBLING — the high-diameter companion to
    :func:`connected_components`.

    Each round does the neighbor step (as in plain propagation) and
    then a shortcut step ``l(v) <- l(l(v))``: a node's label is itself
    a node id, so joining the label table against itself on
    ``label == node`` follows one hop of the label chain, halving the
    remaining chain length every round. A path graph of 2^k nodes
    converges in ~k rounds instead of 2^k (asserted in
    tests/test_scale_plans.py), which is what makes an adversarial or
    unknown-shape graph tractable at the 100 TB bar — 30 rounds cover
    any graph a billion nodes wide.

    Cost per round is one extra self-equi-join of the label table
    (shuffled on the label column). For shallow dedup-shaped graphs
    (diameter 3-5) plain propagation does less total work; prefer this
    variant when the diameter is unknown or the plain version hits its
    ``max_rounds`` guard. Same contract: symmetrized edges, isolated
    nodes label themselves, raises rather than returning unconverged
    labels.

    Since the r10 per-round-eager rewrite the loop truncates lineage
    every round by construction — the convergence filter materializes
    each round anyway, and a flat plan per round measurably beats any
    sparser cadence (see the inline A/B below).
    """
    sym = edges.select("a", "b").union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    sym = sym.persist()
    labels = nodes.select(node_col, F.col(node_col).alias(label_col))
    changed = -1
    for rnd in range(max_rounds):
        neigh = (
            sym.join(labels, sym["a"] == labels[node_col])
            .groupBy(F.col("b").alias(node_col))
            .agg(F.min(label_col).alias("__nmin"))
        )
        # persist: `stepped` feeds BOTH sides of the shortcut self-join
        # below; unpersisted, the neighbor join+aggregate subtree would
        # execute twice per round, doubling the per-round shuffle work
        # this O(log d) variant exists to bound. The round-start label
        # rides along as __old so convergence is a FILTER on the round's
        # own output, not a third vertex-keyed shuffle join per round
        # (the old new-vs-old count join was ~1/3 of each round's cost).
        stepped = labels.join(neigh, node_col, "left").select(
            node_col,
            F.least(label_col, F.coalesce("__nmin", label_col)).alias(label_col),
            F.col(label_col).alias("__old"),
        ).persist()
        # shortcut: follow the label pointer one hop (labels are node
        # ids, and every node has a label row, so the inner join below
        # is total — expressed as a left join defensively with coalesce)
        ptr = stepped.select(
            F.col(node_col).alias("__p"), F.col(label_col).alias("__plabel")
        )
        new_labels = stepped.join(
            ptr, stepped[label_col] == ptr["__p"], "left"
        ).select(
            node_col,
            F.least(
                label_col, F.coalesce("__plabel", label_col)
            ).alias(label_col),
            "__old",
        )
        # per-round truncation: the convergence count below has to
        # materialize the round anyway, and a flat plan each round beats
        # the old persist-twice-checkpoint-every-third cadence measurably
        # (interleaved A/B on a chain-heavy 15-round graph: 13.2s -> 7.6s
        # warm).
        # r12: LAZY — the count() is a FULL action, so it materializes
        # the checkpoint in the same job instead of paying a dedicated
        # eager-materialization job per round (interleaved A/B x7 on the
        # euler graph, tools/ab_cc_lazyckpt.py: 4.453 -> 3.945 s median,
        # identical labels). bfs_hops stays eager: its isEmpty() probe
        # is a PARTIAL action and must not be the materializer.
        new_labels = truncate_lineage(new_labels, eager=False, reliable=True)
        changed = (
            new_labels.filter(F.col(label_col) != F.col("__old")).count()
        )
        stepped.unpersist()  # new_labels materialized by the count above
        labels = new_labels.select(node_col, label_col)
        if changed == 0:
            break
    sym.unpersist()
    if changed != 0:
        raise RuntimeError(
            f"connected_components_doubling did not converge after "
            f"{max_rounds} rounds ({changed} labels still changing)"
        )
    return labels


def pagerank(
    edges: DataFrame,
    iterations: int = 2,
    scale: int = 1_000_000,
    damping_pct: int = 85,
    checkpoint_every: int = 5,
) -> DataFrame:
    """Integer-exact PageRank over a directed edge list
    ``(src, dst)`` — the third member of the iterative-algorithm family
    (with Lloyd k-means and connected components).

    All arithmetic is integer: ranks live in parts-per-``scale``,
    contributions are ``rank div out_degree`` (integer division), and
    the damping update is ``(100-d)%*scale + (d% * sum) div 100`` — so
    two engines computing the same graph produce bitwise-identical
    ranks (no float-sum reduce-order drift), which is what lets the
    catalog entry hash-match a SQL oracle. The cost is bounded,
    well-understood truncation (< out_degree parts per node per round —
    ppm-scale), the same trade the repo's OLS-trend and z-score
    operators make.

    Per round: one equi-join (ranks ⋈ edges on src, shuffled on the
    vertex key) + one sum-aggregate on dst + one left join back to the
    degree table — the Pregel message-passing shape, identical to
    :func:`connected_components`' round structure, so the same scale
    properties hold (shuffle keyed on vertex ids, volume = edge count;
    lineage truncated every ``checkpoint_every`` rounds; see that
    docstring for the reliable-checkpoint caveat on preemptible
    clusters).

    Nodes are the distinct ``src`` set. Callers must pass a SYMMETRIZED
    edge list (or otherwise ensure every node has an out-edge): rank
    mass at a dangling node has no ``div out_degree`` meaning in
    integer arithmetic, so dangling redistribution is deliberately out
    of scope. Ranks are NOT normalized to sum to ``scale`` (standard
    practice for ranking use — only the order matters).
    """
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    base = (100 - damping_pct) * scale // 100
    # ranks carries the node's out-degree along (node, rank, d) so each
    # round is exactly one join with edges — no per-round deg re-join.
    ranks = deg.select(
        F.col("src").alias("node"),
        F.lit(scale).cast("long").alias("rank"),
        "d",
    )
    for rnd in range(iterations):
        # alias both sides: deg and ranks share edges in their lineage,
        # so unqualified column refs trip the ambiguous-self-join check
        contrib = (
            ranks.alias("r")
            .join(edges.alias("e"), F.col("r.node") == F.col("e.src"))
            .select(F.col("e.dst").alias("to"), F.expr("rank div d").alias("c"))
        )
        insum = contrib.groupBy("to").agg(F.sum("c").cast("long").alias("s"))
        ranks = (
            deg.alias("g")
            .join(insum.alias("i"), F.col("g.src") == F.col("i.to"), "left")
            .select(
                F.col("g.src").alias("node"),
                (
                    F.lit(base)
                    + F.expr(
                        f"({damping_pct} * coalesce(s, CAST(0 AS BIGINT))) div 100"
                    )
                ).cast("long").alias("rank"),
                "d",
            )
        )
        if checkpoint_every and (rnd + 1) % checkpoint_every == 0:
            ranks = truncate_lineage(ranks, reliable=True)
    return ranks.select("node", "rank")


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 3,
) -> DataFrame:
    """Multi-source BFS shortest hop-distance over a directed edge list
    ``(src, dst)`` — the fourth member of the iterative-algorithm
    family (k-means: centroid update; connected components: label
    propagation; PageRank: rank diffusion; BFS: frontier expansion).

    ``sources`` is a one-column ``node`` frame (distance 0). Each round
    h expands ONLY the frontier — the nodes first reached at h-1 — one
    hop along ``edges`` and folds the new candidates in with a min
    aggregate, so a node's distance is final the round it first
    appears. Distances are small ints: bitwise cross-engine, no
    tolerance needed.

    Scale: two shapes, picked by the hop cap (r10, each measured
    against the other at both depths). Shallow caps (<= 4) keep the
    lazy min-fold: one shuffle per round, linear lineage, zero
    control-plane jobs — cheapest when the whole loop fuses into a
    handful of stages. Deep caps switch to frontier expansion + a
    visited-set anti-join (first discovery IS the min hop count, so
    the full-table min-aggregate re-shuffles the visited set every
    round for nothing), with each frontier EAGERLY checkpointed and an
    empty-frontier early exit, so a 24-hop cap on a diameter-20 graph
    runs 21 flat-plan rounds at frontier-sized shuffles instead of 24
    compounding ones. The deep shape truncates every round by
    construction (same reliable-checkpoint caveat on preemptible
    clusters as :func:`connected_components`). Unreached nodes are
    absent from the output (standard sparse-BFS contract), so result
    size is bounded by the reachable set."""
    dist0 = sources.select(
        F.col("node").cast("long").alias("node"),
        F.lit(0).cast("int").alias("dist"),
    ).distinct()
    if max_hops <= 4:
        # SHALLOW CAP: the lazy min-fold — one shuffle per round over
        # the (still small) visited set, linear lineage, zero
        # control-plane jobs. For 3-4 fused rounds this measurably
        # beats per-round checkpoint+probe (bench A/B at sf0.1: 1.75 s
        # vs 2.3-2.4 s for the 3-hop caller), and an early exit can
        # save at most a round or two.
        dist = dist0
        for h in range(1, max_hops + 1):
            frontier = dist.filter(F.col("dist") == h - 1)
            nxt = (
                frontier.alias("f")
                .join(edges.alias("e"), F.col("f.node") == F.col("e.src"))
                .select(
                    F.col("e.dst").cast("long").alias("node"),
                    F.lit(h).cast("int").alias("dist"),
                )
            )
            dist = (
                dist.unionAll(nxt)
                .groupBy("node")
                .agg(F.min("dist").alias("dist"))
            )
        return dist
    # DEEP CAP: checkpointed frontier expansion + visited-set anti-join
    # with an empty-frontier exit. Each round is EAGERLY truncated —
    # lazy rounds re-evaluate the previous frontier's subtree on both
    # the expansion and the anti side, compounding per round
    # (interleaved A/B on the 21-round bipartite graph: eager 5.2-6.7 s
    # vs lazy-prefix 12.3-14.5 s), while eager plans stay flat and the
    # loop stops at the TRUE reach instead of burning the cap.
    dist = truncate_lineage(dist0, reliable=True)
    frontier = dist
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.alias("f")
            .join(edges.alias("e"), F.col("f.node") == F.col("e.src"))
            .select(
                F.col("e.dst").cast("long").alias("node"),
                F.lit(h).cast("int").alias("dist"),
            )
        )
        # dedup BEFORE the anti-join: with a small visited set AQE
        # turns the anti-join into a broadcast probe, so a post-join
        # distinct would pay the same expansion-sized exchange anyway
        # (measured both orders at sf0.1: pre-join distinct wins)
        new = nxt.distinct().join(dist, ["node"], "left_anti")
        if h == max_hops:
            # the final hop's frontier feeds nothing but the output
            # union — materializing or probing it buys no round savings
            dist = dist.unionAll(new)
            break
        frontier = truncate_lineage(new, reliable=True)
        if frontier.isEmpty():
            break
        dist = dist.unionAll(frontier)
    return dist


def kcore(
    edges: DataFrame,
    k: int,
    max_rounds: int = 20,
    checkpoint_every: int = 3,
) -> DataFrame:
    """K-core decomposition by iterative peeling (Batagelj-Zaveršnik
    shape, simultaneous-removal variant): each round drops every node
    whose degree within the surviving subgraph is below ``k``, until a
    fixpoint (no drop) or ``max_rounds``. Returns the core members
    with their in-core degree ``(node, d)`` — after convergence every
    d >= k, which is the self-check the catalog entry emits.

    ``edges`` is the symmetric directed form (both (a,b) and (b,a)),
    the convention pagerank/bfs share. Completes the iterative-graph
    family: label propagation (CC), rank diffusion (PageRank),
    frontier expansion (BFS), counting (triangles), peeling (k-core).

    Scale: each round is one degree aggregate over edges semi-joined
    to the surviving node set (shuffle keyed by node, bounded by edge
    count) — the Pregel-style shape; lineage is truncated every
    ``checkpoint_every`` rounds (reliable checkpoint when a dir is
    configured — the preemptible-cluster story in this module's other
    loops). The early-stop count() per round is a scalar control-plane
    read, the CC-loop precedent."""
    from pyspark.sql import functions as F

    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_prev = nodes.count()
    deg = None
    for rnd in range(max_rounds):
        deg = (
            edges.join(nodes.withColumnRenamed("node", "src"), "src")
            .join(nodes.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.count("*").alias("d"))
        )
        kept = deg.filter(F.col("d") >= k).select(
            F.col("src").alias("node")
        )
        if (rnd + 1) % checkpoint_every == 0:
            # lazy: the count() below is a full action and materializes
            # the checkpoint in the same job (the CC-doubling fuse)
            kept = truncate_lineage(kept, eager=False, reliable=True)
        else:
            kept = kept.persist()
        n_now = kept.count()
        nodes = kept
        if n_now == n_prev:
            break
        n_prev = n_now
    # final in-core degrees (recomputed over the fixpoint set)
    return (
        edges.join(nodes.withColumnRenamed("node", "src"), "src")
        .join(nodes.withColumnRenamed("node", "dst"), "dst")
        .groupBy("src")
        .agg(F.count("*").alias("d"))
        .select(F.col("src").alias("node"), "d")
    )


def hits_bipartite(
    edges: DataFrame,
    hub_col: str = "hub",
    auth_col: str = "auth",
    rounds: int = 2,
    scale: int = 1_000_000,
) -> tuple[DataFrame, DataFrame]:
    """HITS (Kleinberg 1999) on a BIPARTITE graph, integer-exact: hubs
    on the left of ``edges(hub, auth)``, authorities on the right.
    Each round: auth score = sum of pointing hub scores, hub score =
    sum of pointed-to auth scores — pure int64 sums from a
    ``scale``-valued start, no normalization inside the loop (the
    L2 step of the published algorithm only rescales; rankings are
    identical, and int64 holds ``rounds=2`` for degree products up to
    ~1e6 — overflow-guard the caller for deeper runs). Returns
    (hub_scores, auth_scores).

    Scale: each half-round is one edge join + key aggregate (the
    pagerank shape on a bipartite key split); rounds are unrolled
    DataFrame ops, lineage bounded by 2x rounds."""
    from pyspark.sql import functions as F

    hubs = edges.select(hub_col).distinct().withColumn(
        "hub_score", F.lit(scale).cast("long")
    )
    auths = None
    for _ in range(rounds):
        auths = (
            edges.join(hubs, hub_col)
            .groupBy(auth_col)
            .agg(F.sum("hub_score").cast("long").alias("auth_score"))
        )
        hubs = (
            edges.join(auths, auth_col)
            .groupBy(hub_col)
            .agg(F.sum("auth_score").cast("long").alias("hub_score"))
        )
    return hubs, auths


def label_propagation(
    edges: DataFrame,
    rounds: int,
    checkpoint_every: int = 2,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) made
    deterministic: labels start as node ids; each round every node
    adopts the most frequent label among its NEIGHBORS, ties broken by
    the smallest label (the argmax is max(struct(count, -label)) — one
    aggregate, no window). Runs exactly ``rounds`` synchronous rounds:
    LPA's fixpoint is not guaranteed (bipartite-ish regions oscillate
    under synchronous update — the published failure mode), so the
    operator's contract is the R-round transcript, and the caller
    reads per-node ``changed`` (did the last round still flip the
    label?) as data rather than trusting a convergence claim — the
    honest-claims rule.

    ``edges`` is the symmetric directed form (both (a,b) and (b,a)),
    the module convention. Returns (node, label, changed).

    Scale: each round is one (dst, label)-keyed count over edges
    equi-joined to the current label table, then a node-keyed argmax —
    two shuffles bounded by edge count, the Pregel shape shared with
    pagerank/kcore; lineage truncates every ``checkpoint_every``
    rounds (reliable when a checkpoint dir is configured)."""
    from pyspark.sql import functions as F

    labels = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
        .withColumn("lbl", F.col("node"))
    )
    prev = None
    for rnd in range(rounds):
        prev = labels
        cnts = (
            edges.join(
                labels.select(F.col("node").alias("src"), "lbl"), "src"
            )
            .groupBy(F.col("dst").alias("node"), "lbl")
            .agg(F.count("*").alias("c"))
        )
        best = (
            cnts.groupBy("node")
            .agg(F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("neg"))).alias("m"))
            .select("node", (-F.col("m.neg")).alias("lbl"))
        )
        # isolated-in-round nodes keep their label (none exist in the
        # symmetric co-purchase fixture, but the operator is total)
        labels = (
            labels.select("node", F.col("lbl").alias("old"))
            .join(best, "node", "left")
            .select(
                "node", F.coalesce("lbl", F.col("old")).alias("lbl")
            )
        )
        if (rnd + 1) % checkpoint_every == 0:
            labels = truncate_lineage(labels, reliable=True)
    return (
        labels.join(
            prev.select("node", F.col("lbl").alias("prev_lbl")), "node"
        )
        .select(
            "node",
            "lbl",
            (F.col("lbl") != F.col("prev_lbl")).alias("changed"),
        )
    )


def sssp(
    edges: DataFrame,
    sources: DataFrame,
    max_rounds: int = 12,
    checkpoint_every: int = 3,
) -> DataFrame:
    """Multi-source weighted shortest paths by synchronous Bellman-Ford
    relaxation — the WEIGHTED member of the iterative-graph family
    (bfs_hops is its unit-weight special case; reference capability
    class: graph distance over derived relation graphs). ``edges`` is a
    directed ``(src, dst, w)`` list with non-negative integer weights;
    ``sources`` a one-column ``node`` frame (distance 0). Each round
    relaxes one more edge hop and folds candidates with a min
    aggregate, so after round r every node holds the exact minimum
    over paths of <= r edges (the classic Bellman-Ford invariant) —
    run to the fixpoint (early stop) and that is the true distance.

    The relaxation is FRONTIER-LIMITED: only nodes whose distance
    improved last round re-emit their out-edges. This preserves the
    per-round invariant exactly — any <= r-edge path's prefix improves
    its endpoint at some round <= r-1, queueing the next relaxation no
    later than the full-relax schedule — while shrinking the per-round
    shuffle from the whole graph to the active fringe (the delta-
    stepping observation; most rounds touch a shrinking frontier).

    Distances are exact int64 sums of int weights: bitwise
    cross-engine, no tolerance. Unreached nodes are absent (the
    sparse-BFS contract).

    Scale: per round one frontier-keyed equi-join + one min aggregate
    (the Pregel shape shared by pagerank/bfs/kcore); lineage truncated
    every ``checkpoint_every`` rounds (reliable when a checkpoint dir
    is configured); the early-stop count() is scalar control plane,
    the CC-loop precedent."""
    from pyspark.sql import functions as F

    dist = (
        sources.select(
            F.col("node").cast("long").alias("node"),
            F.lit(0).cast("long").alias("dist"),
        )
        .distinct()
        .persist()
    )
    frontier = dist
    for rnd in range(1, max_rounds + 1):
        cand = (
            frontier.alias("f")
            .join(edges.alias("e"), F.col("f.node") == F.col("e.src"))
            .select(
                F.col("e.dst").cast("long").alias("node"),
                (F.col("f.dist") + F.col("e.w")).cast("long").alias("dist"),
            )
        )
        merged = (
            dist.unionByName(cand)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        if rnd % checkpoint_every == 0:
            # lazy: the frontier count() below consumes merged fully
            # (both anti-join sides), so it materializes the checkpoint
            # in the same job (the CC-doubling fuse)
            merged = truncate_lineage(merged, eager=False, reliable=True)
        else:
            merged = merged.persist()
        # improved nodes only: (node, dist) pairs not present before
        frontier = merged.join(dist, ["node", "dist"], "left_anti")
        dist = merged
        if frontier.count() == 0:
            break
    return dist




def boruvka_msf(
    edges: DataFrame,
    max_rounds: int | None = None,
) -> DataFrame:
    """Minimum spanning FOREST via distributed Borůvka.

    ``edges`` must have columns ``a``, ``b``, ``cost`` (undirected, one
    row per unordered pair) with UNIQUE costs — uniqueness makes the
    MSF unique, hence deterministic output (callers embed a tiebreak
    into the cost; see graph_mst_boruvka's bit-packed cost). Returns
    the chosen ``(a, b, cost)`` rows.

    Borůvka is THE spanning-tree algorithm with a distributed shape
    (Kruskal sorts globally then unions sequentially; Prim grows one
    frontier): every round each component picks its minimum outgoing
    edge — all components in parallel, one relabel join plus one
    per-component min — and the picked edges merge components, at
    least halving the component count, so ``ceil(log2 V)`` rounds
    always suffice.

    The contraction exploits Borůvka's pointer structure instead of a
    general CC call: picking gives a FUNCTION p(component) = other
    endpoint of its min edge, and because an incident edge bounds the
    neighbor's min, costs strictly decrease along pointer chains —
    every pseudotree terminates in exactly one mutual-min 2-cycle.
    Rooting the 2-cycle at its smaller id turns the structure into a
    proper forest, and adaptive LAZY pointer-doubling hops resolve
    every component to its root (fixpoint-checked, capped at
    ``ceil(log2 2E)``).

    r13 — THE EDGE LIST ITSELF CONTRACTS (guide §2.1/§2.4; prototyped
    output-identical in tools/ab_boruvka_contract.py): edges carry
    their CURRENT component endpoints (ca, cb) beside the original
    payload (a, b, cost). After picking, endpoints relabel through the
    pointer forest (joins against the PICKED-component-sized root
    table, not a V-sized vertex→component table), self-edges drop, and
    multi-edges dedupe to the min-cost representative per unordered
    component pair — so the frame each later round touches SHRINKS
    GEOMETRICALLY instead of re-joining the full original edge list
    against a V-sized comp table every round (the pre-r13 shape: two
    V-sized relabel joins + a comp-update join + its count, all
    E/V-sized every round). The V-sized comp table disappears
    entirely. Equivalence: Borůvka picks per component the MINIMUM
    outgoing edge; pair-dedup keeps the minimum-cost edge per
    component pair, which can never remove any component's overall
    minimum (costs are UNIQUE, so min over pair-representatives = min
    over all outgoing edges); picked sets are therefore identical
    round by round, hence so are the pointer forests, contractions and
    the final forest (also asserted row-identical by the A/B tool).

    The per-round emptiness probe is driver control flow only (the CC
    convergence-count precedent): ``best`` is empty exactly when the
    contracted edge list is (self-edges were dropped at contraction,
    so every surviving edge is cross-component and every component
    with an edge picks one). Raises ``RuntimeError`` if
    cross-component edges survive ``max_rounds`` (default
    ceil(log2 2E) + 2 >= ceil(log2 V) + 2, since V <= 2E over the
    edge list's endpoints): a partial forest is silent data loss.
    """
    import math

    # ca/cb: current component endpoints (start = the nodes
    # themselves); a/b/cost: the original payload the forest reports.
    # Self-loops (a == b) can never be picked — drop them up front,
    # matching the pre-r13 loop's ca != cb filter.
    e = edges.select(
        F.col("a").alias("ca"), F.col("b").alias("cb"), "a", "b", "cost"
    ).filter(F.col("ca") != F.col("cb"))
    # lazy: the n_e count materializes the checkpoint (CC-doubling
    # fuse). reset_size_stats on EVERY checkpoint in this loop: the
    # relabel/doubling self-joins SQUARE Catalyst's sizeInBytes each
    # round and the estimate survives checkpoints (origin-stats
    # propagation) — without the reset the driver ends up multiplying
    # thousand-digit BigIntegers per join planned (the r12 prototype's
    # one-core stall; see scale.reset_size_stats).
    e = reset_size_stats(truncate_lineage(e, eager=False, reliable=True))
    n_e = e.count()
    if n_e == 0:
        return edges.select("a", "b", "cost").limit(0)
    # V <= 2E over the edge list's endpoints, so ceil(log2 2E) bounds
    # the ceil(log2 V) doubling depth WITHOUT a distinct-nodes pass
    # (the pre-r13 loop paid a full distinct over both endpoint
    # columns just to size this cap); the cap is fixpoint-checked
    # below, so overshooting it costs nothing.
    hops = max(1, math.ceil(math.log2(max(2 * n_e, 2))))
    if max_rounds is None:
        max_rounds = hops + 2
    chosen_all: DataFrame | None = None
    done = False
    for rnd in range(max_rounds):
        cand = e.select(
            F.col("ca").alias("c"), "cost", "a", "b", F.col("cb").alias("oc")
        ).union(
            e.select(
                F.col("cb").alias("c"), "cost", "a", "b", F.col("ca").alias("oc")
            )
        )
        from pyspark.sql import Window as W

        best = (
            cand.withColumn(
                "__rn", F.row_number().over(W.partitionBy("c").orderBy("cost"))
            )
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        # One lazy checkpoint whose count() is the materializing FULL
        # action (the CC convergence-count fuse) — the count ALSO
        # materializes the prior contraction's lazy checkpoint of `e`
        # in the same job, and IS the termination probe: best is empty
        # exactly when the contracted e is (every component with a
        # cross edge picks one; contraction dropped self-edges). best
        # is LAZY but materialized here — its three consumers (picked
        # + both pointer sides) read the stored blocks; removing this
        # count would reintroduce per-consumer recompute.
        best = reset_size_stats(
            truncate_lineage(best, eager=False, reliable=True)
        )
        if best.count() == 0:
            done = True
            break
        picked = best.select("a", "b", "cost").distinct()
        chosen_all = (
            picked if chosen_all is None else chosen_all.union(picked)
        )
        # pointer p: component -> other side of its min edge; root each
        # mutual-min 2-cycle at its smaller id so p becomes a forest
        p0 = best.select(F.col("c"), F.col("oc"))
        mirror = p0.select(
            F.col("c").alias("mc"), F.col("oc").alias("moc")
        )
        p = (
            p0.join(mirror, p0["oc"] == mirror["mc"], "left")
            .select(
                "c",
                F.when(
                    (F.col("moc") == F.col("c")) & (F.col("c") < F.col("oc")),
                    F.col("c"),
                )
                .otherwise(F.col("oc"))
                .alias("t"),
            )
        )
        # pointer doubling: t <- p(t). Each hop references p TWICE, so
        # composing lazily doubles the logical plan per hop (2^hops
        # nodes — measured 20x round cost in Catalyst alone); the LAZY
        # localCheckpoint cuts the plan to a LogicalRDD at every hop
        # while deferring computation to the batch materialization.
        # r12: hop count is ADAPTIVE — profiling showed the contraction
        # dominates every round (2.5 -> 0.8 s at sf0.01) while the true
        # pointer-tree depth shrinks to 1-2 hops, so the former fixed
        # ceil(log2 V) - rnd bound materialized up to 11 chained
        # self-joins where 2 suffice. Hops run in batches of 2; one
        # count per batch both materializes the batch (the CC
        # convergence-count fuse) and tests the fixpoint — an extra hop
        # moving nothing PROVES full resolution, replacing the
        # worst-case-bound argument with a checked one. The same
        # ceil(log2 V) cap still bounds total hops. Interleaved A/B x5
        # (tools/ab_boruvka_adaptive_hops.py): 8.466 -> 5.883 s median
        # end-to-end, identical forests.
        def _hop_once(frame):
            nxt = frame.select(
                F.col("c").alias("jc"), F.col("t").alias("jt")
            )
            return frame.join(nxt, frame["t"] == nxt["jc"], "left").select(
                "c",
                F.coalesce("jt", "t").alias("t"),
                (F.coalesce("jt", "t") != F.col("t")).alias("__moved"),
            )

        done_hops = 0
        while done_hops < hops:
            for _hop in range(min(2, hops - done_hops)):
                p = reset_size_stats(
                    truncate_lineage(p.select("c", "t"), eager=False)
                )
                p = _hop_once(p)
                done_hops += 1
            p = reset_size_stats(truncate_lineage(p, eager=False))
            if p.filter(F.col("__moved")).count() == 0:
                break
        p = p.select("c", "t")
        # CONTRACT the edge list (r13): relabel both endpoints through
        # the pointer-forest ROOT table (sized by picked components,
        # not V), drop now-internal edges, canonicalize orientation,
        # and dedupe multi-edges to the min-cost representative per
        # component pair — min(struct(cost, a, b)) is exact because
        # costs are unique, and it is a map-side-combinable aggregate.
        # The next round's frame is the contracted one.
        pa = p.select(F.col("c").alias("ca"), F.col("t").alias("ta"))
        pb = p.select(F.col("c").alias("cb"), F.col("t").alias("tb"))
        nca = F.coalesce("ta", "ca")
        ncb = F.coalesce("tb", "cb")
        e = (
            e.join(pa, "ca", "left")
            .join(pb, "cb", "left")
            .select(
                F.least(nca, ncb).alias("nca"),
                F.greatest(nca, ncb).alias("ncb"),
                "a",
                "b",
                "cost",
            )
            .filter(F.col("nca") != F.col("ncb"))
            .groupBy("nca", "ncb")
            .agg(F.min(F.struct("cost", "a", "b")).alias("m"))
            .select(
                F.col("nca").alias("ca"),
                F.col("ncb").alias("cb"),
                F.col("m.a").alias("a"),
                F.col("m.b").alias("b"),
                F.col("m.cost").alias("cost"),
            )
        )
        # lazy: the NEXT round's best.count() (or the convergence check
        # below) materializes this checkpoint in its first job — no
        # dedicated per-round materialization job remains at all.
        e = reset_size_stats(truncate_lineage(e, eager=False, reliable=True))
    if not done and e.count() != 0:
        raise RuntimeError(
            f"boruvka_msf did not converge after {max_rounds} rounds"
        )
    if chosen_all is None:
        return edges.select("a", "b", "cost").limit(0)
    return truncate_lineage(chosen_all, reliable=True)
