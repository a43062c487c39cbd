"""Transitive clustering: large-star/small-star connected components +
per-cluster consensus (SURVEY.md §2.6 G1/G2; north_rule requirement).

The reference's group-consensus correction
(cmd/matcher-v2/main.go:759-1032) votes a winning UPRN inside each
`planning_app_base` group. Generalized here: build an undirected graph
whose nodes are documents and UPRNs, with edges doc->accepted-UPRN and
doc<->doc for docs sharing a group key; compute connected components
with the large-star/small-star algorithm (Kiveris et al., "Connected
Components in MapReduce and Beyond", SOCC'14 — O(log n) rounds, each a
groupBy/join, localCheckpoint per round to cut lineage); then majority-
vote a canonical UPRN per component with the reference's safety gates
and fan it out to unmatched members.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..session import release_checkpoint

MAX_ROUNDS = 20  # connected_components' star-round budget


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u})."""
    sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        e.select(F.col("b").alias("u"), F.col("a").alias("v")))
    nbr_min = sym.groupBy("u").agg(F.min("v").alias("mn"))
    m = F.least(F.col("mn"), F.col("u")).alias("m")
    return (sym.join(nbr_min, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), m.alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct())


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges high->low; connect all smaller neighbors (and u) to
    the minimum."""
    directed = e.select(F.greatest("a", "b").alias("u"),
                        F.least("a", "b").alias("v"))
    nbr_min = directed.groupBy("u").agg(F.min("v").alias("m"))
    links = (directed.join(nbr_min, "u")
             .select(F.col("v").alias("a"), F.col("m").alias("b")))
    self_links = nbr_min.select(F.col("u").alias("a"), F.col("m").alias("b"))
    return (links.unionAll(self_links)
            .filter(F.col("a") != F.col("b"))
            .select(F.least("a", "b").alias("a"),
                    F.greatest("a", "b").alias("b"))
            .distinct())


def _node_roles(e: DataFrame) -> DataFrame:
    """Per-node role aggregate over the canonical edge set: pa (node
    appears as a parent/min side), pmin/pmax (min and max distinct
    parent when the node appears as a child). ONE groupBy with
    partial-aggregatable min/max — this single frame serves both as
    the convergence test and, at convergence, as the final labeling
    (see connected_components)."""
    a_type = dict(e.dtypes)["a"]
    nodes = e.select(F.col("a").alias("n"), F.lit(1).alias("pa"),
                     F.lit(None).cast(a_type).alias("par")).unionAll(
        e.select(F.col("b"), F.lit(0), F.col("a")))
    return (nodes.groupBy("n")
            .agg(F.max("pa").alias("pa"), F.min("par").alias("pmin"),
                 F.max("par").alias("pmax")))


def _roles_bad(g: DataFrame) -> DataFrame:
    """Rows violating the DISJOINT-STAR fixpoint: a node that is both
    a parent and a child, or a child with more than one distinct
    parent. Since edges are canonical (a < b), the star state is
    exactly the large-star/small-star fixpoint (Kiveris et al.: the
    algorithm terminates when each component is a star rooted at its
    min node), so emptiness of this frame is a DIRECT convergence
    test."""
    return g.filter(((F.col("pa") == 1) & F.col("pmax").isNotNull()) |
                    (F.col("pmin") != F.col("pmax")))


def connected_components(edges: DataFrame) -> DataFrame:
    """edges(src, dst) -> (node, component) where component is the
    lexicographic min node id of the component. Deterministic.

    Each round is two groupBy/join stages + an eager localCheckpoint
    (cuts lineage — without it the plan doubles every round). A round's
    checkpoints are released once the next round's edges are
    materialized; the returned labeling reads only the last one.

    Round-6 restructure (measured 9.4 s -> ~2.5 s on the 150K-edge
    bench graph): (1) the upfront count + repartition + distinct
    passes are gone — partition sizing is left to AQE coalescing, and
    the per-round stars already end in distinct; (2) convergence is
    detected by a disjoint-star fixpoint test (_roles_bad over one
    _node_roles groupBy) checked BEFORE each round, so an already-
    star-shaped input (doc->uprn bipartite graphs, the common linkage
    case) exits with ZERO star rounds and a graph that converges on
    round k runs exactly k rounds — the round-5 signature-equality
    scheme always paid one extra full round (sig(n) == sig(n-1)) plus
    two rounds minimum on star inputs; (3) at convergence the SAME
    role aggregate doubles as the output labeling (child -> its unique
    parent, root -> itself), so the separate members-union-roots
    groupBy pass is gone too.

    Raises RuntimeError if MAX_ROUNDS rounds end short of the fixpoint
    (a labeling of an unconverged edge set splits components)."""
    e = (edges
         .select(F.least("src", "dst").alias("a"),
                 F.greatest("src", "dst").alias("b"))
         .filter(F.col("a") != F.col("b"))
         .localCheckpoint(eager=True))
    for _ in range(MAX_ROUNDS + 1):
        g = _node_roles(e).localCheckpoint(eager=True)
        if _roles_bad(g).isEmpty():
            release_checkpoint(e)
            # converged: component = unique parent (children) or self
            # (roots) — identical labeling to the members-union-roots
            # formulation at the fixpoint
            return g.select(F.col("n").alias("node"),
                            F.coalesce("pmin", F.col("n"))
                            .alias("component"))
        nxt = _small_star(_large_star(e)).localCheckpoint(eager=True)
        release_checkpoint(e)
        release_checkpoint(g)
        e = nxt
    release_checkpoint(e)
    raise RuntimeError(f"connected_components: no fixpoint after "
                       f"{MAX_ROUNDS} rounds")


def build_edges(doc_matches: DataFrame, docs: DataFrame,
                group_col: str = "group_key") -> DataFrame:
    """doc->uprn edges from accepted matches + doc<->doc edges via the
    shared group key (the planning_app_base analog). Node namespaces
    'd:' / 'u:' keep the bipartite ids distinct."""
    du = doc_matches.select(
        F.concat(F.lit("d:"), "doc_id").alias("src"),
        F.concat(F.lit("u:"), "uprn").alias("dst"))
    w = Window.partitionBy(group_col).orderBy("doc_id")
    dd = (docs
          .filter(F.col(group_col).isNotNull())
          .select(group_col, "doc_id")
          .withColumn("_anchor", F.first("doc_id").over(w))
          .filter(F.col("doc_id") != F.col("_anchor"))
          .select(F.concat(F.lit("d:"), "doc_id").alias("src"),
                  F.concat(F.lit("d:"), "_anchor").alias("dst")))
    return du.unionByName(dd)


def _vote_winner(components: DataFrame,
                 matches: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The components' document nodes (doc_id, component), and per
    component the UPRN with the most votes among ``matches`` (tie-break:
    max confidence, then min uprn) as (component, uprn, votes,
    max_conf)."""
    doc_nodes = components.filter(F.col("node").startswith("d:")) \
        .select(F.expr("substring(node, 3)").alias("doc_id"), "component")
    votes = (matches.join(doc_nodes, "doc_id")
             .groupBy("component", "uprn")
             .agg(F.count("*").alias("votes"),
                  F.max("confidence").alias("max_conf")))
    wv = Window.partitionBy("component").orderBy(
        F.desc("votes"), F.desc("max_conf"), F.asc("uprn"))
    winner = (votes
              .withColumn("_rn", F.row_number().over(wv))
              .filter(F.col("_rn") == 1)
              .drop("_rn"))
    return doc_nodes, winner


def cluster_consensus(components: DataFrame, doc_matches: DataFrame,
                      all_docs: DataFrame,
                      min_votes: int = 2, max_cluster: int = 200,
                      min_conf: float = 0.5,
                      vote_share: float = 0.4,
                      group_col: str | None = "group_key") -> DataFrame:
    """G1 consensus: per component, the UPRN with most votes among
    matches with confidence > min_conf wins (tie-break: max confidence,
    then min uprn); winners propagate to the component's unmatched docs
    with confidence banded by vote count (0.85/0.90/0.95 for 2/3/4+,
    cmd/matcher-v2/main.go:886-1012). Safety gates: cluster size cap,
    >=min_votes votes, votes >= vote_share of matched members.

    Returns (doc_id, uprn, confidence, method='cluster_consensus') for
    newly assigned docs only."""
    doc_nodes, winner = _vote_winner(
        components, doc_matches.filter(F.col("confidence") > min_conf))
    stats = (doc_nodes
             .join(doc_matches.select("doc_id", F.lit(1).alias("_m")),
                   "doc_id", "left")
             .groupBy("component")
             .agg(F.count("*").alias("csize"),
                  F.sum(F.coalesce("_m", F.lit(0))).alias("matched")))
    winner = (winner.join(stats, "component")
              .filter((F.col("csize") <= max_cluster) &
                      (F.col("votes") >= min_votes) &
                      (F.col("votes") >= F.col("matched") * vote_share)))
    conf = (F.when(F.col("votes") >= 4, 0.95)
            .when(F.col("votes") == 3, 0.90)
            .otherwise(0.85))
    unmatched = (all_docs.select("doc_id")
                 .join(doc_matches.select("doc_id"), "doc_id", "left_anti"))
    assigned = (unmatched
                .join(doc_nodes, "doc_id")
                .join(winner.select("component", "uprn",
                                    conf.alias("confidence")),
                      "component")
                .select("doc_id", "uprn", "confidence",
                        F.lit("cluster_consensus").alias("method")))
    if group_col and group_col in all_docs.columns:
        # propagation gate (reference semantics, cmd/matcher-v2/main.go:
        # 886-1012: the winner is applied to members of the GROUP that
        # voted): an unmatched doc only receives the component winner if
        # its own group contains >=1 direct voter for that UPRN —
        # transitive component evidence strengthens the vote count but
        # cannot reach into groups with no evidence of their own
        # a "direct voter" is a match ELIGIBLE to vote (confidence >
        # min_conf, same gate as the votes aggregation above) — a
        # sub-threshold match must not open its group to propagation
        # it could not have voted for
        voter_groups = (doc_matches
                        .filter(F.col("confidence") > min_conf)
                        .join(all_docs.select("doc_id", group_col), "doc_id")
                        .groupBy(group_col, "uprn")
                        .agg(F.count("*").alias("_gv"))
                        .filter(F.col("_gv") >= min_votes)
                        .select(group_col, "uprn"))
        doc_groups = all_docs.select("doc_id", group_col)
        assigned = (assigned
                    .join(doc_groups, "doc_id")
                    .join(voter_groups, [group_col, "uprn"], "left_semi")
                    .drop(group_col))
    return assigned


def canonical_uprn_per_cluster(components: DataFrame,
                               doc_matches: DataFrame) -> DataFrame:
    """(component, canonical_uprn) — majority vote with the same
    deterministic tie-break; the cluster's stable identity output."""
    return _vote_winner(components, doc_matches)[1].select(
        "component", F.col("uprn").alias("canonical_uprn"))
