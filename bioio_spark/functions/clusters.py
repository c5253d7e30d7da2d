"""Near-duplicate cluster resolution: connected components over LSH
candidate pairs (SURVEY §2.8, the step after L2 in a real dedup pipeline:
candidate pairs -> duplicate *groups* -> one canonical doc per group).

Spark side: iterative min-label propagation — each round joins the label
frame to the (undirected) edge list, takes the min neighbor label, and
stops when no label changes. The DuckDB oracle expresses the same fixpoint
as a recursive CTE, so the result is hash-checkable despite being an
iterative algorithm.

Scale notes:
- the edge list is localCheckpoint()ed once, truncating the expensive LSH
  lineage so each round re-reads a materialized edge partition instead of
  re-running shingle/minhash/banding per iteration.
- each round is neighbor propagation (one shuffle join edges x labels on
  dst + min partial aggregate); from round 3 on it is FOLLOWED BY pointer
  jumping (label(u) := min(label(u), label(label(u))) — one more join on
  the label frame). Neighbor propagation alone needs diameter rounds; the
  pointer-jumping step halves label-chain depth each round, so convergence
  is O(log diameter) — a 1M-node path converges in ~20 rounds, not 1M
  (same contraction guarantee as large-star/small-star, Kiveris et al.
  "Connected Components in MapReduce and Beyond", with a simpler body).
  LSH dedup clusters are near-cliques (diameter 1-3) that plain
  propagation finishes in <=2 rounds — the jump join only engages when
  round 3 proves deeper chains exist, so the common case never pays it.
- convergence detection is fused into the propagation frame: each round
  carries the round-start label, so "changed" is a filter+count on the
  frame being materialized anyway — no separate old-vs-new join.
- the invariant pointer jumping preserves: label(u) is always the id of
  some node in u's component, and labels only decrease — so the fixpoint
  is exactly min-node-id per component, matching the recursive-CTE oracle.
- exhausting max_iter without convergence RAISES rather than returning
  partially-propagated labels (ADVICE r1: silent wrong components).
- labels are localCheckpoint()ed per round: the plan would otherwise
  double each iteration (label lineage feeds the next join on both sides).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bioio_spark import session


def connected_components(edges: DataFrame, src: str = "doc_a",
                         dst: str = "doc_b", max_iter: int = 25,
                         jump_from: int = 3) -> DataFrame:
    """Resolve (src, dst) candidate pairs to components.

    Returns (node, label) where label = min node id in the component.
    Reference analog: none (bioio has no graph ops) — this is north-star
    surface for the dedup pipeline.

    jump_from: first round (0-based) that adds the pointer-jumping join.
    Near-clique graphs (LSH dedup buckets, diameter 1-3) converge under
    plain propagation and should never pay it (default 3); long-chain
    graphs (pixel masks, diameter ~sqrt(n)) want it early (1) since each
    jump round doubles reach.
    """
    und = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .union(edges.select(F.col(dst).alias("src"),
                            F.col(src).alias("dst")))
        .localCheckpoint()
    )
    labels = (und.select(F.col("src").alias("node")).distinct()
              .select("node", F.col("node").alias("label"))
              .localCheckpoint())
    for it in range(max_iter):
        # neighbor propagation: min label over the 1-hop neighborhood
        nmin = (und.join(labels, und["dst"] == labels["node"])
                .groupBy("src").agg(F.min("label").alias("nmin")))
        # carry the round-start label alongside the propagated one so the
        # convergence test below is a plain filter+count on this frame —
        # no extra join against the old label map per round
        prop = (labels.alias("l")
                .join(nmin, F.col("l.node") == nmin["src"], "left")
                .select(F.col("l.node").alias("node"),
                        F.col("l.label").alias("old_label"),
                        F.least(F.col("l.label"),
                                F.coalesce("nmin", "l.label")).alias("label")))
        if it >= jump_from:
            # pointer jumping through the PREVIOUS round's (checkpointed)
            # label map: label(u) := min(label(u), old_label(label(u))).
            # Reach roughly doubles per round => O(log diameter) rounds;
            # using the old map avoids a self-join recomputing `prop` twice.
            # LSH dedup clusters are near-cliques (diameter 1-3) that plain
            # propagation finishes within 3 rounds, so the jump join only
            # engages once round 4 proves deeper chains exist — the
            # O(log d) worst case keeps its guarantee (doubling from round
            # 4 on), while the common case (almost) never pays the join.
            jump = labels.select(F.col("node").alias("jnode"),
                                 F.col("label").alias("jlabel"))
            prop = (prop.alias("p")
                    .join(jump, F.col("p.label") == jump["jnode"], "left")
                    .select(F.col("p.node").alias("node"),
                            F.col("p.old_label").alias("old_label"),
                            F.least(F.col("p.label"),
                                    F.coalesce("jlabel", "p.label"))
                            .alias("label")))
        new = prop.localCheckpoint(eager=False)
        # the count below is the round's single job: it materializes the
        # lazy checkpoint AND detects the fixpoint in one pass
        changed = (new.filter(F.col("label") != F.col("old_label"))
                   .count())
        labels = new.select("node", "label")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds; "
        f"the graph has pathological structure — raise max_iter")


def dedup_clusters(pairs: DataFrame, jump_from: int = 3) -> DataFrame:
    """Per-doc cluster assignment + cluster size from candidate pairs.

    Output: (doc_id, cluster_rep, cluster_size) for every doc that appears
    in at least one candidate pair; cluster_rep is the min doc_id of the
    component (the doc a dedup pass would keep).
    """
    cc = connected_components(pairs, jump_from=jump_from)
    w = Window.partitionBy("cluster_rep")
    return (cc.select(F.col("node").alias("doc_id"),
                      F.col("label").alias("cluster_rep"))
            .withColumn("cluster_size", F.count(F.lit(1)).over(w))
            .orderBy("doc_id"))


def dedup_clusters_oracle(pairs_cte: str) -> str:
    """Recursive-CTE oracle: same fixpoint as the Spark propagation loop.

    `pairs_cte` must be a CTE chain (no WITH keyword) ending in a CTE named
    `pairs` with columns (doc_a, doc_b).
    """
    return f"""
    WITH RECURSIVE {pairs_cte},
    und AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    walk(node, lab) AS (
      SELECT DISTINCT src, src FROM und
      UNION
      SELECT u.dst, w.lab FROM walk w JOIN und u ON u.src = w.node
    ),
    cc AS (SELECT node, min(lab) AS cluster_rep FROM walk GROUP BY node)
    SELECT node AS doc_id, cluster_rep,
           count(*) OVER (PARTITION BY cluster_rep) AS cluster_size
    FROM cc ORDER BY doc_id
    """


# -- G2: PageRank (integer fixed-point, Pregel-on-DataFrame) -----------------

PR_SCALE = 1_000_000            # decimal fixed point
PR_DAMP_PCT = 85                # damping factor as integer percent
PR_ITERS = 3


def pagerank(edges: DataFrame, n_iters: int = PR_ITERS,
             src: str = "src", dst: str = "dst") -> DataFrame:
    """Integer fixed-point PageRank: the Pregel-on-DataFrame iteration
    that complements the pointer-jumping CC — a FIXED number of rounds
    unrolled as one pure DataFrame chain (no driver collect at all;
    contrast l3h/l13, whose per-round state must come back to the
    driver). Every round is one edge-keyed join plus one
    partial-combining aggregate on the destination key — the standard
    distributed PageRank shape; a 100 TB graph runs the identical plan
    with the ranks table checkpointed between rounds.

    Arithmetic is EXACT: ranks are integers scaled by PR_SCALE and the
    damped contribution is the single integer division
    ``(rank * 85) DIV (100 * outdeg)`` — floor semantics identical in
    Spark (DIV) and DuckDB (//), so three rounds of float-free
    propagation hash-match. Dangling nodes keep the base rank (they
    contribute nothing), spelled the same in both engines.

    Returns (node, rank) over all nodes, rank after n_iters rounds."""
    # the graph tables are reused EVERY round — persist them once, as
    # every production PageRank does (at 100 TB: cache edges on disk,
    # checkpoint the ranks table between rounds to cut lineage).
    # Persists are LAZY (one job computes the whole chain with cache
    # reuse — an eager per-round count() measured 8x slower at sf0.1);
    # memory hygiene comes from session.hold: each invocation frees the
    # frames the PREVIOUS one pinned, so a long-lived session holds at
    # most one invocation's blocks.
    held = session.hold(edges.sparkSession, "pagerank")
    e = edges.select(F.col(src).alias("src"),
                     F.col(dst).alias("dst")).distinct().persist()
    nodes = (e.select(F.col("src").alias("node"))
             .unionByName(e.select(F.col("dst").alias("node")))
             .distinct().persist())
    outdeg = (e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
              .persist())
    held.extend([e, nodes, outdeg])
    ranks = nodes.withColumn(
        "rank", F.lit(PR_SCALE).cast("bigint"))
    base = PR_SCALE * (100 - PR_DAMP_PCT) // 100
    for _ in range(n_iters):
        contrib = (e.join(outdeg, "src")
                   .join(ranks.withColumnRenamed("node", "src"), "src")
                   .select("dst",
                           F.expr(f"(rank * {PR_DAMP_PCT}) DIV "
                                  f"(100 * deg)").alias("c"))
                   .groupBy("dst")
                   .agg(F.sum("c").alias("contrib")))
        ranks = (nodes.join(contrib.withColumnRenamed("dst", "node"),
                            "node", "left")
                 .select("node",
                         (F.lit(base)
                          + F.coalesce("contrib", F.lit(0)))
                         .cast("bigint").alias("rank"))
                 # truncate the per-round lineage (the CC loop's
                 # localCheckpoint pattern): round i+1 reuses round
                 # i's cached ranks instead of recomputing its whole
                 # subtree; released by the next invocation via the
                 # registry above
                 .persist())
        held.append(ranks)
    return ranks


def pagerank_oracle(edges_cte: str,
                    n_iters: int = PR_ITERS) -> tuple[str, str]:
    """Textually-unrolled oracle pieces: returns (cte_body,
    final_cte_name) for the caller to wrap in `WITH {body} SELECT ...
    FROM {final}`. `edges_cte` must be a CTE chain (no WITH) ending in
    a CTE named `edges` with columns (src, dst), already distinct."""
    base = PR_SCALE * (100 - PR_DAMP_PCT) // 100
    parts = [edges_cte, """nodes AS (
      SELECT src AS node FROM edges UNION
      SELECT dst AS node FROM edges),
    outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
    r0 AS (SELECT node, CAST({scale} AS BIGINT) AS rank FROM nodes)
    """.format(scale=PR_SCALE)]
    for i in range(n_iters):
        parts.append(f"""c{i} AS (
      SELECT e.dst, sum((r.rank * {PR_DAMP_PCT})
                        // (100 * o.deg)) AS contrib
      FROM edges e JOIN outdeg o ON e.src = o.src
                   JOIN r{i} r ON e.src = r.node
      GROUP BY e.dst),
    r{i + 1} AS (
      SELECT n.node,
             CAST({base} + coalesce(c.contrib, 0) AS BIGINT) AS rank
      FROM nodes n LEFT JOIN c{i} c ON n.node = c.dst)""")
    body = ",\n    ".join(parts)
    return body, f"r{n_iters}"
