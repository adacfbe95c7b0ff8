"""Near-duplicate keeper resolution: connected components over verified
near-dup pairs (SURVEY.md §2.7; VERDICT r2 "What's missing" #3).

The dedup operators (`q_minhash_pairs`, `q_simhash_pairs`,
`q_embed_neardup`, `q_ngram_jaccard`) emit candidate PAIRS; an actual
dedup pipeline must resolve pairs into groups and pick one keeper per
group — transitively: if A~B and B~C, then {A,B,C} is one group even when
A~C was never scored. That is connected components with the min-id member
as the group keeper. The MinHash, SimHash and SemDeDup pairs all come from
one kernel, `textops.bucket_pairs`, whose hot buckets emit star edges
instead of cliques; a star has the same components as the clique, so
keeper resolution is unchanged by the cap.

Algorithm: iterative min-label propagation. labels start as each node's
own id; each round every node takes the min of its own label and its
neighbors' labels; converged when no label changes. Rounds = graph
diameter of the largest component. Near-dup graphs are short-diameter
(dup clusters are cliques-ish, not paths), so a handful of rounds
suffices; for adversarial long-chain graphs at 10^12-doc scale, switch to
the large-star/small-star alternation (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) which converges in
O(log^2 n) rounds with the same join-shaped primitive. No GraphX / RDDs:
every round is one equi-join + one groupBy min, both id-partitioned, so
successive rounds reuse the same hash partitioning.

Convergence detection is O(1) per round: labels only ever DECREASE
(new = least(old, neighbor-min)), so the decimal sum of all labels
strictly decreases iff any label changed — one aggregate, no
old-vs-new join. (decimal(38,0): an int64 sum could overflow at
10^12 × 64-bit ids.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Edge threshold for q_dedup_groups: cosine >= 0.25 over within-label
# pairs yields a graph with real transitive chains on the synthetic
# embeddings (sf0.01: 293 edges, 59 multi-node components, sizes 2..24)
# while keeping the oracle's reachability closure small.
NEARDUP_CC_THRESHOLD = 0.25


def connected_components(nodes: DataFrame, edges: DataFrame,
                         max_iter: int = 50) -> DataFrame:
    """Min-label connected components.

    nodes: DF with column `id` (every node, including isolated ones —
        they become their own keeper).
    edges: DF with columns `src`, `dst`, ONE row per undirected edge
        (symmetrized internally).
    Returns DF(id, keeper_id) where keeper_id = min node id reachable.

    Convergence is fixpoint-confirmed: labels only decrease, so the
    label sum is strictly decreasing until stable, and one NO-CHANGE
    round proves the fixpoint. max_iter therefore bounds rounds
    INCLUDING that confirming round — size it to diameter + 1.
    """
    if max_iter < 1:
        raise ValueError(
            f"connected_components: max_iter must be >= 1, got {max_iter}")
    sym = (edges.select("src", "dst")
           .union(edges.select(F.col("dst").alias("src"),
                               F.col("src").alias("dst")))
           .distinct()
           .localCheckpoint(eager=True))  # static per run: cut lineage once

    labels = nodes.select(F.col("id"), F.col("id").alias("keeper_id"))
    prev_sum = None
    last_step = (None, None)
    converged = False
    for _ in range(max_iter):
        nbr = (sym.join(labels, sym["src"] == labels["id"])
               .groupBy(sym["dst"].alias("id"))
               .agg(F.min("keeper_id").alias("nbr_min")))
        lab = labels.alias("l")
        new = (lab.join(nbr.alias("n"), F.col("l.id") == F.col("n.id"), "left")
               .select(F.col("l.id").alias("id"),
                       F.least(F.col("l.keeper_id"),
                               F.coalesce(F.col("n.nbr_min"),
                                          F.col("l.keeper_id")))
                       .alias("keeper_id")))
        # localCheckpoint: truncate the iteration's growing lineage AND
        # materialize once so the convergence aggregate and the next
        # round's join share one computation.
        new = new.localCheckpoint(eager=True)
        cur_sum = new.agg(
            F.sum(F.col("keeper_id").cast("decimal(38,0)"))).collect()[0][0]
        labels = new
        if prev_sum is not None and cur_sum == prev_sum:
            converged = True
            break
        last_step = (prev_sum, cur_sum)
        prev_sum = cur_sum
    if not converged:
        # Degrade loudly (house rule): exhausting max_iter before a
        # confirmed label-sum fixpoint means some component may still
        # carry non-minimal keeper labels. Silent wrong groups poison
        # the dedupe downstream, so refuse.
        raise RuntimeError(
            f"connected_components: fixpoint not confirmed within "
            f"{max_iter} iterations (last label-sum step: "
            f"{last_step[0]} -> {last_step[1]}); raise max_iter or "
            "check the edge graph for adversarial long chains")
    return labels


def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keeper resolution over the embedding near-dup pair graph: every
    vec_id mapped to the min vec_id of its connected component at
    cosine >= NEARDUP_CC_THRESHOLD (isolated vectors keep themselves).

    Scale shape: the edge list is the already-blocked `q_embed_neardup`
    output (label-blocked self-join — at 100 TB an LSH/IVF bucket key),
    filtered to the threshold; each propagation round is an id-keyed
    join + partial-agg min. No cartesian products, no collect of data
    rows (only the O(1) convergence aggregate per round).
    """
    from goose_spark.ann import q_embed_neardup

    pairs = q_embed_neardup(spark, sf_dir).filter(
        F.col("cosine") >= NEARDUP_CC_THRESHOLD)
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    from goose_spark.queries import load

    nodes = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"))
    return (connected_components(nodes, edges)
            .select(F.col("id").alias("vec_id"), F.col("keeper_id")))


# DuckDB oracle: reachability closure via recursive CTE — UNION (not
# UNION ALL) dedups (node, reached-from) pairs so the fixpoint
# terminates; MIN over reached-from ids per node = the component min,
# exactly the keeper definition above. The inner pair query is the
# (oracle-green) ORACLE_EMBED_NEARDUP with the same ROUND(·,4)
# threshold, so both engines see the identical edge set.
ORACLE_DEDUP_GROUPS = f"""
WITH RECURSIVE pairs AS (
  WITH t AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings)
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v))), 4) + 0.0 AS cosine
  FROM t a JOIN t b ON a.label = b.label AND a.vec_id < b.vec_id
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
   WHERE cosine >= {NEARDUP_CC_THRESHOLD}
  UNION
  SELECT id_b, id_a FROM pairs WHERE cosine >= {NEARDUP_CC_THRESHOLD}
),
reach(id, r) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
)
SELECT id AS vec_id, MIN(r) AS keeper_id FROM reach GROUP BY id
"""

