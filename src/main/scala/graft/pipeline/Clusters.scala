package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.Staging.StagingOps

/**
 * Near-duplicate cluster resolution: candidate pairs (from MinHash-LSH or
 * embedding near-dup) → connected components → one kept representative per
 * component. This is the step that turns pairwise similarity into actual
 * dedup decisions for a training corpus.
 *
 * Algorithm: alternating large-star / small-star label propagation
 * (Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14
 * — the standard shuffle-bounded formulation used at web scale):
 *   large-star: every node points its larger neighbors at its current
 *     minimum neighbor; small-star: every node adopts the minimum of its
 *     smaller-or-equal neighbors. Each round is two hash-shuffles on node
 *     id; the edge set contracts monotonically toward star graphs rooted
 *     at component minima. Converges in O(log n) rounds on real graphs
 *     (near-dup graphs are overwhelmingly tiny cliques — 2-3 rounds).
 *
 * Determinism: labels are MINIMUM doc ids, so the fixpoint is unique
 * regardless of partitioning, executor count, or iteration interleaving —
 * the representative of each cluster is its smallest id, matching the
 * reference-style "keep first" policy and making the result oracle-checkable
 * cross-engine.
 *
 * Scale notes: each iteration is a min-agg + same-key re-join (never a
 * per-node collect_set — a hub node's neighbors stream through the join
 * instead of accumulating in one agg buffer) — no windows, no
 * driver-side state besides the converged flag (one count per round, the
 * standard driver-coordinated fixpoint loop; the per-round data never
 * collects). localCheckpoint per round truncates the growing lineage so
 * round k does not replay rounds 1..k-1 (at cluster scale: checkpoint to
 * durable storage instead).
 */
object Clusters {

  /**
   * Connected components over an undirected edge list (idA, idB).
   * Returns (id, component) where component = min id reachable.
   * Nodes only appear if they occur in an edge — union singletons in
   * afterwards if the full corpus mapping is needed (see `dedupDecisions`).
   */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // undirected edge list, deduped, self-loops dropped
    var edges = pairs.select(col("idA").cast("long").as("src"),
        col("idB").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .distinct()
      .staged

    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // large-star: for each node u (over BOTH edge directions), link every
      // strictly-larger neighbor to u's minimum neighbor (including u).
      // Shape: min-agg + re-join on u, NOT collect_set+explode — a hub
      // node's neighbor list never materializes in a single agg buffer
      // (degenerate graphs: an all-pairs near-dup clique makes one node's
      // set O(clique)); the join streams hub rows through with an O(1)
      // build side (one min per node), and both shuffles hash on u so the
      // exchange is reused.
      val nbrs = edges.select(col("src").as("u"), col("dst").as("v"))
        .union(edges.select(col("dst").as("u"), col("src").as("v")))
      val largeMins = nbrs.groupBy("u")
        .agg(min(least(col("v"), col("u"))).as("m"))
      val largeStar = nbrs.join(largeMins, "u")
        .filter(col("v") > col("u"))
        .select(least(col("v"), col("m")).as("src"),
          greatest(col("v"), col("m")).as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
      // small-star: for each node u, link all smaller-or-equal neighbors
      // (and u) to their collective minimum — same agg+join shape
      val smallNbrs = largeStar.select(col("dst").as("u"), col("src").as("v"))
      val smallMins = smallNbrs.groupBy("u").agg(min(col("v")).as("m"))
      val smallStar = smallNbrs.join(smallMins, "u")
        .select(explode(array(
          struct(col("v").as("a"), col("m").as("b")),
          struct(col("u").as("a"), col("m").as("b")))).as("e"))
        .select(least(col("e.a"), col("e.b")).as("src"),
          greatest(col("e.a"), col("e.b")).as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
        .staged

      // fixpoint when the edge set is stable (star graphs map each node
      // straight to its component minimum). ONE probe job per round (r20:
      // the two exceptAll directions were separate driver-synchronized
      // jobs — union them so every round pays one scheduling floor);
      // exceptAll on a star edge set stays small.
      val changed = smallStar.exceptAll(edges)
        .unionAll(edges.exceptAll(smallStar)).limit(1).count()
      converged = changed == 0
      edges = smallStar
      iter += 1
    }
    edges.select(col("dst").as("id"), col("src").as("component"))
      .union(edges.select(col("src").as("id"), col("src").as("component")))
      .groupBy("id").agg(min("component").as("component"))
  }

  /**
   * Full-corpus dedup decisions: every doc gets (component, keep) where
   * keep = true iff the doc is its component's minimum (singletons keep
   * themselves). One left join of the corpus against the (small) component
   * map — at 100 TB the component map is proportional to the DUPLICATED
   * subset, not the corpus, so it broadcasts in realistic corpora.
   */
  def dedupDecisions(docs: DataFrame, idCol: String,
                     pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs)
    docs.select(col(idCol).cast("long").as("id"))
      .join(comps, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("component"),
        (coalesce(col("component"), col("id")) === col("id")).as("keep"))
  }
}
