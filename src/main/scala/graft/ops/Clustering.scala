package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components — the pair→cluster primitive behind
  * the dedup surface (text near-dups in
  * [[FuzzyDedup.d15DedupClusters]], embedding near-dups in
  * [[Similarity.d22EmbeddingClusters]]).
  *
  * Algorithm: iterative min-label propagation WITH pointer jumping.
  * Labels start as self; each round every node takes the min of its own
  * and its neighbors' labels (one equi-join edges⋈labels + one
  * min-aggregate, both keyed on node id — small-key shuffles over the
  * EDGE set, which is O(duplicate pairs), not the corpus), then
  * compresses paths by one hop of `label := label(label)` (a self-join
  * of the label table). The compression step turns O(component
  * diameter) rounds into O(log diameter) — a 10^4-hop boilerplate-drift
  * chain converges in ~14 rounds instead of never finishing inside the
  * round guard.
  *
  * Round cost (VERDICT r8 #5 — the loop is pure driver-coordinated job
  * overhead at gate scale, so jobs and stages are the wall clock):
  *  - the identity label table is VIRTUAL: round 1's "join labels" is
  *    algebraically `least(s, min(dd))` grouped on the checkpointed
  *    edge partitioning — no initial distinct-and-checkpoint job, no
  *    round-1 join;
  *  - the convergence probe rides ON each round's checkpoint pass as an
  *    `observe` metric (CollectMetrics — computed while the rows are
  *    written anyway), not a separate count job;
  *  - convergence is detected on the MIN-PROPAGATION metric: if the min
  *    step changed nothing, labels are constant per component (equal
  *    across every edge by stability), so the jump is the identity and
  *    the final round skips it entirely.
  * Measured (sf0.1, local[32]): d15 2.48 s → ~1.9 s, same answers.
  * (A "fused" single-job round and a two-hop jump were both tried and
  * measured SLOWER — stage count, not job count, dominates once the
  * probe is fused; see round-9 notes in SURVEY §8.)
  */
object Clustering {

  /** Connected-component labels for an undirected pair list.
    *
    * @param pairs two numeric columns `a`, `b` (one row per edge)
    * @return (node, label) — label = minimum node id in the component;
    *         only nodes appearing in `pairs` are returned (isolated
    *         nodes are their own cluster: left-join and coalesce at the
    *         call site)
    */
  def minLabelComponents(pairs: DataFrame): DataFrame = {
    // partition the edge set on the propagation key ONCE — every round's
    // join then reuses the checkpointed partitioning instead of
    // re-shuffling the edges
    val edges = pairs.select(col("a").as("s"), col("b").as("dd"))
      .union(pairs.select(col("b").as("s"), col("a").as("dd")))
      .repartition(col("s"))
      .localCheckpoint()
    val labelType = edges.schema("s").dataType

    var labels: DataFrame = null // round 1 uses the virtual identity table
    var changed = 1L
    var rounds = 0
    val maxRounds = 100 // with pointer jumping: reached only at diameter ~2^100
    while (changed > 0 && rounds < maxRounds) {
      // min over self + neighbor labels, carrying each node's previous
      // label through the aggregate (max over {prev, null…} = the unique
      // previous value) so convergence falls out of the SAME pass.
      // Round 1: labels(x) = x, so the join collapses to an aggregate
      // straight over the edge table — `least(s, min(dd))` on the
      // partitioning `edges` already has (both directions are present,
      // so every node is an `s` and the self-label is the grouping key).
      val obsProp = org.apache.spark.sql.Observation(s"cc_prop_$rounds")
      val next = (if (labels == null)
        edges.groupBy(col("s").as("node"))
          .agg(least(col("s"), min(col("dd"))).as("label"),
            col("s").as("prev"))
      else
        edges.join(labels, col("s") === col("node"))
          .select(col("dd").as("node"), col("label"),
            lit(null).cast(labelType).as("prev"))
          .union(labels.select(col("node"), col("label"),
            col("label").as("prev")))
          .groupBy("node").agg(min("label").as("label"), max("prev").as("prev")))
        // the convergence metric rides ON the checkpoint pass
        // (CollectMetrics) — no separate count job; the checkpoint is
        // eager, so the metric is final when `get` returns
        .observe(obsProp,
          sum(when(col("label") < col("prev"), 1L).otherwise(0L)).as("changed"))
        // checkpointed: the jump self-join consumes `next` twice, and
        // ReuseExchange only dedups the shuffle write — the aggregate
        // would otherwise execute on both sides
        .localCheckpoint()
      // sum over zero rows is null (empty edge set → one empty round)
      changed = Option(obsProp.get("changed")).map(_.asInstanceOf[Long]).getOrElse(0L)
      if (changed == 0L) {
        // the min step moved nothing → labels are constant per component
        // (stability forces equality across every edge), so the jump
        // would be the identity: skip its job, we are done
        labels = next.select("node", "label")
      } else {
        // pointer jumping: label := label(label). Every label IS a node
        // (labels are mins over node ids), so the inner self-join is
        // total; label(label(x)) ≤ label(x) by monotonicity, `least`
        // only guards the invariant.
        labels = next
          .join(next.select(col("node").as("ln"), col("label").as("l2")),
            col("label") === col("ln"))
          .select(col("node"),
            least(col("label"), col("l2")).as("label"))
          .localCheckpoint()
      }
      rounds += 1
    }
    // fail LOUDLY rather than emit silently-wrong clusters: with path
    // compression, exceeding the guard needs a component of diameter
    // ~2^100 — i.e. broken input, not scale
    require(changed == 0,
      s"label propagation did not converge within $maxRounds rounds")
    labels
  }
}
