package graft.cc

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.util.Blocks

/**
 * Connected components over a Dataset edge list via iterative
 * min-label propagation (the GraphFrames-style driver loop called for
 * in SURVEY.md §2.4/§4.3.1 — GraphFrames itself is not on the offline
 * classpath).
 *
 * Each round: every vertex adopts the minimum component label among
 * itself and its neighbors; convergence when no label changes.
 * Rounds = graph diameter. Entity-resolution match graphs are unions
 * of near-cliques (every alias pair of a family scores against the
 * shared informative token), so diameter is small (≤ ~4) regardless of
 * corpus size — label propagation converges in a handful of rounds
 * where star-contraction's worst-case machinery isn't needed. Lineage
 * is truncated every round with an eager checkpoint so the plan
 * stays O(1) deep; `maxIter` bounds pathological inputs: a run whose
 * last round still changed a label throws instead of returning
 * labels that have not converged.
 *
 * Scale notes: per round, one join (edges ⋈ labels) into ONE
 * aggregation per vertex over its neighbors' labels and its own — old
 * and new label from a single shuffle — then the pointer-jump
 * self-join. Partial aggregation absorbs high-degree vertices; Catalyst
 * plans each join from the measured checkpoints (CcSpec forces both).
 *
 * Input:  edges(src: Long, dst: Long), undirected, self-loops ignored.
 * Output: (sid: Long, component: Long) for every vertex appearing in
 * an edge; component = min vertex id of the component. Isolated
 * vertices are absent (singleton synthesis is the canonicalizer's
 * anti-join, matching /root/reference/update_kg/Updater.py:172-201).
 */
object ConnectedComponents {

  private def symmetric(e: DataFrame): DataFrame =
    e.select(col("src"), col("dst"))
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()

  def run(edges: DataFrame, maxIter: Int = 30): DataFrame = {
    // a checkpoint (not just persist): persist caches the DATA but
    // the logical plan — the entire upstream linker DAG — would still
    // be embedded in, and re-planned for, every iteration's job;
    // checkpointing makes each round's plan O(1) regardless of how
    // edges were produced
    val sym = Blocks.checkpoint(symmetric(edges))._1
    var labels = Blocks.checkpoint(sym.select(col("src").as("sid")).distinct()
      .withColumn("component", col("sid")))._1
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      // neighbor-min, carrying the previous label as `old` so
      // convergence is a free filter on the checkpointed result; sym is
      // symmetric, so every dst is a labelled vertex
      val msgs = sym.join(labels, sym("src") === labels("sid"))
        .select(col("dst").as("sid"), col("component"), lit(null).cast("long").as("self"))
      // checkpoint BEFORE the self-join below: self-joining the raw
      // join+agg subtree trips Catalyst union-constraint rewriting
      val prop = Blocks.checkpoint(msgs
        .unionByName(labels.select(col("sid"), col("component"), col("component").as("self")))
        .groupBy(col("sid"))
        .agg(max(col("self")).as("old"), min(col("component")).as("component")))._1
      // pointer jumping: l(v) ← l(l(v)) — with the neighbor-min step
      // this converges in O(log n) rounds even on path graphs, not
      // O(diameter)
      val propRight = prop
        .select(col("sid").as("y_sid"), col("component").as("y_component"))
      // convergence test FUSED into the checkpoint job via observe():
      // the changed-label count rides the same pass that materializes
      // the round — no third job per round
      val obs = Observation(s"cc_changed_$iter")
      val next = Blocks.checkpoint(prop
        .join(propRight, col("component") === col("y_sid"), "left_outer")
        .select(col("sid"), col("old"),
          coalesce(col("y_component"), col("component")).as("component"))
        .observe(obs, coalesce(sum(
          when(col("old") =!= col("component"), 1L).otherwise(0L)), lit(0L))
          .as("changed")))._1
      changed = obs.get("changed").asInstanceOf[Long]
      // `next` is materialized (the observe rode its checkpoint job):
      // the round's intermediate `prop` blocks and the PREVIOUS round's
      // labels are now dead — release them so a deep loop doesn't pin
      // O(rounds) copies of the vertex set (Dataset GC frees them
      // eventually, but at scale "eventually" is after the heap
      // pressure already hurt)
      Blocks.release(prop)
      Blocks.release(labels)
      labels = next.select(col("sid"), col("component"))
      iter += 1
    }
    // the symmetric edge list served its last round
    Blocks.release(sym)
    if (changed > 0) {
      Blocks.release(labels)
      throw new IllegalStateException("connected components did not converge " +
        s"in maxIter=$maxIter rounds ($changed labels changed in the last round)")
    }
    labels
  }
}
