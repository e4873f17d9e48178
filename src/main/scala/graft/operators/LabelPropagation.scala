package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous majority label propagation (LPA community detection,
  * Raghavan et al. 2007) — a FIXED number of synchronous rounds with a
  * deterministic tie-break, which is what makes the result reproducible
  * and oracle-checkable (classic async LPA is order-dependent).
  *
  * Distinct from [[ConnectedComponents]]: min-label propagation converges
  * to components; MAJORITY propagation splits a component into densely
  * connected communities — a bridge edge carries one vote and loses to
  * either side's internal majority.
  *
  * Per round: one equijoin (labels onto edge targets) and two mergeable
  * hash aggregations — votes per (node, label), then argmax by
  * (count desc, label asc) as a single `max(struct(cnt, -label))` (never
  * a per-node rank window). The labels frame stays node-sized and rounds
  * are fixed. Checkpoint discipline: the SYMMETRIZED edge list — read by
  * every round — is localCheckpoint'ed once so its union+distinct runs
  * one time, while the labels lineage (3 join+agg layers) stays LAZY:
  * per-round eager checkpoints would serialize three separate jobs where
  * one suffices (measured best-of-3 5.0 s → 2.5 s at sf0.1/local[32]).
  * Long runs re-checkpoint labels every 5 rounds to bound plan growth,
  * the PageRank/KCore discipline.
  */
object LabelPropagation {

  /** `edges`: columns (u, v), treated as undirected (symmetrized and
    * deduped internally). Returns (node, label) after `rounds` synchronous
    * majority updates from the all-distinct initialization.
    *
    * Shuffle geometry: sym is built with ONE shuffle — hash partitioning
    * on v alone satisfies the dedup's (u, v) clustering, so distinct()
    * runs on the repartition exchange without another. Each round then
    * pays exactly one edge-wide exchange — repartition(u) after the join —
    * which co-locates BOTH vote aggregations (clustering by u satisfies
    * the (u, label) grain too), where a plain sym.distinct() build plus
    * groupBy-induced exchanges pays the sym shuffle plus separate
    * (u, label) and (u) exchanges. Measured interleaved-A/B at local[32]
    * (SCALING.md r9 probes, lp1 row).
    *
    * The sym checkpoint does NOT keep its v-partitioning across rounds:
    * AQE hands localCheckpoints back as UnknownPartitioning (see
    * GraftSqlBridge.assertHashPartitioned). Pinning it with an asserted
    * partition count measured a LOSS at sf0.1/local[32] (2.04 → 2.96 s)
    * and a wash at sf1 (3.68 → 4.04 s; SCALING.md r11 probes, lp1 row):
    * unlike pr1's SHUFFLE_HASH-hinted joins, lp1's vote join
    * AQE-broadcasts the node-sized labels, so the edge side escapes the
    * per-round shuffle anyway and the pin only adds un-coalesced task
    * floor. */
  def run(edges: DataFrame, rounds: Int): DataFrame = {
    val sym = edges.select(col("u"), col("v"))
      .unionAll(edges.select(col("v").as("u"), col("u").as("v")))
      .repartition(col("v")).distinct()
      .localCheckpoint() // read by every round: symmetrize+dedup ONCE
    var labels = sym.select(col("u").as("node")).distinct()
      .withColumn("label", col("node"))
    var prevCkpt: org.apache.spark.sql.DataFrame = null
    for (i <- 1 to rounds) {
      val voted = sym.join(labels.withColumnRenamed("node", "v"), "v")
      labels = voted.repartition(col("u"))
        .groupBy(col("u"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("u"))
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
        .select(col("u").as("node"), (-col("m.nl")).as("label"))
      // bound plan depth on long runs without serializing short ones;
      // release the superseded interior checkpoint immediately (the final
      // labels plan still reads sym and the LAST checkpoint — those stay)
      if (i % 5 == 0 && i < rounds) {
        val c = labels.localCheckpoint()
        if (prevCkpt != null)
          org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(prevCkpt)
        prevCkpt = c
        labels = c
      }
    }
    labels
  }
}
