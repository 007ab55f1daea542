package graft.algos

import graft.core._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * K-1 Coloring — gds.beta.k1coloring.*
 * (algo/.../beta/k1coloring/K1Coloring.java:145-226): greedy parallel
 * coloring. Each round every queued node takes the smallest color absent
 * among its neighbors' current colors (ColoringStep.java:58-90); a
 * validation pass re-queues one endpoint of every conflicting edge
 * (ValidationStep.java:27). We deterministically keep the smaller-id
 * endpoint, so the fixpoint is independent of partitioning.
 *
 * Spark plan per round: one neighbor join → per-node aggregation of
 * (settled-neighbor colors, rank among queued neighbors) → rank-th free
 * color via built-in HOFs (sequence/filter/get — no UDF) → conflict
 * self-join on equal colors.
 */
object K1Coloring {

  final case class Config(maxIterations: Int = 50)

  /** @return (id, color) proper coloring of the undirected simple graph */
  def run(graph: PropertyGraph, config: Config = Config()): DataFrame = {
    // undirected distinct neighbor relation, prepared by src (hash + sort
    // + AQE-off checkpoint — PropertyGraph.pregelEdges): both per-round
    // chains (gather, conflict validation) START with a join on src, so
    // the big edge side never re-shuffles or re-sorts across rounds. The
    // self-loop filter on top preserves the layout.
    val prepared = graph.pregelEdges(Orientation.Undirected, Aggregation.Count,
      withWeight = false)
    val eu = prepared.where(col("src") =!= col("dst"))

    import Pregel._
    // a queued node is both ACTIVE and CHANGED: the loop ends once none is
    val initial = graph.nodes.select(col("id"), lit(0L).as("color"),
      lit(true).as(ACTIVE), lit(true).as(CHANGED), lit(0.0).as(DELTA))

    val result = Pregel.iterate(initial, None,
        PregelConfig(maxIterations = config.maxIterations)) { (colors, last) =>
      // Queued nodes gather their SETTLED neighbors' colors as the
      // forbidden set, then take the rank-th free color, where rank =
      // this node's position among its QUEUED neighbors ordered by
      // xxhash64(id, round). Plain min-free-color thrashes on cliques
      // under BSP: every queued member picks the same min color each
      // round and the validation pass settles exactly ONE of them —
      // linear rounds in the clique size (measured: 35 rounds, ~5 nodes
      // settled/round on the 200-node gate graph; 4 rounds with ranked
      // picks). Ranked picks give clique members pairwise-distinct colors
      // in a single round (a Jones-Plassmann-style multi-color step); any
      // residual cross-neighborhood collision is caught by the validation
      // pass, which is what guarantees a proper coloring in either scheme.
      def h(c: Column) = xxhash64(c, lit(last.superstep))
      val nbrColors = eu
        .join(colors.select(col("id").as("src"), col(ACTIVE).as("qs")), Seq("src"))
        .where(col("qs"))
        .join(colors.select(col("id").as("dst"), col("color").as("nc"),
          col(ACTIVE).as("qd")), Seq("dst"))
        .groupBy(col("src"))
        .agg(
          // forbidden = SETTLED neighbor colors only (queued neighbors'
          // colors are provisional; excluding them inflates the palette)
          array_sort(collect_set(when(!col("qd"), col("nc")))).as("ncs"),
          sum(when(col("qd") && (h(col("dst")) < h(col("src")) ||
              (h(col("dst")) === h(col("src")) && col("dst") < col("src"))), 1L)
            .otherwise(0L)).as("rank"))
        .select(col("src").as("id"),
          get(
            filter(
              sequence(lit(0L),
                size(col("ncs")).cast("long") + col("rank") + 1L),
              x => !array_contains(col("ncs"), x)),
            col("rank").cast("int")).as("newColor"))

      val recolored = colors.join(nbrColors, Seq("id"), "left_outer")
        .select(col("id"),
          when(col(ACTIVE) && col("newColor").isNotNull, col("newColor"))
            .otherwise(col("color")).as("color"))

      // validation: for every conflicting edge, requeue the larger id.
      val cl = recolored.select(col("id").as("src"), col("color").as("ca"))
      val cr = recolored.select(col("id").as("dst"), col("color").as("cb"))
      val conflicts = eu.join(cl, Seq("src")).join(cr, Seq("dst"))
        .where(col("ca") === col("cb"))
        .select(greatest(col("src"), col("dst")).as("id")).distinct()

      val queued = coalesce(col("q"), lit(false))
      StepPlan(recolored
        .join(conflicts.withColumn("q", lit(true)), Seq("id"), "left_outer")
        .select(col("id"), col("color"), queued.as(ACTIVE), queued.as(CHANGED),
          lit(0.0).as(DELTA)))
    }
    // the result is checkpointed, so the prepared edge frame's blocks can go.
    Lineage.release(prepared)
    result.vertices.select(col("id"), col("color"))
  }
}
