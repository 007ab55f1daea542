package graft.algos

import graft.core._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Closeness + Harmonic centrality via batched multi-source BFS.
 *
 * Reference: MSClosenessCentrality (alpha/.../impl/closeness/
 * MSClosenessCentrality.java:43) computes farness with the 64-source
 * bit-parallel MS-BFS (alpha/.../impl/msbfs/MultiSourceBFS.java:68);
 * HarmonicCentrality (alpha/.../impl/harmonic/HarmonicCentrality.java:31)
 * sums 1/dist.
 *
 * Spark mapping of MS-BFS: frontier rows are (node, sourceBatch, mask)
 * where `mask` is the 64-bit "which of this batch's sources reached me"
 * word; merge = bit_or per (node, batch) — the reference's ω-bitmask trick
 * as a two-column aggregate. Each superstep contributes
 * popcount(newly-set bits)·depth to farness / popcount·(1/depth) to
 * harmonic. All-pairs BFS is inherently O(n·m/64); intended for
 * moderate n (the reference streams it the same way).
 *
 *  - closeness(v) = (reachable−1) / farness(v), with the Wasserman-Faust
 *    component correction option ((r−1)²/((n−1)·farness)).
 *  - harmonic(v) = Σ_u 1/dist(u,v) / (n−1).
 */
object Closeness {

  final case class Config(
      wassermanFaust: Boolean = false,
      maxDepth: Int = 50,
      orientation: Orientation = Orientation.Undirected)

  /** @return (id, closeness, harmonic) */
  def run(graph: PropertyGraph, config: Config = Config()): DataFrame = {
    val spark = graph.nodes.sparkSession
    // prepared layout: one shuffle, partition-local distinct, sorted —
    // every MS-BFS wave's edges⋈frontier join reuses it exchange- and
    // sort-free (PropertyGraph.pregelEdges).
    val edges = graph.pregelEdges(config.orientation, Aggregation.Count,
      withWeight = false)
    val n = graph.nodes.count()

    // batch sources 64 per word: batch = id / 64, bit = id % 64.
    var frontier = graph.nodes.select(
      col("id"),
      (col("id") / 64).cast("long").as("batch"),
      expr("shiftleft(cast(1 as bigint), cast(id % 64 as int))").as("mask"))
      .cutLineage()
    // visited masks per (node, batch)
    var visited = frontier
    // accumulated (id, farness, harmonic, reached)
    var acc = graph.nodes.select(col("id"),
      lit(0.0).as("farness"), lit(0.0).as("harmonic"), lit(0L).as("reached"))
      .cutLineage()

    var depth = 0
    var frontierRows = 1L
    while (frontierRows > 0 && depth < config.maxDepth) {
      depth += 1
      // propagate masks along edges, drop already-visited bits
      val spread = edges
        .join(frontier.select(col("id").as("src"), col("batch"), col("mask")), Seq("src"))
        .groupBy(col("dst").as("id"), col("batch"))
        .agg(expr("bit_or(mask)").as("m"))
      val newBits = spread
        .join(visited.select(col("id"), col("batch"), col("mask").as("seen")),
          Seq("id", "batch"), "left_outer")
        .select(col("id"), col("batch"),
          (col("m").bitwiseAND(bitwise_not(coalesce(col("seen"), lit(0L))))).as("mask"))
        .where(col("mask") =!= 0L)
        .cutLineage()

      frontierRows = newBits.limit(1).count()
      if (frontierRows > 0) {
        val d = depth.toDouble
        val contrib = newBits
          .groupBy("id")
          .agg(sum(expr("bit_count(mask)")).cast("long").as("cnt"))
        val accNew = acc.join(contrib, Seq("id"), "left_outer")
          .select(col("id"),
            (col("farness") + coalesce(col("cnt"), lit(0L)) * d).as("farness"),
            (col("harmonic") + coalesce(col("cnt"), lit(0L)) / d).as("harmonic"),
            (col("reached") + coalesce(col("cnt"), lit(0L))).as("reached"))
          .cutLineage()
        val visitedNew = visited.unionByName(newBits)
          .groupBy("id", "batch").agg(expr("bit_or(mask)").as("mask"))
          .cutLineage()
        // superseded wave frames (on wave 1, visited aliases frontier —
        // the double unpersist is a no-op)
        Lineage.release(acc)
        Lineage.release(visited)
        Lineage.release(frontier)
        acc = accNew
        visited = visitedNew
        frontier = newBits
      } else {
        Lineage.release(newBits)
      }
    }
    // acc is the (checkpointed) result; everything else can go.
    Lineage.release(visited)
    Lineage.release(frontier)
    Lineage.release(edges)

    val closeness =
      if (config.wassermanFaust)
        when(col("farness") > 0.0,
          (col("reached") * col("reached")).cast("double") /
            (col("farness") * (n - 1.0))).otherwise(0.0)
      else
        when(col("farness") > 0.0, col("reached") / col("farness")).otherwise(0.0)

    acc.select(col("id"),
      closeness.as("closeness"),
      (col("harmonic") / (n - 1.0)).as("harmonic"))
  }
}
