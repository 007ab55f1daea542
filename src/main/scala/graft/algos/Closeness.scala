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
 * Spark mapping of MS-BFS on [[Pregel.iterate]]: the state is the visited
 * set, one row per (node, sourceBatch) with `seen`, the 64-bit "which of
 * this batch's sources reached me" word, and `fresh`, the bits the last
 * wave set; rows with `fresh ≠ 0` are ACTIVE, the frontier. A step merges
 * the scattered masks with bit_or per (node, batch) — the reference's
 * ω-bitmask trick as a two-column aggregate. Wave t adds popcount(fresh)·t
 * to farness and popcount/t to harmonic at the next step (or after the
 * loop at `maxDepth`). All-pairs BFS is inherently O(n·m/64); intended
 * for moderate n (the reference streams it the same way).
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
    import Pregel._
    // prepared layout: one shuffle, partition-local distinct, sorted —
    // every MS-BFS wave's edges⋈frontier join reuses it exchange- and
    // sort-free (PropertyGraph.pregelEdges).
    val edges = graph.pregelEdges(config.orientation, Aggregation.Count,
      withWeight = false)
    val n = graph.nodes.count()

    // (id, farness, harmonic, reached). `addWave` reads the wave a cut
    // state holds, so it must run before that state is released.
    var acc = graph.nodes.select(col("id"),
      lit(0.0).as("farness"), lit(0.0).as("harmonic"), lit(0L).as("reached"))
    def addWave(state: DataFrame, depth: Int): Unit = {
      val d = depth.toDouble
      val contrib = state.where(col(ACTIVE))
        .groupBy("id")
        .agg(sum(expr("bit_count(fresh)")).cast("long").as("cnt"))
      val accNew = acc.join(contrib, Seq("id"), "left_outer")
        .select(col("id"),
          (col("farness") + coalesce(col("cnt"), lit(0L)) * d).as("farness"),
          (col("harmonic") + coalesce(col("cnt"), lit(0L)) / d).as("harmonic"),
          (col("reached") + coalesce(col("cnt"), lit(0L))).as("reached"))
        .cutLineage()
      Lineage.release(acc)
      acc = accNew
    }

    // batch sources 64 per word: batch = id / 64, bit = id % 64.
    val own = expr("shiftleft(cast(1 as bigint), cast(id % 64 as int))")
    val initial = graph.nodes.select(col("id"), (col("id") / 64).cast("long").as("batch"),
      own.as("seen"), own.as("fresh"), lit(true).as(ACTIVE), lit(true).as(CHANGED),
      lit(0.0).as(DELTA))
    val bfs = Pregel.iterate(initial, None, PregelConfig(maxIterations = config.maxDepth)) {
      (state, last) =>
        if (last.superstep > 0) addWave(state, last.superstep)
        // propagate the last wave's masks along edges, drop already-seen bits
        val spread = edges
          .join(state.where(col(ACTIVE)).select(col("id").as("src"), col("batch"),
            col("fresh")), Seq("src"))
          .groupBy(col("dst").as("id"), col("batch"))
          .agg(expr("bit_or(fresh)").as("m"))
        val m = coalesce(col("m"), lit(0L))
        val seen = coalesce(col("seen"), lit(0L))
        val fresh = m.bitwiseAND(bitwise_not(seen))
        StepPlan(state.select(col("id"), col("batch"), col("seen"))
          .join(spread, Seq("id", "batch"), "full_outer")
          .select(col("id"), col("batch"), seen.bitwiseOR(m).as("seen"), fresh.as("fresh"),
            (fresh =!= 0L).as(ACTIVE), (fresh =!= 0L).as(CHANGED), lit(0.0).as(DELTA)))
    }
    // a run cut off at maxDepth still holds its last wave
    if (!bfs.converged && bfs.supersteps > 0) addWave(bfs.vertices, bfs.supersteps)
    Lineage.release(bfs.vertices)
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
