package graft.algos

import graft.core._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * ArticleRank — gds.alpha.articleRank.* — PageRank with the scatter
 * denominator `outDegree + avgDegree` instead of `outDegree`
 * (alpha/.../pagerank/ArticleRankComputeStep.java:58-81, dispatched by
 * LabsPageRankAlgorithmType.java:36). Same init (1−d), same delta loop.
 */
object ArticleRank {

  final case class Config(
      dampingFactor: Double = 0.85,
      maxIterations: Int = 20,
      tolerance: Double = 1e-7,
      orientation: Orientation = Orientation.Natural,
      pregel: PregelConfig = PregelConfig())

  /** @return (id, score) */
  def run(graph: PropertyGraph, config: Config = Config()): DataFrame = {
    import Pregel._
    val d = config.dampingFactor
    // Parallel-edge multiplicity becomes the edge weight; degrees derive
    // from the same materialized frame — partition-local, since
    // pregelEdges already hash(src)-partitioned it (one shuffle of the raw
    // edges total — see PageRank for the identical pre-work rationale).
    val edges = graph.pregelEdges(config.orientation, Aggregation.Count)
    val degrees = graph.nodes.select(col("id"))
      .join(edges.groupBy(col("src").as("id")).agg(sum("weight").as("d")),
        Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("d"), lit(0.0)).as("deg"))
      .cutLineage()
    val avgDeg = degrees.agg(avg("deg")).head().getDouble(0)

    val initial = degrees.select(
      col("id"), col("deg"),
      lit(1.0 - d).as("rank"),
      lit(1.0 - d).as(DELTA),
      (col("deg") > 0.0).as(ACTIVE),
      lit(true).as(CHANGED))

    Pregel.run(
      initial = initial,
      edges = edges,
      msgExpr = col(DELTA) * col("weight") / (col("deg") + avgDeg),
      combine = Combiners.sum,
      updateExprs = Seq(
        col("deg"),
        (col("rank") + lit(d) * coalesce(col(MSG), lit(0.0))).as("rank"),
        (lit(d) * coalesce(col(MSG), lit(0.0))).as(DELTA),
        (lit(d) * coalesce(col(MSG), lit(0.0)) > config.tolerance &&
          col("deg") > 0.0).as(ACTIVE),
        (lit(d) * coalesce(col(MSG), lit(0.0)) > config.tolerance).as(CHANGED)),
      config = config.pregel.copy(maxIterations = config.maxIterations))
      .vertices.select(col("id"), col("rank").as("score"))
  }
}

/**
 * Eigenvector centrality — gds.alpha.eigenvector.* — power iteration with
 * per-step L2 normalization (alpha/.../pagerank/EigenvectorCentralityComputeStep.java:40,97-127;
 * normalization hook PageRank.java:504-524). Init = 1/nodeCount; converge
 * when the max per-node movement ≤ tolerance.
 */
object Eigenvector {

  final case class Config(
      maxIterations: Int = 20,
      tolerance: Double = 1e-7,
      orientation: Orientation = Orientation.Natural)

  /** @return (id, score) */
  def run(graph: PropertyGraph, config: Config = Config()): DataFrame = {
    // Pregel's prepared layout (PropertyGraph.pregelEdges): the static
    // edge relation is hash(src)-partitioned, distinct'd partition-locally,
    // sorted within partitions, and checkpointed in ONE shuffle — each
    // power iteration's edges⋈ranks join then reuses both the layout and
    // the ordering, so only the node-sized rank frame shuffles and sorts.
    // Without this every iteration re-sorted the full edge frame under a
    // sort-merge join (measured 10 s/iter vs 2.4 s/iter for the
    // Pregel-based PageRank on the same 5.8M-row frame).
    val edges = graph.pregelEdges(config.orientation, Aggregation.Count,
      withWeight = false)
    import Pregel._
    val n = graph.nodes.count()
    val initial = graph.nodes.select(col("id"), lit(1.0 / n).as("rank"),
      lit(true).as(ACTIVE), lit(true).as(CHANGED), lit(0.0).as(DELTA))

    val result = Pregel.iterate(initial, Some(edges),
        PregelConfig(maxIterations = config.maxIterations)) { (ranks, _) =>
      val sums = edges
        .join(ranks.select(col("id").as("src"), col("rank")), Seq("src"))
        .groupBy(col("dst").as("id")).agg(sum("rank").as("s"))
      val raw = ranks.select(col("id"), col("rank").as("old"))
        .join(sums, Seq("id"), "left_outer")
        .select(col("id"), col("old"), coalesce(col("s"), lit(0.0)).as("s"))
        .cutLineage()
      // the norm stays an aggregate of its own, not an observed stat, so
      // its summation order is the aggregate's
      val norm = math.sqrt(
        raw.agg(sum(col("s") * col("s"))).head().getDouble(0))
      // zero-norm fallback: keep the raw sums (all 0.0) — matches the SQL
      // oracle's CASE WHEN nrm = 0 THEN s (ADVICE r1: engine/oracle must
      // agree on edgeless graphs).
      val rank = if (norm == 0.0) col("s") else col("s") / norm
      // converged when the max per-node movement is ≤ tolerance
      StepPlan(raw.select(col("id"), rank.as("rank"), lit(true).as(ACTIVE),
          (abs(rank - col("old")) > config.tolerance).as(CHANGED),
          (rank - col("old")).as(DELTA)),
        cleanup = () => Lineage.release(raw))
    }
    Lineage.release(edges)
    result.vertices.select(col("id"), col("rank").as("score"))
  }
}
