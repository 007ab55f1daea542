package graft.algos

import graft.core._
import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/**
 * PageRank with the reference's exact semantics
 * (algo-common/.../pagerank/PageRank.java:98-556, BaseComputeStep.java:39-252):
 *
 *  - init score = `1 - dampingFactor` per node, NOT 1/N
 *    (BaseComputeStep.java:161-189); personalized: only `sourceNodes` get
 *    the init mass, everyone else 0 (:173-185, SourceNodesConfig);
 *  - delta form: each superstep a node scatters `delta / outDegree` to its
 *    out-neighbors (NonWeightedComputeStep.java:58-82) and applies
 *    `score += d * Σ inbound` (combineScores, BaseComputeStep.java:209-235);
 *  - convergence: every per-node delta ≤ `tolerance` (default 1e-7,
 *    PageRankBaseConfig.java:36-52); dangling mass is dropped, nothing is
 *    normalized at the end;
 *  - weighted variant scatters `delta * w / Σ out-weights`
 *    (WeightedComputeStep.java:61-97) with the weight sums precomputed
 *    (DegreeCache, WeightedDegreeCentrality.java:39).
 *
 * The reference accumulates in float; we use double (SURVEY.md §7.4) —
 * the 1e-6 allclose target assumes double.
 *
 * Spark plan per superstep: hash join (edges ⋈ active ranks on src) →
 * partial+final hash aggregate on dst → left join update. All expressions
 * are Column-based (whole-stage codegen end to end).
 */
object PageRank {

  final case class Config(
      dampingFactor: Double = 0.85,
      maxIterations: Int = 20,
      tolerance: Double = 1e-7,
      weighted: Boolean = false,
      sourceNodes: Seq[Long] = Seq.empty, // personalized when non-empty
      orientation: Orientation = Orientation.Natural,
      pregel: PregelConfig = PregelConfig())

  /** @return (id, score) */
  def run(graph: PropertyGraph, config: Config = Config()): DataFrame =
    runWithMetrics(graph, config).vertices.select(col("id"), col("rank").as("score"))

  def runWithMetrics(graph: PropertyGraph, config: Config): PregelResult = {
    import Pregel._
    val d = config.dampingFactor

    // One aggregation pass over the oriented multigraph, materialized once
    // in the prepared superstep layout (hash(src)-partitioned, sorted,
    // checkpointed — pregelEdges): unweighted keeps the parallel-edge
    // multiplicity as the edge weight (scatter = delta·mult/outDeg, exactly
    // the reference's per-edge send, NonWeightedComputeStep.java:58-82),
    // weighted sums the weights (WeightedComputeStep.java:61-97). Degrees
    // then derive from THIS frame — and because it is already partitioned
    // by src, the degree aggregation is partition-local (no shuffle), so
    // the raw edge table is shuffled exactly once before superstep 1.
    val agg = if (config.weighted) Aggregation.Sum else Aggregation.Count
    val edges = graph.pregelEdges(config.orientation, agg)

    val degCol = if (config.weighted) "wdeg" else "deg"
    val degrees = graph.nodes.select(col("id"))
      .join(edges.groupBy(col("src").as("id")).agg(sum("weight").as("d")),
        Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("d"), lit(0.0)).as(degCol))

    val initMass =
      if (config.sourceNodes.isEmpty) lit(1.0 - d)
      else when(col("id").isin(config.sourceNodes.map(java.lang.Long.valueOf): _*),
        lit(1.0 - d)).otherwise(lit(0.0))

    val initial = degrees.select(
      col("id"),
      col(degCol),
      initMass.as("rank"),
      initMass.as(DELTA),
      (initMass > config.tolerance && col(degCol) > 0.0).as(ACTIVE),
      lit(true).as(CHANGED))

    val result = Pregel.run(
      initial = initial,
      edges = edges,
      msgExpr = col(DELTA) * col("weight") / col(degCol),
      combine = Combiners.sum,
      updateExprs = Seq(
        col(degCol),
        (col("rank") + lit(d) * coalesce(col(MSG), lit(0.0))).as("rank"),
        (lit(d) * coalesce(col(MSG), lit(0.0))).as(DELTA),
        (lit(d) * coalesce(col(MSG), lit(0.0)) > config.tolerance &&
          col(degCol) > 0.0).as(ACTIVE),
        // converged when NO node moved more than tolerance this superstep
        (lit(d) * coalesce(col(MSG), lit(0.0)) > config.tolerance).as(CHANGED)),
      config = config.pregel.copy(maxIterations = config.maxIterations))
    result
  }
}
