package graft.algos

import graft.core._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Label Propagation with the reference's vote semantics
 * (algo/.../labelpropagation/LabelPropagation.java:45-192):
 *
 *  - vote(label) += relationshipWeight * nodeWeight(neighbor)
 *    (ComputeStepConsumer.java:44-77); ties go to the smaller label id
 *    (:64-77);
 *  - init label = seedProperty when present, else a deterministic id-based
 *    label (InitStep.java:58-79 assigns `maxSeedId + originalNodeId + 1`
 *    unseeded; with no seeds this is order-isomorphic to using the node id
 *    itself, which is what we do — label *values* are then node ids,
 *    matching how the reference's tests name communities);
 *  - default maxIterations = 10 (LabelPropagationBaseConfig.java:40);
 *    converged when no node changed an iteration.
 *
 * Divergence, pinned deliberately (SURVEY.md §2.C caveat + §7.4): the
 * reference updates labels in place while sweeping nodes in id order
 * within an iteration (ComputeStep.java:84-90 reads `existingLabels` that
 * other batches mutate), i.e. it is semi-asynchronous and its
 * one-iteration goldens depend on sweep order. A distributed superstep is
 * synchronous by construction; we pin OUR goldens under synchronous
 * semantics with the total-order tie-break (weight desc, label asc),
 * which is deterministic across any partitioning/parallelism — the
 * property the north rule needs. LabelPropagationSpec asserts both our
 * synchronous result and documents the reference's sequential one.
 *
 * No active-set pruning: unlike sum/min folds, the weighted-argmax vote is
 * not incremental — an unchanged neighbor still participates in every
 * re-tally — so every vertex stays active and each iteration re-tallies
 * every node's full neighborhood. (The reference does the same: every
 * iteration sweeps all nodes, LabelPropagation.java:148-170.)
 *
 * Runs on [[Pregel.run]]: a node pulls labels from its out-neighbors, so
 * labels scatter along the REVERSED orientation, one
 * `struct(label, weight * nodeWeight)` message per edge (parallel edges
 * stay separate votes — Aggregation.None), tallied by
 * [[Combiners.weightedArgmax]]. The per-superstep plan, AQE gating,
 * release of superseded state and `Config.pregel` (checkpointDir,
 * checkpointEvery, stopAfter, trackMetrics — so checkpoint and resume)
 * all come from the engine.
 */
object LabelPropagation {

  final case class Config(
      maxIterations: Int = 10,
      seedProperty: Option[String] = None,
      nodeWeightProperty: Option[String] = None,
      orientation: Orientation = Orientation.Undirected,
      pregel: PregelConfig = PregelConfig())

  /** @return (id, label) */
  def run(graph: PropertyGraph, config: Config = Config()): DataFrame =
    runWithMetrics(graph, config)._1

  /** @return ((id, label), pregel result with superstep metrics) */
  def runWithMetrics(graph: PropertyGraph, config: Config = Config()): (DataFrame, PregelResult) = {
    import Pregel._

    val scatter = config.orientation match {
      case Orientation.Natural    => Orientation.Reverse
      case Orientation.Reverse    => Orientation.Natural
      case Orientation.Undirected => Orientation.Undirected
    }
    val edges = graph.pregelEdges(scatter, Aggregation.None)

    val initLabel = config.seedProperty match {
      case Some(p) => col(p).cast("long")
      case None    => col("id")
    }
    val nodeWeight = config.nodeWeightProperty match {
      case Some(p) => col(p).cast("double")
      case None    => lit(1.0)
    }
    val initial = graph.nodes.select(
      col("id"),
      initLabel.as("label"),
      nodeWeight.as("nodeWeight"),
      lit(true).as(ACTIVE),
      lit(true).as(CHANGED),
      lit(0.0).as(DELTA))

    val newLabel = coalesce(col(MSG), col("label"))
    val result = Pregel.run(
      initial = initial,
      edges = edges,
      msgExpr = struct(col("label"), (col("weight") * col("nodeWeight")).as("w")),
      combine = Combiners.weightedArgmax,
      updateExprs = Seq(
        newLabel.as("label"),
        col("nodeWeight"),
        lit(true).as(ACTIVE),
        (newLabel =!= col("label")).as(CHANGED),
        lit(0.0).as(DELTA)),
      config = config.pregel.copy(maxIterations = config.maxIterations))

    (result.vertices.select(col("id"), col("label")), result)
  }
}
