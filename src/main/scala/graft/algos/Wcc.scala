package graft.algos

import graft.core._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Weakly Connected Components via iterative min-label propagation — the
 * formulation the north rule names, shipped by the reference as the Pregel
 * example (examples/pregel-example/.../cc/ConnectedComponentsPregel.java:39-74):
 * component = min(component, inbound messages), send on change, halt when
 * quiet. Results are identical to the product's wait-free union-find
 * (algo/.../wcc/Wcc.java:49-205): the unseeded component representative is
 * the minimum node id in the component, because the DSS unions by min
 * (core/.../paged/dss/HugeAtomicDisjointSetStruct.java:185).
 *
 * Options mirror WccBaseConfig.java:28-44:
 *  - `threshold`: keep only edges with weight > threshold (Wcc.java:183-204);
 *  - `seedProperty`: warm-start labels from a node column; the reference
 *    guarantees seed-consistency, we take min(seed) per component;
 *  - `consecutiveIds`: densely renumber components ascending
 *    (ConsecutiveLongNodeProperties.java, used at WccStreamProc.java:94-101).
 *
 * Propagation always runs over the UNDIRECTED view — the reference's
 * union-find is orientation-insensitive (WccTest.java asserts identical
 * partitions for NATURAL/REVERSE/UNDIRECTED).
 *
 * Scale note: plain min-label needs O(diameter) supersteps. Real link
 * graphs have small diameters; each superstep is one join + one min
 * aggregate (map-side combined), and only *changed* vertices rescatter, so
 * traffic decays geometrically after the first few rounds.
 */
object Wcc {

  final case class Config(
      maxIterations: Int = 100,
      threshold: Option[Double] = None,
      seedProperty: Option[String] = None,
      consecutiveIds: Boolean = false,
      pregel: PregelConfig = PregelConfig())

  /** @return (id, component) */
  def run(graph: PropertyGraph, config: Config = Config()): DataFrame =
    runWithMetrics(graph, config)._1

  /** @return ((id, component), pregel result with superstep metrics) */
  def runWithMetrics(graph: PropertyGraph, config: Config = Config()): (DataFrame, PregelResult) = {
    import Pregel._

    val base = config.threshold match {
      case Some(t) => graph.copy(edges = graph.edges.where(col("weight") > t))
      case None    => graph
    }
    // undirected + distinct: parallel edges add nothing to connectivity —
    // and neither does the weight column, so the prepared layout drops it
    // (withWeight=false): ONE 16-byte-row shuffle builds the sorted
    // CSR-style frame every superstep joins against without re-sorting.
    val edges = base.pregelEdges(Orientation.Undirected, Aggregation.Count,
      withWeight = false)

    val initLabel = config.seedProperty match {
      case Some(p) => col(p).cast("long")
      case None    => col("id")
    }
    val initial = graph.nodes.select(
      col("id"),
      initLabel.as("component"),
      lit(true).as(ACTIVE),
      lit(true).as(CHANGED),
      lit(0.0).as(DELTA))

    val result = Pregel.run(
      initial = initial,
      edges = edges,
      msgExpr = col("component"),
      combine = Combiners.min,
      updateExprs = Seq(
        least(col("component"), coalesce(col(MSG), col("component"))).as("component"),
        (coalesce(col(MSG), col("component")) < col("component")).as(ACTIVE),
        (coalesce(col(MSG), col("component")) < col("component")).as(CHANGED),
        lit(0.0).as(DELTA)),
      config = config.pregel.copy(maxIterations = config.maxIterations))

    val comps = result.vertices.select(col("id"), col("component"))
    (if (config.consecutiveIds) consecutive(comps) else comps, result)
  }

  /** Dense ascending renumbering of component ids (consecutiveIds).
   *  Public so a memoized base run can be renumbered without recomputing
   *  the propagation (GraphQueries twin-sharing). */
  def consecutive(comps: DataFrame): DataFrame = {
    val mapping = Ids.assign(comps.select(col("component")), "component")
      .withColumnRenamed("id", "newComponent")
    // the mapping has one row per component — orders of magnitude smaller
    // than the vertex frame on a link graph — so broadcast it outright
    // rather than shuffling the vertex side.
    comps.join(broadcast(mapping), Seq("component"))
      .select(col("id"), col("newComponent").as("component"))
  }
}
