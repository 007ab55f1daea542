package graft.algos

import graft.core._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Random walks — gds.alpha.randomWalk.stream
 * (alpha/.../impl/walking/RandomWalk.java:45, node2vec (p,q) bias per
 * Grover & Leskovec 2016): `walksPerNode` walks of length `steps` from
 * each start node.
 *
 * Spark-native determinism: instead of per-thread RNGs (the reference's
 * approach, irreproducible across schedulings), the "random" draw at step
 * t of walk w is a pure function of (walkId, t, seed) via xxhash64, so the
 * output is identical at any parallelism. Each step is one join against
 * the sorted adjacency table; walks advance in lockstep supersteps.
 *
 * node2vec bias (NodeWalker.java second-order transition): from current v
 * with previous u, candidate x draws unnormalized weight 1/p when x = u
 * (return), 1 when x is adjacent to u (stay close), 1/q otherwise
 * (explore). The draw picks the first index whose cumulative weight
 * exceeds target = u01(walkId, step) · Σweights — computed inside one
 * codegen'd `aggregate` over the neighbor array, no UDFs. p = q = 1 takes
 * the uniform fast path (one adjacency join per step instead of two).
 */
object RandomWalk {

  final case class Config(
      steps: Int = 10,
      walksPerNode: Int = 1,
      seed: Long = 42L,
      returnParam: Double = 1.0,   // p
      inOutParam: Double = 1.0,    // q
      orientation: Orientation = Orientation.Natural)

  /** @return (walkId, start, path: array<long>) */
  def run(graph: PropertyGraph, config: Config = Config()): DataFrame =
    walkState(graph, config).select(col("walkId"), col("start"), col("path"))

  /** The walks' cut state: (walkId, start, path, current, stopped). A
   *  caller that is done with the walks releases it. */
  private[graft] def walkState(graph: PropertyGraph, config: Config): DataFrame = {
    // adjacency prepared by id (hash + sort + AQE-off checkpoint): every
    // step joins walks⋈adj on the node id, so only the walk-state side
    // shuffles/sorts per step (see PropertyGraph.pregelEdges for why the
    // checkpoint must materialize with AQE off).
    val adj = Lineage.sortedCheckpoint(
      graph.adjacency(config.orientation).repartition(col("id")), "id")
    val biased = config.returnParam != 1.0 || config.inOutParam != 1.0

    var walks = graph.nodes.select(col("id").as("start"))
      .crossJoin(spark_range(graph.nodes.sparkSession, config.walksPerNode))
      .select(
        (col("start") * config.walksPerNode + col("w")).as("walkId"),
        col("start"),
        array(col("start")).as("path"),
        col("start").as("current"),
        lit(false).as("stopped"))
      .cutLineage()

    val spark = graph.nodes.sparkSession
    import spark.implicits._
    for (step <- 1 to config.steps) {
      // the step number rides a ONE-ROW broadcast param table, not a plan
      // literal: literal steps make every superstep a brand-new plan that
      // re-generates and re-JITs its codegen (same fresh-JVM cold-start
      // family as the Node2Vec lr literal — BASELINE.md calibration
      // note); as an attribute the superstep plans are source-identical
      // and the codegen cache hits from step 2 on. Same Int value → same
      // xxhash64 draws as the literal form.
      val stepParams = Seq(step).toDF("_step")
      val withNbrs = walks.crossJoin(broadcast(stepParams))
        .join(adj.select(col("id").as("current"), col("neighbors")),
          Seq("current"), "left_outer")
        .select(col("walkId"), col("start"), col("path"), col("neighbors"),
          col("_step"),
          (col("stopped") || col("neighbors").isNull ||
            size(col("neighbors")) === 0).as("stopped"))

      val chosen =
        if (!biased)
          element_at(col("neighbors"),
            (pmod(xxhash64(col("walkId"), col("_step"), lit(config.seed)),
              size(col("neighbors")).cast("long")) + 1).cast("int"))
        else col("chosenNbr")

      val stepped =
        (if (!biased) withNbrs
         else {
           // second-order bias needs prev and prev's adjacency
           val withPrev = withNbrs.withColumn("prev",
             when(size(col("path")) >= 2, element_at(col("path"), -2)))
             .join(adj.select(col("id").as("prev"), col("neighbors").as("prevNbrs")),
               Seq("prev"), "left_outer")
           val u01 = pmod(xxhash64(col("walkId"), col("_step"), lit(config.seed)),
             lit(1000000L)).cast("double") / 1e6
           withPrev
             .withColumn("ws", expr(
               s"""transform(neighbors, x -> CASE
                   WHEN prev IS NULL THEN 1.0D
                   WHEN x = prev THEN ${1.0 / config.returnParam}D
                   WHEN array_contains(prevNbrs, x) THEN 1.0D
                   ELSE ${1.0 / config.inOutParam}D END)"""))
             .withColumn("tgt", u01 * expr("aggregate(ws, 0.0D, (a, w) -> a + w)"))
             .withColumn("chosenNbr", expr(
               """element_at(neighbors, aggregate(ws,
                    named_struct('cum', 0.0D, 'chosen', -1, 'i', 1),
                    (acc, w) -> named_struct(
                      'cum', acc.cum + w,
                      'chosen', CASE WHEN acc.chosen = -1 AND acc.cum + w >= tgt
                                THEN acc.i ELSE acc.chosen END,
                      'i', acc.i + 1),
                    acc -> CASE WHEN acc.chosen = -1 THEN acc.i - 1
                           ELSE acc.chosen END))"""))
         })
          .select(col("walkId"), col("start"),
            when(col("stopped"), col("path"))
              .otherwise(concat(col("path"), array(chosen))).as("path"),
            col("stopped"))

      val next = stepped
        .select(col("walkId"), col("start"), col("path"),
          element_at(col("path"), -1).as("current"), col("stopped"))
        .cutLineage()
      Lineage.release(walks)
      walks = next
    }
    // walks is checkpointed; the prepared adjacency's blocks can go.
    Lineage.release(adj)
    walks
  }

  private def spark_range(spark: org.apache.spark.sql.SparkSession, n: Int) =
    spark.range(n).select(col("id").as("w"))
}
