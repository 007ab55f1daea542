package graft.algos

import graft.core._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Betweenness centrality — gds.betweenness.* — Brandes' algorithm
 * (algo/src/main/java/org/neo4j/graphalgo/betweenness/BetweennessCentrality.java:42-215):
 * for every source s, a forward BFS computes the shortest-path counts σ(s,v)
 * and distances, then a backward sweep accumulates dependencies
 * δ(s,v) = Σ_{w : v pred of w} σ(s,v)/σ(s,w) · (1 + δ(s,w)); BC(v) = Σ_s δ(s,v),
 * halved on undirected graphs (BetweennessCentrality.java:71 `divisor`).
 *
 * The reference runs one source per thread off a work queue; the Spark shape
 * batches ALL sources through each superstep at once — the frontier frame is
 * keyed (s, v), so one join-per-level serves every source simultaneously and
 * the level count is the graph diameter, not nodeCount. Sampled mode
 * (SelectionStrategy.java:41-55 RandomDegree) bounds the pair-table size at
 * scale: |pairs| = sources × reachable — full all-sources Brandes is O(V·E)
 * and must be sampled or subgraph-bounded on a 100 TB link graph.
 */
object Betweenness {

  final case class Config(
      orientation: Orientation = Orientation.Natural,
      sources: Option[DataFrame] = None, // (id) frame; None = all nodes
      maxDepth: Int = 30)

  /** Degree-biased deterministic source sampling — the reference's
   *  SelectionStrategy.RandomDegree (seeded): score = degree · u(id) with
   *  u a per-id xxhash64-derived uniform, take top k (score desc, id asc). */
  def randomDegreeSources(graph: PropertyGraph, k: Int, seed: Long = 42L): DataFrame = {
    val deg = graph.degrees(Orientation.Natural)
    deg.select(col("id"),
      (col("degree").cast("double") *
        (pmod(xxhash64(col("id"), lit(seed)), lit(1000000L)).cast("double") / 1e6)).as("sc"))
      .orderBy(col("sc").desc, col("id").asc)
      .limit(k)
      .select(col("id"))
  }

  /** @return (id, score) for every node (0.0 where no dependency). */
  def run(graph: PropertyGraph, config: Config = Config()): DataFrame = {
    val divisor = if (config.orientation == Orientation.Undirected) 2.0 else 1.0
    // forward phase joins on src every level: prepared src layout; the
    // self-loop filter on top preserves partitioning and ordering.
    val prepared = graph.pregelEdges(config.orientation, Aggregation.Count,
      withWeight = false)
    val edges = prepared.where(col("src") =!= col("dst"))
    // backward phase joins on dst every level: ONE extra shuffle of the
    // already-deduped frame buys exchange/sort-free joins down the levels.
    val edgesByDst = Lineage.sortedCheckpoint(edges.repartition(col("dst")), "dst")
    val srcs = config.sources.getOrElse(graph.nodes.select(col("id")))

    // ---- forward phase: batched multi-source BFS with σ accumulation.
    // levels(d) = (s, v, sigma) for all v at distance exactly d from s.
    val level0 = srcs
      .select(col("id").as("s"), col("id").as("v"), lit(1.0).as("sigma"))
      .cutLineage()
    val levels = scala.collection.mutable.ArrayBuffer[DataFrame](level0)
    var frontier = level0
    var frontierCount = frontier.count()
    var depth = 0
    while (frontierCount > 0 && depth < config.maxDepth) {
      // reached = union of the per-level materialized frames (each already
      // lineage-cut, so the anti-join plan stays flat across levels).
      val reached = levels.map(_.select(col("s"), col("v"))).reduce(_ unionByName _)
      // the level's size rides its checkpoint action
      val obs = org.apache.spark.sql.Observation()
      val next = edges
        .join(frontier.select(col("v").as("src"), col("s"), col("sigma")), Seq("src"))
        .groupBy(col("s"), col("dst").as("v"))
        .agg(sum("sigma").as("sigma"))
        .join(reached, Seq("s", "v"), "left_anti")
        .observe(obs, count(lit(1)).as("rows"))
        .cutLineage()
      frontierCount = obs.get("rows").asInstanceOf[Long]
      if (frontierCount > 0) {
        levels += next
        frontier = next
        depth += 1
      } else Lineage.release(next)
    }

    // ---- backward phase: dependency accumulation, deepest level first.
    // deltaParts(d) = (s, v, delta) finalized for distance-d vertices.
    val deltaParts = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var wDelta = levels(depth).select(col("s"), col("v"), lit(0.0).as("delta"))
    for (d <- depth to 1 by -1) {
      deltaParts += wDelta
      // contribution of each dist-d vertex w to its predecessors:
      // c(w) = (1 + δ(w)) / σ(w), summed over in-edges u→w; only u at
      // dist d−1 are predecessors — enforced by keying the apply join on
      // the (d−1)-level frame.
      val contrib = edgesByDst
        .join(
          wDelta.join(levels(d).select(col("s"), col("v"), col("sigma")), Seq("s", "v"))
            .select(col("s"), col("v").as("dst"),
              ((lit(1.0) + col("delta")) / col("sigma")).as("c")),
          Seq("dst"))
        .select(col("s"), col("src").as("v"), col("c"))
        .groupBy("s", "v")
        .agg(sum("c").as("csum"))
      wDelta = levels(d - 1)
        .select(col("s"), col("v"), col("sigma"))
        .join(contrib, Seq("s", "v"), "left_outer")
        .select(col("s"), col("v"),
          (coalesce(col("csum"), lit(0.0)) * col("sigma")).as("delta"))
        .cutLineage()
    }
    deltaParts += wDelta

    val allDeltas = deltaParts.map(_.select(col("s"), col("v"), col("delta")))
      .reduce(_ unionByName _)
    val bc = allDeltas
      .where(col("v") =!= col("s"))
      .groupBy(col("v").as("id"))
      .agg((sum("delta") / divisor).as("score"))
    val result = graph.nodes.select(col("id"))
      .join(bc, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("score"), lit(0.0)).as("score"))
      .cutLineage()
    // the cut result reads none of the edge layouts, levels or deltas
    (Seq(prepared, edgesByDst) ++ levels ++ deltaParts).foreach(Lineage.release)
    result
  }
}
