package graft.algos

import graft.core._
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/**
 * Weighted shortest-path family — gds.alpha.shortestPath (Dijkstra),
 * gds.alpha.shortestPath.astar (alpha/.../shortestpaths/ShortestPathAStar.java:40),
 * gds.alpha.kShortestPaths (YensKShortestPaths.java:47).
 *
 * One relaxation core serves all three: synchronous min-relaxation with
 * predecessor tracking (message = struct(dist, pred), combiner = struct
 * min — dist asc, pred asc, a total order so results are deterministic
 * under any parallelism). A* adds goal-directed pruning: once the target
 * has a finite distance UB, any node with dist + h(node) ≥ UB stops
 * scattering (with an admissible heuristic it cannot improve the target —
 * exactly the reference's closed-set cutoff role; h = 0 degrades to plain
 * Dijkstra). Yen's runs the core repeatedly with root-path node/edge
 * exclusions (YensKShortestPathsDijkstra.withFilter).
 *
 * Path reconstruction collects the converged finite-distance predecessor
 * rows ONCE (bounded by the reachable set — the path API is the
 * reference's bounded exploratory contract, not a 100 TB operator) and
 * walks the map driver-side: one Spark job total, not one per hop
 * (VERDICT r2 #3).
 */
object ShortestPaths {

  final case class PathResult(path: Seq[Long], cost: Double)

  /** Prepared relaxation context: the edge relation hash-partitioned by
   *  the join key and checkpointed ONCE (every spur/iteration join reuses
   *  the layout — filters on top of it preserve the partitioning), the
   *  node id frame, and the AQE gate (measured the same way as Pregel:
   *  re-planning latency dominates on big superstep frames). Yen's runs
   *  O(k·pathLen) Dijkstras; without this each one re-shuffled and
   *  re-checkpointed the full edge frame. */
  private final case class Ctx(edges: DataFrame, nodes: DataFrame, bigWork: Boolean)

  /** Run `body` on a prepared context; the edge layout is released after. */
  private def prepared[A](graph: PropertyGraph, orientation: Orientation)(body: Ctx => A): A = {
    // prepared layout (PropertyGraph.pregelEdges): min-aggregated edges in
    // one shuffle, sorted within hash(src) partitions so no spur/iteration
    // join re-sorts the big side; exclusion filters preserve both.
    val e = graph.pregelEdges(orientation, Aggregation.Min)
    val ctx = Ctx(e, graph.nodes.select(col("id")), e.count() >= Lineage.aqeOffMinEdges(graph.spark))
    try body(ctx) finally Lineage.release(e)
  }

  /** Distributed relaxation with predecessor tracking on [[Pregel.iterate]],
   *  spur exclusions applied as partitioning-preserving filters (no
   *  re-shuffle, no re-checkpoint). A vertex is ACTIVE (and CHANGED) when
   *  its distance improved and it passes the A* cutoff against the upper
   *  bound UB: ∞ in superstep 1, then the target's distance after the
   *  previous superstep. That distance is observed on the previous barrier's
   *  action (the Observation rides `plan.next`), so the bound costs no job.
   *  The AQE decision is the prepared layout's (`ctx.bigWork`), made once.
   *  @param heuristic optional (id, h) frame enabling A* pruning toward `target`
   *  @return the cut state: (id, dist, pred) — pred null for
   *          source/unreached — plus the loop's columns; the caller
   *          releases it */
  private def relaxCore(ctx: Ctx,
      excludedEdges: Set[(Long, Long)], excludedNodes: Set[Long],
      source: Long, target: Long, heuristic: Option[DataFrame],
      maxIterations: Int): DataFrame = {
    import Pregel._
    val eEdge = excludedEdges.foldLeft(ctx.edges) { case (f, (s, t)) =>
      f.where(!(col("src") === s && col("dst") === t))
    }
    val edgesPart = if (excludedNodes.isEmpty) eEdge
      else eEdge.where(!col("src").isin(excludedNodes.toSeq: _*) &&
        !col("dst").isin(excludedNodes.toSeq: _*))
    val nodes = if (excludedNodes.isEmpty) ctx.nodes
      else ctx.nodes.where(!col("id").isin(excludedNodes.toSeq: _*))
    val h = heuristic.map(_.select(col("id"), col("h").cast("double").as("h")))
    val base = nodes.select(
      col("id"),
      when(col("id") === source, 0.0).otherwise(lit(Double.PositiveInfinity)).as("dist"),
      lit(null).cast("long").as("pred"),
      (col("id") === source).as(ACTIVE),
      (col("id") === source).as(CHANGED),
      lit(0.0).as(DELTA))
    val initial = h match {
      case Some(hf) => base.join(hf, Seq("id"), "left_outer")
        .withColumn("h", coalesce(col("h"), lit(0.0)))
      case None => base.withColumn("h", lit(0.0))
    }

    // A* upper bound: the target's distance observed on the previous barrier
    var ub = () => Double.PositiveInfinity
    Lineage.withFastIteration(ctx.nodes.sparkSession, ctx.bigWork) {
      Pregel.iterate(initial, None, PregelConfig(maxIterations = maxIterations)) { (state, _) =>
        val bound = ub()
        val frontier = state.where(col(ACTIVE))
          .select(col("id").as("src"), col("dist").as("sd"))
        val msgs = edgesPart.join(frontier, Seq("src"))
          .select(col("dst").as("id"),
            struct((col("sd") + col("weight")).as("d"), col("src").as("p")).as("m"))
          .groupBy("id").agg(min("m").as("m"))
        val improved = col("m").isNotNull && col("m")("d") < col("dist")
        val dist = when(improved, col("m")("d")).otherwise(col("dist"))
        // A* cutoff: an improved node rescatters only if it could still
        // better the known target distance.
        val rescatter = improved && dist + col("h") < bound
        val next = state.join(msgs, Seq("id"), "left_outer")
          .select(col("id"), dist.as("dist"),
            when(improved, col("m")("p")).otherwise(col("pred")).as("pred"),
            rescatter.as(ACTIVE), rescatter.as(CHANGED), lit(0.0).as(DELTA), col("h"))
        val obs = Observation()
        ub = () => Option(obs.get("tdist")).fold(Double.PositiveInfinity)(_.asInstanceOf[Double])
        StepPlan(next.observe(obs, min(when(col("id") === target, col("dist"))).as("tdist")))
      }
    }.vertices
  }

  /** Walk preds target→source. None when target unreached. One collect of
   *  the candidate rows, then a driver-side map walk — replaces the
   *  one-Spark-job-per-hop pattern. The collect is PRUNED to rows with
   *  `dist <= dist(target)` (with non-negative weights every on-path
   *  predecessor satisfies this) and GUARDED like Traversal.traverse:
   *  on an unbounded Dijkstra over a large mostly-connected graph the
   *  unpruned finite set is the whole reachable set — an O(n) driver
   *  collect that the old per-hop lookup never needed (ADVICE r3). */
  def reconstruct(relaxed: DataFrame, source: Long, target: Long,
      maxCollectRows: Long = 2000000L): Option[PathResult] = {
    val tRow = relaxed
      .where(col("id") === target && col("dist") < Double.PositiveInfinity)
      .select(col("dist")).collect()
    if (tRow.isEmpty) return None
    val targetDist = tRow(0).getDouble(0)
    val pruned = relaxed.where(col("dist") <= targetDist)
      .select(col("id"), col("dist"), col("pred"))
    val n = pruned.count()
    if (n > maxCollectRows)
      throw new IllegalStateException(
        s"path reconstruction would collect $n rows (> $maxCollectRows); " +
          "raise maxCollectRows only with driver heap ≈ 48·rows bytes to spare")
    val finite = pruned.collect()
    val dist = finite.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pred = finite.filterNot(_.isNullAt(2))
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val cost = dist.getOrElse(target, return None)
    var path = List(target)
    var cur = target
    while (cur != source) {
      cur = pred.getOrElse(cur, return None)
      path = cur :: path
    }
    Some(PathResult(path, cost))
  }

  /** Plain weighted Dijkstra path source→target. The relaxation knows
   *  `target`, so the A* upper-bound cutoff (h = 0) applies: once the
   *  target has a finite distance, nodes at ≥ that bound stop scattering —
   *  identical distances for every node that can matter to the path
   *  (anything pruned was already ≥ the final target distance), fewer
   *  frontier iterations. */
  def dijkstra(graph: PropertyGraph, source: Long, target: Long,
      orientation: Orientation = Orientation.Natural,
      maxIterations: Int = 100): Option[PathResult] =
    prepared(graph, orientation)(
      path(_, source, target, Set.empty, Set.empty, None, maxIterations))

  /** A* with a per-node admissible heuristic (id, h) — same result as
   *  Dijkstra, fewer scattered frontiers (ShortestPathAStar.java:40). */
  def aStar(graph: PropertyGraph, source: Long, target: Long,
      heuristic: DataFrame,
      orientation: Orientation = Orientation.Natural,
      maxIterations: Int = 100): Option[PathResult] =
    prepared(graph, orientation)(
      path(_, source, target, Set.empty, Set.empty, Some(heuristic), maxIterations))

  /** Dijkstra with excluded directed edges / nodes — the primitive Yen's
   *  spur computation needs (YensTest filter semantics: directed pairs). */
  def filteredDijkstra(graph: PropertyGraph, source: Long, target: Long,
      excludedEdges: Set[(Long, Long)], excludedNodes: Set[Long],
      orientation: Orientation = Orientation.Natural,
      maxIterations: Int = 100): Option[PathResult] =
    prepared(graph, orientation)(
      path(_, source, target, excludedEdges, excludedNodes, None, maxIterations))

  /** One relaxation over `ctx` and the path it yields; the relaxed state is
   *  released before returning. */
  private def path(ctx: Ctx, source: Long, target: Long,
      excludedEdges: Set[(Long, Long)], excludedNodes: Set[Long],
      heuristic: Option[DataFrame], maxIterations: Int): Option[PathResult] = {
    val r = relaxCore(ctx, excludedEdges, excludedNodes,
      source, target, heuristic, maxIterations)
    try reconstruct(r, source, target) finally Lineage.release(r)
  }

  /**
   * Yen's K loopless shortest paths (YensKShortestPaths.java:47): spur on
   * every prefix of the last accepted path, exclude the root-path edges
   * used by already-accepted paths sharing that prefix, candidates ranked
   * (cost asc, path lexicographic) for determinism.
   * @return ordered paths, best first
   */
  def yens(graph: PropertyGraph, source: Long, target: Long, k: Int,
      orientation: Orientation = Orientation.Natural,
      maxIterations: Int = 100): Seq[PathResult] = prepared(graph, orientation) { ctx =>
    // ONE prepared edge layout + AQE gate for the whole spur tree — each of
    // the O(k·pathLen) inner Dijkstras previously re-shuffled and
    // re-checkpointed the full edge frame.
    def spur(from: Long, edges: Set[(Long, Long)], nodes: Set[Long]) =
      path(ctx, from, target, edges, nodes, None, maxIterations)
    val accepted = scala.collection.mutable.ArrayBuffer.from(spur(source, Set.empty, Set.empty))
    // candidate pool keyed by path to dedup
    val candidates = scala.collection.mutable.Map[Seq[Long], Double]()

    var exhausted = accepted.isEmpty
    while (!exhausted && accepted.size < k) {
      val prev = accepted.last.path
      // cost of every root prefix of `prev` in ONE tiny job (was one
      // distributed lookup per spur index)
      val prefixCost = prefixCosts(ctx, prev)
      for (i <- 0 until prev.length - 1) {
        val rootPath = prev.take(i + 1)
        val removedEdges = accepted.map(_.path)
          .filter(p => p.length > i && p.take(i + 1) == rootPath)
          .map(p => (p(i), p(i + 1))).toSet
        spur(prev(i), removedEdges, rootPath.dropRight(1).toSet).foreach { s =>
          val total = rootPath.dropRight(1) ++ s.path
          if (!accepted.exists(_.path == total))
            candidates.getOrElseUpdate(total, prefixCost(i) + s.cost)
        }
      }
      exhausted = candidates.isEmpty
      if (!exhausted) {
        val best = candidates.toSeq
          .minBy { case (p, c) => (c, p.map(_.toString).mkString(",")) }(
            Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.String))
        candidates.remove(best._1)
        accepted += PathResult(best._1, best._2)
      }
    }
    accepted.toSeq
  }

  /** prefix(i) = Σ min-weight of the first i consecutive pairs of `path`
   *  — all prefixes from one collect (paths are short). */
  private def prefixCosts(ctx: Ctx, path: Seq[Long]): Array[Double] = {
    val prefix = new Array[Double](math.max(path.length, 1))
    if (path.length < 2) return prefix
    val pairs = path.sliding(2).map(p => (p(0), p(1))).toSeq
    val cond = pairs.map { case (s, t) => col("src") === s && col("dst") === t }
      .reduce(_ || _)
    val found = ctx.edges.where(cond)
      .select(col("src"), col("dst"), col("weight")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for (i <- 1 until path.length)
      prefix(i) = prefix(i - 1) + found((path(i - 1), path(i)))
    prefix
  }
}
