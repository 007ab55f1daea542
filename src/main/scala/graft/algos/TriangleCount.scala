package graft.algos

import graft.core._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Triangle Count + Local Clustering Coefficient with the reference's
 * semantics (algo/.../triangle/IntersectingTriangleCount.java:52-177,
 * LocalClusteringCoefficient.java:85-128):
 *
 *  - UNDIRECTED input required; parallel edges and self-loops are ignored
 *    (adjacency is a deduplicated sorted set; A==B and C==B skipped in the
 *    intersect loop, GraphIntersect.java:60-130);
 *  - per-node count = number of triangles the node participates in; global
 *    count = each triangle once;
 *  - `maxDegree` excludes hub nodes: their count is -1 and triangles
 *    through them are not counted (TriangleCountBaseConfig.java:38,
 *    IntersectingTriangleCount.java:127-137);
 *  - LCC(v) = 2·T(v) / (deg(v)·(deg(v)−1)), 0 when deg<2; degree counts
 *    distinct neighbors (LocalClusteringCoefficient.java:118-128).
 *
 * Spark formulation — the degree-ordered adjacency-intersection scheme the
 * north rule names, recast as one join + one array intersection instead of
 * the classic three-way row join:
 *
 *  1. canonical edges: a<b, distinct (self-loops dropped);
 *  2. degree-order: direct each edge from the endpoint with the smaller
 *     (degree, id) to the larger — every triangle {x,y,z} becomes exactly
 *     one wedge pair with a common apex, and each directed adjacency list
 *     is short (O(sqrt(m)) amortized, the standard hub-killer);
 *  3. adjacency arrays sorted ascending (the reference's CSR invariant);
 *  4. for every directed edge (a,b): |adj+(a) ∩ adj+(b)| triangles whose
 *     three corners are a, b, and each member of the intersection.
 *
 * Per-node counts explode only the intersection members (the actual
 * triangle corners, output-linear); all expressions are built-in Catalyst
 * collection functions (array_intersect/explode), no UDFs.
 */
object TriangleCount {

  final case class Config(maxDegree: Option[Long] = None)

  /** Canonical undirected simple edges: src < dst, deduplicated. */
  private def canonicalEdges(graph: PropertyGraph): DataFrame = {
    val e = graph.edges
    e.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
  }

  /** Edge-count gate for broadcasting node-sized side tables (degree map,
   *  packed adjacency). The adjacency frame holds exactly the directed
   *  edge set as array elements — ~8 B/edge packed — so ≤16M simple edges
   *  ≈ ≤128 MiB broadcast: cheap on any executor, and it converts every
   *  wedge-close join from a sort-merge join (which sorts and ships the
   *  full edge frame with two ~√m-element arrays attached — measured 248 s
   *  at 2.9M edges/avg-degree 289) into a map-side hash join (21 s). At
   *  10^12-file scale the gate fails and the plan falls back to shuffled
   *  joins, which is the only correct choice there. */
  private val BroadcastMaxSimpleEdges = 16L * 1000 * 1000

  /** @return (id, triangles) — excluded hubs get -1; global = sum/3. */
  def run(graph: PropertyGraph, config: Config = Config()): DataFrame = {
    val spark = graph.nodes.sparkSession
    val simple = canonicalEdges(graph).persist()
    try {
      val smallEnough = simple.count() <= BroadcastMaxSimpleEdges
      def bcast(df: DataFrame): DataFrame =
        if (smallEnough) broadcast(df) else df
      // distinct-neighbor degree over the simple undirected graph.
      val deg = simple.select(col("a").as("id"))
        .unionByName(simple.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("degree"))

      val (kept, excluded) = config.maxDegree match {
        case Some(md) =>
          val hubs = deg.where(col("degree") > md).select(col("id"))
          val keptE = simple
            .join(hubs.withColumnRenamed("id", "a"), Seq("a"), "left_anti")
            .join(hubs.withColumnRenamed("id", "b"), Seq("b"), "left_anti")
          (keptE, hubs)
        case None => (simple, spark.emptyDataFrame)
      }

      // degree-ordered direction: (degree, id) ascending defines the total
      // order; each undirected edge points "up" the order.
      val dl = bcast(deg.select(col("id").as("a"), col("degree").as("da")))
      val dr = bcast(deg.select(col("id").as("b"), col("degree").as("db")))
      val directed = kept.join(dl, Seq("a")).join(dr, Seq("b"))
        .select(
          when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")),
            struct(col("a").as("src"), col("b").as("dst")))
            .otherwise(struct(col("b").as("src"), col("a").as("dst"))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))

      // sorted adjacency in the degree order (reference CSR sortedness).
      // UNDER the broadcast gate, directed and adj are each consumed by
      // multiple exchanges below (two broadcasts + the probe side) and
      // persisting them saves 3× ~50 CPU-s at 2.9 M edges. ABOVE the gate
      // the wedge-close is shuffled sort-merge joins and the box is
      // memory-bandwidth-bound: the cache's extra memory traffic measured
      // 2× slower at local[8]/23 M edges (336 s vs 166 s median), so the
      // at-scale path leaves sharing to Catalyst's ReusedExchange.
      val directedP = if (smallEnough) directed.persist() else directed
      val adj0 = directedP.groupBy(col("src").as("id"))
        .agg(sort_array(collect_set(col("dst"))).as("nbrs"))
      val adj = if (smallEnough) adj0.persist() else adj0

      // wedge close: for edge (s,t), common out-neighbors complete triangles.
      val aS = bcast(adj.select(col("id").as("src"), col("nbrs").as("nsrc")))
      val aT = bcast(adj.select(col("id").as("dst"), col("nbrs").as("ndst")))
      // sorted-merge intersect (codegen'd two-pointer loop) — the arrays
      // are ascending by construction; the generic array_intersect would
      // hash one side per row (see graft.functions.SortedIntersect).
      val tris = directedP
        .join(aS, Seq("src"))
        .join(aT, Seq("dst"))
        .select(col("src"), col("dst"),
          graft.functions.VectorFunctions
            .sortedIntersect(col("nsrc"), col("ndst")).as("common"))
        .where(size(col("common")) > 0)

      // corners: src and dst credit |common| each; every member of common
      // credits 1. Output-linear in the number of triangles, in ONE pass —
      // a three-branch union would re-run the wedge-close join per branch.
      // The credit kinds ride one posexplode over one flat LONG array with
      // the credit decided by position (pos 0/1 = the edge endpoints,
      // credit |common|; pos ≥ 2 = the apex members, credit 1). Keeping
      // `sz` alongside the generator forces `common` to materialize once
      // in the projection below the Generate; HOF struct-building
      // (transform → struct) or an inline generator child both drop to
      // interpreted per-element evaluation — measured 604 / 649 CPU-s vs
      // 60 CPU-s for this shape on 60 M triangles.
      val corners = tris
        .select(size(col("common")).cast("long").as("sz"),
          posexplode(concat(array(col("src"), col("dst")), col("common"))))
        .select(col("col").as("id"),
          when(col("pos") < 2, col("sz")).otherwise(lit(1L)).as("t"))

      val counts = corners.groupBy("id").agg(sum("t").as("triangles"))

      val all = graph.nodes.select(col("id"))
        .join(counts, Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("triangles"), lit(0L)).as("triangles"))
        .cutLineage()
      if (smallEnough) { directedP.unpersist(); adj.unpersist(): Unit }

      config.maxDegree match {
        case Some(_) =>
          val ex = excluded.withColumn("excluded", lit(true))
          all.join(ex, Seq("id"), "left_outer")
            .select(col("id"),
              when(coalesce(col("excluded"), lit(false)), lit(-1L))
                .otherwise(col("triangles")).as("triangles"))
        case None => all
      }
    } finally simple.unpersist()
  }

  /** Global triangle count (each triangle once). */
  def globalCount(graph: PropertyGraph, config: Config = Config()): Long = {
    val perNode = run(graph, config)
    val s = perNode.where(col("triangles") >= 0)
      .agg(coalesce(sum("triangles"), lit(0L))).head().getLong(0)
    s / 3
  }

  /**
   * Local clustering coefficient per node + graph average
   * (LocalClusteringCoefficient.java:85-128). Reuses a precomputed
   * triangle-count frame when provided (the reference's
   * `triangleCountProperty` path, :74-76).
   */
  def localClusteringCoefficient(
      graph: PropertyGraph,
      precomputed: Option[DataFrame] = None,
      config: Config = Config()): DataFrame = {
    val tri = precomputed.getOrElse(run(graph, config))
    val simple = canonicalEdges(graph)
    val deg = simple.select(col("a").as("id"))
      .unionByName(simple.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).cast("double").as("degree"))

    tri.join(deg, Seq("id"), "left_outer")
      .select(col("id"),
        when(col("triangles") < 0, -1.0)
          .when(coalesce(col("degree"), lit(0.0)) < 2.0, 0.0)
          .otherwise(lit(2.0) * col("triangles") /
            (col("degree") * (col("degree") - 1.0))).as("coefficient"))
  }

  def averageClusteringCoefficient(lcc: DataFrame): Double =
    lcc.where(col("coefficient") >= 0)
      .agg(coalesce(avg("coefficient"), lit(0.0))).head().getDouble(0)

  /**
   * Stream the actual (a,b,c) triangle triples, a<b<c in the degree order —
   * the alpha `gds.alpha.triangles` surface
   * (alpha/alpha-algo/.../impl/triangle/TriangleStream.java:47-188).
   */
  def triangles(graph: PropertyGraph): DataFrame = {
    val simple = canonicalEdges(graph)
    val smallEnough = simple.count() <= BroadcastMaxSimpleEdges
    def bcast(df: DataFrame): DataFrame =
      if (smallEnough) broadcast(df) else df
    val deg = simple.select(col("a").as("id"))
      .unionByName(simple.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    val dl = bcast(deg.select(col("id").as("a"), col("degree").as("da")))
    val dr = bcast(deg.select(col("id").as("b"), col("degree").as("db")))
    val directed = simple.join(dl, Seq("a")).join(dr, Seq("b"))
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("src"), col("b").as("dst")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst"))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val adj = directed.groupBy(col("src").as("id"))
      .agg(sort_array(collect_set(col("dst"))).as("nbrs"))
    directed
      .join(bcast(adj.select(col("id").as("src"), col("nbrs").as("nsrc"))), Seq("src"))
      .join(bcast(adj.select(col("id").as("dst"), col("nbrs").as("ndst"))), Seq("dst"))
      .select(col("src"), col("dst"),
        explode(graft.functions.VectorFunctions
          .sortedIntersect(col("nsrc"), col("ndst"))).as("apex"))
      .select(
        least(col("src"), col("dst"), col("apex")).as("nodeA"),
        // middle = sum - min - max
        (col("src") + col("dst") + col("apex")
          - least(col("src"), col("dst"), col("apex"))
          - greatest(col("src"), col("dst"), col("apex"))).as("nodeB"),
        greatest(col("src"), col("dst"), col("apex")).as("nodeC"))
  }
}
