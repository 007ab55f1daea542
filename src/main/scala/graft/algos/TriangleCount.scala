package graft.algos

import graft.core._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
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
 * Both plans orient every simple edge from the endpoint with the smaller
 * (degree, id) to the larger, so each triangle {x,y,z} is found exactly
 * once, at its lowest corner, as out(s) ∩ out(t) for one directed edge
 * (s,t); out-lists stay short (O(√m) amortized, the standard hub-killer).
 *
 * Below the broadcast gate (≤16M simple edges) the count is the
 * reference's node loop, run as Spark tasks:
 *
 *  1. one shuffle — each node's distinct neighbours over both edge
 *     directions, self-loops dropped — collected to the driver;
 *  2. the driver builds a degree-ordered CSR with `Int` indices: sorted
 *     `ids`, `off` and `tg`, hubs above `maxDegree` left out. That is
 *     ~4 B per simple edge plus 12 B per node (61 MiB of `tg` at the
 *     gate), in place of the two broadcasts of packed adjacency arrays (~8 B per
 *     edge each) plus two degree maps the wedge-close joins needed. The
 *     collected lists hold both directions as `Long`s (16 B per simple
 *     edge) until the CSR is built;
 *  3. the CSR is broadcast, and one `mapPartitions` kernel runs over
 *     `spark.sql.shuffle.partitions` source ranges, each cut to carry an
 *     equal share of Σ(|out(s)|+|out(t)|), the merge work (HERO, SIGMOD
 *     2024, sizes intersect work by list length). Every out-edge (s,t)
 *     merge-intersects the two sorted lists and credits s, t and each
 *     common apex in a task-local array; a task emits its non-zero counts
 *     into one `groupBy(id).sum`.
 *
 * Above the gate the CSR would not fit a broadcast, and the plan is
 * shuffled joins: the oriented edges meet both endpoints' sorted
 * out-lists, and the codegen'd two-pointer `SortedIntersect` closes the
 * wedges.
 */
object TriangleCount {

  final case class Config(maxDegree: Option[Long] = None)

  /** Simple-edge count up to which the degree-ordered CSR is collected and
   *  broadcast: ≤16M edges ≈ ≤61 MiB of `tg` plus 12 B per node, cheap on
   *  any executor. Above it (10^12-file scale) the plan falls back to
   *  shuffled joins, which is the only correct choice there. */
  private val BroadcastMaxSimpleEdges = 16L * 1000 * 1000

  /** @return (id, triangles) — excluded hubs get -1; global = sum/3. */
  def run(graph: PropertyGraph, config: Config = Config()): DataFrame =
    if (fitsGate(graph)) kernelCounts(graph, config) else joinCounts(graph, config)

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
   * `triangleCountProperty` path, :74-76). The degree side stays a lazy
   * join, so a `count()` over the result can prune it.
   */
  def localClusteringCoefficient(
      graph: PropertyGraph,
      precomputed: Option[DataFrame] = None,
      config: Config = Config()): DataFrame = {
    val tri = precomputed.getOrElse(run(graph, config))
    val deg = neighbours(graph)
      .select(col("id"), size(col("nbrs")).cast("double").as("degree"))

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
   * Stream the actual (a,b,c) triangle triples, a<b<c by id — the alpha
   * `gds.alpha.triangles` surface
   * (alpha/alpha-algo/.../impl/triangle/TriangleStream.java:47-188).
   */
  def triangles(graph: PropertyGraph): DataFrame =
    if (fitsGate(graph)) {
      val spark = graph.spark
      import spark.implicits._
      overRanges(spark, Csr(graph, None))(_.triangles(_, _))._1
        .toDF("nodeA", "nodeB", "nodeC")
    } else joinTriangles(graph)

  // ------------------------------------------------------------ below the gate

  /** The raw edge rows bound the simple edges from above, so only a graph
   *  with more rows than the gate counts its simple edges. */
  private def fitsGate(graph: PropertyGraph): Boolean =
    graph.edges.count() <= BroadcastMaxSimpleEdges ||
      canonicalEdges(graph).count() <= BroadcastMaxSimpleEdges

  /** (id, nbrs): each node's distinct neighbours over both edge directions,
   *  self-loops dropped — one shuffle. */
  private def neighbours(graph: PropertyGraph): DataFrame = {
    val e = graph.edges
    e.select(col("src").as("id"), col("dst").as("nbr"))
      .unionByName(e.select(col("dst").as("id"), col("src").as("nbr")))
      .where(col("id") =!= col("nbr"))
      .groupBy("id").agg(collect_set(col("nbr")).as("nbrs"))
  }

  private def kernelCounts(graph: PropertyGraph, config: Config): DataFrame = {
    val spark = graph.spark
    import spark.implicits._
    val (credits, csr) = overRanges(spark, Csr(graph, config.maxDegree))(_.counts(_, _))
    val counts = credits.toDF("id", "t").groupBy("id").agg(sum("t").as("triangles"))
    try graph.nodes.select(col("id"))
      .join(counts, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("triangles"), lit(0L)).as("triangles"))
      .cutLineage()
    finally csr.destroy()
  }

  /** Broadcast `csr` and run `kernel` once per source range, one range per
   *  task; the ranges carry equal shares of the merge work. */
  private def overRanges[T: Encoder](spark: SparkSession, csr: Csr)(
      kernel: (Csr, Int, Int) => Iterator[T]): (Dataset[T], Broadcast[Csr]) = {
    import spark.implicits._
    val cuts = csr.cuts(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val bc = spark.sparkContext.broadcast(csr)
    val out = spark.range(0, cuts.length - 1, 1, cuts.length - 1).as[Long]
      .mapPartitions(_.flatMap { r => kernel(bc.value, cuts(r.toInt), cuts(r.toInt + 1)) })
    (out, bc)
  }

  /**
   * Degree-ordered CSR of the simple undirected graph over node indices
   * 0 until n (ascending id): `out(s)` = tg(off(s) until off(s+1)), the
   * neighbours above s in the (degree, id) order, ascending by index.
   * `hubs` are the indices above `maxDegree`: their edges are left out.
   */
  private final class Csr(val ids: Array[Long], val off: Array[Int], val tg: Array[Int],
      val hubs: Array[Int]) extends Serializable {
    private def n = ids.length
    private def outDegree(s: Int) = off(s + 1) - off(s)
    private def maxOut = (0 until n).foldLeft(0)((m, s) => math.max(m, outDegree(s)))

    /** k+1 range bounds, each range carrying ~1/k of Σ(|out(s)|+|out(t)|). */
    def cuts(k: Int): Array[Int] = {
      val work = Array.tabulate(n) { s =>
        var w = 0L
        var e = off(s)
        while (e < off(s + 1)) { w += outDegree(s) + outDegree(tg(e)); e += 1 }
        w
      }
      val total = work.sum.toDouble
      val cut = new Array[Int](k + 1)
      var s = 0
      var done = 0L
      for (r <- 1 until k) {
        while (s < n && done < total * r / k) { done += work(s); s += 1 }
        cut(r) = s
      }
      cut(k) = n
      cut
    }

    /** Merge-intersect out(s) ∩ out(t) into `buf`; returns its length. */
    private def intersect(s: Int, t: Int, buf: Array[Int]): Int = {
      var i = off(s)
      var j = off(t)
      val iEnd = off(s + 1)
      val jEnd = off(t + 1)
      var c = 0
      while (i < iEnd && j < jEnd) {
        val a = tg(i)
        val b = tg(j)
        if (a < b) i += 1
        else if (a > b) j += 1
        else { buf(c) = a; c += 1; i += 1; j += 1 }
      }
      c
    }

    /** (id, triangles) credited by the sources in [lo, hi), non-zero only;
     *  each hub of the range is emitted once with -1. */
    def counts(lo: Int, hi: Int): Iterator[(Long, Long)] = {
      val cnt = new Array[Long](n)
      val buf = new Array[Int](maxOut)
      var s = lo
      while (s < hi) {
        var e = off(s)
        while (e < off(s + 1)) {
          val t = tg(e)
          val c = intersect(s, t, buf)
          var i = 0
          while (i < c) { cnt(buf(i)) += 1; i += 1 }
          cnt(s) += c
          cnt(t) += c
          e += 1
        }
        s += 1
      }
      Iterator.range(0, n).filter(cnt(_) != 0).map(i => (ids(i), cnt(i))) ++
        hubs.iterator.filter(h => lo <= h && h < hi).map(h => (ids(h), -1L))
    }

    /** The triangles whose lowest (degree, id) corner lies in [lo, hi), as
     *  ascending id triples. */
    def triangles(lo: Int, hi: Int): Iterator[(Long, Long, Long)] = {
      val buf = new Array[Int](maxOut)
      Iterator.range(lo, hi).flatMap { s =>
        Iterator.range(off(s), off(s + 1)).flatMap { e =>
          val t = tg(e)
          Array.tabulate(intersect(s, t, buf)) { i =>
            val x = Array(s, t, buf(i))
            java.util.Arrays.sort(x)
            (ids(x(0)), ids(x(1)), ids(x(2)))
          }
        }
      }
    }
  }

  private object Csr {
    /** Collect the neighbour lists (one shuffle) and build the CSR. */
    def apply(graph: PropertyGraph, maxDegree: Option[Long]): Csr = {
      val spark = graph.spark
      import spark.implicits._
      val rows = neighbours(graph).as[(Long, Array[Long])].collect().sortBy(_._1)
      val ids = rows.map(_._1)
      val deg = rows.map(_._2.length)
      val hub = deg.map(d => maxDegree.exists(d > _))
      def below(u: Int, v: Int) = deg(u) < deg(v) || (deg(u) == deg(v) && u < v)
      val outs = Array.tabulate(rows.length) { u =>
        rows(u)._2.map(java.util.Arrays.binarySearch(ids, _))
          .filter(v => !hub(u) && !hub(v) && below(u, v)).sorted
      }
      val off = outs.scanLeft(0)(_ + _.length)
      new Csr(ids, off, outs.flatten, hub.indices.filter(hub(_)).toArray)
    }
  }

  // ------------------------------------------------------------ above the gate

  /** Canonical undirected simple edges: a < b, deduplicated. */
  private def canonicalEdges(graph: PropertyGraph): DataFrame = {
    val e = graph.edges
    e.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
  }

  /**
   * The wedge-close over simple edges `simple` (a, b): (src, dst, common)
   * for every edge pointed up the (degree, id) order, with `common` the
   * ascending intersection of both endpoints' out-lists; plus the hubs
   * above `maxDegree`, whose edges are left out.
   */
  private def wedgeClose(simple: DataFrame,
      maxDegree: Option[Long]): (DataFrame, Option[DataFrame]) = {
    // distinct-neighbor degree over the simple undirected graph.
    val deg = simple.select(col("a").as("id"))
      .unionByName(simple.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    val hubs = maxDegree.map(md => deg.where(col("degree") > md).select(col("id")))
    val kept = hubs.fold(simple) { h =>
      simple
        .join(h.withColumnRenamed("id", "a"), Seq("a"), "left_anti")
        .join(h.withColumnRenamed("id", "b"), Seq("b"), "left_anti")
    }
    val dl = deg.select(col("id").as("a"), col("degree").as("da"))
    val dr = deg.select(col("id").as("b"), col("degree").as("db"))
    val directed = kept.join(dl, Seq("a")).join(dr, Seq("b"))
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("src"), col("b").as("dst")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst"))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    // sorted adjacency in the degree order (reference CSR sortedness). The
    // box is memory-bandwidth-bound at this scale: caching directed or adj
    // measured 2× slower at local[8]/23 M edges (336 s vs 166 s median),
    // so sharing is left to Catalyst's ReusedExchange.
    val adj = directed.groupBy(col("src").as("id"))
      .agg(sort_array(collect_set(col("dst"))).as("nbrs"))
    // sorted-merge intersect (codegen'd two-pointer loop) — the arrays are
    // ascending by construction; the generic array_intersect would hash
    // one side per row (see graft.functions.SortedIntersect).
    val closed = directed
      .join(adj.select(col("id").as("src"), col("nbrs").as("nsrc")), Seq("src"))
      .join(adj.select(col("id").as("dst"), col("nbrs").as("ndst")), Seq("dst"))
      .select(col("src"), col("dst"),
        graft.functions.VectorFunctions
          .sortedIntersect(col("nsrc"), col("ndst")).as("common"))
    (closed, hubs)
  }

  /** The shuffled-join plan of [[run]], taken above the gate. */
  private[graft] def joinCounts(graph: PropertyGraph, config: Config): DataFrame = {
    val simple = canonicalEdges(graph).persist()
    try {
      val (closed, hubs) = wedgeClose(simple, config.maxDegree)
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
      val corners = closed.where(size(col("common")) > 0)
        .select(size(col("common")).cast("long").as("sz"),
          posexplode(concat(array(col("src"), col("dst")), col("common"))))
        .select(col("col").as("id"),
          when(col("pos") < 2, col("sz")).otherwise(lit(1L)).as("t"))
      // a hub keeps no edge, so its one -1 credit is its whole sum
      val credits = hubs.fold(corners)(h =>
        corners.unionByName(h.select(col("id"), lit(-1L).as("t"))))
      val counts = credits.groupBy("id").agg(sum("t").as("triangles"))

      graph.nodes.select(col("id"))
        .join(counts, Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("triangles"), lit(0L)).as("triangles"))
        .cutLineage()
    } finally simple.unpersist()
  }

  /** The shuffled-join plan of [[triangles]], taken above the gate. */
  private[graft] def joinTriangles(graph: PropertyGraph): DataFrame = {
    val (closed, _) = wedgeClose(canonicalEdges(graph), None)
    closed
      .select(col("src"), col("dst"), explode(col("common")).as("apex"))
      .select(
        least(col("src"), col("dst"), col("apex")).as("nodeA"),
        // middle = sum - min - max
        (col("src") + col("dst") + col("apex")
          - least(col("src"), col("dst"), col("apex"))
          - greatest(col("src"), col("dst"), col("apex"))).as("nodeB"),
        greatest(col("src"), col("dst"), col("apex")).as("nodeC"))
  }
}
