package graft

import graft.algos.TriangleCount
import graft.core._

/** Triangle counts, LCC and the triangle stream of both plans — the
  * broadcast CSR kernel and the shuffled wedge-close joins — cross-checked
  * against a driver-side brute-force count over the collected edges of
  * seeded random graphs, at several shuffle-partition counts. */
class TriangleCrossCheckSpec extends SparkSpec {

  /** n nodes with sparse, partly negative ids; the last 5 are isolated.
   *  3n random edges among the rest, with self-loops and parallel edges in
   *  both directions, plus one hub joined to half of the other nodes. */
  private def graph(n: Int, seed: Long): PropertyGraph = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val ids = Array.tabulate(n)(i => (i - n / 3).toLong * 7919L + 13L)
    val live = n - 5
    val random = Seq.fill(3 * n)((ids(rnd.nextInt(live)), ids(rnd.nextInt(live))))
    val loops = Seq.fill(5)(ids(rnd.nextInt(live))).map(v => (v, v))
    val parallel = random.take(n / 4).map(_.swap) ++ random.take(n / 8)
    val hub = (1 until live by 2).map(i => (ids(0), ids(i)))
    val e = (random ++ loops ++ parallel ++ hub).map { case (s, d) => (s, d, "REL", 1.0) }
    PropertyGraph(ids.toSeq.toDF("id"), e.toDF("src", "dst", "type", "weight"))
  }

  private case class Expected(nbrs: Map[Long, Set[Long]], tris: Set[(Long, Long, Long)])

  private def bruteForce(g: PropertyGraph): Expected = {
    val e = g.edges.select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (s, d) => s != d }
    val nbrs = (e ++ e.map(_.swap)).groupMap(_._1)(_._2).map { case (v, ns) => v -> ns.toSet }
    val tris = for {
      (a, na) <- nbrs.toSeq; b <- na if a < b; c <- nbrs(b) if b < c && na(c)
    } yield (a, b, c)
    Expected(nbrs, tris.toSet)
  }

  /** Per-node counts over the triangles that avoid every hub; hubs -1. */
  private def counts(ex: Expected, ids: Seq[Long], hubs: Set[Long]): Map[Long, Long] = {
    val kept = ex.tris.toSeq.filterNot { case (a, b, c) => hubs(a) || hubs(b) || hubs(c) }
    val per = kept.flatMap { case (a, b, c) => Seq(a, b, c) }.groupMapReduce(identity)(_ => 1L)(_ + _)
    ids.map(v => v -> (if (hubs(v)) -1L else per.getOrElse(v, 0L))).toMap
  }

  private def lcc(ex: Expected, t: Map[Long, Long]): Map[Long, Double] = t.map { case (v, tv) =>
    val d = ex.nbrs.get(v).fold(0.0)(_.size.toDouble)
    v -> (if (tv < 0) -1.0 else if (d < 2.0) 0.0 else 2.0 * tv / (d * (d - 1.0)))
  }

  private def triples(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] = {
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == rows.toSet.size, "a triangle streamed twice")
    rows.toSet
  }

  test("kernel and join plan equal a brute-force count, LCC and stream") {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    try for (n <- Seq(40, 120, 300); seed = n.toLong) {
      val g = graph(n, seed)
      val ids = g.nodes.collect().map(_.getLong(0)).toSeq
      val ex = bruteForce(g)
      assert(ex.tris.nonEmpty, s"n $n")
      val deg = ex.nbrs.map { case (v, ns) => v -> ns.size.toLong }
      // only the hub lies above the cut
      val maxDegree = deg.values.toSeq.sorted.reverse(1)
      val hubs = deg.collect { case (v, d) if d > maxDegree => v }.toSet
      assert(hubs.size == 1, s"n $n: hubs $hubs")
      for (parts <- Seq(1, 3, 8)) {
        spark.conf.set(key, parts.toString)
        for (md <- Seq(None, Some(maxDegree))) {
          val cfg = TriangleCount.Config(maxDegree = md)
          val expect = counts(ex, ids, if (md.isEmpty) Set.empty else hubs)
          for ((plan, t) <- Seq("kernel" -> TriangleCount.run(g, cfg),
              "join" -> TriangleCount.joinCounts(g, cfg))) {
            val ctx = s"n $n, $parts partitions, maxDegree $md, $plan"
            assert(longs(t) == expect, ctx)
            assert(scores(TriangleCount.localClusteringCoefficient(g, Some(t), cfg)) ==
              lcc(ex, expect), ctx)
          }
        }
        assert(triples(TriangleCount.triangles(g)) == ex.tris, s"n $n, $parts kernel")
        assert(triples(TriangleCount.joinTriangles(g)) == ex.tris, s"n $n, $parts join")
      }
    } finally spark.conf.set(key, prev)
  }
}
