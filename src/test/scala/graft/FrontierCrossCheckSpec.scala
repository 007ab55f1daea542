package graft

import graft.algos._
import graft.core._

/** Frontier fixpoints (MS-BFS closeness, SCC's backward reachability)
  * cross-checked against driver-side BFS over the collected edges of
  * seeded random graphs. */
class FrontierCrossCheckSpec extends SparkSpec {

  /** Out-neighbours per node, parallel edges folded. */
  private def adjacency(g: PropertyGraph, o: Orientation): Map[Long, Set[Long]] = {
    val e = g.edges.select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
    val oriented = o match {
      case Orientation.Natural => e.toSeq
      case Orientation.Reverse => e.toSeq.map(_.swap)
      case Orientation.Undirected => e.toSeq ++ e.toSeq.map(_.swap)
    }
    oriented.groupMap(_._1)(_._2).map { case (s, ds) => s -> ds.toSet }
  }

  /** Hop distance from `s` to every node it reaches within `maxDepth`. */
  private def bfs(adj: Map[Long, Set[Long]], s: Long, maxDepth: Int): Map[Long, Int] = {
    var dist = Map(s -> 0)
    var wave = Set(s)
    var d = 0
    while (wave.nonEmpty && d < maxDepth) {
      d += 1
      wave = wave.flatMap(adj.getOrElse(_, Set.empty)).filterNot(dist.contains)
      dist ++= wave.map(_ -> d)
    }
    dist
  }

  test("Closeness equals driver-side BFS over 3 batches, to depth and cut short") {
    val n = 150 // batches of 64, 64 and 22 sources
    for (seed <- Seq(1L, 2L); o <- Seq(Orientation.Undirected, Orientation.Natural)) {
      val g = randomGraph(n, 2 * n, seed)
      val adj = adjacency(g, o)
      val ecc = (0L until n).map(s => bfs(adj, s, Int.MaxValue).values.max).max
      for (maxDepth <- Seq(50, 2)) {
        if (maxDepth == 2) assert(ecc > maxDepth, s"seed $seed, $o: eccentricity $ecc")
        // (farness, reached, Σ 1/dist) per target over every source reaching it
        val expect = (0L until n).flatMap { s =>
          bfs(adj, s, maxDepth).collect { case (v, d) if v != s => v -> d }
        }.groupMap(_._1)(_._2).map { case (v, ds) =>
          v -> (ds.sum.toLong, ds.size.toLong, ds.map(1.0 / _).sum)
        }.withDefaultValue((0L, 0L, 0.0))
        for (wf <- Seq(false, true)) {
          val got = Closeness.run(g, Closeness.Config(wf, maxDepth, o)).collect()
          assert(got.length == n)
          for (r <- got) {
            val (f, reached, h) = expect(r.getLong(0))
            // farness and reached are integers summed exactly, so closeness
            // (computed from them in the same double operations) is exact
            val closeness =
              if (f == 0) 0.0
              else if (wf) (reached * reached).toDouble / (f * (n - 1.0))
              else reached / f.toDouble
            val ctx = s"seed $seed, $o, maxDepth $maxDepth, wf $wf, id ${r.getLong(0)}"
            assert(r.getDouble(1) == closeness, ctx)
            assert(math.abs(r.getDouble(2) - h / (n - 1.0)) <= 1e-12, ctx)
          }
        }
      }
    }
  }

  test("Scc equals driver-side mutual reachability, component = max member id") {
    for (n <- Seq(40, 120); seed <- Seq(1L, 2L, 3L)) {
      val g = randomGraph(n, 2 * n, seed)
      val adj = adjacency(g, Orientation.Natural)
      val reach = (0L until n).map(s => s -> bfs(adj, s, Int.MaxValue).keySet).toMap
      val expect = (0L until n).map { v =>
        v -> (0L until n).filter(u => reach(v)(u) && reach(u)(v)).max
      }.toMap
      assert(longs(Scc.run(g)) == expect, s"n $n, seed $seed")
    }
  }
}
