package graft

import graft.algos._
import graft.core._
import org.apache.spark.sql.functions._

/** Shortest-path operators cross-checked against each other on seeded
  * random graphs, in both orientations. */
class PathCrossCheckSpec extends SparkSpec {

  private val orientations = Seq(Orientation.Natural, Orientation.Undirected)

  test("unweighted allShortestPaths equals bfsLevels from every source") {
    for (seed <- Seq(1L, 2L); o <- orientations) {
      val n = 12
      val g = randomGraph(n, 18, seed)
      val asp = Traversal.allShortestPaths(g, orientation = o).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val bfs = (0L until n).flatMap { s =>
        longs(Traversal.bfsLevels(g, s, o)).collect {
          case (t, level) if level >= 0 => (s, t) -> level.toDouble
        }
      }.toMap
      assert(asp == bfs, s"seed $seed, $o")
    }
  }

  test("aStar with h = 0 and with an admissible h returns dijkstra's path") {
    var found = 0
    for (seed <- Seq(1L, 2L); o <- orientations) {
      val g = randomGraph(30, 70, seed)
      for (target <- Seq(17L, 29L)) {
        val d = ShortestPaths.dijkstra(g, 0L, target, o)
        found += d.size
        // half the exact distance to the target is a lower bound on it
        val toTarget = Traversal.sssp(g, target,
          if (o == Orientation.Natural) Orientation.Reverse else o)
        val half = toTarget.select(col("id"),
          when(col("distance") < Double.PositiveInfinity, col("distance") * 0.5)
            .otherwise(0.0).as("h"))
        val zero = g.nodes.select(col("id"), lit(0.0).as("h"))
        for ((name, h) <- Seq("h = 0" -> zero, "h = dist/2" -> half))
          assert(ShortestPaths.aStar(g, 0L, target, h, o) == d,
            s"seed $seed, $o, target $target, $name: dijkstra $d")
      }
    }
    assert(found >= 4, s"only $found of 8 targets reached")
  }
}
