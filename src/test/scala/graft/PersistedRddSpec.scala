package graft

import graft.algos._
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** Storage hygiene: an algorithm call releases every checkpoint it made
  * except the frame it hands back. Calls that return no frame must leave
  * nothing persisted; calls that return one may leave as many persisted
  * RDDs as a WCC run (its cut result). */
class PersistedRddSpec extends SparkSpec {

  private lazy val g = randomGraph(60, 180, seed = 7L)

  test("each call leaves at most its result frame persisted") {
    val sc = spark.sparkContext
    def left(run: => Any): Int = {
      val before = sc.getPersistentRDDs.keySet
      run match {
        case df: Dataset[_] => df.count()
        case _ => ()
      }
      (sc.getPersistentRDDs.keySet -- before).size
    }
    val wcc = left(Wcc.run(g))
    val zeroH = g.nodes.select(col("id"), lit(0.0).as("h"))
    val table: Seq[(String, Int, () => Int)] = Seq(
      ("dijkstra", 0, () => left(ShortestPaths.dijkstra(g, 0L, 59L))),
      ("filteredDijkstra", 0, () => left(ShortestPaths.filteredDijkstra(g, 0L, 59L,
        excludedEdges = Set.empty, excludedNodes = Set(1L, 2L)))),
      ("aStar", 0, () => left(ShortestPaths.aStar(g, 0L, 59L, zeroH))),
      ("yens k = 3", 0, () => left(ShortestPaths.yens(g, 0L, 59L, k = 3))),
      ("unweighted allShortestPaths", wcc, () => left(Traversal.allShortestPaths(g))),
      ("weighted allShortestPaths", wcc,
        () => left(Traversal.allShortestPaths(g, weighted = true))),
      ("deltaStepping", wcc, () => left(Traversal.deltaStepping(g, 0L, delta = 3.0))),
      ("Betweenness", wcc, () => left(Betweenness.run(g))),
      ("HyperBall", wcc, () => left(HyperBall.run(g))),
      ("LabelPropagation", wcc, () => left(LabelPropagation.run(g))),
      ("minimumSpanningForest", wcc, () => left(SpanningTree.minimumSpanningForest(g))))
    val over = table.flatMap { case (name, bound, run) =>
      val n = run()
      if (n > bound) Some(s"$name left $n (bound $bound)") else None
    }
    assert(over.isEmpty, s"WCC left $wcc; ${over.mkString("; ")}")
  }
}
