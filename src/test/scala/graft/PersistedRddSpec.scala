package graft

import graft.algos._
import graft.core._
import org.apache.spark.sql.{Dataset, GraftShims}
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
      ("Closeness Undirected", wcc, () => left(Closeness.run(g))),
      ("Closeness Natural", wcc,
        () => left(Closeness.run(g, Closeness.Config(orientation = Orientation.Natural)))),
      ("Scc", wcc, () => left(Scc.run(g))),
      ("ArticleRank", wcc, () => left(ArticleRank.run(g))),
      ("ModularityOptimization", wcc, () => left(ModularityOptimization.run(g).communities)),
      // Louvain hands back its dendrogram frames too: the row counts what
      // it leaves beyond them
      ("Louvain beyond its dendrogram", 0, () => {
        var frames = 0
        left { val r = Louvain.run(g); frames = r.dendrogram.size; r.communities } - frames
      }),
      ("spanningTree", wcc, () => left(SpanningTree.spanningTree(g, 0L))),
      ("kSpanningTree k = 3", wcc, () => left(SpanningTree.kSpanningTree(g, 3))),
      ("LabelPropagation", wcc, () => left(LabelPropagation.run(g))),
      ("minimumSpanningForest", wcc, () => left(SpanningTree.minimumSpanningForest(g))))
    val over = table.flatMap { case (name, bound, run) =>
      val n = run()
      if (n > bound) Some(s"$name left $n (bound $bound)") else None
    }
    assert(over.isEmpty, s"WCC left $wcc; ${over.mkString("; ")}")
  }

  test("a call releases none of the caller's cut frames") {
    // releasing a frame derived from the caller's node frame, but never cut
    // itself, unpersists the caller's checkpoint blocks
    for ((name, run) <- Seq[(String, PropertyGraph => Dataset[_])](
        ("Closeness", Closeness.run(_)), ("HyperBall", HyperBall.run(_)),
        ("Scc", Scc.run(_)))) {
      val nodes = g.nodes.cutLineage()
      run(PropertyGraph(nodes, g.edges)).count()
      assert(GraftShims.persistedHandle(nodes).nonEmpty, name)
    }
  }

  test("release drops only a cut's or a persisted frame's own blocks") {
    import org.apache.spark.storage.StorageLevel
    val cut = g.nodes.cutLineage()
    val blocks = GraftShims.persistedHandle(cut).get
    val cached = g.nodes.select(col("id"), lit(1).as("one")).persist()
    cached.count()
    val cacheBlocks = GraftShims.persistedHandle(cached).get
    // frames derived from the cut or the cached frame own no blocks
    for (derived <- Seq(cut.select(col("id")), cut.where(col("id") > 3), cached.select(col("id"))))
      Lineage.release(derived)
    val persisted = spark.sparkContext.getPersistentRDDs
    assert(persisted.contains(blocks.id) && persisted.contains(cacheBlocks.id))
    assert(cut.count() == 60)
    Lineage.release(cut)
    Lineage.release(cached)
    for (r <- Seq(blocks, cacheBlocks)) {
      assert(r.getStorageLevel == StorageLevel.NONE)
      assert(!spark.sparkContext.getPersistentRDDs.contains(r.id))
    }
  }
}
