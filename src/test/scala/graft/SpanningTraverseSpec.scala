package graft

import graft.algos._
import graft.core._
import org.apache.spark.sql.functions._

/** DFS/BFS exit-predicate traversal (TraverseTest.java fixtures) and
  * spanning-tree family (PrimTest.java fixture). */
class SpanningTraverseSpec extends SparkSpec {

  // TraverseTest graph: a=0,b=1,c=2,d=3,e=4,f=5,g=6
  private def traverseGraph = graphOf(7,
    Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (3L, 5L), (4L, 6L), (5L, 6L)))

  private def order(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.orderBy("visitOrder").collect().map(_.getLong(0)).toSeq

  test("BFS to target d visits a,b,c,d (TraverseTest.testBfsToTargetOut)") {
    val r = order(Traversal.traverse(traverseGraph, 0L, dfs = false, targets = Set(3L)))
    assert(r == Seq(0L, 1L, 2L, 3L))
  }

  test("DFS to target g visits 5 nodes (TraverseTest.testDfsToTargetOut)") {
    val r = order(Traversal.traverse(traverseGraph, 0L, dfs = true, targets = Set(6L)))
    assert(r.length == 5)
    assert(r.last == 6L)
  }

  test("DFS without exit visits all 7 (TraverseTest.testExitConditionNeverTerminates)") {
    val r = order(Traversal.traverse(traverseGraph, 0L, dfs = true))
    assert(r.length == 7 && r.head == 0L)
  }

  test("BFS maxDepth=2 stops at depth 2 (TraverseTest.testBfsMaxDepthOut)") {
    val r = order(Traversal.traverse(traverseGraph, 0L, dfs = false, maxDepth = 2L))
    assert(r.toSet == Set(0L, 1L, 2L, 3L))
  }

  test("loop graph terminates (TraverseTest.testDfsOnLoopGraph)") {
    val g = graphOf(2, Seq((0L, 1L), (1L, 0L)))
    assert(order(Traversal.traverse(g, 0L, dfs = true)) == Seq(0L, 1L))
  }

  test("BFS hop aggregator + exit predicate (TraverseTest.testBfsMaxDepthOut)") {
    // reference form: (s,t,w) -> w >= maxHops ? CONTINUE : FOLLOW with
    // aggregator (s,t,w) -> w + 1
    val r = order(Traversal.traverse(traverseGraph, 0L, dfs = false,
      exitPredicate = Some((_, _, w) =>
        if (w >= 3.0) Traversal.Exit.Continue else Traversal.Exit.Follow),
      aggregator = (_, _, w, _) => w + 1.0))
    assert(r == Seq(0L, 1L, 2L, 3L))
  }

  test("BFS cost-budget aggregator carries stored edge weights") {
    // TraverseTest weighted fixture: a-b 2, a-c 1, b-d 1, c-d 2, d-e 1,
    // d-f 2, e-g 2, f-g 1; budget 3.0 reaches exactly a,b,c,d with path
    // costs 0/2/1/3 (d first reached through b).
    val g = graphOf(7,
      Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (3L, 5L), (4L, 6L), (5L, 6L)),
      Map((0L, 1L) -> 2.0, (0L, 2L) -> 1.0, (1L, 3L) -> 1.0, (2L, 3L) -> 2.0,
        (3L, 4L) -> 1.0, (3L, 5L) -> 2.0, (4L, 6L) -> 2.0, (5L, 6L) -> 1.0))
    val rows = Traversal.traverse(g, 0L, dfs = false,
      exitPredicate = Some((_, _, w) =>
        if (w > 3.0) Traversal.Exit.Continue else Traversal.Exit.Follow),
      aggregator = (_, _, w, ew) => w + ew)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(rows == Map(0L -> 0.0, 1L -> 2.0, 2L -> 1.0, 3L -> 3.0))
  }

  // PrimTest fixture: a=0,b=1,c=2,d=3,e=4 (+isolated y=5,z=6)
  private def primGraph = graphOf(7,
    Seq((0L, 1L), (0L, 2L), (1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)),
    Map((0L, 1L) -> 1.0, (0L, 2L) -> 2.0, (1L, 2L) -> 3.0,
      (1L, 3L) -> 4.0, (2L, 4L) -> 5.0, (3L, 4L) -> 6.0))

  test("minimum spanning forest matches Prim MIN tree (PrimTest.assertMinimum)") {
    val t = SpanningTree.minimumSpanningForest(primGraph)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(t == Set((0L, 1L, 1.0), (0L, 2L, 2.0), (1L, 3L, 4.0), (2L, 4L, 5.0)))
  }

  test("maximum spanning forest matches Prim MAX tree (PrimTest.assertMaximum)") {
    val t = SpanningTree.maximumSpanningForest(primGraph)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(t.map(_._3).sum == 17.0, s"tree $t")
    assert(t == Set((3L, 4L, 6.0), (2L, 4L, 5.0), (1L, 3L, 4.0), (0L, 2L, 2.0)))
  }

  test("spanningTree(start) only spans the start component") {
    val t = SpanningTree.spanningTree(primGraph, 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(t == Set((0L, 1L), (0L, 2L), (1L, 3L), (2L, 4L)))
  }

  test("kSpanningTree(2) drops the heaviest MST edge (KSpanningTree.java:41)") {
    val clusters = longs(SpanningTree.kSpanningTree(primGraph, 2))
    // MST minus (c,e,5.0): {a,b,c,d} together, e alone, y/z isolated
    assert(clusters(0L) == clusters(1L) && clusters(1L) == clusters(2L)
      && clusters(2L) == clusters(3L))
    assert(clusters(4L) != clusters(0L))
    assert(clusters.values.toSet.size == 4)
  }

  test("an MST run leaves no more persisted RDDs behind than a WCC run") {
    val sc = spark.sparkContext
    def newPersisted(run: => org.apache.spark.sql.DataFrame): Int = {
      val before = sc.getPersistentRDDs.keySet
      run.count()
      (sc.getPersistentRDDs.keySet -- before).size
    }
    val wcc = newPersisted(Wcc.run(primGraph))
    val mst = newPersisted(SpanningTree.minimumSpanningForest(primGraph))
    // both keep only their result frame; every round's frames are released
    assert(mst <= wcc, s"MST left $mst persisted RDDs, WCC $wcc")
  }

  test("MST determinism across parallelism") {
    val a = SpanningTree.minimumSpanningForest(primGraph)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val g2 = PropertyGraph(primGraph.nodes.repartition(5), primGraph.edges.repartition(3))
    val b = SpanningTree.minimumSpanningForest(g2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
  }

  test("NodeSimilarity weighted Jaccard = Σmin/Σmax (NodeSimilarity.java:332-339)") {
    // 0 → x(2), y(1); 1 → x(1), z(3): J = 1 / (3 + 4 − 1) = 1/6
    val g = graphOf(5, Seq((0L, 2L), (0L, 3L), (1L, 2L), (1L, 4L)),
      Map((0L, 2L) -> 2.0, (0L, 3L) -> 1.0, (1L, 2L) -> 1.0, (1L, 4L) -> 3.0))
    val w = NodeSimilarity.run(g, NodeSimilarity.Config(weighted = true))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(w((0L, 1L)) - 1.0 / 6.0) < 1e-12)
    val u = NodeSimilarity.run(g)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(u((0L, 1L)) - 1.0 / 3.0) < 1e-12)
  }

  test("NodeSimilarity bottomK ranks ascending; topN bounds globally") {
    // star: 0,1,2 all share neighbor 9; 0 also shares 8 with 1
    val g = graphOf(10, Seq((0L, 9L), (1L, 9L), (2L, 9L), (0L, 8L), (1L, 8L)))
    val bottom = NodeSimilarity.run(g, NodeSimilarity.Config(bottomK = Some(1)))
    val b0 = bottom.where(col("node1") === 0).collect()
    assert(b0.length == 1 && b0(0).getLong(1) == 2L) // least similar first
    val topN = NodeSimilarity.run(g, NodeSimilarity.Config(topN = 2))
    assert(topN.count() == 2)
    intercept[IllegalArgumentException] {
      NodeSimilarity.Config(topN = 1, bottomN = 1)
    }
  }
}
