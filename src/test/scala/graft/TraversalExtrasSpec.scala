package graft

import graft.algos._
import graft.core._
import graft.pipeline.Similarity
import org.apache.spark.sql.functions._

/** RandomWalk, Closeness/Harmonic, SCC, similarity kernels. */
class TraversalExtrasSpec extends SparkSpec {

  test("RandomWalk: walks stay on edges, deterministic, stop at sinks (RandomWalk.java:45)") {
    val g = graphOf(4, Seq((0L, 1L), (1L, 2L), (2L, 3L))) // path, 3 is a sink
    val r = RandomWalk.run(g, RandomWalk.Config(steps = 5))
    val paths = r.collect().map(x => x.getLong(1) -> x.getSeq[Long](2)).toMap
    // from 0 the only walk is 0,1,2,3 then stuck
    assert(paths(0L) == Seq(0L, 1L, 2L, 3L))
    assert(paths(3L) == Seq(3L))
    // deterministic across parallelism
    val g2 = PropertyGraph(g.nodes.repartition(3), g.edges.repartition(2))
    val r2 = RandomWalk.run(g2, RandomWalk.Config(steps = 5))
    assert(r2.collect().map(x => x.getLong(1) -> x.getSeq[Long](2)).toMap == paths)
  }

  test("RandomWalk: branching choice is a pure function of (walkId, step, seed)") {
    val g = graphOf(3, Seq((0L, 1L), (0L, 2L)))
    val a = RandomWalk.run(g, RandomWalk.Config(steps = 1, seed = 1)).collect()
      .map(x => x.getLong(0) -> x.getSeq[Long](2)).toMap
    val b = RandomWalk.run(g, RandomWalk.Config(steps = 1, seed = 1)).collect()
      .map(x => x.getLong(0) -> x.getSeq[Long](2)).toMap
    assert(a == b)
  }

  test("Closeness + Harmonic on a 4-path match hand computation (MSClosenessCentrality.java:43, HarmonicCentrality.java:31)") {
    // path 0-1-2-3 undirected. farness(0)=1+2+3=6, farness(1)=1+1+2=4
    val g = graphOf(4, Seq((0L, 1L), (1L, 2L), (2L, 3L)))
    val r = Closeness.run(g).collect()
      .map(x => x.getLong(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    assert(math.abs(r(0L)._1 - 3.0 / 6.0) < 1e-12)  // reached/farness
    assert(math.abs(r(1L)._1 - 3.0 / 4.0) < 1e-12)
    // harmonic(0) = (1 + 1/2 + 1/3)/3
    assert(math.abs(r(0L)._2 - (1.0 + 0.5 + 1.0 / 3) / 3) < 1e-12)
    // symmetric ends
    assert(r(0L) == r(3L) && r(1L) == r(2L))
  }

  test("SCC: cycle + tail + isolated (SccAlgorithm.java:34 semantics, exact components)") {
    // cycle 0->1->2->0, tail 2->3, isolated 4, pair-cycle 5<->6
    val g = graphOf(7, Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (5L, 6L), (6L, 5L)))
    val comp = longs(Scc.run(g))
    assert(comp(0L) == comp(1L) && comp(1L) == comp(2L))
    assert(comp(0L) == 2L) // max id in the SCC
    assert(comp(3L) == 3L && comp(4L) == 4L)
    assert(comp(5L) == 6L && comp(6L) == 6L)
  }

  test("SCC: DAG gives singleton components") {
    val g = graphOf(4, Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L)))
    val comp = longs(Scc.run(g))
    assert(comp == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("SCC keeps stdout clean: its phase diagnostics go to stderr") {
    val g = graphOf(4, Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 3L)))
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) { Scc.run(g).count() }
    assert(out.size() == 0, s"stdout got: ${out.toString}")
  }

  test("similarity kernels match hand values (Intersections.java:113-170)") {
    import spark.implicits._
    val df = Seq((Array(1.0, 0.0), Array(0.0, 1.0))).toDF("a", "b")
    val r = df.select(
      Similarity.cosine(col("a"), col("b")).as("cos"),
      Similarity.euclideanDistance(col("a"), col("b")).as("eu"),
      Similarity.pearson(col("a"), col("b")).as("p")).head()
    assert(math.abs(r.getDouble(0)) < 1e-12)
    assert(math.abs(r.getDouble(1) - math.sqrt(2.0)) < 1e-12)
    assert(math.abs(r.getDouble(2) - (-1.0)) < 1e-12)
    val o = Seq((Array("a", "b", "c"), Array("b", "c", "d"))).toDF("a", "b")
      .select(Similarity.overlap(col("a"), col("b"))).head().getDouble(0)
    assert(math.abs(o - 2.0 / 3) < 1e-12)
    val oh = Seq((Array("x", "y", "z"), Array("y"))).toDF("av", "sel")
      .select(Similarity.oneHotEncoding(col("av"), col("sel"))).head().getSeq[Long](0)
    assert(oh == Seq(0L, 1L, 0L))
  }
}
