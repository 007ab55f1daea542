package graft

import graft.algos.{LabelPropagation, Wcc}
import graft.core._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Fixture from the reference's LabelPropagationTest
 * (algo/src/test/java/org/neo4j/graphalgo/labelpropagation/LabelPropagationTest.java:69-112):
 * Alice=0 Bridget=1 Charles=2 Doug=3 Mark=4 Michael=5, FOLLOW edges
 * A→B, A→C, M→D(Mark→Doug), B→Mi, D→M, Mi→A, A→Mi, B→A, Mi→B, C→D.
 *
 * The reference's 1-iteration golden [B,B,D,M,M,B] assumes its in-place
 * id-order sweep (semi-async, ComputeStep.java:84-90). Our engine is
 * synchronous (SURVEY.md §2.C caveat) — this suite pins the synchronous
 * trajectory and asserts determinism; the divergence is documented here:
 * synchronous 1-iteration labels are [1,0,3,4,3,0].
 */
class LabelPropagationSpec extends SparkSpec {

  // directed FOLLOW edges (NATURAL orientation for this fixture)
  val follows: Seq[(Long, Long)] = Seq(
    (0L, 1L), (0L, 2L), (4L, 3L), (1L, 5L), (3L, 4L),
    (5L, 0L), (0L, 5L), (1L, 0L), (5L, 1L), (2L, 3L))

  def fixture: PropertyGraph = graphOf(6, follows)

  test("synchronous 1-iteration labels are deterministic (pinned; reference in-place sweep gives [1,1,3,4,4,1])") {
    val got = longs(LabelPropagation.run(fixture,
      LabelPropagation.Config(maxIterations = 1, orientation = Orientation.Natural)))
    // hand-computed synchronous pull over out-neighbors, ties → smaller label:
    // A votes {B=1,C=2,Mi=5} → 1; B votes {Mi=5,A=0} → 0; C votes {D=3} → 3;
    // D votes {M=4} → 4; M votes {D=3} → 3; Mi votes {A=0,B=1} → 0.
    assert(got == Map(0L -> 1L, 1L -> 0L, 2L -> 3L, 3L -> 4L, 4L -> 3L, 5L -> 0L))
  }

  test("seeded: seed labels win (LabelPropagationTest seeded variant, InitStep.java:58-79)") {
    val seeded = PropertyGraph(
      fixture.nodes.withColumn("seed",
        when(col("id").isin(0L, 1L, 5L), lit(2L)).otherwise(lit(4L))),
      fixture.edges)
    val got = longs(LabelPropagation.run(seeded,
      LabelPropagation.Config(maxIterations = 10, seedProperty = Some("seed"),
        orientation = Orientation.Undirected)))
    // the {A,B,Michael} triangle is densely connected with seed 2; C,D,M
    // chain carries seed 4. Fixpoint keeps two communities.
    assert(got.values.toSet.subsetOf(Set(2L, 4L)))
    assert(got(0L) == 2L && got(1L) == 2L && got(5L) == 2L)
  }

  test("weighted votes: heavier edge wins over two light ones (ComputeStepConsumer.java:44-77)") {
    // node 0 pulls from 1 (label 1, w=5) and 2,3 (labels 2,3, w=1 each):
    // votes 1→5, 2→1, 3→1 → adopts 1.
    val g = graphOf(4, Seq((0L, 1L), (0L, 2L), (0L, 3L)),
      Map((0L, 1L) -> 5.0, (0L, 2L) -> 1.0, (0L, 3L) -> 1.0))
    val got = longs(LabelPropagation.run(g,
      LabelPropagation.Config(maxIterations = 1, orientation = Orientation.Natural)))
    assert(got(0L) == 1L)
  }

  test("nodeWeightProperty scales votes (LabelPropagation.java nodeWeight)") {
    // same shape, equal edge weights, but node 3 has nodeWeight 10 → label 3 wins.
    val g0 = graphOf(4, Seq((0L, 1L), (0L, 2L), (0L, 3L)))
    val g = PropertyGraph(
      g0.nodes.withColumn("nw", when(col("id") === 3L, 10.0).otherwise(1.0)),
      g0.edges)
    val got = longs(LabelPropagation.run(g,
      LabelPropagation.Config(maxIterations = 1, orientation = Orientation.Natural,
        nodeWeightProperty = Some("nw"))))
    assert(got(0L) == 3L)
  }

  test("ties go to the smaller label (ComputeStepConsumer.java:64-77)") {
    val g = graphOf(3, Seq((0L, 1L), (0L, 2L)))
    val got = longs(LabelPropagation.run(g,
      LabelPropagation.Config(maxIterations = 1, orientation = Orientation.Natural)))
    assert(got(0L) == 1L)
  }

  test("determinism across parallelism") {
    val a = longs(LabelPropagation.run(fixture, LabelPropagation.Config(maxIterations = 5)))
    val g2 = PropertyGraph(fixture.nodes.repartition(5), fixture.edges.repartition(7))
    assert(longs(LabelPropagation.run(g2, LabelPropagation.Config(maxIterations = 5))) == a)
  }

  test("an LPA run leaves no more persisted RDDs behind than a WCC run") {
    val sc = spark.sparkContext
    def newPersisted(run: => DataFrame): Int = {
      val before = sc.getPersistentRDDs.keySet
      run.count()
      (sc.getPersistentRDDs.keySet -- before).size
    }
    val wcc = newPersisted(Wcc.run(fixture))
    val lpa = newPersisted(LabelPropagation.run(fixture))
    // both keep only their result frame; the edge checkpoint is released
    assert(lpa <= wcc, s"LPA left $lpa persisted RDDs, WCC $wcc")
  }
}
