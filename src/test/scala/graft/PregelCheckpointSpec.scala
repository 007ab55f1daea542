package graft

import graft.algos.{LabelPropagation, PageRank, Wcc}
import graft.core._
import java.nio.file.Files
import org.apache.spark.sql.functions._

/**
 * Checkpoint / lineage / resume (north rule: every superstep writes
 * per-partition lineage + metrics; any job resumable mid-iteration).
 * Kill-at-superstep-k is simulated with PregelConfig.stopAfter; resume
 * reruns the same call with the same checkpointDir.
 */
class PregelCheckpointSpec extends SparkSpec {

  def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  def chainGraph: PropertyGraph = {
    val edges = (0 until 15).map(i => (i.toLong, (i + 1).toLong))
    graphOf(16, edges)
  }

  test("WCC killed at superstep 2 resumes to the identical result") {
    val dir = tmpDir("wcc-ckpt")
    val cfg = Wcc.Config(pregel = PregelConfig(checkpointDir = Some(dir),
      stopAfter = Some(2)))
    intercept[PregelKilledException] {
      Wcc.run(chainGraph, cfg).count()
    }
    // lineage recorded for the completed supersteps
    val ckpt = new CheckpointManager(dir)
    assert(ckpt.latestSuperstep.contains(2))
    assert(ckpt.lineage.size == 2)

    // resume: same dir, no kill switch
    val resumed = longs(Wcc.run(chainGraph,
      Wcc.Config(pregel = PregelConfig(checkpointDir = Some(dir)))))
    val fresh = longs(Wcc.run(chainGraph))
    assert(resumed == fresh)
  }

  test("LPA killed at superstep 3 resumes to labels identical to a fresh run") {
    val dir = tmpDir("lpa-ckpt")
    intercept[PregelKilledException] {
      LabelPropagation.run(chainGraph, LabelPropagation.Config(
        pregel = PregelConfig(checkpointDir = Some(dir), stopAfter = Some(3)))).count()
    }
    val ckpt = new CheckpointManager(dir)
    assert(ckpt.latestSuperstep.contains(3))
    assert(ckpt.lineage.size == 3)

    val resumed = longs(LabelPropagation.run(chainGraph, LabelPropagation.Config(
      pregel = PregelConfig(checkpointDir = Some(dir)))))
    val fresh = longs(LabelPropagation.run(chainGraph))
    assert(resumed == fresh)
  }

  test("PageRank killed mid-run resumes to identical scores (bit-exact)") {
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 0L), (3L, 1L), (4L, 1L),
      (4L, 3L), (4L, 5L), (5L, 1L), (5L, 4L))
    val g = graphOf(10, edges)
    val dir = tmpDir("pr-ckpt")

    intercept[PregelKilledException] {
      PageRank.run(g, PageRank.Config(maxIterations = 15, tolerance = 0.0,
        pregel = PregelConfig(checkpointDir = Some(dir), stopAfter = Some(5)))).count()
    }
    val resumed = scores(PageRank.run(g,
      PageRank.Config(maxIterations = 15, tolerance = 0.0,
        pregel = PregelConfig(checkpointDir = Some(dir)))))
    val fresh = scores(PageRank.run(g,
      PageRank.Config(maxIterations = 15, tolerance = 0.0)))
    // identical to the last bit: resume restarts from the exact parquet
    // state of superstep 5 and replays the same deterministic plan.
    resumed.foreach { case (id, v) => assert(v == fresh(id), s"node $id") }
  }

  test("lineage metrics carry messages / active counts / delta norm") {
    val dir = tmpDir("metrics")
    val r = PageRank.runWithMetrics(chainGraph,
      PageRank.Config(maxIterations = 5, tolerance = 0.0,
        pregel = PregelConfig(checkpointDir = Some(dir))))
    assert(r.metrics.size == 5)
    assert(r.metrics.head.messages > 0)
    assert(r.metrics.head.deltaNorm > 0.0)
    assert(r.metrics.forall(_.skewRatio >= 1.0))
    val ckpt = new CheckpointManager(dir)
    assert(ckpt.lineage.size == 5)
    assert(ckpt.lineage.head.contains("\"superstep\":1"))
  }

  /** Toy fixpoint on [[Pregel.iterate]]: three counters step 0, 1, 2, …;
   *  a row stops changing once it reaches 5. `seen` records the
   *  previous-superstep record each step was handed. */
  def counter(config: PregelConfig,
      seen: collection.mutable.Buffer[SuperstepMetrics]): PregelResult = {
    import Pregel._
    val initial = spark.range(3).select(col("id"), lit(0L).as("n"),
      lit(true).as(ACTIVE), lit(true).as(CHANGED), lit(0.0).as(DELTA))
    Pregel.iterate(initial, None, config) { (state, last) =>
      seen += last
      val n = col("n") + 1L
      StepPlan(state.select(col("id"), n.as("n"), lit(true).as(ACTIVE),
        (n < 5L).as(CHANGED), lit(1.0).as(DELTA)))
    }
  }

  test("iterate: a counter converges after 5 supersteps and keeps only its final state") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val seen = collection.mutable.Buffer[SuperstepMetrics]()
    val r = counter(PregelConfig(), seen)
    assert(r.converged && r.supersteps == 5)
    assert(r.metrics.map(_.superstep) == (1 to 5))
    assert(r.metrics.forall(m => m.activeVertices == 3 && m.deltaNorm == 1.0))
    // superstep 0's record describes the initial state
    assert(seen.map(_.superstep) == (0 to 4))
    assert(seen.head.activeVertices == 3)
    assert(longs(r.vertices.select("id", "n")) == Map(0L -> 5L, 1L -> 5L, 2L -> 5L))
    assert((sc.getPersistentRDDs.keySet -- before).size == 1,
      "every superseded state is released")
  }

  test("iterate: maxIterations = 3 stops unconverged after 3 supersteps") {
    val r = counter(PregelConfig(maxIterations = 3), collection.mutable.Buffer())
    assert(!r.converged && r.supersteps == 3 && r.metrics.size == 3)
    assert(longs(r.vertices.select("id", "n")).values.toSet == Set(3L))
  }

  test("iterate: a resumed run starts from the checkpointed superstep") {
    val dir = tmpDir("iterate-ckpt")
    intercept[PregelKilledException] {
      counter(PregelConfig(checkpointDir = Some(dir), stopAfter = Some(2)),
        collection.mutable.Buffer())
    }
    val seen = collection.mutable.Buffer[SuperstepMetrics]()
    val r = counter(PregelConfig(checkpointDir = Some(dir)), seen)
    assert(r.converged && r.supersteps == 5 && r.metrics.map(_.superstep) == (3 to 5))
    // the first step sees superstep 2's record, observed on the reloaded state
    assert(seen.map(_.superstep) == (2 to 4) && seen.head.activeVertices == 3)
    assert(longs(r.vertices.select("id", "n")).values.toSet == Set(5L))
  }
}
