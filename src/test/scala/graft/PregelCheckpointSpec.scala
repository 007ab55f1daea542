package graft

import graft.algos.{LabelPropagation, PageRank, Wcc}
import graft.core._
import java.nio.file.Files

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
}
