package graft

import graft.algos.{LabelPropagation, PageRank, Wcc}
import graft.core._
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
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

  test("checkpointEvery = 2 writes state at 2, 4 and convergence, and a record every superstep") {
    val dir = tmpDir("iterate-every")
    val r = counter(PregelConfig(checkpointDir = Some(dir), checkpointEvery = 2),
      collection.mutable.Buffer())
    assert(r.converged && r.supersteps == 5)
    val ckpt = new CheckpointManager(dir)
    val written = (1 to 5).filter(k => Files.exists(
      java.nio.file.Paths.get(ckpt.statePath(k)).resolve("_SUCCESS")))
    assert(written == Seq(2, 4, 5))
    assert(ckpt.lineage.size == 5)
    assert(ckpt.lineage.zipWithIndex.forall { case (l, i) => l.contains(s""""superstep":${i + 1},""") })
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

  /** 300 nodes, ~3000 random directed edges, no self-loops. */
  def seededGraph: PropertyGraph = {
    val rnd = new scala.util.Random(11)
    graphOf(300, Seq.fill(3000)((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .filter { case (s, d) => s != d })
  }

  /** `body`'s result and the number of Spark jobs started while it ran. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    TestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      TestBus.drain(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  def withShufflePartitions[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, before)
  }

  test("tracking metrics leaves PageRank, WCC and LPA results bit-identical") {
    val g = seededGraph
    val tracked = PregelConfig(trackMetrics = true)
    def differ(a: Map[Long, _], b: Map[Long, _]): Int =
      a.count { case (id, v) => !b.get(id).contains(v) } + (b.keySet -- a.keySet).size
    def pr(p: PregelConfig) = scores(PageRank.run(g, PageRank.Config(tolerance = 0.0,
      orientation = Orientation.Undirected, pregel = p)))
    val (prOn, prOff) = (pr(tracked), pr(PregelConfig()))
    assert(prOn.size == 300 && differ(prOn, prOff) == 0,
      s"${differ(prOn, prOff)} of 300 PageRank scores differ")
    val wcc = (p: PregelConfig) => longs(Wcc.run(g, Wcc.Config(pregel = p)))
    assert(differ(wcc(tracked), wcc(PregelConfig())) == 0)
    val lpa = (p: PregelConfig) => longs(LabelPropagation.run(g, LabelPropagation.Config(pregel = p)))
    assert(differ(lpa(tracked), lpa(PregelConfig())) == 0)
  }

  for (n <- Seq(4, 200))
    test(s"tracked metrics cost no Spark job and match a recount (shuffle partitions = $n)") {
      withShufflePartitions(n) {
        val g = seededGraph
        def pr(p: PregelConfig) = jobsDuring(PageRank.runWithMetrics(g,
          PageRank.Config(maxIterations = 8, pregel = p)).vertices.count())
        val (_, untracked) = pr(PregelConfig())
        val (_, tracked) = pr(PregelConfig(trackMetrics = true))
        assert(tracked == untracked, "tracked run spends extra jobs")

        // min-label propagation whose combiner recounts each superstep's
        // combined-message frame with separate jobs, the way the records
        // define it
        import Pregel._
        val expected = collection.mutable.Buffer[(Long, Double)]()
        val recount: DataFrame => DataFrame = { raw =>
          val msgs = Combiners.min(raw)
          val rows = msgs.groupBy(pmod(hash(col("id")), lit(n))).count()
            .collect().map(_.getLong(1).toDouble)
          expected += msgs.count() ->
            (if (rows.isEmpty) 1.0 else rows.max / (rows.sum / rows.length))
          msgs
        }
        val initial = g.nodes.select(col("id"), col("id").as("label"),
          lit(true).as(ACTIVE), lit(true).as(CHANGED), lit(0.0).as(DELTA))
        val moved = coalesce(col(MSG), col("label")) < col("label")
        val r = Pregel.run(initial,
          g.pregelEdges(Orientation.Undirected, Aggregation.Count, withWeight = false),
          col("label"), recount,
          Seq(least(col("label"), coalesce(col(MSG), col("label"))).as("label"),
            moved.as(ACTIVE), moved.as(CHANGED), lit(0.0).as(DELTA)),
          PregelConfig(trackMetrics = true))
        assert(r.converged && r.metrics.nonEmpty)
        assert(r.metrics.map(m => (m.messages, m.skewRatio)) == expected.toSeq)
        assert(expected.exists(_._2 > 1.0), "the graph shows no skew to check")
      }
    }
}
