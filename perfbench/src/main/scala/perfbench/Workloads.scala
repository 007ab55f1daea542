package perfbench

import graft.algos.{LabelPropagation, PageRank, TriangleCount, Wcc}
import graft.core._
import graft.ingest.CodeFiles
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Everything a job and its check see. `out` and `checkpoints` live under
 *  `work`, which the runner empties before every job. */
final class Env(val spark: SparkSession, val data: Dataset, val expected: Expected,
    val work: Path, val tracer: Tracer) {
  def out: String = work.resolve("out").toString
  def checkpoints: Path = work.resolve("checkpoints")
}

/**
 * A workload is one user job over one generated input. `job` is what gets
 * timed: it starts from the tables registered at set-up and ends with the
 * result written. `check` runs afterwards, untimed, and compares the written
 * result with the oracle; it returns the first mismatch, if any. Both fill
 * `layer` with counts for the per-layer metrics.
 */
sealed trait Workload {
  def name: String
  /** Input profile: which generator parameters the workload's input uses. */
  def profile: String
  /** Oracle steps whose single-threaded wall time is the COST baseline. */
  def oracleSteps: Seq[String]
  def register(spark: SparkSession, data: Dataset): Unit
  def job(env: Env, layer: mutable.Map[String, Double]): Unit
  def check(env: Env, layer: mutable.Map[String, Double]): Option[String]
}

object Workloads {
  val all: Seq[Workload] = Seq(Build, Iterate, Triangles, Checkpointed)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload '$n' (${all.map(_.name).mkString(", ")})"))

  // ------------------------------------------------------------ build

  /** code_files -> sha256 check -> dense ids -> co-occurrence edges ->
   *  graph written as parquet: what `GdsApp create` does, with the vertex
   *  and edge frames materialized inside their own spans. */
  object Build extends Workload {
    val name = "build"
    val profile = "base"
    val oracleSteps = Seq("derive")

    def register(spark: SparkSession, data: Dataset): Unit =
      spark.read.parquet(data.codeFiles).createOrReplaceTempView("code_files")

    def job(env: Env, layer: mutable.Map[String, Double]): Unit = {
      val t = env.tracer
      val cf = t.span("ingest.sha") {
        val df = CodeFiles.withSha(env.spark.table("code_files"))
        val bad = CodeFiles.verifySha(df)
        layer("ingest.sha.bad_rows") = bad.toDouble
        require(bad == 0, s"sha256 invariant violated on $bad rows")
        df
      }
      layer("ingest.sha.rows") = env.expected.rows.toDouble
      val vertices = t.span("ingest.ids") {
        val v = CodeFiles.repoVertices(cf).persist()
        layer("ingest.ids.vertices") = v.count().toDouble
        v
      }
      val edges = t.span("ingest.edges") {
        val e = CodeFiles.deriveEdges(cf, vertices).persist()
        layer("ingest.edges.edge_rows") = e.count().toDouble
        e
      }
      t.span("sink.write") {
        val n = ExecutionModes.write(
          vertices.select(col("id"), col("repo").as("originalId")), s"${env.out}/nodes")
        val e = ExecutionModes.write(edges, s"${env.out}/edges")
        layer("sink.write.rows") = (n.rowsWritten + e.rowsWritten).toDouble
      }
    }

    def check(env: Env, layer: mutable.Map[String, Double]): Option[String] = {
      val exp = env.expected
      val nodes = env.spark.read.parquet(s"${env.out}/nodes")
        .select(col("id"), col("originalId")).collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      val edges = env.spark.read.parquet(s"${env.out}/edges")
        .select(col("src"), col("dst"), col("type"), col("weight")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
        .sortBy(e => (e._1, e._2, e._3))
      layer("ingest.edges.pairs_per_edge") =
        if (edges.isEmpty) 0.0 else edges.map(_._4).sum / edges.length
      layer("sink.write.bytes") = Workloads.bytesUnder(env.work.resolve("out"))
      val expNodes = exp.repos.indices.map(i => (i.toLong, exp.repos(i)))
      val expEdges = exp.src.indices.map(i => (exp.src(i).toLong, exp.dst(i).toLong,
        Oracle.Types(exp.typ(i).toInt), exp.weight(i).toDouble))
      if (nodes.length != expNodes.length)
        Some(s"vertices: ${nodes.length} written, ${expNodes.length} expected")
      else if (nodes.toSeq != expNodes)
        Some(s"vertex ids differ first at ${nodes.indices.find(i => nodes(i) != expNodes(i)).get}")
      else if (edges.length != expEdges.length)
        Some(s"edges: ${edges.length} written, ${expEdges.length} expected")
      else edges.indices.find(i => edges(i) != expEdges(i))
        .map(i => s"edge $i: ${edges(i)} written, ${expEdges(i)} expected")
    }
  }

  // ------------------------------------------------------------ iterate

  /** stored graph -> PageRank -> WCC -> LPA -> join back to repo keys ->
   *  write: the superstep loops dominate, ingest does no work. */
  object Iterate extends Workload {
    val name = "iterate"
    val profile = "base"
    val oracleSteps = Seq("pagerank", "wcc", "lpa")
    def register(spark: SparkSession, data: Dataset): Unit = registerGraph(spark, data)

    def job(env: Env, layer: mutable.Map[String, Double]): Unit = {
      val t = env.tracer
      val g = load(env)
      val pregel = PregelConfig(trackMetrics = t.enabled)
      val pr = t.span("algos.pagerank")(PageRank.runWithMetrics(g,
        PageRank.Config(orientation = Orientation.Undirected, pregel = pregel)))
      pregelLayer("algos.pagerank", pr, layer)
      val (comps, wr) = t.span("algos.wcc")(Wcc.runWithMetrics(g, Wcc.Config(pregel = pregel)))
      pregelLayer("algos.wcc", wr, layer)
      val labels = t.span("algos.lpa")(LabelPropagation.run(g))
      write(env, layer, g.nodes.select(col("id"), col("originalId").as("repo"))
        .join(pr.vertices.select(col("id"), col("rank").as("pagerank")), "id")
        .join(comps, "id")
        .join(labels, "id"))
    }

    def check(env: Env, layer: mutable.Map[String, Double]): Option[String] =
      checkRanks(env, layer, withLabels = true)
  }

  // ------------------------------------------------------------ triangles

  /** hub-heavier stored graph -> triangle count -> LCC from the counts ->
   *  write: degree-ordered sorted intersection, no superstep loop. */
  object Triangles extends Workload {
    val name = "triangles"
    val profile = "hub"
    val oracleSteps = Seq("triangles")
    def register(spark: SparkSession, data: Dataset): Unit = registerGraph(spark, data)

    def job(env: Env, layer: mutable.Map[String, Double]): Unit = {
      val t = env.tracer
      val g = load(env)
      val tri = t.span("algos.triangles")(TriangleCount.run(g))
      val lcc = t.span("algos.lcc") {
        val l = TriangleCount.localClusteringCoefficient(g, Some(tri)).persist()
        l.count()
        l
      }
      write(env, layer, g.nodes.select(col("id"), col("originalId").as("repo"))
        .join(tri, "id").join(lcc, "id"))
    }

    def check(env: Env, layer: mutable.Map[String, Double]): Option[String] = {
      val exp = env.expected
      val rows = readResult(env, "triangles", "coefficient")
      layer("algos.triangles.triangles") = rows.map(_.getLong(2)).sum / 3.0
      firstMismatch(env, rows) { (id, r) =>
        if (r.getLong(2) != exp.triangles(id))
          Some(s"triangles of $id: ${r.getLong(2)}, expected ${exp.triangles(id)}")
        else if (r.getDouble(3) != exp.lcc(id))
          Some(s"lcc of $id: ${r.getDouble(3)}, expected ${exp.lcc(id)}")
        else None
      }
    }
  }

  // ------------------------------------------------------------ checkpointed

  /** PageRank killed halfway with checkpoints on, then resumed from the same
   *  directory; WCC with checkpoints; write. Measures durable superstep
   *  state. LPA is left out: it ignores `Config.pregel` today, so making it
   *  checkpoint would read as a regression here. */
  object Checkpointed extends Workload {
    val name = "checkpointed"
    val profile = "base"
    val oracleSteps = Seq("pagerank", "wcc")
    /** Durable state every 5 supersteps; the kill at the halfway superstep
     *  (10 of PageRank's 20) then lands right after a checkpoint. */
    val CheckpointEvery = 5
    def register(spark: SparkSession, data: Dataset): Unit = registerGraph(spark, data)

    def job(env: Env, layer: mutable.Map[String, Double]): Unit = {
      val t = env.tracer
      val g = load(env)
      val half = math.max(1, env.expected.prSupersteps / 2)
      val prConfig = PageRank.Config(orientation = Orientation.Undirected,
        pregel = PregelConfig(checkpointDir = Some(env.checkpoints.resolve("pagerank").toString),
          checkpointEvery = CheckpointEvery))
      t.span("core.checkpoint") {
        try {
          PageRank.runWithMetrics(g, prConfig.copy(pregel = prConfig.pregel.copy(stopAfter = Some(half))))
          throw new IllegalStateException(s"PageRank was not stopped after superstep $half")
        } catch { case _: PregelKilledException => }
      }
      val t0 = System.nanoTime()
      val pr = t.span("algos.pagerank")(PageRank.runWithMetrics(g, prConfig))
      layer("core.checkpoint.resume_s") = (System.nanoTime() - t0) / 1e9
      layer("core.checkpoint.resumed_from") = (pr.supersteps - pr.metrics.size).toDouble
      pregelLayer("algos.pagerank", pr, layer)
      val (comps, wr) = t.span("algos.wcc")(Wcc.runWithMetrics(g, Wcc.Config(pregel =
        PregelConfig(checkpointDir = Some(env.checkpoints.resolve("wcc").toString),
          checkpointEvery = CheckpointEvery))))
      pregelLayer("algos.wcc", wr, layer)
      layer("core.checkpoint.superstep_p50_ms") =
        median((pr.metrics ++ wr.metrics).map(_.wallMillis.toDouble))
      write(env, layer, g.nodes.select(col("id"), col("originalId").as("repo"))
        .join(pr.vertices.select(col("id"), col("rank").as("pagerank")), "id")
        .join(comps, "id"))
    }

    def check(env: Env, layer: mutable.Map[String, Double]): Option[String] = {
      val files = Workloads.filesUnder(env.checkpoints)
      layer("core.checkpoint.files") = files.size.toDouble
      layer("core.checkpoint.bytes_written") = files.map(Files.size).sum.toDouble
      checkRanks(env, layer, withLabels = false)
    }
  }

  // ------------------------------------------------------------ shared steps

  private def registerGraph(spark: SparkSession, data: Dataset): Unit = {
    spark.read.parquet(data.nodes).createOrReplaceTempView("graph_nodes")
    spark.read.parquet(data.edges).createOrReplaceTempView("graph_edges")
  }

  /** Read the stored graph into cache, as a named graph would be held. */
  private def load(env: Env): PropertyGraph = env.tracer.span("core.load") {
    val g = PropertyGraph(env.spark.table("graph_nodes"), env.spark.table("graph_edges")).persist()
    g.nodes.count()
    g.edges.count()
    g
  }

  private def write(env: Env, layer: mutable.Map[String, Double], result: DataFrame): Unit =
    env.tracer.span("sink.write") {
      layer("sink.write.rows") = ExecutionModes.write(result, env.out).rowsWritten.toDouble
    }

  private def pregelLayer(span: String, r: PregelResult,
      layer: mutable.Map[String, Double]): Unit = {
    val ms = r.metrics.map(_.wallMillis.toDouble)
    layer(s"$span.supersteps") = r.metrics.size.toDouble
    layer(s"$span.superstep_p50_ms") = median(ms)
    layer(s"$span.superstep_max_ms") = if (ms.isEmpty) 0.0 else ms.max
    layer(s"$span.messages") = r.metrics.map(m => math.max(0L, m.messages)).sum.toDouble
    layer(s"$span.superstep_total_s") = ms.sum / 1000.0
  }

  /** The written result's (id, repo, cols...) rows, sorted by id. */
  private def readResult(env: Env, cols: String*): Array[Row] =
    env.spark.read.parquet(env.out).select(("id" +: "repo" +: cols).map(col): _*)
      .collect().sortBy(_.getLong(0))

  /** One row per vertex, keyed like the oracle; then `f` checks the values. */
  private def firstMismatch(env: Env, rows: Array[Row])(
      f: (Int, Row) => Option[String]): Option[String] = {
    val exp = env.expected
    if (rows.length != exp.vertices) Some(s"${rows.length} result rows, ${exp.vertices} expected")
    else rows.indices.iterator.map { i =>
      val r = rows(i)
      if (r.getLong(0) != i || r.getString(1) != exp.repos(i)) Some(s"row $i is $r")
      else f(i, r)
    }.collectFirst { case Some(m) => m }
  }

  private def checkRanks(env: Env, layer: mutable.Map[String, Double],
      withLabels: Boolean): Option[String] = {
    val exp = env.expected
    val rows = readResult(env, Seq("pagerank", "component") ++
      (if (withLabels) Seq("label") else Nil): _*)
    layer("sink.write.bytes") = Workloads.bytesUnder(env.work.resolve("out"))
    firstMismatch(env, rows) { (id, r) =>
      val (pr, expPr) = (r.getDouble(2), exp.pagerank(id))
      if (math.abs(pr - expPr) > 1e-6 * math.max(1.0, math.abs(expPr)))
        Some(s"pagerank of $id: $pr, expected $expPr")
      else if (r.getLong(3) != exp.component(id))
        Some(s"component of $id: ${r.getLong(3)}, expected ${exp.component(id)}")
      else if (withLabels && r.getLong(4) != exp.label(id))
        Some(s"label of $id: ${r.getLong(4)}, expected ${exp.label(id)}")
      else None
    }
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  def filesUnder(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val st = Files.walk(dir)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).toList finally st.close()
    }

  def bytesUnder(dir: Path): Double = filesUnder(dir).map(Files.size).sum.toDouble

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally st.close()
    }
}
