package graft

import graft.core._
import graft.algos._
import graft.ingest.CodeFiles
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * spark-submit entry point (SURVEY.md §7.2 minimum end-to-end slice):
 *
 *   GdsApp create --input code_files.parquet --graph g [--store DIR]
 *   GdsApp run <pagerank|wcc|lpa|triangles|degree|fastrp|node2vec|graphsage>
 *          --graph g [--mode stream|stats|write] [--output DIR]
 *          [--checkpoint DIR] [--store DIR] [--dim N] [--iterations N]
 *          [--epochs N]
 *   (--checkpoint: pagerank, wcc and lpa only; other algorithms refuse it)
 *   GdsApp list|drop --graph g [--store DIR]
 *
 * The durable catalog is a directory of parquet graphs
 * (`<store>/<name>/{nodes,edges}`) so separate spark-submit invocations
 * share state — the cluster-side stand-in for the reference's in-process
 * GraphStoreCatalog.
 */
object GdsApp {

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { usage(); sys.exit(2) }
    val cmd = args.head
    // the `run` subcommand's positional algorithm operand rides the opts
    // map (parseOpts only scans --key pairs, so positionals are invisible
    // to it either way)
    val positional =
      if (cmd == "run" && args.length > 1 && !args(1).startsWith("--"))
        Map("algo" -> args(1))
      else Map.empty[String, String]
    val named = parseOpts(args.tail)
    for (p <- positional.get("algo"); n <- named.get("algo") if p != n)
      sys.error(s"conflicting algorithm spec: positional '$p' vs --algo '$n'")
    val opts = named ++ positional
    val store = opts.getOrElse("store", "/tmp/graft-store")

    val spark = SparkSession.builder()
      .appName(s"graft-$cmd")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try dispatch(spark, cmd, opts, store)
    finally spark.stop()
  }

  /** Command dispatch on a caller-owned session (split from main so the
   *  CLI is testable without stopping the shared test session). */
  private[graft] def dispatch(spark: SparkSession, cmd: String,
      opts: Map[String, String], store: String): Unit = {
    cmd match {
      case "create" =>
        val input = required(opts, "input")
        val name = required(opts, "graph")
        val cf = CodeFiles.withSha(spark.read.parquet(input))
        val bad = CodeFiles.verifySha(cf)
        require(bad == 0, s"sha256 invariant violated on $bad rows")
        val g = CodeFiles.ingest(cf)
        g.nodes.write.mode("overwrite").parquet(s"$store/$name/nodes")
        g.edges.write.mode("overwrite").parquet(s"$store/$name/edges")
        println(s"""{"graph":"$name","nodes":${g.nodeCount},"edges":${g.edgeCount}}""")

      case "run" =>
        val algo = required(opts, "algo")
        val name = required(opts, "graph")
        val mode = opts.getOrElse("mode", "stream")
        // only the superstep algorithms read a checkpoint dir; refuse it
        // elsewhere rather than silently running without one
        if (opts.contains("checkpoint") && !checkpointable(algo))
          throw new IllegalArgumentException(s"--checkpoint is not supported " +
            s"by '$algo' (only ${checkpointable.mkString(", ")} checkpoint)")
        val g = load(spark, store, name)
        val pregel = PregelConfig(checkpointDir = opts.get("checkpoint"))
        val result: DataFrame = algo match {
          case "pagerank" => PageRank.run(g, PageRank.Config(pregel = pregel))
          case "wcc" => Wcc.run(g, Wcc.Config(pregel = pregel))
          case "lpa" => LabelPropagation.run(g, LabelPropagation.Config(pregel = pregel))
          case "triangles" => TriangleCount.run(g)
          case "degree" => DegreeCentrality.run(g)
          case "fastrp" => graft.pipeline.FastRP.run(g,
            graft.pipeline.FastRP.Config(
              embeddingSize = opts.getOrElse("dim", "64").toInt))
          case "node2vec" => graft.pipeline.Node2Vec.run(g,
            graft.pipeline.Node2Vec.Config(
              embeddingSize = opts.getOrElse("dim", "128").toInt,
              iterations = opts.getOrElse("iterations", "1").toInt))
          case "graphsage" =>
            val feats = graft.pipeline.GraphSage.degreeFeatures(g, normalized = true)
            // --layers d1,d2,... selects the multi-layer Adam trainer;
            // without it the single-layer identity fast path runs.
            opts.get("layers") match {
              case Some(spec) =>
                if (opts.contains("dim"))
                  sys.error("--dim and --layers are exclusive: the " +
                    "multi-layer trainer's output dim is the last --layers entry")
                val dimsParsed = spec.split(',').map(_.trim).filter(_.nonEmpty)
                  .map(d => d.toIntOption.getOrElse(
                    sys.error(s"--layers expects comma-separated ints, got '$spec'")))
                if (dimsParsed.isEmpty)
                  sys.error(s"--layers expects comma-separated ints, got '$spec'")
                val sampled = opts.get("samples").map(_.split(',')
                  .map(_.trim).filter(_.nonEmpty).map(d => d.toIntOption
                    .getOrElse(sys.error(
                      s"--samples expects comma-separated ints, got '$d'")))
                  .toSeq).getOrElse(Seq.empty)
                graft.pipeline.GraphSage.trainLayers(g, feats,
                  graft.pipeline.GraphSage.TrainLayersConfig(
                    layerDims = dimsParsed.toSeq,
                    activation = opts.getOrElse("activation", "sigmoid"),
                    sampleSizes = sampled,
                    epochs = opts.getOrElse("epochs", "5").toInt)).embeddings
              case None =>
                if (opts.contains("samples"))
                  sys.error("--samples requires --layers (the single-layer " +
                    "fast path always uses full neighborhoods)")
                graft.pipeline.GraphSage.train(g, feats,
                  graft.pipeline.GraphSage.Config(
                    embeddingSize = opts.getOrElse("dim", "16").toInt,
                    epochs = opts.getOrElse("epochs", "5").toInt)).embeddings
            }
          case other => sys.error(s"unknown algorithm: $other")
        }
        mode match {
          case "stream" =>
            result.show(20, truncate = false)
            println(s"""{"rows":${result.count()}}""")
          case "stats" =>
            val valueCol = result.columns.last
            val s = ExecutionModes.communityStats(result, valueCol)
            println(s"""{"rows":${s.rows},"histogram":{${
              s.histogram.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",")}}}""")
          case "write" =>
            val out = required(opts, "output")
            val w = ExecutionModes.write(result, out)
            println(s"""{"rowsWritten":${w.rowsWritten},"writeMillis":${w.writeMillis},"path":"${w.path}"}""")
          case other =>
            sys.error(s"unknown mode: $other (expected stream|stats|write)")
        }

      case "list" =>
        val dir = new java.io.File(store)
        val names = Option(dir.listFiles()).getOrElse(Array.empty)
          .filter(_.isDirectory).map(_.getName).sorted
        println(names.mkString("[\"", "\",\"", "\"]"))

      case "drop" =>
        val name = required(opts, "graph")
        val ok = deleteRecursively(new java.io.File(s"$store/$name"))
        println(s"""{"dropped":$ok}""")

      case _ => usage(); sys.error(s"unknown command: $cmd")
    }
  }

  /** Algorithms that run on Pregel.run and so honour `--checkpoint`. */
  private val checkpointable = Set("pagerank", "wcc", "lpa")

  private def load(spark: SparkSession, store: String, name: String): PropertyGraph =
    PropertyGraph(
      spark.read.parquet(s"$store/$name/nodes"),
      spark.read.parquet(s"$store/$name/edges"))

  /** Scan for `--key value` pairs anywhere in the arg list (positional
   *  operands like the `run` subcommand's algorithm name don't shift the
   *  window). A `--key` followed by another `--option` (or by nothing) is
   *  a valueless BOOLEAN flag → "true", so `--stats --graph g` yields
   *  stats=true, graph=g instead of stats="--graph" swallowing the option
   *  (ADVICE r2). */
  private def parseOpts(args: Array[String]): Map[String, String] =
    args.zipWithIndex.collect {
      case (k, i) if k.startsWith("--") =>
        val v = args.lift(i + 1).filterNot(_.startsWith("--")).getOrElse("true")
        k.stripPrefix("--") -> v
    }.toMap

  private def required(opts: Map[String, String], key: String): String =
    opts.getOrElse(key, sys.error(s"missing required option --$key"))

  private def deleteRecursively(f: java.io.File): Boolean = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }

  private def usage(): Unit = System.err.println(
    """usage: GdsApp create --input <parquet> --graph <name> [--store DIR]
      |       GdsApp run <pagerank|wcc|lpa|triangles|degree|fastrp|node2vec|graphsage>
      |              --graph <name> [--mode stream|stats|write] [--output DIR]
      |              [--checkpoint DIR] [--dim N] [--iterations N] [--epochs N]
      |              (--checkpoint: pagerank, wcc, lpa only)
      |              (the algorithm may also be passed as --algo <name>)
      |       GdsApp list | drop --graph <name>""".stripMargin)
}
