package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal

/** Parsed command line; see perfbench/README.md for every flag. */
final case class Options(
    workload: Workload,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    root: Path,
    cores: Int,
    base: GenParams,
    hubPathSkew: Double,
    sourceDigest: String,
    inputVersion: String,
    gitHead: String) {
  def params: GenParams =
    if (workload.profile == "hub") base.copy(pathSkew = hubPathSkew) else base
  def dataset: Dataset = new Dataset(
    root.resolve("data").resolve(s"${workload.profile}-${params.key}-$inputVersion-s$seed"))
  def shufflePartitions: Int = cores
}

object Options {
  def parse(args: Seq[String]): Options = {
    val kv = args.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"expected --flag value, got ${other.mkString(" ")}")
    }.toMap
    def get(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val base = GenParams(
      pathSkew = get("path-skew").toDouble,
      contentMedian = get("content-median").toInt,
      contentAlpha = get("content-alpha").toDouble)
    val cores = get("cores").toInt
    require(cores >= 1 && cores <= Runtime.getRuntime.availableProcessors,
      s"--cores $cores must be between 1 and nproc")
    Options(Workloads.byName(get("workload")), get("seed").toLong, get("seconds").toInt,
      get("trace") == "1", Paths.get(get("root")).toAbsolutePath, cores, base,
      get("hub-path-skew").toDouble, kv.getOrElse("source-digest", ""),
      kv.getOrElse("input-version", ""), kv.getOrElse("git-head", ""))
  }
}

/**
 * Entry point. `prepare` generates and caches the input of a (workload
 * profile, seed); `run` measures one workload on it and prints the result.
 * They are separate processes so that set-up time is measured from a fresh
 * JVM whether or not the input was cached: `run` exits with [[MissingInput]]
 * before any set-up when the input is not there yet.
 */
object Main {
  /** Exit code of `run` when the seed's input is not prepared yet. */
  val MissingInput = 3

  def main(args: Array[String]): Unit = {
    val o = Options.parse(args.toSeq.tail)
    args.head match {
      case "prepare" => prepare(o)
      case "run" => sys.exit(if (o.dataset.ready) Runner.run(o) else MissingInput)
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
  }

  def session(o: Options): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config(sparkConf(o))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Every Spark setting the benchmark changes from the defaults. */
  def sparkConf(o: Options): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> o.shufflePartitions.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> o.root.resolve("tmp/spark-local").toString,
    "spark.sql.warehouse.dir" -> o.root.resolve("tmp/warehouse").toString)

  private def prepare(o: Options): Unit = {
    val ds = o.dataset
    if (!ds.ready) ds.create(o.params, o.seed)
    System.err.println(s"[perfbench] input ${ds.dir}: ${ds.shapeJson}")
  }
}

/** One job attempt: timed only when the check passed. */
final case class Attempt(traced: Boolean, ok: Boolean, wallS: Double, cpuS: Double,
    peakMemMib: Double, layer: Map[String, Double], verdict: Option[String])

/** Hooks around a job; the self-test uses them to plant faults. */
final case class Hooks(
    prepare: Env => Unit = Runner.cleanSlate,
    tamper: Env => Unit = _ => ())

object Runner {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuS: Double = os.getProcessCpuTime / 1e9

  /** Default job preparation: empty the work directory and drop every
   *  cached block, so no job sees state an earlier job left. */
  def cleanSlate(env: Env): Unit = {
    Workloads.deleteTree(env.work)
    Files.createDirectories(env.work)
    env.spark.catalog.clearCache()
    env.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** Run `w.job` once, then check it. A job that throws or fails its check
   *  is a failed attempt and its time is never used. */
  def attempt(w: Workload, env: Env, listener: TaskListener, id: Int,
      hooks: Hooks = Hooks()): Attempt = {
    hooks.prepare(env)
    listener.take(env.spark)
    env.tracer.newRun(id)
    val layer = mutable.LinkedHashMap[String, Double]()
    val cpu0 = processCpuS
    val t0 = System.nanoTime()
    val err = try { w.job(env, layer); None } catch {
      case NonFatal(e) => Some(s"job threw $e")
    }
    val t1 = System.nanoTime()
    val cpu = processCpuS - cpu0
    val groups = listener.take(env.spark)
    hooks.tamper(env)
    val verdict = err.orElse(
      try w.check(env, layer) catch { case NonFatal(e) => Some(s"check threw $e") })
    val wall = (t1 - t0) / 1e9
    val peak = if (groups.isEmpty) 0.0 else groups.values.map(_.peakMemBytes).max / 1048576.0
    if (env.tracer.enabled) spanLayer(env.tracer, groups, layer, wall, t0, t1)
    Attempt(env.tracer.enabled, verdict.isEmpty, wall, cpu, peak, layer.toMap, verdict)
  }

  /** Per-span metrics of a traced attempt, named `<span>.<metric>`. */
  private def spanLayer(t: Tracer, groups: Map[String, GroupStats],
      layer: mutable.Map[String, Double], wall: Double, t0: Long, t1: Long): Unit = {
    val wallOf = t.runSpans.groupBy(_.name).map { case (n, ss) => n -> ss.map(_.seconds).sum }
    for (span <- Layers.Spans) {
      val g = groups.getOrElse(span, new GroupStats)
      layer(s"$span.wall_s") = wallOf.getOrElse(span, 0.0)
      layer(s"$span.task_cpu_s") = g.cpuNs / 1e9
      layer(s"$span.shuffle_mb") = g.shuffleWriteBytes / 1048576.0
      layer(s"$span.spill_mb") = g.spillBytes / 1048576.0
      layer(s"$span.task_skew") = g.taskSkew
      layer(s"$span.task_mem_peak_mib") = g.peakMemBytes / 1048576.0
      layer(s"$span.jobs") = g.jobs.toDouble
      layer(s"$span.failed_tasks") = g.failedTasks.toDouble
      layer(s"jvm.gc_s.$span") = t.gcSeconds(span)
      layer(s"spark.storage_mb_after.$span") = t.storageAfter(span)
    }
    for (span <- Seq("algos.pagerank", "algos.wcc")) {
      val steps = layer.getOrElse(s"$span.supersteps", 0.0)
      layer(s"$span.setup_s") =
        layer(s"$span.wall_s") - layer.getOrElse(s"$span.superstep_total_s", 0.0)
      layer(s"$span.jobs_per_superstep") =
        if (steps > 0) layer(s"$span.jobs") / steps else 0.0
    }
    layer("trace.uncovered_frac") = t.uncovered(t0, t1) / wall
  }

  /** End-to-end metrics of an untraced run. Times come from attempts that
   *  passed their check; a failed attempt only lowers `ok_frac`. Wall time
   *  is not among them: on a shared host it follows the steal time of the
   *  moment (see perfbench/README.md), so the record line carries it. */
  def endToEnd(attempts: Seq[Attempt], setupS: Double): Seq[(String, Double, String)] = {
    val ok = attempts.filter(_.ok)
    Seq(
      ("cpu_s", Workloads.median(ok.map(_.cpuS)), "s"),
      ("task_mem_peak_mib", Workloads.median(ok.map(_.peakMemMib)), "MiB"),
      ("ok_frac", ok.size.toDouble / attempts.size, "frac"),
      ("setup_s", setupS, "s"))
  }

  /** Measure one workload; prints the record line and the result line. */
  def run(o: Options): Int = {
    val ctx0 = RunContext.sample()
    val w = o.workload
    val ds = o.dataset
    require(ds.ready, s"input ${ds.dir} is missing: run the prepare step first")

    // set-up: from JVM start to a session with the inputs registered. A
    // process starts once, so a run has one set-up time.
    val jvmStartNs = System.nanoTime() -
      ManagementFactory.getRuntimeMXBean.getUptime * 1000000L
    val spark = Main.session(o)
    w.register(spark, ds)
    val setupS = (System.nanoTime() - jvmStartNs) / 1e9
    val expected = ds.expected
    val listener = new TaskListener
    spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer(spark, enabled = false)
    val env = new Env(spark, ds, expected, o.root.resolve("work").resolve(w.name), tracer)

    // Untraced, the first job runs on the fresh JVM, as a one-shot
    // `GdsApp` job does, and further jobs run while the window lasts.
    // Traced, an untraced warm-up job comes first and is not reported; then
    // a traced and an untraced job run per round, so the tracing overhead is
    // measured between warm jobs of the same window.
    val attempts = mutable.ArrayBuffer[Attempt]()
    if (o.trace) attempts += attempt(w, env, listener, 0)
    val windowStart = System.nanoTime()
    do {
      for (traced <- if (o.trace) Seq(true, false) else Seq(false)) {
        tracer.enabled = traced
        attempts += attempt(w, env, listener, attempts.size)
      }
    } while ((System.nanoTime() - windowStart) / 1e9 < o.seconds)
    tracer.enabled = false
    Runner.cleanSlate(env)
    val ctx1 = RunContext.sample()

    val measured = attempts.drop(if (o.trace) 1 else 0).toSeq
    val ok = measured.filter(a => a.ok && !a.traced)
    val okTraced = measured.filter(a => a.ok && a.traced)
    val failed = attempts.count(!_.ok)
    val med = (f: Attempt => Double, as: Seq[Attempt]) => Workloads.median(as.map(f))
    val perLayer = Layers.metrics.map { case (name, unit, _) =>
      val v = name match {
        case "trace.overhead_cpu_s" => med(_.cpuS, okTraced) - med(_.cpuS, ok)
        case "oracle.single_thread_s" => w.oracleSteps.map(expected.seconds.getOrElse(_, 0.0)).sum
        case "algos.lpa.jobs_per_iteration" =>
          med(_.layer.getOrElse("algos.lpa.jobs", 0.0), okTraced) / expected.lpaIterations
        case _ => med(_.layer.getOrElse(name, 0.0), okTraced)
      }
      (name, v, unit)
    }
    val reported =
      if (o.trace) perLayer else endToEnd(attempts.toSeq, setupS)
    val jobS = med(_.wallS, ok)
    val correct = failed == 0 && ok.nonEmpty && (!o.trace || okTraced.nonEmpty)

    if (o.trace) {
      val dir = Files.createDirectories(o.root.resolve("traces"))
      Files.writeString(dir.resolve(s"${w.name}-s${o.seed}-${System.currentTimeMillis()}.jsonl"),
        tracer.spansJson + "\n")
    }
    val metricsJson = Json.Raw(reported.map { case (n, v, u) =>
      s"${Json.str(n)}:${Json.obj("value" -> v, "unit" -> u)}" }.mkString("{", ",", "}"))
    println(Json.obj(
      "record" -> "perfbench",
      "workload" -> w.name, "seed" -> o.seed, "trace" -> o.trace,
      "oracle" -> (if (correct) "pass" else "fail"),
      "failures" -> attempts.flatMap(_.verdict).distinct.take(5),
      "input" -> Json.Raw(ds.shapeJson),
      "context" -> Json.Raw(RunContext.json(o, ctx0, ctx1)),
      "setup_s" -> setupS,
      "job_s" -> jobS,
      "edges_per_s" -> expected.simpleEdges / jobS,
      "attempts" -> attempts.map(a => Json.Raw(Json.obj("traced" -> a.traced, "ok" -> a.ok,
        "wall_s" -> a.wallS, "cpu_s" -> a.cpuS, "task_mem_peak_mib" -> a.peakMemMib))),
      "metrics" -> metricsJson))
    println(Json.obj("correct" -> correct, "attempted" -> attempts.size,
      "failed" -> failed, "metrics" -> metricsJson))
    spark.stop()
    if (ok.isEmpty) 1 else 0
  }
}
