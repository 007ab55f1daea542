package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

/** Names and units of the per-layer metrics a traced run prints. The list
 *  must match `per_layer` in BENCHMARK.json (the self-test checks it);
 *  perfbench/README.md says which end-to-end metric each should move. */
object Layers {
  /** Spans the benchmark sets around its calls into the program. */
  val Spans = Seq("ingest.sha", "ingest.ids", "ingest.edges", "core.load",
    "algos.pagerank", "algos.wcc", "algos.lpa", "algos.triangles", "algos.lcc",
    "core.checkpoint", "sink.write")

  private val pregel = Seq("wall_s" -> "s", "task_cpu_s" -> "s", "shuffle_mb" -> "MiB",
    "setup_s" -> "s", "supersteps" -> "count", "superstep_p50_ms" -> "ms",
    "superstep_max_ms" -> "ms", "messages" -> "count", "jobs_per_superstep" -> "ratio")

  private val bySpan: Seq[(String, Seq[(String, String)])] = Seq(
    "ingest.sha" -> Seq("wall_s" -> "s", "task_cpu_s" -> "s", "rows" -> "count",
      "bad_rows" -> "count"),
    "ingest.ids" -> Seq("wall_s" -> "s", "task_cpu_s" -> "s", "shuffle_mb" -> "MiB",
      "vertices" -> "count"),
    "ingest.edges" -> Seq("wall_s" -> "s", "task_cpu_s" -> "s", "shuffle_mb" -> "MiB",
      "spill_mb" -> "MiB", "task_skew" -> "ratio", "edge_rows" -> "count",
      "pairs_per_edge" -> "ratio"),
    "algos.pagerank" -> pregel,
    "algos.wcc" -> pregel,
    "algos.lpa" -> Seq("wall_s" -> "s", "task_cpu_s" -> "s", "shuffle_mb" -> "MiB",
      "jobs" -> "count", "jobs_per_iteration" -> "ratio"),
    "algos.triangles" -> Seq("wall_s" -> "s", "task_cpu_s" -> "s", "shuffle_mb" -> "MiB",
      "task_mem_peak_mib" -> "MiB", "task_skew" -> "ratio", "triangles" -> "count"),
    "algos.lcc" -> Seq("wall_s" -> "s"),
    "core.checkpoint" -> Seq("wall_s" -> "s", "bytes_written" -> "bytes", "files" -> "count",
      "superstep_p50_ms" -> "ms", "resume_s" -> "s", "resumed_from" -> "count"),
    "core.load" -> Seq("wall_s" -> "s"),
    "sink.write" -> Seq("wall_s" -> "s", "rows" -> "count", "bytes" -> "bytes"))

  /** Sizes of the work done, where more is better; every other metric is
   *  a cost, where less is better. */
  private val higherIsBetter = Set("ingest.sha.rows", "ingest.ids.vertices",
    "ingest.edges.edge_rows", "algos.triangles.triangles", "core.checkpoint.resumed_from",
    "sink.write.rows")

  /** (name, unit, better) of every per-layer metric. */
  val metrics: Seq[(String, String, String)] =
    (bySpan.flatMap { case (span, ms) => ms.map { case (m, u) => s"$span.$m" -> u } } ++
      Spans.filter(_.startsWith("algos.")).map(s => s"spark.storage_mb_after.$s" -> "MiB") ++
      Spans.map(s => s"jvm.gc_s.$s" -> "s") ++
      Spans.map(s => s"$s.failed_tasks" -> "count") ++
      Seq("trace.overhead_cpu_s" -> "s", "trace.uncovered_frac" -> "frac",
        "oracle.single_thread_s" -> "s"))
      .map { case (n, u) => (n, u, if (higherIsBetter(n)) "higher" else "lower") }
}

/** Host and configuration facts printed with every result. */
object RunContext {
  final case class Sample(load1: Double, stealJiffies: Long, totalJiffies: Long)

  def sample(): Sample = {
    val load = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    // first line of /proc/stat: cpu user nice system idle iowait irq softirq steal ...
    val cpu = scala.util.Try(Files.readAllLines(Paths.get("/proc/stat")).get(0)
      .split("\\s+").drop(1).take(8).map(_.toLong)).toOption
    Sample(load, cpu.map(_(7)).getOrElse(-1L), cpu.map(_.sum).getOrElse(-1L))
  }

  def json(o: Options, a: Sample, b: Sample): String = {
    val rt = ManagementFactory.getRuntimeMXBean
    import scala.jdk.CollectionConverters._
    Json.obj(
      "git_head" -> Option(o.gitHead).filter(_.nonEmpty),
      "source_sha256" -> o.sourceDigest,
      "master" -> s"local[${o.cores}]",
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "shuffle_partitions" -> o.shufflePartitions,
      "spark_conf" -> Main.sparkConf(o),
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "java_version" -> System.getProperty("java.version"),
      "heap_max_mib" -> Runtime.getRuntime.maxMemory / 1048576,
      "jvm_args" -> rt.getInputArguments.asScala.filterNot(_.startsWith("--add-opens")),
      "load1_start" -> a.load1, "load1_end" -> b.load1,
      "steal_jiffies_start" -> a.stealJiffies, "steal_jiffies_end" -> b.stealJiffies,
      "steal_frac" -> (if (a.totalJiffies < 0 || b.totalJiffies <= a.totalJiffies) None
        else Some((b.stealJiffies - a.stealJiffies).toDouble / (b.totalJiffies - a.totalJiffies))))
  }
}
