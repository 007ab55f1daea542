package graft
import org.apache.spark.sql.SparkSession
import graft.core.CacheHygiene

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Default to the machine (capped 32), exactly like Verify — the r3
    // verdict flagged the fixed "4": an unset SPARK_GRAFT_CPUS silently
    // ran the whole bench at local[4] with 4 shuffle partitions (2-3×
    // slower on this suite).
    val defaultCpus = math.min(Runtime.getRuntime.availableProcessors, 32)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // ContextCleaner cleanup of shuffle files / broadcast blocks is
      // GC-driven; under a 48 GiB heap a 50-query run may never GC, so
      // metadata piles up for the whole run. Force a periodic sweep.
      .config("spark.cleaner.periodicGC.interval", "45s")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val maxHeapMiB = Runtime.getRuntime.maxMemory() >> 20
    System.err.println(s"[bench] maxHeap=${maxHeapMiB}MiB " +
      s"cpus=$cpus aqe=${spark.conf.get("spark.sql.adaptive.enabled", "true")} sf=$sfDir")
    // Warm EVERY shared cache (ingest graph, simple graph, induced
    // subgraphs) so (a) per-query timings measure the operator and (b) the
    // persisted-RDD snapshot below cleanly separates shared caches from
    // per-query garbage.
    val w0 = System.nanoTime()
    val warmupSec = try {
      graft.queries.GraphQueries.warmShared(spark, sfDir)
      (System.nanoTime() - w0) / 1e9
    } catch { case _: Throwable => -1.0 }
    val keep = CacheHygiene.persistedIds(spark)
    System.err.println(f"[bench] warmup (ingest+caches): $warmupSec%.1fs sharedRdds=${keep.size}")
    // optional subset for A/B isolation runs (comma-separated names); the
    // driver never sets this — full order is the default.
    val subset = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val ordered = (SparkEntry.orderedQueryNames
      .flatMap(n => SparkEntry.queries.get(n).map(n -> _)) ++
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filterNot { case (n, _) => SparkEntry.orderedQueryNames.contains(n) })
      .filter { case (n, _) => subset.forall(_.contains(n)) }
    // Fixed canary: a count over the cached simple-edge frame. Cache
    // alive → milliseconds, evicted → full re-derivation. Logged per
    // query so any future degradation is attributable from the log alone.
    def canaryMs(): Double = try {
      val t = System.nanoTime()
      graft.queries.GraphQueries.simpleGraph(spark, sfDir)._1.edges.count()
      (System.nanoTime() - t) / 1e6
    } catch { case _: Throwable => -1.0 }
    // Process CPU seconds (all local[k] executor threads run in this JVM,
    // so this is the whole query's compute). Wall time on a shared host
    // includes neighbor contention; the wall/CPU pair makes a slow query
    // attributable from the artifact alone: CPU up = the plan got more
    // expensive, wall up at flat CPU = the host was busy.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def cpuSec(): Double = osBean.getProcessCpuTime / 1e9
    val results = ordered.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val c0 = cpuSec()
      // a thrown query is marked failed: its short time is not a fast query
      val n = try fn(spark, sfDir).count() catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); -1L }
      val status = if (n < 0) "failed" else "ok"
      val sec = (System.nanoTime() - t0) / 1e9
      val cpu = cpuSec() - c0
      // Release this query's result/checkpoint blocks — across ~50 queries
      // they otherwise fill storage memory and evict the shared caches
      // (the r3 full-run 10-30× degradation).
      val released = CacheHygiene.releaseAllExcept(spark, keep)
      val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
      System.err.println(f"[bench] $name: $status $sec%.1fs cpu=$cpu%.1fs ($n rows, aqe=$aqe, " +
        f"released=$released, ${CacheHygiene.storageLine(spark, keep)}, canary=${canaryMs()}%.0fms)")
      (name, sec, cpu, status)
    }
    val qs = results.map { case (k, v, _, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val cs = results.map { case (k, _, c, _) => s"\"" + k + "\":" + f"$c%.3f" }
      .mkString("{", ",", "}")
    val ss = results.map { case (k, _, _, st) => s"\"$k\":\"$st\"" }
      .mkString("{", ",", "}")
    val failed = results.count(_._4 == "failed")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val totalCpu = results.map(_._3).sum
    val loadAvg = osBean.getSystemLoadAverage
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""status":$ss,"failed":$failed,""" +
      s""""cpuSeconds":$cs,"totalCpuSec":${f"$totalCpu%.1f"},"loadAvgEnd":${f"$loadAvg%.1f"},""" +
      s""""warmupSec":$warmupSec,"cpus":$cpus,"maxHeapMiB":$maxHeapMiB,"sf":"$sfDir"}"""
    // stdout (unprefixed: build.sbt sets run/outputStrategy := StdoutOutput so
    // sbt does not wrap forked output in "[info] ") + a known file path, so
    // the driver's parse can't miss it either way.
    println(line)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("bench.json"), line + "\n")
    catch { case _: Throwable => () }
    spark.stop()
  }
}
