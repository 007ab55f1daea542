package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Task metrics summed over the jobs of one job group (one span). */
final class GroupStats {
  var jobs = 0
  var failedTasks = 0
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakMemBytes = 0L
  /** Task run times (ms) per stage. */
  val runMs = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()

  /** Slowest over median task of the stage with the most task time: how
   *  unevenly the heaviest step split its work. */
  def taskSkew: Double =
    if (runMs.isEmpty) 0.0
    else {
      val s = runMs.values.maxBy(_.sum).sorted
      s.last.toDouble / math.max(1L, s(s.length / 2))
    }
}

/**
 * Sums task metrics per job group. Untraced runs set no job group, so all
 * their tasks land in the "" group; that is enough for the end-to-end peak
 * task memory and failed-task count.
 */
final class TaskListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = mutable.HashMap[String, GroupStats]()

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    e.stageIds.foreach(stageGroup.put(_, g))
    synchronized(groups.getOrElseUpdate(g, new GroupStats).jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageGroup.put(e.stageInfo.stageId, groupOf(e.properties))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = groups.getOrElseUpdate(stageGroup.getOrDefault(e.stageId, ""), new GroupStats)
    if (!e.taskInfo.successful) s.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
      s.peakMemBytes = math.max(s.peakMemBytes, m.peakExecutionMemory)
      s.runMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += m.executorRunTime
    }
  }

  /** Wait for pending events, then hand over and reset the sums. */
  def take(spark: SparkSession): Map[String, GroupStats] = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      val out = groups.toMap
      groups.clear()
      out
    }
  }
}

final case class Span(run: Int, name: String, parent: Option[String],
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def json: String = Json.obj("run" -> run, "name" -> name, "parent" -> parent,
    "start_ns" -> startNs, "end_ns" -> endNs)
}

/**
 * Spans around the benchmark's calls into the program. Disabled, `span` is
 * a plain call; enabled, it tags the Spark jobs with the span's name as job
 * group and records wall time, GC time and storage held after the call.
 * Spans stay in memory until [[Tracer.spansJson]] is written out.
 */
final class Tracer(spark: SparkSession, var enabled: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private val gcMs = mutable.HashMap[String, Long]().withDefaultValue(0L)
  private val storageMb = mutable.HashMap[String, Double]()
  private var run = 0
  private val stack = mutable.Stack[String]()

  def newRun(id: Int): Unit = {
    run = id; gcMs.clear(); storageMb.clear()
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val parent = stack.headOption
      stack.push(name)
      sc.setJobGroup(name, name, interruptOnCancel = false)
      val gc0 = Tracer.gcMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        gcMs(name) += Tracer.gcMillis() - gc0
        stack.pop()
        parent match {
          case Some(p) => sc.setJobGroup(p, p, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        spans += Span(run, name, parent, t0, t1)
        if (name.startsWith("algos."))
          storageMb(name) = sc.getRDDStorageInfo
            .map(i => i.memSize + i.diskSize).sum / 1048576.0
      }
    }

  def runSpans: Seq[Span] = spans.filter(_.run == run).toSeq
  def gcSeconds(name: String): Double = gcMs(name) / 1000.0
  def storageAfter(name: String): Double = storageMb.getOrElse(name, 0.0)

  /** Seconds of [t0, t1] that no top-level span of the current run covers. */
  def uncovered(t0: Long, t1: Long): Double = {
    val top = runSpans.filter(_.parent.isEmpty).sortBy(_.startNs)
    var covered = 0L
    var end = t0
    top.foreach { s =>
      val a = math.max(s.startNs, end)
      val b = math.min(s.endNs, t1)
      if (b > a) { covered += b - a; end = b }
    }
    (t1 - t0 - covered) / 1e9
  }

  def spansJson: String = spans.map(_.json).mkString("\n")
}

object Tracer {
  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}
