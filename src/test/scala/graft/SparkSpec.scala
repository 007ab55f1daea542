package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.PropertyGraph

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Tiny GDL-ish builder: edges by (src, dst) pairs over named nodes —
   *  the role of the reference's TestSupport.fromGdl (test-utils/.../TestSupport.java:112). */
  def graphOf(nodeCount: Int, edges: Seq[(Long, Long)],
      weights: Map[(Long, Long), Double] = Map.empty): PropertyGraph = {
    import spark.implicits._
    val nodes = spark.range(nodeCount).toDF("id")
    val e = edges.map { case (s, d) =>
      (s, d, "REL", weights.getOrElse((s, d), 1.0))
    }.toDF("src", "dst", "type", "weight")
    PropertyGraph(nodes, e)
  }

  /** Seeded random weighted graph on ids 0 until n: `m` edges between
   *  distinct nodes (parallel edges possible), weights uniform in [1, 10). */
  def randomGraph(n: Int, m: Int, seed: Long): PropertyGraph = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val e = Seq.fill(m) {
      val s = rnd.nextInt(n)
      (s.toLong, ((s + 1 + rnd.nextInt(n - 1)) % n).toLong, "REL", 1.0 + 9.0 * rnd.nextDouble())
    }.toDF("src", "dst", "type", "weight")
    PropertyGraph(spark.range(n).toDF("id"), e)
  }

  def collectMap[T](df: DataFrame)(implicit num: Numeric[T] = null): Map[Long, Any] =
    df.collect().map(r => r.getLong(0) -> r.get(1)).toMap

  def scores(df: DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  def longs(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
}
