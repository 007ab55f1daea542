package graft.tools

import graft.core._
import graft.algos.NodeSimilarity
import graft.queries.GraphQueries
import org.apache.spark.sql.SparkSession

/**
 * Ad-hoc experiment driver for measurements that are too heavy for the
 * per-round bench but document a scale property (BASELINE.md):
 *
 *   sbt -batch "runMain graft.tools.AdhocBench nodesim_full /root/testdata/sf0.1"
 *
 * `nodesim_full` runs NodeSimilarity topK=5 over the FULL graph — no
 * endpoint bound — exercising the bounded-heap topK pushdown on the
 * unrestricted quadratic candidate stream (VERDICT r2 #7 done-condition).
 */
object AdhocBench {
  def main(args: Array[String]): Unit = {
    val what = args.headOption.getOrElse("nodesim_full")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    what match {
      case "nodesim_full" =>
        val (g, _) = GraphQueries.simpleGraph(spark, sfDir)
        val warm = System.nanoTime()
        System.err.println(s"[adhoc] graph cached in ${(System.nanoTime() - warm) / 1e9}s")
        val t0 = System.nanoTime()
        val n = NodeSimilarity.run(g, NodeSimilarity.Config(topK = Some(5),
          orientation = Orientation.Undirected)).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"experiment":"nodesim_full","sf":"$sfDir","rows":$n,"seconds":$sec%.1f}""")
      case "hyperball_full" =>
        // full-graph sketched centralities — the 100× scale path measured
        // at bench scale (the per-round query runs the induced subgraph)
        val (g, _) = GraphQueries.simpleGraph(spark, sfDir)
        val t0 = System.nanoTime()
        val n = graft.algos.HyperBall.run(g).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"experiment":"hyperball_full","sf":"$sfDir","rows":$n,"seconds":$sec%.1f}""")
      case other => sys.error(s"unknown experiment: $other")
    }
    spark.stop()
  }
}
