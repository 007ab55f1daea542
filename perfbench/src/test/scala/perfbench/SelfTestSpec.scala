package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/**
 * The benchmark's own checks, on a tiny generated input: every workload runs
 * end to end and passes its oracle, traced and untraced; a corrupted result
 * and a leftover checkpoint of another seed are failed attempts whose time is
 * never reported; the traced metric list matches BENCHMARK.json.
 *
 * Run from perfbench/: `sbt test`.
 */
class SelfTestSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val root: Path = Paths.get("target", "selftest").toAbsolutePath
  private val tiny = GenParams(pathSkew = 0.0, contentMedian = 200, contentAlpha = 1.3,
    rows = 1500)

  private def options(w: Workload, seed: Long) =
    Options(w, seed, seconds = 0, trace = false, root, cores = 2, tiny,
      hubPathSkew = 1.3, sourceDigest = "", inputVersion = "selftest", gitHead = "")

  private lazy val spark: SparkSession = Main.session(options(Workloads.Build, 1))
  private lazy val listener = {
    val l = new TaskListener
    spark.sparkContext.addSparkListener(l)
    l
  }

  private def env(w: Workload, seed: Long, traced: Boolean = false): Env = {
    val ds = options(w, seed).dataset
    if (!ds.ready) ds.create(options(w, seed).params, seed)
    w.register(spark, ds)
    new Env(spark, ds, ds.expected, root.resolve("work").resolve(w.name),
      new Tracer(spark, traced))
  }

  override def afterAll(): Unit = spark.stop()

  for (w <- Workloads.all; traced <- Seq(false, true))
    test(s"${w.name} passes its oracle end to end (traced = $traced)") {
      val e = env(w, 1, traced)
      val a = Runner.attempt(w, e, listener, 1)
      assert(a.ok, a.verdict)
      if (traced) {
        assert(e.tracer.runSpans.map(_.name).contains("sink.write"))
        assert(a.layer("sink.write.rows") > 0)
      }
    }

  test("a corrupted result is a failed attempt and is not timed") {
    val e = env(Workloads.Iterate, 1)
    val corrupt = Hooks(tamper = { env =>
      val moved = s"${env.out}-orig"
      Files.move(Paths.get(env.out), Paths.get(moved))
      spark.read.parquet(moved)
        .withColumn("pagerank", when(col("id") === 0, col("pagerank") + 0.01)
          .otherwise(col("pagerank")))
        .write.parquet(env.out)
    })
    val bad = Runner.attempt(Workloads.Iterate, e, listener, 1, corrupt)
    assert(!bad.ok)
    assert(bad.verdict.exists(_.startsWith("pagerank of 0")), bad.verdict)

    val good = Runner.attempt(Workloads.Iterate, e, listener, 2)
    assert(good.ok, good.verdict)
    val metrics = Runner.endToEnd(Seq(bad.copy(cpuS = 0.001), good), 1.0)
      .map { case (n, v, _) => n -> v }.toMap
    assert(metrics("cpu_s") == good.cpuS)
    assert(metrics("ok_frac") == 0.5)
  }

  test("a leftover checkpoint of another seed fails the run, and the default clean-up removes it") {
    val other = env(Workloads.Checkpointed, 2)
    assert(Runner.attempt(Workloads.Checkpointed, other, listener, 1).ok)
    val e = env(Workloads.Checkpointed, 1)
    assert(Files.exists(e.checkpoints), "the seed-2 run should leave its checkpoints behind")
    val stale = Runner.attempt(Workloads.Checkpointed, e, listener, 2, Hooks(prepare = _ => ()))
    assert(!stale.ok, "resuming from another seed's state must not pass the oracle")
    assert(Runner.attempt(Workloads.Checkpointed, e, listener, 3).ok)
  }

  test("the traced metric list, units and directions are BENCHMARK.json's per_layer list") {
    val json = Files.readString(Paths.get("..", "BENCHMARK.json"))
    val perLayer = json.substring(json.indexOf("\"per_layer\""))
    val listed = """"name":\s*"([^"]+)",\s*"unit":\s*"([^"]+)",\s*"better":\s*"([^"]+)"""".r
      .findAllMatchIn(perLayer).map(m => (m.group(1), m.group(2), m.group(3))).toSeq
    assert(listed == Layers.metrics)
  }
}
