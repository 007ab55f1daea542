package graft

import org.apache.spark.sql.functions._

/** End-to-end CLI slice (SURVEY §7.2): create a durable parquet graph from
 *  a code_files table, run algorithms through the dispatch surface
 *  (including the r4 embedding trio), list and drop — all against a temp
 *  store on the shared test session. */
class GdsAppSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(): String =
    java.nio.file.Files.createTempDirectory("graft-cli").toString

  private def writeCodeFiles(dir: String): String = {
    // two commits + one shared path → a small connected repo graph
    val cf = Seq(
      ("r1", "a/f1", "c1", "scala", "// one"),
      ("r2", "a/f1", "c1", "scala", "// two"),
      ("r2", "b/f2", "c2", "java", "// three"),
      ("r3", "b/f2", "c2", "py", "// four"),
      ("r1", "c/f3", "c3", "py", "// five"),
      ("r3", "c/f3", "c3", "py", "// six"))
      .toDF("repo", "path", "commit", "lang", "content")
    val p = s"$dir/code_files.parquet"
    cf.write.parquet(p)
    p
  }

  test("create → run (classic + embedding trio) → list → drop") {
    val store = freshStore()
    val input = writeCodeFiles(freshStore())
    GdsApp.dispatch(spark, "create",
      Map("input" -> input, "graph" -> "g1"), store)
    assert(new java.io.File(s"$store/g1/nodes").exists())

    // classic algorithm through the CLI path
    GdsApp.dispatch(spark, "run",
      Map("algo" -> "wcc", "graph" -> "g1", "mode" -> "stream"), store)

    // embedding trio, write mode
    for ((algo, dim) <- Seq(("fastrp", 64), ("node2vec", 8), ("graphsage", 4))) {
      val out = s"${freshStore()}/$algo"
      GdsApp.dispatch(spark, "run",
        Map("algo" -> algo, "graph" -> "g1", "mode" -> "write",
          "output" -> out, "dim" -> dim.toString, "iterations" -> "1",
          "epochs" -> "1"), store)
      val emb = spark.read.parquet(out)
      assert(emb.count() === 3L, algo)
      assert(emb.select(size(col("embedding"))).distinct().head().getInt(0)
        === dim, algo)
    }

    GdsApp.dispatch(spark, "list", Map.empty, store)
    GdsApp.dispatch(spark, "drop", Map("graph" -> "g1"), store)
    assert(!new java.io.File(s"$store/g1").exists())
  }

  test("--checkpoint: lpa writes superstep state, triangles refuses before any work") {
    val store = freshStore()
    GdsApp.dispatch(spark, "create",
      Map("input" -> writeCodeFiles(freshStore()), "graph" -> "g3"), store)
    val lpaDir = s"${freshStore()}/lpa"
    GdsApp.dispatch(spark, "run",
      Map("algo" -> "lpa", "graph" -> "g3", "checkpoint" -> lpaDir), store)
    val supersteps = Option(new java.io.File(lpaDir).listFiles())
      .getOrElse(Array.empty).filter(_.getName.startsWith("superstep="))
    assert(supersteps.nonEmpty)
    assert(supersteps.forall(d => new java.io.File(d, "state/_SUCCESS").exists()))

    val triDir = s"${freshStore()}/triangles"
    val e = intercept[IllegalArgumentException] {
      GdsApp.dispatch(spark, "run",
        Map("algo" -> "triangles", "graph" -> "g3", "checkpoint" -> triDir), store)
    }
    assert(e.getMessage.contains("triangles"))
    assert(!new java.io.File(triDir).exists())
  }

  test("unknown algorithm and unknown command are errors, not exits") {
    val store = freshStore()
    GdsApp.dispatch(spark, "create",
      Map("input" -> writeCodeFiles(freshStore()), "graph" -> "g2"), store)
    intercept[RuntimeException] {
      GdsApp.dispatch(spark, "run",
        Map("algo" -> "nope", "graph" -> "g2"), store)
    }
    intercept[RuntimeException] {
      GdsApp.dispatch(spark, "frobnicate", Map.empty, store)
    }
  }
}
