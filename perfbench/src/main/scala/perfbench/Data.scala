package perfbench

import java.io._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.MessageTypeParser

/**
 * One generated input: the `code_files` table, the stored graph derived
 * from it by the oracle, and the oracle's expected results. Written once per
 * (params, seed) under `dir`; `ready.json` is written last and carries the
 * input's shape.
 */
final class Dataset(val dir: Path) {
  def codeFiles: String = dir.resolve("code_files").toString
  def nodes: String = dir.resolve("graph/nodes").toString
  def edges: String = dir.resolve("graph/edges").toString
  private def marker = dir.resolve("ready.json")
  private def expectedFile = dir.resolve("expected.bin")

  def ready: Boolean = Files.exists(marker)
  def shapeJson: String = Files.readString(marker).trim

  def expected: Expected = {
    val in = new ObjectInputStream(new BufferedInputStream(Files.newInputStream(expectedFile)))
    try in.readObject().asInstanceOf[Expected] finally in.close()
  }

  /** Generate, run the oracle and write everything. Parquet is written
   *  with the plain parquet writer, so preparing an input needs no Spark
   *  session. */
  def create(params: GenParams, seed: Long): Unit = {
    val t0 = System.nanoTime()
    val rows = Gen.generate(params, seed)
    val exp = Oracle.compute(rows)
    Workloads.deleteTree(dir) // what an interrupted earlier attempt left
    Files.createDirectories(dir)
    writeParquet(codeFiles, "code_files", rows.length) { (g, i) =>
      val r = rows(i)
      g.append("repo", r.repo).append("path", r.path).append("commit", r.commit)
        .append("lang", r.lang).append("content", r.content)
    }
    writeParquet(nodes, "nodes", exp.vertices) { (g, i) =>
      g.append("id", i.toLong).append("originalId", exp.repos(i))
    }
    writeParquet(edges, "edges", exp.edgeRows) { (g, i) =>
      g.append("src", exp.src(i).toLong).append("dst", exp.dst(i).toLong)
        .append("type", Oracle.Types(exp.typ(i).toInt)).append("weight", exp.weight(i).toDouble)
    }

    val out = new ObjectOutputStream(new BufferedOutputStream(Files.newOutputStream(expectedFile)))
    try out.writeObject(exp) finally out.close()
    val tmp = dir.resolve("ready.json.tmp")
    Files.writeString(tmp, Json.obj(
      "seed" -> seed, "params" -> params.toString, "rows" -> exp.rows,
      "repos" -> exp.vertices, "derived_edges" -> exp.edgeRows,
      "simple_edges" -> exp.simpleEdges, "max_degree" -> exp.maxDegree,
      "pagerank_supersteps" -> exp.prSupersteps, "wcc_supersteps" -> exp.wccSupersteps,
      "lpa_iterations" -> exp.lpaIterations,
      "triangles" -> exp.triangles.sum / 3,
      "content_mib" -> rows.map(_.content.length.toLong).sum / 1048576.0))
    Files.move(tmp, marker, StandardCopyOption.ATOMIC_MOVE)
    System.err.println(f"[perfbench] input prepared in ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  private val Schemas = Map(
    "code_files" -> """message code_files { required binary repo (STRING);
      required binary path (STRING); required binary commit (STRING);
      required binary lang (STRING); required binary content (STRING); }""",
    "nodes" -> "message nodes { required int64 id; required binary originalId (STRING); }",
    "edges" -> """message edges { required int64 src; required int64 dst;
      required binary type (STRING); required double weight; }""")

  /** `n` rows in four snappy parquet files of contiguous row ranges. */
  private def writeParquet(path: String, schema: String, n: Int)(fill: (Group, Int) => Unit): Unit = {
    val mt = MessageTypeParser.parseMessageType(Schemas(schema))
    val groups = new SimpleGroupFactory(mt)
    val parts = 4
    Files.createDirectories(Paths.get(path))
    for (p <- 0 until parts) {
      val w = ExampleParquetWriter.builder(new HPath(s"$path/part-$p.snappy.parquet"))
        .withType(mt).withConf(new Configuration())
        .withCompressionCodec(CompressionCodecName.SNAPPY).build()
      try (p * n / parts until (p + 1) * n / parts).foreach { i =>
        val g = groups.newGroup()
        fill(g, i)
        w.write(g)
      } finally w.close()
    }
  }
}
