package perfbench

import java.util.SplittableRandom

/**
 * Parameters of the seeded `code_files` generator. The sizes in [[Gen]] give
 * the shape of the sf0.1-derived graph (`GraphQueries.codeFiles` over TPC-H
 * `lineitem`) at a smaller row count; perfbench/README.md compares the two.
 *
 * @param pathSkew      Zipf exponent of path popularity, the hub skew of the
 *                      derived graph (repos per path); 0 is uniform, as in sf0.1
 * @param contentMedian median content length in bytes
 * @param contentAlpha  Pareto tail exponent of the content length
 * @param rows          table rows (one file version per row)
 */
final case class GenParams(
    pathSkew: Double,
    contentMedian: Int,
    contentAlpha: Double,
    rows: Int = 20000) {
  require(rows >= Gen.RowsPerRepo * 2, s"bad generator size: $this")
  def repos: Int = rows / Gen.RowsPerRepo
  def paths: Int = (rows / Gen.RowsPerPath).toInt

  /** Short stable digest of the parameters, part of every cache key. */
  def key: String = Digest.hex(toString).take(10)
}

final case class CodeFile(repo: String, path: String, commit: String,
    lang: String, content: String)

/**
 * Deterministic `code_files` generator: the same (params, seed) always gives
 * the same rows, in the same order. It is written independently of the
 * program's own synthesizer, so the program only ever sees generated rows.
 *
 * Shape, as in the sf0.1 mapping (an order's line items are a commit, a part
 * is a repository): a commit has 1 to `CommitWidth` rows, each in a uniformly
 * drawn repository and with a path drawn by Zipf(`pathSkew`) popularity. So
 * rows per repository and, at skew 0, repositories per path are
 * Poisson-like. Content length is Pareto-tailed so that hashing the content
 * is real work.
 */
object Gen {
  val ChainLength = 6
  // the sf0.1 mapping's shape: rows per repository (part), rows per path
  // (supplier and part % 64), and at most 7 rows per commit (order)
  val RowsPerRepo = 30
  val RowsPerPath = 9.4
  val CommitWidth = 7
  val ContentMax: Int = 256 * 1024
  private val Langs = Array("scala", "java", "py", "md", "rs")

  def generate(p: GenParams, seed: Long): Array[CodeFile] = {
    val rng = new SplittableRandom(seed)
    val repoNames = Array.tabulate(p.repos)(i => f"org${i % 89}%02d/repo$i%05d")
    // popularity rank -> path, so popular paths are spread over the name order
    val perm = shuffled(p.paths, rng)
    val pathCdf = zipfCdf(p.paths, p.pathSkew)
    val filler = {
      val line = "  val field = compute(input, 42) // synthetic body line\n"
      val sb = new java.lang.StringBuilder(ContentMax + line.length)
      while (sb.length < ContentMax) sb.append(line)
      sb.toString
    }
    // Pareto scale chosen so that the median length is contentMedian
    val xm = p.contentMedian / math.pow(2.0, 1.0 / p.contentAlpha)

    val out = new Array[CodeFile](p.rows)
    var n = 0
    def emit(repo: String, path: String, commit: String, lang: String, len: Int): Unit = {
      val header = s"// $repo:$path@$commit #$n\n"
      out(n) = CodeFile(repo, path, commit, lang,
        header + filler.substring(0, math.max(0, len - header.length)))
      n += 1
    }
    // Two fixed structures keep the iteration counts the same on every seed
    // (the random part converges in fewer steps): a chain of forks, each
    // sharing one commit with the next, makes WCC take ChainLength
    // supersteps; a repo and its only fork swap labels on every synchronous
    // LPA iteration, so LPA always runs its 10 iterations.
    for (i <- 0 until ChainLength - 1; r <- Seq(i, i + 1))
      emit(f"chain/fork$r%02d", f"local/chain$r%02d/link$i.md", f"c0ffee$i%034d", "md", 300)
    emit("twin/origin", "local/twin/a.md", "7e1" + "0" * 37, "md", 300)
    emit("twin/zfork", "local/twin/b.md", "7e1" + "0" * 37, "md", 300)
    while (n < p.rows) {
      val commit = f"${rng.nextLong()}%016x${rng.nextLong()}%016x".take(40)
      val width = 1 + rng.nextInt(CommitWidth)
      for (_ <- 0 until width if n < p.rows) {
        val k = perm(sample(pathCdf, rng))
        val lang = Langs(k % Langs.length)
        emit(repoNames(rng.nextInt(p.repos)), f"s${k % 1000}%03d/f$k%06d.$lang", commit, lang,
          math.min(ContentMax, (xm / math.pow(1.0 - rng.nextDouble(), 1.0 / p.contentAlpha)).toInt))
      }
    }
    out
  }

  private def shuffled(n: Int, rng: SplittableRandom): Array[Int] = {
    val a = Array.range(0, n)
    var i = n - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  private def sample(cdf: Array[Double], rng: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
  }
}

object Digest {
  def hex(s: String): String = hex(s.getBytes("UTF-8"))
  def hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map(x => f"${x & 0xff}%02x").mkString
}
