package perfbench

import scala.collection.mutable

/**
 * Everything a run checks the program against, computed once per input by
 * [[Oracle]] and cached beside the input. Vertex `i` is the i-th repository
 * in sorted order; edges are sorted by (src, dst, type).
 */
final case class Expected(
    rows: Long,
    repos: Array[String],
    src: Array[Int],
    dst: Array[Int],
    typ: Array[Byte],
    weight: Array[Int],
    simpleEdges: Long,
    maxDegree: Int,
    pagerank: Array[Double],
    prSupersteps: Int,
    component: Array[Int],
    wccSupersteps: Int,
    label: Array[Int],
    lpaIterations: Int,
    triangles: Array[Long],
    lcc: Array[Double],
    seconds: Map[String, Double]) {
  def vertices: Int = repos.length
  def edgeRows: Int = src.length
}

/**
 * Independent single-threaded reference, in plain Scala, no Spark. It
 * shares no code with the program: it derives the co-occurrence edges from
 * the generated rows and runs each algorithm by its definition.
 *
 *  - edges: per commit and per path group, distinct repos sorted by id, each
 *    linked to its next `WindowCap` successors; weight = linking groups;
 *  - PageRank: delta-form, init 1-d, undirected, parallel edges counted,
 *    tolerance 1e-7, at most 20 supersteps;
 *  - WCC: union-find, component = smallest vertex id;
 *  - LPA: synchronous, undirected, vote = summed edge weight, ties to the
 *    smaller label, at most 10 iterations;
 *  - triangles and LCC on the simple undirected graph.
 */
object Oracle {
  val WindowCap = 8
  val Types = Array("co_commit", "shared_path")
  private val Damping = 0.85
  private val Tolerance = 1e-7

  def compute(rows: Array[CodeFile]): Expected = {
    val seconds = mutable.LinkedHashMap[String, Double]()
    def timed[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      seconds(name) = (System.nanoTime() - t0) / 1e9
      r
    }

    val (repos, src, dst, typ, weight) = timed("derive")(derive(rows))
    val n = repos.length
    val g = new SimpleGraph(n, src, dst, weight)
    val (pr, prSteps) = timed("pagerank")(pageRank(g))
    val comp = timed("wcc")(wcc(g))
    val wccSteps = minLabelSupersteps(g)
    val (lab, lpaIter) = timed("lpa")(lpa(g))
    val (tri, lcc) = timed("triangles")(trianglesAndLcc(g))
    Expected(rows.length.toLong, repos, src, dst, typ, weight,
      g.pairs.toLong, if (n == 0) 0 else g.adj.map(_.length).max,
      pr, prSteps, comp, wccSteps, lab, lpaIter, tri, lcc, seconds.toMap)
  }

  private def derive(rows: Array[CodeFile])
      : (Array[String], Array[Int], Array[Int], Array[Byte], Array[Int]) = {
    val repos = rows.map(_.repo).distinct.sorted
    val idOf = repos.zipWithIndex.toMap
    val n = repos.length.toLong
    val counts = mutable.HashMap[Long, Int]()
    def groups(t: Int, key: CodeFile => String): Unit = {
      val members = mutable.HashMap[String, mutable.Set[Int]]()
      rows.foreach(r => members.getOrElseUpdate(key(r), mutable.HashSet[Int]()) += idOf(r.repo))
      members.valuesIterator.foreach { set =>
        val ids = set.toArray.sorted
        var i = 0
        while (i < ids.length) {
          var j = i + 1
          while (j < ids.length && j <= i + WindowCap) {
            val k = (ids(i) * n + ids(j)) * 2 + t
            counts(k) = counts.getOrElse(k, 0) + 1
            j += 1
          }
          i += 1
        }
      }
    }
    groups(0, _.commit)
    groups(1, _.path)
    val keys = counts.keysIterator.toArray.sorted
    (repos,
      keys.map(k => ((k / 2) / n).toInt),
      keys.map(k => ((k / 2) % n).toInt),
      keys.map(k => (k % 2).toByte),
      keys.map(counts))
  }

  /** Undirected view of the edge rows: per distinct pair the number of rows
   *  (parallel edges of different types) and their summed weight. */
  final class SimpleGraph(val n: Int, src: Array[Int], dst: Array[Int], w: Array[Int]) {
    private val nb = Array.fill(n)(mutable.ArrayBuilder.make[Int])
    private val mb = Array.fill(n)(mutable.ArrayBuilder.make[Int])
    private val wb = Array.fill(n)(mutable.ArrayBuilder.make[Long])
    var pairs = 0
    private var i = 0
    while (i < src.length) {
      var j = i
      var mult = 0
      var wsum = 0L
      while (j < src.length && src(j) == src(i) && dst(j) == dst(i)) {
        mult += 1; wsum += w(j); j += 1
      }
      val (a, b) = (src(i), dst(i))
      if (a != b) {
        nb(a) += b; mb(a) += mult; wb(a) += wsum
        nb(b) += a; mb(b) += mult; wb(b) += wsum
        pairs += 1
      }
      i = j
    }
    val adj: Array[Array[Int]] = nb.map(_.result())
    val mult: Array[Array[Int]] = mb.map(_.result())
    val wsum: Array[Array[Long]] = wb.map(_.result())
  }

  private def pageRank(g: SimpleGraph): (Array[Double], Int) = {
    val deg = g.mult.map(_.sum.toDouble)
    val rank = Array.fill(g.n)(1.0 - Damping)
    val delta = Array.fill(g.n)(1.0 - Damping)
    val active = Array.tabulate(g.n)(v => delta(v) > Tolerance && deg(v) > 0)
    var step = 0
    var converged = false
    while (!converged && step < 20) {
      val msg = new Array[Double](g.n)
      for (v <- 0 until g.n if active(v); k <- g.adj(v).indices)
        msg(g.adj(v)(k)) += delta(v) * g.mult(v)(k) / deg(v)
      var changed = false
      for (v <- 0 until g.n) {
        val inc = Damping * msg(v)
        rank(v) += inc
        delta(v) = inc
        active(v) = inc > Tolerance && deg(v) > 0
        changed ||= inc > Tolerance
      }
      step += 1
      converged = !changed
    }
    (rank, step)
  }

  private def wcc(g: SimpleGraph): Array[Int] = {
    val parent = Array.range(0, g.n)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    for (v <- 0 until g.n; u <- g.adj(v)) {
      val (a, b) = (find(v), find(u))
      if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
    }
    Array.tabulate(g.n)(find)
  }

  /** Supersteps synchronous min-label propagation takes, counting the
   *  last one, in which nothing changes. */
  private def minLabelSupersteps(g: SimpleGraph): Int = {
    var label = Array.range(0, g.n)
    var steps = 0
    var changed = true
    while (changed) {
      val cur = label
      label = Array.tabulate(g.n)(v => (cur(v) +: g.adj(v).map(cur)).min)
      changed = (0 until g.n).exists(v => label(v) != cur(v))
      steps += 1
    }
    steps
  }

  private def lpa(g: SimpleGraph): (Array[Int], Int) = {
    var label = Array.range(0, g.n)
    var iter = 0
    var changed = 1
    while (changed > 0 && iter < 10) {
      val cur = label
      val next = Array.tabulate(g.n) { v =>
        if (g.adj(v).isEmpty) cur(v)
        else {
          val votes = mutable.HashMap[Int, Long]()
          for (k <- g.adj(v).indices) {
            val l = cur(g.adj(v)(k))
            votes(l) = votes.getOrElse(l, 0L) + g.wsum(v)(k)
          }
          votes.maxBy { case (l, w) => (w, -l) }._1
        }
      }
      changed = (0 until g.n).count(v => next(v) != cur(v))
      label = next
      iter += 1
    }
    (label, iter)
  }

  private def trianglesAndLcc(g: SimpleGraph): (Array[Long], Array[Double]) = {
    val deg = g.adj.map(_.length)
    def before(a: Int, b: Int) = deg(a) < deg(b) || (deg(a) == deg(b) && a < b)
    val out = Array.tabulate(g.n)(v => g.adj(v).filter(before(v, _)).sorted)
    val tri = new Array[Long](g.n)
    for (v <- 0 until g.n; u <- out(v)) {
      val (x, y) = (out(v), out(u))
      var i = 0
      var j = 0
      while (i < x.length && j < y.length) {
        if (x(i) < y(j)) i += 1
        else if (x(i) > y(j)) j += 1
        else { tri(v) += 1; tri(u) += 1; tri(x(i)) += 1; i += 1; j += 1 }
      }
    }
    val lcc = Array.tabulate(g.n) { v =>
      val d = deg(v).toDouble
      if (d < 2.0) 0.0 else 2.0 * tri(v) / (d * (d - 1.0))
    }
    (tri, lcc)
  }
}
