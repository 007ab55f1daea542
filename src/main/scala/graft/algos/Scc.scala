package graft.algos

import graft.core._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Strongly Connected Components — gds.alpha.scc.*
 * (alpha/.../impl/scc/SccAlgorithm.java:34 is sequential iterative Tarjan;
 * SURVEY.md §2 maps it to the Spark-friendly forward/backward reachability
 * coloring). Algorithm (Orzan-style coloring, hardened per VERDICT r2 #5):
 *
 *   repeat until no unassigned vertices:
 *     0. TRIM: peel vertices with zero in-degree or zero out-degree in the
 *        unassigned subgraph — each is a singleton SCC (they can't lie on
 *        any cycle). A few bounded peel rounds per outer round strip the
 *        DAG fringe for one cheap job each.
 *     1. every unassigned vertex starts with priority xxhash64(id);
 *        propagate the max (priority, id) along FORWARD edges to fixpoint
 *        — color(v) = the highest-priority vertex that reaches v;
 *     2. from each color ROOT r (color(r) = r), propagate membership along
 *        BACKWARD edges inside the color class — vertices both reachable
 *        from r and reaching r form the SCC of r; label the SCC with its
 *        MAX MEMBER id (the output contract) and remove it.
 *
 * Hash priorities (not raw ids) are the worst-case guard: with id-ordered
 * colors a descending-id chain makes every round assign a single SCC
 * (O(n) outer rounds); with a pseudo-random priority permutation the
 * expected outer-round count is O(log n) on such chains, because each
 * round's color roots are the per-class priority maxima of a random
 * permutation. Results stay exact and deterministic: xxhash64 is a fixed
 * function, and the emitted component id is always max(member id).
 */
object Scc {

  /** Every outer round assigns at least one SCC (each color root always
   *  forms one), so the loop terminates without a cap; a finite
   *  `maxOuterIterations` is a user-supplied budget and hitting it with
   *  vertices still unassigned is an error, never a silent omission.
   *  `trimRoundsPerOuter` bounds the peel fixpoint per outer round — on a
   *  long path the full peel is O(n) rounds, so trimming takes the cheap
   *  fringe and leaves deep chains to the hash-colored rounds. */
  final case class Config(
      maxOuterIterations: Int = Int.MaxValue,
      trimRoundsPerOuter: Int = 3)

  /** @return (id, component) — component = max id in the SCC */
  def run(graph: PropertyGraph, config: Config = Config()): DataFrame =
    runWithStats(graph, config)._1

  /** Row gate for broadcasting node-sized frames into the edge-frame
   *  joins. Inside the AQE-off fast-iteration scope, checkpointed frames
   *  carry no stats, so Spark plans every node⋈edge join as sort-merge —
   *  measured 50-100 CPU-s per layout pass at 2.9M edges. The loop
   *  counters (remaining/changed/grew) give exact row counts for free;
   *  ≤4M rows ≈ ≤128 MiB of (id, color-struct) broadcast. Above the gate
   *  (the 10^12-file regime) the plan falls back to shuffled joins, the
   *  only correct choice there. */
  private val BroadcastMaxRows = 4L * 1000 * 1000

  /** run + outer-round count (coloring rounds, excluding trim peels) —
   *  the bound the DAG-chain regression test pins. */
  def runWithStats(graph: PropertyGraph, config: Config = Config()): (DataFrame, Int) = {
    def gate(df: DataFrame, rows: Long): DataFrame =
      if (rows <= BroadcastMaxRows) broadcast(df) else df
    val fwd = graph.edges.select(col("src"), col("dst")).distinct()
      .cutLineage()

    var unassigned = graph.nodes.select(col("id")).cutLineage()
    var result = graph.nodes.sparkSession.emptyDataFrame
    var first = true
    def addAssigned(assigned: DataFrame): Unit = {
      val resultNew = if (first) assigned.cutLineage()
                      else result.unionByName(assigned).cutLineage()
      val unassignedNew = unassigned
        .join(assigned.select(col("id")), Seq("id"), "left_anti")
        .cutLineage()
      // both new frames are materialized; the superseded ones can go
      // (release is a no-op on the initial non-checkpointed frames)
      Lineage.release(result)
      Lineage.release(unassigned)
      result = resultNew
      first = false
      unassigned = unassignedNew
    }

    var outer = 0
    var remaining = unassigned.count()
    val totalNodes = remaining
    // the unassigned semijoins are identity while nothing has been
    // assigned yet — skip them (round 1 dominates on cyclic graphs)
    def induced(edges: DataFrame): DataFrame =
      if (remaining == totalNodes) edges
      else edges
        .join(gate(unassigned.withColumnRenamed("id", "src"), remaining), Seq("src"))
        .join(gate(unassigned.withColumnRenamed("id", "dst"), remaining), Seq("dst"))
    def cpuNow(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }
    var lastCpu = cpuNow()
    def logPhase(phase: String, startNs: Long, detail: String): Unit = {
      val c = cpuNow()
      System.err.println(f"[scc] outer=$outer $phase ${(System.nanoTime - startNs) / 1e9}%.1fs " +
        f"cpu=${(c - lastCpu) / 1e9}%.1fs $detail")
      lastCpu = c
    }
    while (remaining > 0 && outer < config.maxOuterIterations) {
      outer += 1

      // phase 0: bounded trim — singleton SCCs with no in- or no out-edge
      // in the unassigned subgraph. One join + one anti-join per peel.
      var peel = 0
      var peeled = 1L
      val trimStart = System.nanoTime
      while (peeled > 0 && peel < config.trimRoundsPerOuter && remaining > 0) {
        val sub = induced(fwd)
        val onCycleCandidate = sub.select(col("src").as("id"))
          .intersect(sub.select(col("dst").as("id")))
        val trivial = unassigned.join(onCycleCandidate, Seq("id"), "left_anti")
          .cutLineage()
        peeled = trivial.count()
        if (peeled > 0) {
          addAssigned(trivial.select(col("id"), col("id").as("component")))
          remaining -= peeled
        }
        // addAssigned checkpointed everything derived from it
        Lineage.release(trivial)
        peel += 1
      }
      logPhase("trim", trimStart, s"peels=$peel remaining=$remaining")
      if (remaining <= 0) {
        // trim finished the graph; outer round did no coloring work.
        outer -= 1
      } else {
        // phase 1: forward max-(priority, id) fixpoint on the unassigned
        // subgraph. The struct max is a total order (hash ties broken by
        // id), so the fixpoint is deterministic under any parallelism.
        // Prepared layout (hash(src) + sorted, AQE-off checkpoint — see
        // PropertyGraph.pregelEdges): the fixpoint joins on src every
        // iteration, so neither exchange nor sort recurs on the edge side.
        val subStart = System.nanoTime
        val sub = Lineage.sortedCheckpoint(induced(fwd).repartition(col("src")), "src")

        // Frontier-gated scatter: max-propagation is monotone, so a vertex
        // whose color did not improve this round has nothing new to tell
        // its neighbors — only improved vertices rescatter (the same
        // ACTIVE gating Pregel gives WCC). Without it every round re-sends
        // ALL colors over ALL edges: O(E·rounds) instead of O(Σ frontier
        // out-degree), the dominant term of the old 300 CPU-s bench cost.
        logPhase("sub-layout", subStart, "")
        val colorStart = System.nanoTime
        import Pregel.{ACTIVE, CHANGED, DELTA}
        val ownColor = struct(xxhash64(col("id")).as("prio"), col("id").as("cid"))
        val coloring = Pregel.iterate(
          unassigned.select(col("id"), ownColor.as("color"), lit(true).as(ACTIVE),
            lit(true).as(CHANGED), lit(0.0).as(DELTA)),
          None, PregelConfig(maxIterations = Int.MaxValue)) { (colors, last) =>
          val better = sub
            .join(gate(colors.where(col(ACTIVE))
              .select(col("id").as("src"), col("color")), last.activeVertices), Seq("src"))
            .groupBy(col("dst").as("id")).agg(max("color").as("nc"))
          val improved = coalesce(col("nc"), col("color")) > col("color")
          StepPlan(colors.select(col("id"), col("color"))
            .join(better, Seq("id"), "left_outer")
            .select(col("id"),
              greatest(col("color"), coalesce(col("nc"), col("color"))).as("color"),
              improved.as(ACTIVE), improved.as(CHANGED), lit(0.0).as(DELTA)))
        }
        val colors = coloring.vertices

        logPhase("color", colorStart, s"rounds=${coloring.supersteps}")

        // phase 2: backward reachability of each color root within its
        // class. Restrict the reversed subgraph to SAME-COLOR endpoints
        // ONCE (propagation then stays in-class by construction — no
        // per-round color join), and expand only the newly-reached
        // frontier: total edge traffic is one pass over the intra-class
        // edges instead of O(members·rounds) re-expansion.
        val subCStart = System.nanoTime
        val subC = Lineage.sortedCheckpoint(sub
          .join(gate(colors.select(col("id").as("src"), col("color").as("cs")),
            remaining), Seq("src"))
          .join(gate(colors.select(col("id").as("dst"), col("color").as("cd")),
            remaining), Seq("dst"))
          .where(col("cs") === col("cd"))
          // reversed: phase 2 walks edges backward, and this loop also
          // joins on its (reversed) src every iteration
          .select(col("dst").as("src"), col("src").as("dst"))
          .repartition(col("src")), "src")
        logPhase("subC-layout", subCStart, "")
        val bwdStart = System.nanoTime
        var bwdRounds = 0
        var member = colors.where(col("id") === col("color")("cid"))
          .select(col("id")).cutLineage()
        var frontier = member
        var grew = member.count()
        while (grew > 0) {
          bwdRounds += 1
          val expand = subC
            .join(gate(frontier.withColumnRenamed("id", "src"), grew), Seq("src"))
            .select(col("dst").as("id")).distinct()
          val fresh = expand.join(gate(member, remaining), Seq("id"), "left_anti")
            .cutLineage()
          grew = fresh.count()
          if (grew > 0) {
            val nextMember = member.unionByName(fresh).cutLineage()
            Lineage.release(member)
            member = nextMember
          }
          if (frontier ne member) Lineage.release(frontier)
          frontier = fresh
        }
        Lineage.release(frontier)
        logPhase("backward", bwdStart, s"rounds=$bwdRounds")
        // re-attach each member's color for the output labeling
        val memberColored = member.join(
          gate(colors.select(col("id"), col("color")), remaining), Seq("id"))
        Lineage.release(sub)
        Lineage.release(subC)

        // output contract: component = max member id of the SCC
        val label = memberColored.groupBy(col("color"))
          .agg(max("id").as("component"))
        val assigned = memberColored.join(label, Seq("color"))
          .select(col("id"), col("component"))
        addAssigned(assigned)
        // result/unassigned are re-checkpointed; this round's working
        // frames can go
        Lineage.release(colors)
        Lineage.release(member)
        remaining = unassigned.count()
      }
    }
    if (remaining > 0)
      throw new IllegalStateException(
        s"SCC did not converge within ${config.maxOuterIterations} outer rounds; " +
          s"$remaining vertices unassigned")
    // result is checkpointed and handed to the caller; the rest can go
    Lineage.release(fwd)
    Lineage.release(unassigned)
    (result, outer)
  }
}
