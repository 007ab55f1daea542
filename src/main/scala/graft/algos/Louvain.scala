package graft.algos

import graft.core._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Modularity Optimization — gds.beta.modularityOptimization.* — the
 * parallel Louvain phase 1 of the reference
 * (algo/.../beta/modularity/ModularityOptimization.java:50-387, after Lu
 * et al. 2015). The reference K1-colors the graph so that shared-memory
 * threads never move two adjacent nodes in the same sweep; a synchronous
 * Spark superstep has no races to avoid, and sequencing one Spark job
 * chain per color is a driver-side scale-killer (O(colors·iterations)
 * jobs — colors ≈ max degree on a link graph). Instead every iteration
 * runs TWO all-node gain supersteps, the mover set gated by the parity of
 * xxhash64(id, iteration): a pseudo-random HALF of the nodes may move in
 * the first sub-sweep, the other half in the second. The gate is the
 * deterministic oscillation guard for the classic A↔B swap cycle (both
 * endpoints moving toward each other on the same stale view): because the
 * hash is salted with the iteration number, any adjacent pair lands in
 * the same sub-sweep only ~half the iterations, so no pair can oscillate
 * indefinitely — a static id-parity gate left same-parity pairs (e.g.
 * ids 2 and 4) permanently co-scheduled (ADVICE r2). Moves happen only on
 * strictly positive gain, so modularity is non-decreasing in expectation
 * and the tolerance test terminates the loop.
 *
 * Gain of moving node i to community c (constant factors dropped — only
 * the argmax matters):  k_{i,c} − k_i · Σtot'(c) / (2m)
 * where k_{i,c} = weight from i into c (excluding i's self-loop), k_i =
 * weighted degree of i INCLUDING self-loop weight (A_ii convention: the
 * symmetric view counts a self-loop twice, so contracted-graph internal
 * weight keeps m and k_i invariant across Louvain levels), Σtot'(c)
 * excludes i when c is i's own community. Ties → smaller community id.
 * Defaults mirror the reference: maxIterations 10, tolerance 1e-4 on
 * modularity delta (ModularityOptimizationBaseConfig).
 */
object ModularityOptimization {

  final case class Config(
      maxIterations: Int = 10,
      tolerance: Double = 1e-4,
      seedProperty: Option[String] = None)

  final case class Result(communities: DataFrame, modularity: Double,
      ranIterations: Int)

  /** Symmetric weighted edge view (both directions), parallel edges summed.
   *  Self-loops are KEPT: the undirected union lists a loop twice, giving
   *  the standard A_ii = 2·w(loop) diagonal, which is what makes per-level
   *  modularities comparable after contraction (ADVICE r1). */
  private def symEdges(graph: PropertyGraph): DataFrame =
    graph.aggregated(Orientation.Undirected, Aggregation.Sum)

  def run(graph: PropertyGraph, config: Config = Config()): Result = {
    val ew = symEdges(graph).cutLineage()
    val m2 = ew.agg(sum("weight")).head().getDouble(0) // = 2m (each edge twice)
    if (m2 == 0.0) {
      val triv = graph.nodes.select(col("id"), col("id").as("community"))
      return Result(triv, 0.0, 0)
    }
    // neighbor weights for gain computation: diagonal excluded (a node's
    // self-loop follows it into any community — constant across choices).
    val ewNoSelf = ew.where(col("src") =!= col("dst"))

    // weighted degrees k_i (self-loops counted twice via the symmetric view)
    val degw = ew.groupBy(col("src").as("id")).agg(sum("weight").as("k"))
    val nodes = graph.nodes.select(col("id"))
      .join(degw, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("k"), lit(0.0)).as("k"))
      .cutLineage()

    val initComm = config.seedProperty match {
      case Some(p) => graph.nodes.select(col("id"), col(p).cast("long").as("community"))
      case None    => nodes.select(col("id"), col("id").as("community"))
    }
    var comm = initComm.cutLineage()

    var lastQ = modularity(ew, comm, m2)
    var iter = 0
    var improved = true
    while (improved && iter < config.maxIterations) {
      val iterT0 = System.nanoTime()
      // each sub-sweep cuts lineage: the next sweep's expressions reference
      // the community frame ~4x (ctot/kic/cur/stay), so it must be
      // MATERIALIZED or those references re-execute the whole prior plan
      // (measured: sharing one cut across both sweeps made iterations
      // ~1.5x slower, not faster).
      var subComm = comm
      for (parity <- 0 to 1) {
        val ctot = subComm.join(nodes, Seq("id"))
          .groupBy("community").agg(sum("k").as("tot"))
        val active = nodes
          .where(pmod(xxhash64(col("id"), lit(iter)), lit(2)) === parity)
          .select(col("id"))

        // k_{i,c}: weight from each active node into each neighbor community
        val kic = ewNoSelf
          .join(active.withColumnRenamed("id", "src"), Seq("src"))
          .join(subComm.select(col("id").as("dst"), col("community")), Seq("dst"))
          .groupBy(col("src").as("id"), col("community"))
          .agg(sum("weight").as("kic"))

        val cur = subComm.select(col("id"), col("community").as("curComm"))
        val cand = kic
          .join(cur, Seq("id"))
          .join(nodes, Seq("id"))
          .join(ctot, Seq("community"))
          .select(col("id"), col("community"), col("curComm"),
            (col("kic") - col("k") *
              (col("tot") - when(col("community") === col("curComm"), col("k"))
                .otherwise(0.0)) / m2).as("gain"))

        // best candidate per node: gain desc, community asc; include an
        // implicit "stay" option with the gain of the current community
        // (or 0 when the node has no edge into it).
        val stay = cur.join(active, Seq("id"))
          .join(nodes, Seq("id"))
          .join(ctot.withColumnRenamed("community", "curComm"), Seq("curComm"))
          .select(col("id"), col("curComm").as("community"), col("curComm"),
            (lit(0.0) - col("k") * (col("tot") - col("k")) / m2).as("gain"))

        val best = cand.unionByName(stay)
          .groupBy("id")
          .agg(expr("max_by(named_struct('community', community, 'gain', gain)," +
            " named_struct('g', gain, 'nc', -community))").as("b"),
            max(when(col("community") === col("curComm"), col("gain"))).as("curGain"))
          .select(col("id"), col("b.community").as("newComm"),
            col("b.gain").as("bestGain"), coalesce(col("curGain"), lit(0.0)).as("curGain"))
          .where(col("bestGain") > col("curGain"))
          .select(col("id"), col("newComm"))

        val next = subComm.join(best, Seq("id"), "left_outer")
          .select(col("id"), coalesce(col("newComm"), col("community")).as("community"))
          .cutLineage()
        if (!(subComm eq comm)) Lineage.release(subComm)
        subComm = next
      }
      Lineage.release(comm)
      comm = subComm
      val q = modularity(ew, comm, m2)
      improved = q - lastQ > config.tolerance
      System.err.println(f"[modopt] iter=$iter q=$q%.6f dq=${q - lastQ}%.2e " +
        f"wall=${(System.nanoTime() - iterT0) / 1e9}%.1fs")
      lastQ = q
      iter += 1
    }
    Result(comm, lastQ, iter)
  }

  /** Q = Σ_c [ Σin(c)/(2m) − (Σtot(c)/(2m))² ] over the symmetric view
   *  (diagonal included in both Σin and k — level-invariant normalization). */
  def modularity(ew: DataFrame, comm: DataFrame, m2: Double): Double = {
    val withComm = ew
      .join(comm.select(col("id").as("src"), col("community").as("cs")), Seq("src"))
      .join(comm.select(col("id").as("dst"), col("community").as("cd")), Seq("dst"))
    val sin = withComm.where(col("cs") === col("cd"))
      .agg(coalesce(sum("weight"), lit(0.0))).head().getDouble(0) // counts both dirs = 2·win
    val degw = ew.groupBy(col("src")).agg(sum("weight").as("k"))
    val stot = degw.join(comm.select(col("id").as("src"), col("community")), Seq("src"))
      .groupBy("community").agg(sum("k").as("tot"))
      .agg(coalesce(sum(col("tot") * col("tot")), lit(0.0))).head().getDouble(0)
    sin / m2 - stot / (m2 * m2)
  }
}

/**
 * Louvain — gds.louvain.* (algo/.../louvain/Louvain.java:49-295):
 * multi-level modularity. Each level runs ModularityOptimization, then
 * contracts the graph by community (edge weights summed — the
 * Aggregation.SUM coarsening of Louvain.java:176-217) and repeats while
 * modularity improves by > tolerance, up to maxLevels (10). Returns the
 * final flat assignment, the dendrogram and per-level modularities.
 */
object Louvain {

  final case class Config(
      maxLevels: Int = 10,
      maxIterations: Int = 10,
      tolerance: Double = 1e-4,
      seedProperty: Option[String] = None)

  final case class Result(communities: DataFrame,
      dendrogram: Seq[DataFrame], modularities: Seq[Double])

  def run(graph: PropertyGraph, config: Config = Config()): Result = {
    var g = PropertyGraph(
      graph.nodes.select(col("id")),
      graph.aggregated(Orientation.Natural, Aggregation.Sum)
        .withColumn("type", lit("REL"))
        .select(col("src"), col("dst"), col("type"), col("weight")))
    // flat: original id -> community at the current depth
    var flat = config.seedProperty match {
      case Some(p) => graph.nodes.select(col("id"), col(p).cast("long").as("community"))
      case None    => graph.nodes.select(col("id"), col("id").as("community"))
    }
    val dendrogram = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val modularities = scala.collection.mutable.ArrayBuffer[Double]()

    var level = 0
    var lastQ = Double.NegativeInfinity
    var continue = true
    while (continue && level < config.maxLevels) {
      val r = ModularityOptimization.run(g,
        ModularityOptimization.Config(config.maxIterations, config.tolerance))
      val moved = r.communities.where(col("id") =!= col("community")).limit(1).count() > 0
      if (!moved || r.modularity - lastQ <= config.tolerance && level > 0) {
        continue = false
      } else {
        lastQ = r.modularity
        modularities += r.modularity
        flat = flat
          .join(r.communities.select(col("id").as("community"),
            col("community").as("next")), Seq("community"))
          .select(col("id"), col("next").as("community"))
          .cutLineage()
        dendrogram += flat

        // contraction: communities become vertices; weights summed.
        val cmap = r.communities
        val contracted = g.edges
          .join(cmap.select(col("id").as("src"), col("community").as("csrc")), Seq("src"))
          .join(cmap.select(col("id").as("dst"), col("community").as("cdst")), Seq("dst"))
          .groupBy(col("csrc").as("src"), col("cdst").as("dst"))
          .agg(sum("weight").as("weight"))
          .withColumn("type", lit("REL"))
          .select(col("src"), col("dst"), col("type"), col("weight"))
        val cnodes = cmap.select(col("community").as("id")).distinct()
        g = PropertyGraph(cnodes.cutLineage(),
          contracted.cutLineage())
        level += 1
      }
    }
    Result(flat, dendrogram.toSeq, modularities.toSeq)
  }
}
