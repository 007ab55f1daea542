package graft.pipeline

import graft.core._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * FastRP node embeddings — gds.alpha.randomProjection
 * (alpha/alpha-embeddings/.../randomprojections/RandomProjection.java:41-200,
 * after Chen et al. 2019):
 *
 *  - init: entry j of node i is ±(deg(i)^normalizationStrength ·
 *    √sparsity/√dim) with probability 1/(2·sparsity) each, else 0
 *    (initRandomVectors, :109-127). The reference draws from a per-thread
 *    RNG; we derive the draw from xxhash64(id, j, seed) so embeddings are
 *    identical at any parallelism — the same determinism swap as RandomWalk.
 *  - iteration k: e_k(v) = (Σ_{u ∈ N(v)} e_{k-1}(u) · w) / deg(v), then
 *    optional L2 normalization (propagateEmbeddings, :131-170);
 *  - result: Σ_k iterationWeights(k) · e_k (updateEmbeddings, :193-198).
 *
 * Spark shape: embeddings live as `dim` WIDE double columns (v0..v{dim-1}),
 * so one propagation is a single edges⋈embeddings join followed by one
 * hash aggregate with `dim` codegen'd `sum`s. Hub safety is the same as the
 * previous exploded-(id,pos,v) formulation — the per-group aggregation
 * state is fixed-width (dim doubles ≈ 512 B at dim 64), map-side partial
 * combine bounds a 10^8-degree hub to one partial per partition — but the
 * join now emits ONE row per edge instead of `dim` (≈64× fewer rows through
 * the iteration hot path, measured 32.7 s → single-digit at sf0.1), and the
 * L2 normalization becomes a row-local expression instead of an extra
 * aggregate + join per iteration. An array-typed collect_list formulation
 * would OOM on the hub; the wide-sum shape cannot.
 */
object FastRP {

  final case class Config(
      embeddingSize: Int = 64,
      iterationWeights: Seq[Double] = Seq(0.0, 1.0, 1.0),
      normalizationStrength: Double = 0.0,
      normalizeL2: Boolean = true,
      sparsity: Int = 3,
      seed: Long = 42L,
      orientation: Orientation = Orientation.Undirected)

  /** @return (id, embedding: array<double>) */
  def run(graph: PropertyGraph, config: Config = Config()): DataFrame = {
    val dim = config.embeddingSize
    val vcols = (0 until dim).map(j => s"v$j")
    // prepared layout: the 3 propagation iterations join on src against
    // the same hash(src)-partitioned sorted frame; the degree aggregation
    // below is partition-local on it (PropertyGraph.pregelEdges).
    val edges = graph.pregelEdges(config.orientation, Aggregation.Sum)
    val deg = graph.nodes.select(col("id"))
      .join(edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg")),
        Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("deg"), lit(0L)).as("deg"))
      .cutLineage()

    val prob = 1.0 / (2.0 * config.sparsity)
    val entry = (
      when(col("deg") === 0L, 1.0)
        .otherwise(pow(col("deg").cast("double"), config.normalizationStrength))
        * math.sqrt(config.sparsity.toDouble) / math.sqrt(dim.toDouble))
    // same per-(id, pos) draws as the reference-shaped exploded variant
    def u01(j: Int): Column =
      pmod(xxhash64(col("id"), lit(j), lit(config.seed)),
        lit(1000000L)).cast("double") / 1e6

    // current iteration's embedding: (id, v0..v{dim-1}); nodes whose row is
    // absent are implicitly all-zero (they send nothing through the join)
    var cur = deg.select(col("id") +: (0 until dim).map { j =>
      when(u01(j) < prob, entry)
        .when(u01(j) < 2 * prob, -entry)
        .otherwise(0.0).as(s"v$j")
    }: _*).cutLineage()

    // Σ weight_k · e_k accumulated as a union of weighted frames, folded by
    // ONE aggregate at the end (weights has ≤3 nonzero entries).
    var accParts = List.empty[DataFrame]
    for (w <- config.iterationWeights) {
      // propagate: mean of neighbor embeddings (degreeScale, :148-150)
      val sums = edges
        .join(cur.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col(vcols.head) * col("weight")).as(vcols.head),
          vcols.tail.map(c => sum(col(c) * col("weight")).as(c)): _*)
      val averaged = sums.join(deg, Seq("id"))
        .select(col("id") +: vcols.map(c =>
          (col(c) / greatest(col("deg").cast("double"), lit(1.0))).as(c)): _*)
      val next =
        if (config.normalizeL2) {
          // row-local norm — no extra shuffle
          val n2 = vcols.map(c => col(c) * col(c)).reduce(_ + _)
          averaged
            .withColumn("_n", sqrt(n2))
            .select(col("id") +: vcols.map(c =>
              when(col("_n") > 0.0, col(c) / col("_n")).otherwise(0.0).as(c)): _*)
        } else averaged
      cur = next.cutLineage()
      if (w != 0.0)
        accParts ::= cur.select(col("id") +: vcols.map(c => (col(c) * w).as(c)): _*)
    }

    val acc =
      if (accParts.isEmpty) cur.limit(0)
      else if (accParts.tail.isEmpty) accParts.head
      else accParts.reduce(_ unionByName _)
        .groupBy("id")
        .agg(sum(vcols.head).as(vcols.head),
          vcols.tail.map(c => sum(col(c)).as(c)): _*)

    // every per-iteration embedding is checkpointed (accParts read those,
    // not the edge frame), so the prepared edge layout's blocks can go.
    Lineage.release(edges)
    // every node gets a dim-length vector; absent rows are all-zero
    graph.nodes.select(col("id")).join(acc, Seq("id"), "left_outer")
      .select(col("id"),
        array(vcols.map(c => coalesce(col(c), lit(0.0))): _*).as("embedding"))
  }
}
