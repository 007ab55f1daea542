package graft.pipeline

import graft.core._
import graft.algos.RandomWalk
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Node2Vec — gds.alpha.node2vec.{stream,write}
 * (alpha/alpha-embeddings/.../node2vec/Node2Vec.java:40,
 * Node2VecModel.java:34, after Grover & Leskovec 2016): biased random
 * walks + skip-gram SGD with negative sampling.
 *
 * Reference semantics re-expressed Spark-first:
 *  - walks: [[graft.algos.RandomWalk]] (the (p,q)-biased second-order
 *    walker already matches NodeWalker's transition law);
 *  - frequencies (ProbabilityComputer.java:75-120): token counts over the
 *    walk corpus; center keep-probability = (√(f̂/s)+1)·(s/f̂) with
 *    f̂ = freq/total, s = centerSamplingFactor (word2vec subsampling);
 *    context distribution ∝ freq^contextSamplingExponent;
 *  - positive pairs (PositiveSampleProducer.java:31-134): subsample the
 *    walks FIRST, then pair center i with context j ∈
 *    [i−⌈(w−1)/2⌉, i+⌊(w−1)/2⌋], j ≠ i, within the filtered walk;
 *  - negatives (NegativeSampleProducer.java:27-48): inverse-CDF draws from
 *    the context distribution — realized as word2vec's own unigram TABLE:
 *    `unigramTableSize` buckets, bucket b owned by the node whose
 *    cumulative f^α range covers quantile b/T (built with a distributed
 *    prefix scan, sampled by one broadcast join — no driver-side vocab);
 *  - training (Node2VecModel.trainSample:150-170): for sample (c, x,
 *    label), g = label − σ(center_c·ctx_x); center_c += lr·g·ctx_x and
 *    ctx_x += lr·g·center_c, lr decaying linearly initial→min.
 *
 * Deliberate substitutions (documented, not gaps):
 *  - the reference's Hogwild per-sample updates (racy by design, stated
 *    irreproducible) become SYNCHRONOUS mini-batch SGD: each iteration
 *    partitions the pair corpus into `batchesPerIteration` hash-drawn
 *    batches; a step joins one batch (+ fresh negatives) against both
 *    embedding tables, AVERAGES the gradients per node (map-side combined,
 *    fixed-width like FastRP's wide shape — and hub-safe: a node's step
 *    size is lr no matter how many samples hit it), and applies them. lr
 *    decays across the global step sequence rather than per walk;
 *  - every "random" draw is xxhash64 of the sample's identity
 *    (walkId, positions, rep, iteration, seed) — reproducible at any
 *    parallelism, same swap as RandomWalk/FastRP.
 *
 * Scale shape: tokens/pairs shuffle on walkId, gradients on node id; the
 * unigram table is T rows broadcast; embeddings are `dim` wide double
 * columns, so a step is two joins + two fixed-width hash aggregations —
 * no row is ever wider than 2·dim doubles and no driver-side state grows
 * with the corpus (the prefix-scan offsets are one row per partition).
 */
object Node2Vec {

  /** Defaults follow Node2VecBaseConfig.java:25-115. */
  final case class Config(
      embeddingSize: Int = 128,
      walkLength: Int = 80,
      walksPerNode: Int = 10,
      windowSize: Int = 10,
      negativeSamplingRate: Int = 5,
      centerSamplingFactor: Double = 0.001,
      contextSamplingExponent: Double = 0.75,
      initialLearningRate: Double = 0.025,
      minLearningRate: Double = 0.0001,
      iterations: Int = 1,
      batchesPerIteration: Int = 4,
      unigramTableSize: Int = 1 << 16,
      returnParam: Double = 1.0,
      inOutParam: Double = 1.0,
      seed: Long = 42L,
      orientation: Orientation = Orientation.Natural)

  /** Trained center embeddings + per-step diagnostics (mean sample loss
   *  and sample count per SGD step — the check query pins first > last). */
  final case class TrainResult(
      embeddings: DataFrame,
      losses: Seq[Double],
      sampleCounts: Seq[Long])

  /** @return (id, embedding: array<double>) — the center table, like
   *  Node2VecModel.getEmbeddings. */
  def run(graph: PropertyGraph, config: Config = Config()): DataFrame =
    runWithStats(graph, config).embeddings

  def runWithStats(graph: PropertyGraph, config: Config = Config()): TrainResult = {
    val walks = RandomWalk.walkState(graph, RandomWalk.Config(
      steps = math.max(1, config.walkLength - 1),
      walksPerNode = config.walksPerNode,
      seed = config.seed,
      returnParam = config.returnParam,
      inOutParam = config.inOutParam,
      orientation = config.orientation))
    val res = trainOnWalks(walks, graph.nodes.select(col("id")), config)
    Lineage.release(walks)
    res
  }

  /** Training entry over a prepared walk corpus (walkId, path) — split out
   *  so specs can feed hand-built corpora. */
  def trainOnWalks(walks: DataFrame, nodes: DataFrame, config: Config): TrainResult = {
    val dim = config.embeddingSize
    val spark = nodes.sparkSession
    val ccols = (0 until dim).map(j => s"c$j")
    val ocols = (0 until dim).map(j => s"o$j")

    // ---- corpus statistics ------------------------------------------------
    val tokens = walks.select(col("walkId"), posexplode(col("path")).as(Seq("pos", "node")))
      .cutLineage()
    val freq = tokens.groupBy("node").agg(count(lit(1)).as("f")).cutLineage()
    val total = freq.agg(sum("f")).head().getLong(0)
    if (total == 0L) { // no walks at all — untrained init embeddings
      val out = withEmbeddingArray(initTable(nodes, dim, config.seed + 3, "c"), ccols)
      Lineage.release(tokens); Lineage.release(freq)
      return TrainResult(out, Seq.empty, Seq.empty)
    }

    // ---- subsample + re-index walks (PositiveSampleProducer.filter) ------
    val s = config.centerSamplingFactor
    val keepProb = freq.select(col("node"),
      ((sqrt(col("f") / lit(s * total)) + 1.0) * lit(s * total) / col("f")).as("keep"))
    val kept = subsampleWalks(tokens, keepProb, config.seed + 1).cutLineage()
    Lineage.release(tokens)

    // ---- positive pairs ---------------------------------------------------
    val pairs = positivePairs(kept, config.windowSize).cutLineage()
    Lineage.release(kept)

    // ---- negative-sampling unigram table ----------------------------------
    val table = unigramTable(freq, config.unigramTableSize,
      config.contextSamplingExponent)
    Lineage.release(freq)

    // ---- init embeddings (uniform [-1,1), Node2VecModel:96-109) -----------
    var center = initTable(nodes, dim, config.seed + 3, "c")
    var context = initTable(nodes, dim, config.seed + 4, "o")

    val b = math.max(1, config.batchesPerIteration)
    val totalSteps = math.max(1, config.iterations * b)
    val losses = scala.collection.mutable.ArrayBuffer.empty[Double]
    val counts = scala.collection.mutable.ArrayBuffer.empty[Long]
    var step = 0
    import spark.implicits._
    for (iter <- 0 until config.iterations; batch <- 0 until b) {
      val lr = config.initialLearningRate -
        (config.initialLearningRate - config.minLearningRate) *
          (step.toDouble / totalSteps)
      // (lr, iter, batch) ride a ONE-ROW broadcast parameter table instead
      // of plan literals: a literal lr makes every SGD step a brand-new
      // plan that re-generates and re-JITs the 2·dim-column codegen (the
      // fresh-JVM 2-3× trainer cold-start documented in BASELINE.md); as
      // attributes the step plans are source-identical, so the codegen
      // cache hits from step 2 on. Same values → same xxhash64 draws as
      // the literal form (iter/batch stay Int-typed for hash parity).
      val params = Seq((lr, iter, batch)).toDF("_lr", "_iter", "_batch")
      val batchPairs = pairs.crossJoin(broadcast(params)).where(
        pmod(xxhash64(col("walkId"), col("ci"), col("xi"), col("_iter"),
          lit(config.seed + 5)), lit(b.toLong)) === col("_batch"))
      // negativeSamplingRate = 0 must yield NO negatives — Spark's
      // sequence(1, 0) is the DESCENDING array [1, 0], not empty.
      val negs =
        if (config.negativeSamplingRate <= 0) batchPairs.limit(0)
          .select(col("c"), col("x"), lit(0.0).as("label"), col("_lr"))
        else batchPairs
          .select(col("walkId"), col("ci"), col("xi"), col("c"), col("_lr"),
            col("_iter"),
            explode(sequence(lit(1), lit(config.negativeSamplingRate))).as("rep"))
          .select(col("c"), col("_lr"),
            pmod(xxhash64(col("walkId"), col("ci"), col("xi"), col("rep"),
              col("_iter"), lit(config.seed + 6)),
              lit(config.unigramTableSize.toLong)).as("bucket"))
          .join(broadcast(table), Seq("bucket"))
          .select(col("c"), col("node").as("x"), lit(0.0).as("label"), col("_lr"))
      val samples = batchPairs
        .select(col("c"), col("x"), lit(1.0).as("label"), col("_lr"))
        .unionByName(negs)

      // one pass: join both tables, score, checkpoint; loss rides the
      // materializing action via observe() (the single-action pattern).
      val dotExpr = (0 until dim).map(j => col(s"c$j") * col(s"o$j")).reduce(_ + _)
      val obs = org.apache.spark.sql.Observation()
      val z = col("dot") * (col("label") * 2.0 - 1.0) // +dot for pos, -dot for neg
      val scored = samples
        .join(center.withColumnRenamed("id", "c"), Seq("c"))
        .join(context.withColumnRenamed("id", "x"), Seq("x"))
        .withColumn("dot", dotExpr)
        .withColumn("g", col("_lr") * (col("label") - lit(1.0) / (lit(1.0) + exp(-col("dot")))))
        // stable -log σ(z) = max(0,−z) + log1p(exp(−|z|))
        .withColumn("loss", greatest(lit(0.0), -z) + log1p(exp(-abs(z))))
        .observe(obs, sum(col("loss")).as("loss"), count(lit(1)).as("n"))
        .cutLineage()
      val nSamples = Option(obs.get("n")).map(_.asInstanceOf[Long]).getOrElse(0L)
      val lossSum = Option(obs.get("loss")).map(_.asInstanceOf[Double]).getOrElse(0.0)
      losses += (if (nSamples > 0) lossSum / nSamples else 0.0)
      counts += nSamples

      // MEAN gradient per node — fixed-width wide aggregation (FastRP
      // shape). The reference applies each sample's lr·g·v sequentially;
      // summing them synchronously multiplies the step by the node's
      // per-batch sample count (hub nodes appear in hundreds of samples)
      // and diverges within steps (measured: loss 0.85 → 4e9 in 6 steps).
      // Averaging is the standard synchronous-SGD substitution: every node
      // moves at most lr per step regardless of its sample count, which is
      // also what makes the step hub-safe at scale.
      val cGrad = scored.groupBy(col("c").as("id"))
        .agg(avg(col("g") * col(ocols.head)).as(s"g_${ccols.head}"),
          (1 until dim).map(j => avg(col(s"o$j") * col("g")).as(s"g_c$j")): _*)
      val oGrad = scored.groupBy(col("x").as("id"))
        .agg(avg(col("g") * col(ccols.head)).as(s"g_${ocols.head}"),
          (1 until dim).map(j => avg(col(s"c$j") * col("g")).as(s"g_o$j")): _*)

      val centerNext = center.join(cGrad, Seq("id"), "left_outer")
        .select(col("id") +: ccols.map(cc =>
          (col(cc) + coalesce(col(s"g_$cc"), lit(0.0))).as(cc)): _*)
        .cutLineage()
      val contextNext = context.join(oGrad, Seq("id"), "left_outer")
        .select(col("id") +: ocols.map(oc =>
          (col(oc) + coalesce(col(s"g_$oc"), lit(0.0))).as(oc)): _*)
        .cutLineage()
      Lineage.release(scored)
      Lineage.release(center); Lineage.release(context)
      center = centerNext; context = contextNext
      System.err.println(f"[node2vec] step=$step lr=$lr%.5f samples=$nSamples " +
        f"meanLoss=${losses.last}%.5f")
      step += 1
    }
    Lineage.release(pairs)
    Lineage.release(table)
    Lineage.release(context)
    TrainResult(withEmbeddingArray(center, ccols), losses.toSeq, counts.toSeq)
  }

  private def u01(h: Column): Column =
    pmod(h, lit(1000000L)).cast("double") / 1e6

  /** Word2vec subsampling applied to the walk corpus BEFORE pairing
   *  (PositiveSampleProducer.filter, :131-134): drop each token with
   *  probability 1−keep(node), then RE-INDEX the survivors to consecutive
   *  positions so the window pairs over the filtered walk. Split out for
   *  the reference-fixture test (shouldRemoveDownsampledWordFromWalk). */
  private[graft] def subsampleWalks(tokens: DataFrame, keepProb: DataFrame,
      seed: Long): DataFrame =
    tokens.join(keepProb, Seq("node"))
      .where(u01(xxhash64(col("walkId"), col("pos"), lit(seed))) < col("keep"))
      .withColumn("i",
        (row_number().over(Window.partitionBy("walkId").orderBy("pos")) - 1)
          .cast("long"))
      .select(col("walkId"), col("i"), col("node"))

  /** Uniform [-1, 1) init, entry (id, j) a pure function of (id, j, seed). */
  private def initTable(nodes: DataFrame, dim: Int, seed: Long,
      prefix: String): DataFrame =
    nodes.select(col("id") +: (0 until dim).map(j =>
      (u01(xxhash64(col("id"), lit(j), lit(seed))) * 2.0 - 1.0).as(s"$prefix$j")): _*)
      .cutLineage()

  private def withEmbeddingArray(table: DataFrame, cols: Seq[String]): DataFrame =
    table.select(col("id"), array(cols.map(col): _*).as("embedding"))

  /** Skip-gram pairs over re-indexed tokens (walkId, i, node): center i ×
   *  context j ∈ [i−⌈(w−1)/2⌉, i+⌊(w−1)/2⌋] \ {i} within the walk —
   *  exactly PositiveSampleProducer's window (prefix/postfix split,
   *  :60-62). Each center explodes its FIXED offset range and equi-joins
   *  back on (walkId, position) — linear in tokens × window; a plain
   *  per-walk self-join would materialize walkLength² candidate rows per
   *  walk before the window filter (~9× waste at the 80/10 defaults).
   *  Returns (walkId, ci, xi, c, x); positions kept because they are the
   *  sample's identity for the deterministic draws. */
  private[graft] def positivePairs(kept: DataFrame, windowSize: Int): DataFrame = {
    val prefix = (windowSize - 1 + 1) / 2 // ceilDiv(w-1, 2)
    val postfix = (windowSize - 1) / 2
    val offsets = ((-prefix to postfix).filter(_ != 0)).map(o => lit(o.toLong))
    val centers = kept
      .select(col("walkId"), col("i").as("ci"), col("node").as("c"),
        explode(array(offsets: _*)).as("off"))
      .select(col("walkId"), col("ci"), col("c"), (col("ci") + col("off")).as("xi"))
    centers.join(
      kept.select(col("walkId"), col("i").as("xi"), col("node").as("x")),
      Seq("walkId", "xi"))
  }

  /**
   * word2vec unigram table: exactly `tableSize` buckets, bucket b owned by
   * the node whose cumulative f^α range covers quantile b/T. Built with a
   * DISTRIBUTED prefix scan (range-partition by node id, per-partition
   * running sum, broadcast per-partition offsets — one collected row per
   * partition, never the vocabulary), then `sequence`-exploded into
   * (bucket, node). Adjacent ranges share the exact same cumulative value
   * (cumPrev = lag(cum) + the same offset), so ⌈cumPrev·T/W⌉ …
   * ⌈cum·T/W⌉−1 partitions [0, T) without gaps or overlaps.
   *
   * The f^α weights are quantized to SCALED LONGS (×2^20) before the scan
   * — the reference's contextDistribution is likewise an integer
   * cumulative array. Double prefix sums would depend on how
   * repartitionByRange's sampled boundaries group the additions (ULP
   * drift could flip a ceil() bucket at a quantile boundary under a
   * different input partitioning); integer sums are exact and
   * order-independent, so the table is bit-identical at any parallelism.
   * ⌈cum·T/W⌉ runs in decimal(38,0) — cum·T can pass 2^63 at full
   * vocabulary scale (Σf^0.75 ≲ n^¼·(Σf)^¾ ≈ 2e11 at 10^12 tokens,
   * ×2^20 ×T overflows long).
   */
  private[graft] def unigramTable(freq: DataFrame, tableSize: Int,
      exponent: Double): DataFrame = {
    val quantScale = (1L << 20).toDouble
    val weighted = freq.select(col("node"),
      greatest(round(pow(col("f").cast("double"), exponent) * quantScale),
        lit(1.0)).cast("long").as("w"))
    val parted = weighted.repartitionByRange(col("node"))
      .sortWithinPartitions("node")
      .withColumn("_p", spark_partition_id())
      .cutLineage()
    val pw = Window.partitionBy("_p").orderBy("node")
    val local = parted
      .withColumn("_cum", sum(col("w")).over(
        pw.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_prev", coalesce(lag(col("_cum"), 1).over(pw), lit(0L)))
      .cutLineage()
    Lineage.release(parted)
    val partTotals = local.groupBy("_p").agg(max("_cum").as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1).toSeq
    val grandTotal = partTotals.map(_._2).sum
    val offsets = {
      var acc = 0L
      partTotals.map { case (p, t) => val off = (p, acc); acc += t; off }
    }
    val spark = freq.sparkSession
    import spark.implicits._
    val offDf = offsets.toDF("_p", "_off")
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    // exact ⌈a·T/W⌉ in decimal(38,0) — a·T can exceed 2^63 at full
    // vocabulary scale. NOT ⌊(a·T+W−1)/W⌋: decimal division rounds at
    // scale 6, so the near-integer (a·T+W−1)/W rounds UP and the floor
    // overshoots (measured: bucket 0 unassigned, negatives silently
    // dropped by the table join). Subtracting the pmod remainder first
    // makes the quotient an exact integer, which scale-6 division
    // represents exactly.
    def ceilDivT(a: Column): Column = {
      val prod = a.cast(dec38) * lit(tableSize.toLong)
      val r = pmod(prod, lit(grandTotal))
      ((prod - r) / lit(grandTotal)).cast("long") +
        when(r > 0, lit(1L)).otherwise(lit(0L))
    }
    val cum = col("_cum") + col("_off")
    val cumPrev = col("_prev") + col("_off")
    val lo = greatest(ceilDivT(cumPrev), lit(0L))
    val hi = least(ceilDivT(cum) - 1L, lit(tableSize - 1L))
    val table = local.join(broadcast(offDf), Seq("_p"))
      .select(col("node"),
        when(hi >= lo, sequence(lo, hi)).otherwise(array().cast("array<bigint>"))
          .as("bs"))
      .select(col("node"), explode(col("bs")).as("bucket"))
      .cutLineage()
    Lineage.release(local)
    table
  }
}
