package graft.pipeline

import graft.core._
import graft.algos.RandomWalk
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * GraphSage — gds.alpha.graphSage.{train,stream,write}
 * (alpha/alpha-embeddings/.../graphsage/GraphSageModelTrainer.java:52,
 * MeanAggregator.java:37: h_k(v) = σ(W_k · MEAN({h_{k−1}(v)} ∪
 * {h_{k−1}(u), u ∈ N(v)})), GraphSageLoss.java:37: per batch node
 * −log σ(e_v·e_pos) − Q·log σ(−e_v·e_neg) with positives drawn by random
 * walk ≤ maxSearchDepth and negatives ∝ degree^0.75).
 *
 * Spark-first shapes:
 *  - the layer state h_k is a wide-column frame (f0..f{d−1}), so one
 *    aggregation step = self∪neighbor AVG per node (map-side combined,
 *    hub-safe — identical shape to FastRP's propagation);
 *  - W_k is a SMALL driver-side matrix inlined into codegen'd column
 *    expressions (d_out linear combinations per layer) — never a join;
 *  - training state is just W, so one SGD step is ONE Spark action: a
 *    single aggregation returning ⟨mean gradient matrix, mean loss⟩, with
 *    the exact analytic gradient ∂(e_c·e_x)/∂W = e_x m_cᵀ + e_c m_xᵀ;
 *  - positive pairs ride [[graft.algos.RandomWalk]]; the degree^0.75
 *    negative distribution reuses [[Node2Vec.unigramTable]].
 *
 * Two trainers: [[train]] is the r4 single-layer identity-activation
 * fast path (one exact-analytic-gradient aggregation per step);
 * [[trainLayers]] is the reference's full surface — multi-layer
 * mean-aggregator stacks with relu/sigmoid/identity and Adam, gradients
 * by exact backprop through the mean aggregation (finite-difference
 * verified). `forwardLayers` runs inference stacks over stored weights
 * with BOTH reference aggregators (mean and max-pooling), and weights
 * live in the [[graft.core.ModelCatalog]] contract as embedding-producing
 * models. Draws are xxhash64-deterministic like Node2Vec/FastRP.
 * trainLayers supports full neighborhoods (default) AND the reference's
 * sampleSizes per-layer sampled subgraphs; a sampled model streams back
 * through forwardLayers(sampleSizes, sampleSeed = train seed) over
 * bit-identical subgraphs. The remaining documented substitution is
 * that sampling is drawn once per run, not once per batch (keeps the
 * objective fixed and the draws reproducible).
 */
object GraphSage {

  /** Row-major (d_out rows) × (d_in cols). */
  type Weights = Array[Array[Double]]

  final case class Config(
      embeddingSize: Int = 16,
      activation: String = "identity", // trained layer is identity (exact grad)
      epochs: Int = 5,
      batchesPerEpoch: Int = 1,
      learningRate: Double = 0.1,
      negativeSamplingRate: Int = 1, // Q — drawn per positive, weight 1 each
      searchDepth: Int = 3,          // positive-pair walk depth
      unigramTableSize: Int = 1 << 14,
      seed: Long = 42L,
      orientation: Orientation = Orientation.Undirected)

  final case class TrainResult(
      weights: Weights,
      losses: Seq[Double],
      embeddings: DataFrame)

  private def wide(features: DataFrame, prefix: String): (DataFrame, Int) = {
    // headOption, not head(): an empty feature frame (e.g. CLI run against
    // an empty graph) must fail with a contract message, not a bare
    // NoSuchElementException from Row iteration.
    val first = features.select(size(col("features"))).head(1)
    require(first.nonEmpty,
      "GraphSage needs a non-empty feature frame (id, features: array<double>); " +
        "got 0 rows — is the graph empty?")
    val dim = first.head.getInt(0)
    (features.select(col("id") +:
      (0 until dim).map(j => col("features")(j).as(s"$prefix$j")): _*), dim)
  }

  /** The (src, dst) contribution pairs behind `meanState`: every distinct
   *  oriented edge plus one self-loop per node — h(src) feeds m(dst). */
  private[graft] def contribPairs(graph: PropertyGraph,
      orientation: Orientation): DataFrame = {
    val e = graph.oriented(orientation).select(col("src"), col("dst")).distinct()
    e.unionByName(graph.nodes.select(col("id").as("src"), col("id").as("dst")))
  }

  /** mean({h(v)} ∪ {h(u), u ∈ N(v)}) over wide columns: one union with the
   *  self rows, one avg aggregation — MultiMean.java re-expressed. Nodes
   *  absent from `h` contribute nothing (treated as absent, not zero). */
  private[graft] def meanState(graph: PropertyGraph, h: DataFrame,
      cols: Seq[String], orientation: Orientation): DataFrame =
    meanAgg(contribPairs(graph, orientation), h, cols)

  private def meanAgg(contribs: DataFrame, h: DataFrame,
      cols: Seq[String]): DataFrame =
    contribs.join(h.withColumnRenamed("id", "src"), Seq("src"))
      .groupBy(col("dst").as("id"))
      .agg(avg(cols.head).as(cols.head), cols.tail.map(c => avg(c).as(c)): _*)

  private def activate(c: Column, activation: String): Column = activation match {
    case "relu"     => greatest(c, lit(0.0))
    case "sigmoid"  => lit(1.0) / (lit(1.0) + exp(-c))
    case "identity" => c
    case other      => throw new IllegalArgumentException(s"unknown activation: $other")
  }

  /** Apply one layer: (id, f0..f{din−1}) → (id, f0..f{dout−1}) with the
   *  driver-side matrix inlined as codegen'd linear combinations. */
  private def applyWeights(m: DataFrame, w: Weights, activation: String): DataFrame =
    m.select(col("id") +: w.indices.map { i =>
      activate(w(i).indices.map(j => col(s"f$j") * w(i)(j)).reduce(_ + _),
        activation).as(s"f$i")
    }: _*)

  /** One inference layer: the reference ships two aggregator kinds
   *  (LayerFactory.createLayer). */
  sealed trait Layer { def outDim: Int; def inDim: Int }

  /** h_k(v) = act(W · mean({h(v)} ∪ {h(u), u∈N(v)})) — MeanAggregator. */
  final case class MeanLayer(weights: Weights, activation: String = "identity")
      extends Layer {
    def outDim: Int = weights.length
    def inDim: Int = weights.head.length
  }

  /** h_k(v) = act(W_self·h(v) + W_nbr·max_{u∈N(v)} act(W_pool·h(u) + b))
   *  — MaxPoolingAggregator.java:61-81. The elementwise max runs over the
   *  NEIGHBORS only (the reference's adjacencyMatrix excludes self); a
   *  node with no neighbors contributes a zero pooled vector, matching the
   *  reference's zero-initialized max buffer. */
  final case class PoolLayer(
      poolWeights: Weights,        // K × d_in
      bias: Array[Double],         // K
      selfWeights: Weights,        // d_out × d_in
      neighborsWeights: Weights,   // d_out × K
      activation: String = "identity") extends Layer {
    def outDim: Int = selfWeights.length
    def inDim: Int = selfWeights.head.length
  }

  /** Back-compat mean-stack entry (existing callers/tests). */
  def forward(graph: PropertyGraph, features: DataFrame,
      layers: Seq[(Weights, String)],
      orientation: Orientation): DataFrame =
    forwardLayers(graph, features,
      layers.map { case (w, a) => MeanLayer(w, a) }, orientation)

  def forward(graph: PropertyGraph, features: DataFrame,
      layers: Seq[(Weights, String)]): DataFrame =
    forward(graph, features, layers, Orientation.Undirected)

  /**
   * Multi-layer inference over stored weights (GraphSageEmbeddingsGenerator
   * semantics): h_0 = features; each layer is a mean or max-pooling
   * aggregation; output L2-normalized.
   * @return (id, embedding: array<double>)
   */
  /** `sampleSizes` + `sampleSeed` reproduce a model trained with sampled
   *  neighborhoods at inference time: pass the SAME values the train
   *  config used and the per-layer subgraphs are bit-identical (the
   *  draw is a pure hash of (src, dst, layer, seed)). Only mean layers
   *  support sampling — the reference's pooling aggregator is inference-
   *  only here and always runs over full neighborhoods. */
  def forwardLayers(graph: PropertyGraph, features: DataFrame,
      layers: Seq[Layer],
      orientation: Orientation = Orientation.Undirected,
      sampleSizes: Seq[Int] = Seq.empty,
      sampleSeed: Long = 42L): DataFrame = {
    require(sampleSizes.isEmpty || (sampleSizes.length == layers.length &&
      layers.forall(_.isInstanceOf[MeanLayer])),
      s"sampleSizes must be empty or one cap per layer, mean layers only")
    lazy val full = contribPairs(graph, orientation)
    var (h, dim) = wide(features, "f")
    h = h.cutLineage()
    for ((layer, k) <- layers.zipWithIndex) {
      require(layer.inDim == dim,
        s"layer expects d_in=${layer.inDim}, state has $dim")
      val next = (layer match {
        case MeanLayer(w, act) =>
          val contribs =
            if (sampleSizes.isEmpty) full
            else sampledContribs(full, sampleSizes(k), k, sampleSeed)
          applyWeights(
            meanAgg(contribs, h, (0 until dim).map(j => s"f$j")), w, act)
        case p: PoolLayer => applyPool(graph, h, dim, p, orientation)
      }).cutLineage()
      Lineage.release(h)
      h = next
      dim = layer.outDim
    }
    normalizedEmbedding(h, dim)
  }

  private def applyPool(graph: PropertyGraph, h: DataFrame, dim: Int,
      p: PoolLayer, orientation: Orientation): DataFrame = {
    val k = p.poolWeights.length
    require(p.bias.length == k && p.neighborsWeights.head.length == k,
      s"pool dims disagree: K=$k, bias=${p.bias.length}, " +
        s"W_nbr cols=${p.neighborsWeights.head.length}")
    // per-node pooled vector: act(W_pool · h(u) + b) — row-local wide exprs
    val pooled = h.select(col("id") +: (0 until k).map { i =>
      activate(
        (0 until dim).map(j => col(s"f$j") * p.poolWeights(i)(j)).reduce(_ + _)
          + p.bias(i),
        p.activation).as(s"p$i")
    }: _*)
    // elementwise max over the neighbors (self excluded); no-neighbor
    // nodes coalesce to the zero vector
    val e = graph.oriented(orientation).select(col("src"), col("dst")).distinct()
    val maxed = e.join(pooled.withColumnRenamed("id", "src"), Seq("src"))
      .groupBy(col("dst").as("id"))
      .agg(max(col("p0")).as("p0"), (1 until k).map(i => max(col(s"p$i")).as(s"p$i")): _*)
    h.join(maxed, Seq("id"), "left_outer")
      .select(col("id") +: (0 until p.outDim).map { i =>
        val self = (0 until dim).map(j => col(s"f$j") * p.selfWeights(i)(j))
          .reduce(_ + _)
        val nbr = (0 until k).map(j =>
          coalesce(col(s"p$j"), lit(0.0)) * p.neighborsWeights(i)(j)).reduce(_ + _)
        activate(self + nbr, p.activation).as(s"f$i")
      }: _*)
  }

  /** Degree-based default feature frame (GraphSageHelper's degree-property
   *  fallback): features = [degree, 1.0]. With `normalized` the degree is
   *  divided by the max degree — on dense graphs (gate avg degree ~289)
   *  raw-degree mean-states saturate σ(e_c·e_x) and the trained layer
   *  oscillates; unit-scale features keep the loss surface usable (the
   *  reference leans on Adam's per-parameter scaling for the same issue). */
  def degreeFeatures(graph: PropertyGraph,
      orientation: Orientation = Orientation.Undirected,
      normalized: Boolean = false): DataFrame = {
    val deg = graph.degrees(orientation)
    val scale =
      if (!normalized) 1.0
      else math.max(1.0, deg.agg(max(col("degree"))).head() match {
        case r if r.isNullAt(0) => 1.0
        case r => r.getLong(0).toDouble
      })
    graph.nodes.select(col("id")).join(deg, Seq("id"), "left_outer")
      .select(col("id"),
        array(coalesce(col("degree").cast("double"), lit(0.0)) / scale, lit(1.0))
          .as("features"))
  }

  /** Positive pairs (start, node within `searchDepth` hops on the start's
   *  random walk) + the degree^0.75 unigram negative table — the ONE
   *  sampling surface shared by both trainers (seeds and salts included),
   *  so their draws can never silently diverge. Caller releases both. */
  private def trainingSamples(graph: PropertyGraph, searchDepth: Int,
      unigramTableSize: Int, seed: Long, orientation: Orientation)
      : (DataFrame, DataFrame) = {
    val walks = RandomWalk.walkState(graph, RandomWalk.Config(
      steps = searchDepth, walksPerNode = 1, seed = seed,
      orientation = orientation))
    val pairs = walks
      .select(col("walkId"), col("start").as("c"),
        posexplode(col("path")).as(Seq("pos", "x")))
      .where(col("pos") > 0 && col("c") =!= col("x"))
      .cutLineage()
    Lineage.release(walks)
    val deg = graph.degrees(orientation)
      .select(col("id").as("node"), col("degree").cast("long").as("f"))
      .where(col("f") > 0)
    (pairs, Node2Vec.unigramTable(deg, unigramTableSize, 0.75))
  }

  /** One (epoch, batch) sample set (c, x, label): the hash-drawn batch of
   *  positives plus `negRate` fresh unigram negatives per positive. */
  private def batchSamples(pairs: DataFrame, table: DataFrame, epoch: Int,
      batch: Int, batches: Int, negRate: Int, tableSize: Int,
      seed: Long): DataFrame = {
    val batchPairs = pairs.where(
      pmod(xxhash64(col("walkId"), col("pos"), lit(epoch),
        lit(seed + 7)), lit(batches.toLong)) === batch)
    // sequence(1, 0) is the DESCENDING [1, 0], not empty — rate 0 must
    // produce no negatives (same guard as Node2Vec).
    val negs =
      if (negRate <= 0) batchPairs.limit(0)
        .select(col("c"), col("x"), lit(0.0).as("label"))
      else batchPairs
        .select(col("walkId"), col("pos"), col("c"),
          explode(sequence(lit(1), lit(negRate))).as("rep"))
        .select(col("walkId"), col("pos"), col("c"),
          pmod(xxhash64(col("walkId"), col("pos"), col("rep"), lit(epoch),
            lit(seed + 8)), lit(tableSize.toLong)).as("bucket"))
        .join(broadcast(table), Seq("bucket"))
        .select(col("c"), col("node").as("x"), lit(0.0).as("label"))
    batchPairs.select(col("c"), col("x"), lit(1.0).as("label"))
      .unionByName(negs)
  }

  /** Deterministic uniform neighbor sample for one layer: keep the self
   *  pair always, plus the `s` neighbors with smallest xxhash64(src, dst,
   *  layer, seed) per dst — the reference's sampleSizes semantics
   *  (NeighborhoodSampler / GraphSageHelper.subGraphsPerLayer), with the
   *  per-thread RNG swapped for a hash-rank draw (reproducible at any
   *  parallelism, like every other draw here). Sampled ONCE per run, not
   *  per batch — a documented substitution that keeps the objective fixed
   *  across steps and the first-layer mean state shareable. */
  private[graft] def sampledContribs(contribs: DataFrame, s: Int, layer: Int,
      seed: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the s globally-smallest hashes per dst, in TWO bounded stages: a
    // single row_number window per dst would sort a hub's entire
    // neighbor list in one task (the skew the salted-join utilities
    // exist for); stage 1 keeps each (dst, salt)-group's s smallest —
    // 64-way parallel over a hub — so stage 2 ranks at most 64·s
    // survivors per dst. Exact: every global top-s row is its salt
    // group's top-s. src as tiebreak: a hash collision must not make
    // the sample depend on row arrival order.
    val nbrs = contribs.where(col("src") =!= col("dst"))
      .withColumn("_h", xxhash64(col("src"), col("dst"), lit(layer), lit(seed)))
      .withColumn("_salt", pmod(xxhash64(col("src"), lit(layer), lit(seed + 1)), lit(64L)))
    val w1 = Window.partitionBy(col("dst"), col("_salt"))
      .orderBy(col("_h"), col("src"))
    val w2 = Window.partitionBy(col("dst")).orderBy(col("_h"), col("src"))
    nbrs.withColumn("_rk", row_number().over(w1)).where(col("_rk") <= s)
      .withColumn("_rk2", row_number().over(w2)).where(col("_rk2") <= s)
      .drop("_h", "_salt", "_rk", "_rk2")
      .unionByName(contribs.where(col("src") === col("dst")))
  }

  /** L2-normalize wide columns f0..f{dim−1} into (id, embedding);
   *  all-zero rows map to the zero vector. */
  private def normalizedEmbedding(h: DataFrame, dim: Int): DataFrame = {
    val cols = (0 until dim).map(j => col(s"f$j"))
    val n2 = cols.map(c => c * c).reduce(_ + _)
    h.withColumn("_n", sqrt(n2))
      .select(col("id"),
        array(cols.map(c => when(col("_n") > 0.0, c / col("_n"))
          .otherwise(0.0)): _*).as("embedding"))
  }

  /**
   * Train one mean-aggregator layer on the unsupervised GraphSageLoss.
   * Positive pair for v = each node on v's random walk of `searchDepth`
   * steps; negatives ∝ degree^0.75. Exact analytic gradient, mean-reduced
   * per step (hub-safe like Node2Vec's averaging), W updated driver-side.
   */
  def train(graph: PropertyGraph, features: DataFrame,
      config: Config = Config()): TrainResult = {
    // the analytic gradient is derived for e = W·m with NO activation;
    // training under a nonlinearity would descend a different loss than
    // the embeddings returned (use forwardLayers over stored weights for
    // relu/sigmoid inference stacks).
    require(config.activation == "identity",
      s"train optimizes the identity-activation layer only; " +
        s"got '${config.activation}'")
    val (h0, din) = wide(features, "f")
    val dout = config.embeddingSize
    val mcols = (0 until din).map(j => s"f$j")
    val h0c = h0.cutLineage()
    val m = meanState(graph, h0c, mcols, config.orientation).cutLineage()
    Lineage.release(h0c)

    // positive pairs within searchDepth + degree^0.75 unigram negatives
    // (the trainer's degreeProbabilityNormalizer semantics) — ONE
    // sampling surface shared with trainLayers so the trainers' draws
    // can never silently diverge
    val (pairs, table) = trainingSamples(graph, config.searchDepth,
      config.unigramTableSize, config.seed, config.orientation)

    // init W deterministically, uniform [-1/√din, 1/√din)
    def u01(x: Long): Double = {
      val h = scala.util.hashing.MurmurHash3.productHash((config.seed, x))
      (h.toDouble / Int.MaxValue + 1.0) / 2.0
    }
    val scale = 1.0 / math.sqrt(din.toDouble)
    var w: Weights = Array.tabulate(dout, din)((i, j) =>
      (u01(i.toLong * din + j) * 2.0 - 1.0) * scale)

    val b = math.max(1, config.batchesPerEpoch)
    val losses = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (epoch <- 0 until config.epochs; batch <- 0 until b) {
      val samples = batchSamples(pairs, table, epoch, batch, b,
        config.negativeSamplingRate, config.unigramTableSize, config.seed)
        .join(m.select(col("id").as("c") +:
          mcols.map(j => col(j).as(s"mc_$j")): _*), Seq("c"))
        .join(m.select(col("id").as("x") +:
          mcols.map(j => col(j).as(s"mx_$j")): _*), Seq("x"))

      // e = W·m for both endpoints, dot, gradient entries — all codegen'd
      def e(side: String, i: Int): Column =
        (0 until din).map(j => col(s"m${side}_f$j") * w(i)(j)).reduce(_ + _)
      val scored = samples
        .select(Seq(col("label")) ++
          (0 until dout).map(i => e("c", i).as(s"ec_$i")) ++
          (0 until dout).map(i => e("x", i).as(s"ex_$i")) ++
          mcols.map(j => col(s"mc_$j")) ++ mcols.map(j => col(s"mx_$j")): _*)
        .withColumn("dot",
          (0 until dout).map(i => col(s"ec_$i") * col(s"ex_$i")).reduce(_ + _))
        .withColumn("g", col("label") - lit(1.0) / (lit(1.0) + exp(-col("dot"))))
      val z = col("dot") * (col("label") * 2.0 - 1.0)
      val gradCols = (for (i <- 0 until dout; j <- 0 until din) yield
        avg(col("g") * (col(s"ex_$i") * col(s"mc_f$j") +
          col(s"ec_$i") * col(s"mx_f$j"))).as(s"gw_${i}_$j")) :+
        avg(greatest(lit(0.0), -z) + log1p(exp(-abs(z)))).as("loss") :+
        count(lit(1)).as("n")
      val row = scored.agg(gradCols.head, gradCols.tail: _*).head()
      val nSamples = row.getAs[Long]("n")
      if (nSamples > 0) {
        losses += row.getAs[Double]("loss")
        w = Array.tabulate(dout, din)((i, j) =>
          w(i)(j) + config.learningRate * row.getAs[Double](s"gw_${i}_$j"))
      } else
        // carry the previous loss, not 0.0: an empty final batch would
        // otherwise make losses.last < losses.head spuriously true
        losses += losses.lastOption.getOrElse(0.0)
      System.err.println(f"[graphsage] epoch=$epoch batch=$batch " +
        f"samples=$nSamples meanLoss=${losses.last}%.5f")
    }
    Lineage.release(pairs)
    Lineage.release(table)
    // final embeddings directly from the ALREADY-materialized mean state —
    // calling forward() here would recompute the same self∪neighbor
    // aggregation a second time (measured: ~40% of the gate query's cost).
    val emb = normalizedEmbedding(applyWeights(m, w, config.activation), dout)
      .cutLineage() // materialize off m so the mean state can be released
    Lineage.release(m)
    TrainResult(w, losses.toSeq, emb)
  }

  // ------------------------------------------------------------------
  // Multi-layer training (closes the r4 single-layer substitution):
  // full backprop through a mean-aggregator stack with relu / sigmoid /
  // identity activations and the reference's Adam optimizer
  // (GraphSageModelTrainer.java:52 trains Layer stacks through ddl4j
  // autodiff + AdamOptimizer). Spark-first: the chain rule through
  // mean-aggregation is just the TRANSPOSED aggregation — δh_{k−1}(src) =
  // Σ_{(src,dst)} δm_k(dst)/cnt(dst) over the same contribution pairs the
  // forward pass averaged over (self-loops included), so one backward
  // layer costs exactly one forward meanState: a join + fixed-width agg.
  // W_k gradients are d_out×d_in sum columns (one wide aggregation per
  // layer), and the optimizer state lives driver-side with the small
  // matrices. Gradients are EXACT for the configured objective — full
  // neighborhoods or the reference's sampleSizes sampled subgraphs —
  // verified against central finite differences in GraphSageSpec for
  // both. Remaining documented substitution: neighborhoods are sampled
  // once per run (hash-rank draw), not re-sampled per batch.
  // ------------------------------------------------------------------

  final case class TrainLayersConfig(
      layerDims: Seq[Int] = Seq(16, 16),
      activation: String = "sigmoid",   // the reference's default
      sampleSizes: Seq[Int] = Seq.empty, // per-layer neighbor sample caps;
                                         // empty = full neighborhoods
      epochs: Int = 5,
      batchesPerEpoch: Int = 1,
      learningRate: Double = 0.05,
      optimizer: String = "adam",       // "adam" | "sgd"
      beta1: Double = 0.9,
      beta2: Double = 0.999,
      adamEps: Double = 1e-8,
      negativeSamplingRate: Int = 1,
      searchDepth: Int = 3,
      unigramTableSize: Int = 1 << 14,
      seed: Long = 42L,
      orientation: Orientation = Orientation.Undirected)

  final case class TrainLayersResult(
      layers: Seq[MeanLayer],
      losses: Seq[Double],
      embeddings: DataFrame)

  /** d act(a)/da expressed in terms of h = act(a) — avoids materializing
   *  pre-activations (relu: h>0 ⇔ a>0; sigmoid: σ' = h(1−h)). */
  private def activateDeriv(h: Column, activation: String): Column =
    activation match {
      case "relu"     => when(h > 0.0, lit(1.0)).otherwise(lit(0.0))
      case "sigmoid"  => h * (lit(1.0) - h)
      case "identity" => lit(1.0)
      case other => throw new IllegalArgumentException(s"unknown activation: $other")
    }

  /** Forward pass retaining per-layer mean states and activations
   *  (needed by backprop). Returned frames are checkpointed; caller
   *  releases. dims = d_in +: layerDims. `sharedM1` is the FIRST layer's
   *  mean state, which depends only on the fixed input features — the
   *  training loop computes it once and reuses it every step (at scale
   *  it is the job's single largest aggregation); when supplied it is
   *  used as ms(0) and must not be released by the per-step caller. */
  private def forwardStates(contribsPerLayer: Seq[DataFrame], h0: DataFrame,
      dims: Seq[Int], ws: Seq[Weights], activation: String,
      sharedM1: Option[DataFrame] = None)
      : (Vector[DataFrame], Vector[DataFrame]) = {
    var h = h0
    var ms = Vector.empty[DataFrame]
    var hs = Vector.empty[DataFrame]
    for ((w, k) <- ws.zipWithIndex) {
      val m =
        if (k == 0 && sharedM1.isDefined) sharedM1.get
        else meanAgg(contribsPerLayer(k), h, (0 until dims(k)).map(j => s"f$j"))
          .cutLineage()
      val hNext = applyWeights(m, w, activation).cutLineage()
      ms :+= m
      hs :+= hNext
      h = hNext
    }
    (ms, hs)
  }

  /** Mean unsupervised loss of the current stack on `samples`
   *  (c, x, label) — one lazy plan, one action. Used by the
   *  finite-difference gradient check. */
  private[graft] def lossOnly(contribsPerLayer: Seq[DataFrame], h0: DataFrame,
      dims: Seq[Int], ws: Seq[Weights], activation: String,
      samples: DataFrame): Double = {
    var h = h0
    for ((w, k) <- ws.zipWithIndex)
      h = applyWeights(
        meanAgg(contribsPerLayer(k), h, (0 until dims(k)).map(j => s"f$j")),
        w, activation)
    val dL = ws.last.length
    val ecols = (0 until dL).map(j => s"f$j")
    val joined = samples
      .join(h.select(col("id").as("c") +:
        ecols.map(j => col(j).as(s"ec_$j")): _*), Seq("c"))
      .join(h.select(col("id").as("x") +:
        ecols.map(j => col(j).as(s"ex_$j")): _*), Seq("x"))
    val dot = ecols.map(j => col(s"ec_$j") * col(s"ex_$j")).reduce(_ + _)
    val row = joined.withColumn("dot", dot)
      .withColumn("z", col("dot") * (col("label") * 2.0 - 1.0))
      .agg(avg(greatest(lit(0.0), -col("z")) + log1p(exp(-abs(col("z")))))
        .as("loss"))
      .head()
    if (row.isNullAt(0)) 0.0 else row.getDouble(0)
  }

  /** Exact gradient of the mean unsupervised loss w.r.t. every W_k, by
   *  backprop through the mean-aggregator stack.
   *  @return (mean loss, sample count, dL/dW per layer — the RAW ascent
   *          gradient; descend with W -= lr·g, as trainLayers does) */
  private[graft] def lossAndGrads(contribsPerLayer: Seq[DataFrame],
      cntPerLayer: Seq[DataFrame],
      h0: DataFrame, dims: Seq[Int], ws: Seq[Weights], activation: String,
      samples: DataFrame, sharedM1: Option[DataFrame] = None)
      : (Double, Long, Seq[Weights]) = {
    val L = ws.length
    val (ms, hs) =
      forwardStates(contribsPerLayer, h0, dims, ws, activation, sharedM1)
    def releaseStates(): Unit = {
      // ms(0) may be the caller's shared first-layer mean state
      ms.drop(if (sharedM1.isDefined) 1 else 0).foreach(Lineage.release)
      hs.foreach(Lineage.release)
    }
    val dL = ws.last.length
    val ecols = (0 until dL).map(j => s"f$j")
    val e = hs.last
    val joined = samples
      .join(e.select(col("id").as("c") +:
        ecols.map(j => col(j).as(s"ec_$j")): _*), Seq("c"))
      .join(e.select(col("id").as("x") +:
        ecols.map(j => col(j).as(s"ex_$j")): _*), Seq("x"))
    val dot = ecols.map(j => col(s"ec_$j") * col(s"ex_$j")).reduce(_ + _)
    val z = col("dot") * (col("label") * 2.0 - 1.0)
    // q = dL_sample/d(dot) = σ(dot) − label (positive AND negative case)
    val scored = joined.withColumn("dot", dot)
      .withColumn("q", lit(1.0) / (lit(1.0) + exp(-col("dot"))) - col("label"))
      .withColumn("lossv", greatest(lit(0.0), -z) + log1p(exp(-abs(z))))
      .cutLineage()
    val lossRow = scored.agg(sum("lossv").as("ls"), count(lit(1)).as("n")).head()
    val n = lossRow.getAs[Long]("n")
    if (n == 0L) {
      Lineage.release(scored); releaseStates()
      return (0.0, 0L, ws.map(w => Array.fill(w.length, w.head.length)(0.0)))
    }
    val meanLoss = lossRow.getAs[Double]("ls") / n

    // δh_L(v) = (1/n) Σ_samples q · e_other — each endpoint of each sample
    def endpointDelta(endpoint: String, other: String): DataFrame =
      scored.groupBy(col(endpoint).as("id"))
        .agg(sum(col("q") * col(s"e${other}_f0")).as("d0"),
          (1 until dL).map(j =>
            sum(col("q") * col(s"e${other}_f$j")).as(s"d$j")): _*)
    var dh = endpointDelta("c", "x").unionByName(endpointDelta("x", "c"))
      .groupBy("id")
      .agg(sum("d0").as("d0"), (1 until dL).map(j => sum(s"d$j").as(s"d$j")): _*)
      .select(col("id") +: (0 until dL).map(j =>
        (col(s"d$j") / n.toDouble).as(s"d$j")): _*)
      .cutLineage()

    val grads = new Array[Weights](L)
    for (k <- (L - 1) to 0 by -1) {
      val dout = ws(k).length
      val dinK = ws(k).head.length
      // δa = δh ⊙ act'(h_k)
      val da = dh.join(hs(k), Seq("id"))
        .select(col("id") +: (0 until dout).map(i =>
          (col(s"d$i") * activateDeriv(col(s"f$i"), activation)).as(s"a$i")): _*)
        .cutLineage()
      Lineage.release(dh)
      // dW_k[i][j] = Σ_v δa_i(v) · m_k(v)_j — one wide aggregation
      val withM = da.join(ms(k), Seq("id"))
      val gcols = for (i <- 0 until dout; j <- 0 until dinK)
        yield sum(col(s"a$i") * col(s"f$j")).as(s"g_${i}_$j")
      val row = withM.agg(gcols.head, gcols.tail: _*).head()
      grads(k) = Array.tabulate(dout, dinK) { (i, j) =>
        if (row.isNullAt(row.fieldIndex(s"g_${i}_$j"))) 0.0
        else row.getAs[Double](s"g_${i}_$j")
      }
      if (k > 0) {
        // δm = W_kᵀ·δa; backward through the mean = transposed scatter
        // over the SAME (possibly sampled) contribution pairs this
        // layer's forward averaged over (self-loop included), each
        // weighted by the receiver's 1/cnt — then re-aggregate per src.
        val wdelta = da.join(cntPerLayer(k), Seq("id"))
          .select(col("id") +: (0 until dinK).map { j =>
            ((0 until dout).map(i => col(s"a$i") * ws(k)(i)(j))
              .reduce(_ + _) / col("cnt")).as(s"d$j")
          }: _*)
        dh = contribsPerLayer(k)
          .join(wdelta.withColumnRenamed("id", "dst"), Seq("dst"))
          .select(col("src").as("id") +:
            (0 until dinK).map(j => col(s"d$j")): _*)
          .groupBy("id")
          .agg(sum("d0").as("d0"),
            (1 until dinK).map(j => sum(s"d$j").as(s"d$j")): _*)
          .cutLineage()
      }
      Lineage.release(da)
    }
    Lineage.release(scored); releaseStates()
    (meanLoss, n, grads.toSeq)
  }

  /**
   * Train a multi-layer mean-aggregator stack on the unsupervised
   * GraphSageLoss with Adam (the reference's GraphSageModelTrainer
   * surface). Positive pairs and degree^0.75 negatives are drawn exactly
   * like [[train]]; gradients are exact backprop (see [[lossAndGrads]]);
   * every draw is xxhash64/murmur-deterministic. Features must cover
   * every graph node ([[degreeFeatures]] does).
   */
  def trainLayers(graph: PropertyGraph, features: DataFrame,
      config: TrainLayersConfig = TrainLayersConfig()): TrainLayersResult = {
    require(config.layerDims.nonEmpty, "layerDims must name ≥1 layer")
    require(Set("adam", "sgd")(config.optimizer),
      s"unknown optimizer: ${config.optimizer}")
    // pure driver-side config checks fire BEFORE any Spark action
    require(config.sampleSizes.isEmpty ||
      (config.sampleSizes.length == config.layerDims.length &&
        config.sampleSizes.forall(_ > 0)),
      s"sampleSizes must be empty (full neighborhoods) or one positive " +
        s"cap per layer: got ${config.sampleSizes} for " +
        s"${config.layerDims.length} layers")
    val (h0, din) = wide(features, "f")
    val h0c = h0.cutLineage()
    // enforced, not just documented: the backward pass divides by the FULL
    // contribution count per node, while the forward avg divides by the
    // rows present in the feature frame — the gradient is exact only when
    // the feature ids are EXACTLY the node set (a count-only check would
    // pass a frame with one id duplicated and one node missing). Counted
    // on the checkpoint (near-free) + one anti-join for the id-set half.
    val nodeCount = graph.nodes.count()
    val featCount = h0c.count()
    val missing = graph.nodes.select(col("id"))
      .except(h0c.select(col("id"))).count()
    require(featCount == nodeCount && missing == 0L,
      s"features must cover every graph node exactly once: $featCount " +
        s"feature rows vs $nodeCount nodes, $missing nodes without " +
        "features (degreeFeatures does)")
    val fullContribs = contribPairs(graph, config.orientation).cutLineage()
    val nLayers = config.layerDims.length
    // per-layer contribution pairs: the full set, or the reference's
    // sampleSizes subgraphs (deterministic hash-rank sample, self kept)
    // sampled with config.seed itself (not a salted derivative) so
    // forwardLayers(sampleSizes, sampleSeed = config.seed) reproduces the
    // trained subgraphs exactly at inference time
    val layerContribs: Seq[DataFrame] =
      if (config.sampleSizes.isEmpty) Seq.fill(nLayers)(fullContribs)
      else config.sampleSizes.zipWithIndex.map { case (s, k) =>
        sampledContribs(fullContribs, s, k, config.seed).cutLineage()
      }
    val layerCnts: Seq[DataFrame] =
      if (config.sampleSizes.isEmpty) {
        val cnt = fullContribs.groupBy(col("dst").as("id"))
          .agg(count(lit(1)).as("cnt")).cutLineage()
        Seq.fill(nLayers)(cnt)
      } else {
        val cnts = layerContribs.map(c => c.groupBy(col("dst").as("id"))
          .agg(count(lit(1)).as("cnt")).cutLineage())
        // in the sampled path the full pair set is dead once the (much
        // smaller) per-layer subgraphs exist — same storage-pinning fix
        // as h0c below
        Lineage.release(fullContribs)
        cnts
      }
    val dims = din +: config.layerDims
    // the first layer's mean state never changes (h0 is fixed): compute
    // once, reuse across every step AND the final inference pass
    val m1 = meanAgg(layerContribs.head, h0c, (0 until din).map(j => s"f$j"))
      .cutLineage()
    // h0c is dead from here on — every forward pass (training steps AND
    // the final inference) runs through sharedM1; holding the checkpoint
    // pins |V|×d_in of storage for the whole run otherwise
    Lineage.release(h0c)

    val (pairs, table) = trainingSamples(graph, config.searchDepth,
      config.unigramTableSize, config.seed, config.orientation)

    def u01(layer: Int, x: Long): Double = {
      val h = scala.util.hashing.MurmurHash3.productHash((config.seed, layer, x))
      (h.toDouble / Int.MaxValue + 1.0) / 2.0
    }
    val ws: Array[Weights] = Array.tabulate(config.layerDims.length) { k =>
      val dout = dims(k + 1)
      val dinK = dims(k)
      val scale = 1.0 / math.sqrt(dinK.toDouble)
      Array.tabulate(dout, dinK)((i, j) =>
        (u01(k, i.toLong * dinK + j) * 2.0 - 1.0) * scale)
    }
    val mMom = ws.map(w => Array.ofDim[Double](w.length, w.head.length))
    val vMom = ws.map(w => Array.ofDim[Double](w.length, w.head.length))
    var t = 0

    val b = math.max(1, config.batchesPerEpoch)
    val losses = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (epoch <- 0 until config.epochs; batch <- 0 until b) {
      val samples = batchSamples(pairs, table, epoch, batch, b,
        config.negativeSamplingRate, config.unigramTableSize, config.seed)
      val (meanLoss, n, grads) =
        lossAndGrads(layerContribs, layerCnts, h0c, dims, ws.toSeq,
          config.activation, samples, sharedM1 = Some(m1))
      if (n > 0L) {
        t += 1
        for (k <- ws.indices; i <- ws(k).indices; j <- ws(k)(i).indices) {
          val g = grads(k)(i)(j)
          if (config.optimizer == "adam") {
            mMom(k)(i)(j) = config.beta1 * mMom(k)(i)(j) + (1 - config.beta1) * g
            vMom(k)(i)(j) = config.beta2 * vMom(k)(i)(j) + (1 - config.beta2) * g * g
            val mHat = mMom(k)(i)(j) / (1 - math.pow(config.beta1, t))
            val vHat = vMom(k)(i)(j) / (1 - math.pow(config.beta2, t))
            ws(k)(i)(j) -= config.learningRate * mHat / (math.sqrt(vHat) + config.adamEps)
          } else ws(k)(i)(j) -= config.learningRate * g
        }
      }
      // empty batch: carry the previous loss, not 0.0 — an empty final
      // batch would otherwise make losses.last < losses.head spuriously
      // true (the loss_decreased contract)
      losses += (if (n > 0L) meanLoss else losses.lastOption.getOrElse(0.0))
      System.err.println(f"[graphsage-layers] epoch=$epoch batch=$batch " +
        f"samples=$n meanLoss=${losses.last}%.5f")
    }
    Lineage.release(pairs); Lineage.release(table)
    val layers = ws.toSeq.map(w => MeanLayer(w, config.activation))
    // final embeddings reuse the shared first-layer mean state (and the
    // same per-layer neighborhoods the model was trained on) instead of
    // re-deriving the whole stack through forwardLayers
    val (msF, hsF) = forwardStates(layerContribs, h0c, dims, ws.toSeq,
      config.activation, Some(m1))
    val emb = normalizedEmbedding(hsF.last, dims.last).cutLineage()
    msF.drop(1).foreach(Lineage.release); hsF.foreach(Lineage.release)
    Lineage.release(m1)
    // the sampled path already released fullContribs above; on the full
    // path layerContribs holds it, so each frame is released exactly once
    (layerCnts ++ layerContribs).distinct.foreach(Lineage.release)
    TrainLayersResult(layers, losses.toSeq, emb)
  }
}
