package graft.core

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import java.nio.file.{Files, Paths, StandardOpenOption}

/**
 * Configuration for the superstep engine. Mirrors the knobs of the
 * reference's Pregel framework (core/.../beta/pregel/PregelConfig.java:
 * maxIterations, isAsynchronous:48 — we are always synchronous) plus the
 * checkpoint/lineage surface the reference lacks entirely (SURVEY.md §4.2:
 * "checkpoint/lineage: none — ours must add it").
 *
 * @param maxIterations   hard cap on supersteps
 * @param checkpointDir   when set, every `checkpointEvery` supersteps the
 *                        vertex state is written to
 *                        `<dir>/superstep=<k>/state` as parquet and the
 *                        in-flight plan is replaced by a re-read of that
 *                        parquet — this both cuts lineage and guarantees a
 *                        resumed run continues from byte-identical state.
 * @param checkpointEvery cadence of durable checkpoints
 * @param trackMetrics    when true, [[Pregel.run]] also records each
 *                        superstep's message count and skew ratio (see
 *                        [[SuperstepMetrics]]); they are observed on the
 *                        barrier's action, so this costs no extra Spark job.
 *                        Records are appended to `<dir>/lineage.jsonl` (or
 *                        kept in memory when no dir is configured)
 * @param stopAfter       test hook: abort the loop after superstep k as if
 *                        the job died (used by resume tests)
 */
final case class PregelConfig(
    maxIterations: Int = 20,
    checkpointDir: Option[String] = None,
    checkpointEvery: Int = 1,
    trackMetrics: Boolean = false, // forced on whenever checkpointDir is set
    stopAfter: Option[Int] = None)

/** One superstep's lineage record (north rule: "every superstep writes
 *  per-partition lineage and metrics — messages sent, delta norm, skew
 *  ratio — to a checkpoint directory"). Every field is observed on the
 *  superstep's one barrier action.
 *
 *  @param activeVertices ACTIVE rows of the new state
 *  @param messages  rows of the combined-message frame (one per receiving
 *                   vertex); -1 when the step does not track it
 *  @param deltaNorm max |DELTA| over the new state
 *  @param skewRatio max ÷ mean rows over the non-empty buckets
 *                   `pmod(hash(id), spark.sql.shuffle.partitions)` of the
 *                   combined-message frame, i.e. its partitions as
 *                   `hashpartitioning(id)` lays them out before AQE
 *                   coalescing; 1.0 when not tracked or no message was sent */
final case class SuperstepMetrics(
    superstep: Int,
    activeVertices: Long,
    messages: Long,
    deltaNorm: Double,
    skewRatio: Double,
    wallMillis: Long) {
  def toJson: String =
    s"""{"superstep":$superstep,"activeVertices":$activeVertices,""" +
      s""""messages":$messages,"deltaNorm":$deltaNorm,""" +
      s""""skewRatio":$skewRatio,"wallMillis":$wallMillis}"""
}

final case class PregelResult(
    vertices: DataFrame,
    supersteps: Int,
    converged: Boolean,
    metrics: Seq[SuperstepMetrics])

/** What one superstep hands [[Pregel.iterate]]: the plan of the next state
 *  (its columns include the ACTIVE / CHANGED / DELTA markers), readers of
 *  the combined-message count and skew ratio, and a release hook for the
 *  step's own intermediates. `iterate` calls the readers and the hook after
 *  the barrier, so a step can observe its metrics on the barrier's action
 *  (see [[Pregel.run]]) instead of running a job of its own; steps that do
 *  not measure them leave the defaults (-1 messages, skew 1.0). */
final case class StepPlan(
    next: DataFrame,
    messages: () => Long = () => -1L,
    skewRatio: () => Double = () => 1.0,
    cleanup: () => Unit = () => ())

/** Thrown by the `stopAfter` test hook to simulate a mid-run crash. */
final class PregelKilledException(val superstep: Int)
  extends RuntimeException(s"killed after superstep $superstep (test hook)")

/**
 * Synchronous vertex-centric superstep combinator — the Spark-native
 * re-expression of the reference's Pregel loop
 * (core/.../beta/pregel/Pregel.java:60-659). The mapping:
 *
 *  - per-node message queues (Pregel.java:73,267-282)  → a shuffled,
 *    pre-combined messages DataFrame (`groupBy(id).agg(...)` gives
 *    map-side partial aggregation for free);
 *  - sender/receiver/vote-to-halt bitsets (:175-199)   → the `_active`
 *    boolean column on the vertex state;
 *  - barrier between supersteps (:241-264)             → the action that
 *    materializes the new state each iteration;
 *  - termination when no messages sent (:197-199)      → `_changed` count
 *    reaching zero.
 *
 * The reference delivers individual messages; all four tier-1 algorithms
 * only ever fold them (sum / min / weighted argmax), so a combiner-based
 * formulation is semantics-preserving (SURVEY.md §2.C).
 *
 * All hooks are Column expressions, never Scala closures, so every
 * superstep stays inside whole-stage codegen.
 */
object Pregel {

  /** Marker columns managed by the engine on the vertex state frame. */
  val ACTIVE  = "_active"   // does this vertex scatter next superstep?
  val CHANGED = "_changed"  // did this vertex change this superstep? (convergence)
  val DELTA   = "_delta"    // numeric magnitude of the change (deltaNorm metric)
  val MSG     = "_msg"      // combined inbound message column (visible to update exprs)

  /**
   * The superstep loop every fixpoint here runs on. `step` maps the
   * current state and the previous superstep's record to the next state's
   * plan; `iterate` owns the rest:
   *
   *  - the barrier (see `barrier`) — one Spark action per superstep;
   *  - release of the superseded state's blocks;
   *  - the metrics history, durable checkpoints, resume and `stopAfter`;
   *  - AQE gating on the size of `gateEdges`, which it does not release;
   *  - stopping after `maxIterations`, or once no row is CHANGED.
   *
   * The state's columns are the step's business, except for the ACTIVE,
   * CHANGED and DELTA markers, which `initial` and every plan carry.
   *
   * @param gateEdges the loop's static edge frame when its row count should
   *                  decide AQE (see `Lineage.withFastIteration`); loops
   *                  that pass `None` run under the session's AQE setting
   */
  def iterate(initial: DataFrame, gateEdges: Option[DataFrame], config: PregelConfig)(
      step: (DataFrame, SuperstepMetrics) => StepPlan): PregelResult = {
    val spark = initial.sparkSession
    val ckpt = config.checkpointDir.map(new CheckpointManager(_))

    // AQE off only when the superstep frame is big enough that broadcast
    // conversion can't apply and re-planning latency dominates (measured
    // both ways — see Lineage.withFastIteration scaladoc). The count scans
    // the checkpointed edge blocks, not the source.
    val bigWork = gateEdges.exists(_.count() >= Lineage.aqeOffMinEdges(spark))
    Lineage.withFastIteration(spark, bigWork) {

    // start from the latest durable checkpoint, or from `initial`; either
    // way one barrier cuts its lineage and observes that superstep's record.
    val t0 = System.currentTimeMillis()
    val start = ckpt.flatMap(_.latestSuperstep).getOrElse(0)
    val (cut, _, active0, delta0) =
      barrier(if (start > 0) ckpt.get.load(spark, start) else initial)
    var state = cut
    var last = SuperstepMetrics(start, active0, -1L, delta0, 1.0, System.currentTimeMillis() - t0)
    var converged = false
    val history = scala.collection.mutable.ArrayBuffer[SuperstepMetrics]()

    while (!converged && last.superstep < config.maxIterations) {
      val t0 = System.currentTimeMillis()
      val plan = step(state, last)
      val (next, changed, active, delta) = barrier(plan.next)
      plan.cleanup()
      // release the superseded superstep's checkpoint blocks NOW — waiting
      // for GC-driven ContextCleaner cleanup lets blocks pile up one set
      // per superstep (observed: heap thrash + executor heartbeat loss on
      // a 46 M-edge run).
      Lineage.release(state)
      state = next
      last = SuperstepMetrics(last.superstep + 1, active, plan.messages(), delta,
        plan.skewRatio(), System.currentTimeMillis() - t0)
      history += last

      converged = changed == 0
      ckpt.foreach { c =>
        c.record(last)
        if (last.superstep % config.checkpointEvery == 0 || converged) {
          // durable checkpoint: parquet round-trip cuts lineage AND is the
          // exact state a resumed run would start from.
          val reread = c.save(state, last.superstep, last)
          Lineage.release(state)
          state = reread.persist(StorageLevel.MEMORY_AND_DISK)
        }
      }
      config.stopAfter.filter(_ == last.superstep).foreach { k =>
        throw new PregelKilledException(k)
      }
    }

    PregelResult(state, last.superstep, converged, history.toSeq)
    } // withFastIteration
  }

  /**
   * The superstep barrier: the eager localCheckpoint materializes the new
   * state and cuts its lineage (iterative plans would otherwise snowball —
   * SURVEY.md §7.4). Convergence stats ride the SAME materializing action
   * via observe() (CollectMetrics accumulators) — a superstep is ONE Spark
   * action, not a checkpoint action plus a stats aggregate; the removed
   * per-superstep scheduling round was a measured term of the scaling
   * floor (VERDICT r1 per-superstep overhead note).
   *
   * @return (cut state, CHANGED rows, ACTIVE rows, max |DELTA|)
   */
  private def barrier(plan: DataFrame): (DataFrame, Long, Long, Double) = {
    val obs = org.apache.spark.sql.Observation()
    val cut = plan
      .observe(obs,
        sum(col(CHANGED).cast("long")).as("changed"),
        sum(col(ACTIVE).cast("long")).as("active"),
        coalesce(max(abs(col(DELTA))), lit(0.0)).as("deltaNorm"))
      .cutLineage()
    val stats = obs.get
    def count(k: String) = Option(stats(k)).map(_.asInstanceOf[Long]).getOrElse(0L)
    (cut, count("changed"), count("active"), stats("deltaNorm").asInstanceOf[Double])
  }

  /**
   * Vertex-centric supersteps on [[iterate]]: scatter, combine, update.
   *
   * @param initial   vertex frame: `id: long`, state columns, plus ACTIVE /
   *                  CHANGED / DELTA markers (init step = reference
   *                  PregelComputation.init)
   * @param edges     `src, dst[, weight]` as shaped by
   *                  [[PropertyGraph.pregelEdges]] (orientation applied,
   *                  hash(src)-partitioned, sorted, checkpointed); the
   *                  engine releases its blocks when the loop ends
   * @param msgExpr   message value, evaluated on edge rows joined with the
   *                  *source* vertex state (all state cols visible, plus
   *                  `weight`) — reference sendToNeighbors /
   *                  applyRelationshipWeight (Pregel.java:389-407)
   * @param combine   reduces the raw `(id, _msg)` rows to one row per id —
   *                  e.g. Combiners.sum / min / weightedArgmax
   * @param updateExprs new values for the state columns (incl. markers),
   *                  evaluated on old-state LEFT JOIN combined-messages;
   *                  `MSG` is null for vertices that received nothing
   */
  def run(
      initial: DataFrame,
      edges: DataFrame,
      msgExpr: Column,
      combine: DataFrame => DataFrame,
      updateExprs: Seq[Column],
      config: PregelConfig = PregelConfig()): PregelResult = {
    // metrics ride the barrier: an Observation on the combined-message
    // frame is filled in by the barrier's own action, so tracking them
    // costs no extra Spark job and leaves the superstep's plan as it is.
    val track = config.trackMetrics || config.checkpointDir.isDefined
    val buckets = edges.sparkSession.sessionState.conf.numShufflePartitions
    val result = iterate(initial, Some(edges), config) { (state, _) =>
      // scatter: active sources emit along their out-edges, then combine.
      val active = state.where(col(ACTIVE))
      val raw = edges.join(active, edges("src") === active("id"))
        .select(edges("dst").as("id"), msgExpr.as(MSG))
      val msgs = combine(raw)
      // gather/apply: old state LEFT JOIN messages → new state
      def update(msgs: DataFrame) = state.join(msgs, Seq("id"), "left_outer")
        .select(col("id") +: updateExprs: _*)
      if (!track) StepPlan(update(msgs))
      else {
        val obs = Observation()
        val observed = msgs.observe(obs, count(lit(1)).as("messages"),
          histogram_numeric(pmod(hash(col("id")), lit(buckets)), lit(buckets)).as("buckets"))
        StepPlan(update(observed), () => obs.get("messages").asInstanceOf[Long],
          () => skewRatio(obs.get("buckets")))
      }
    }
    Lineage.release(edges)
    result
  }

  /** max ÷ mean rows over the non-empty hash buckets of the combined-message
   *  frame — the skew signal the north rule asks for (hub vertices → hot
   *  partitions). `bins` is `histogram_numeric`'s (bucket, rows) array, or
   *  null when no message was sent. Merged partial histograms keep equal
   *  buckets apart while they fit in the bin budget, so rows are summed per
   *  bucket here; they are never folded across buckets, since there are at
   *  most as many buckets as bins. */
  private def skewRatio(bins: Any): Double = {
    val rows = Option(bins).toSeq.flatMap(_.asInstanceOf[Seq[Row]])
      .groupMapReduce(_.get(0))(_.getDouble(1))(_ + _).values
    if (rows.isEmpty) 1.0 else rows.max / (rows.sum / rows.size)
  }
}

/** Message combiners for the generic loop — each is a full `(id,_msg) →
 *  one row per id` reduction so Catalyst plans partial+final aggregates. */
object Combiners {
  import Pregel.MSG

  val sum: DataFrame => DataFrame =
    _.groupBy("id").agg(org.apache.spark.sql.functions.sum(col(MSG)).as(MSG))

  val min: DataFrame => DataFrame =
    _.groupBy("id").agg(org.apache.spark.sql.functions.min(col(MSG)).as(MSG))

  /**
   * LPA's vote tally: `_msg` is `struct(label: long, w: double)`; result is
   * the label with the largest summed weight, ties to the smaller label —
   * reference ComputeStepConsumer.java:44-77 (votes) + :64-77 (tie-break).
   * Two hash aggregates: (id,label)→Σw, then argmax via max_by over
   * struct(w, -label) (struct ordering: weight desc, label asc).
   */
  val weightedArgmax: DataFrame => DataFrame = { raw =>
    raw.select(col("id"), col(MSG)("label").as("label"), col(MSG)("w").as("w"))
      .groupBy("id", "label").agg(org.apache.spark.sql.functions.sum("w").as("w"))
      .groupBy("id")
      .agg(expr("max_by(label, named_struct('w', w, 'nl', -label))").as(MSG))
  }
}

/**
 * Durable checkpoint + lineage manager (north rule). Layout:
 *
 *   <dir>/superstep=<k>/state/   parquet vertex state (atomic via _SUCCESS)
 *   <dir>/superstep=<k>/metrics.json
 *   <dir>/lineage.jsonl          append-only, one line per superstep run
 *                                (a resumed run appends the supersteps it
 *                                replays after the loaded checkpoint again)
 *
 * Resume = load the highest superstep whose parquet write completed, then
 * continue the loop; Pregel.iterate does this automatically when the dir is
 * non-empty.
 */
final class CheckpointManager(dir: String) {
  private val root = Paths.get(dir)
  Files.createDirectories(root)

  def statePath(k: Int): String = root.resolve(s"superstep=$k").resolve("state").toString

  /** Append one superstep's record to `lineage.jsonl`. */
  def record(m: SuperstepMetrics): Unit =
    Files.writeString(root.resolve("lineage.jsonl"), m.toJson + "\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  /** Write superstep k's state and record; returns the state re-read. */
  def save(state: DataFrame, k: Int, m: SuperstepMetrics): DataFrame = {
    val path = statePath(k)
    state.write.mode("overwrite").parquet(path)
    Files.writeString(root.resolve(s"superstep=$k").resolve("metrics.json"), m.toJson)
    state.sparkSession.read.parquet(path)
  }

  def load(spark: SparkSession, k: Int): DataFrame = spark.read.parquet(statePath(k))

  /** Highest superstep with a completed (_SUCCESS) state write. */
  def latestSuperstep: Option[Int] = {
    if (!Files.isDirectory(root)) return None
    import scala.jdk.CollectionConverters._
    val done = Files.list(root).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("superstep="))
      .filter(p => Files.exists(p.resolve("state").resolve("_SUCCESS")))
      .map(_.getFileName.toString.stripPrefix("superstep=").toInt)
      .toSeq
    if (done.isEmpty) None else Some(done.max)
  }

  def lineage: Seq[String] =
    if (Files.exists(root.resolve("lineage.jsonl")))
      Files.readAllLines(root.resolve("lineage.jsonl")).toArray(Array[String]()).toSeq
    else Seq.empty
}
