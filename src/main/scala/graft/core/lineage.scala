package graft.core

import org.apache.spark.sql.{DataFrame, GraftShims}

/**
 * Lineage control for iterative jobs. `cut` eagerly materializes the frame
 * (the superstep barrier), truncates lineage so plans don't snowball, AND
 * strips the statistics that `localCheckpoint` would otherwise carry —
 * Catalyst's size-only join estimator multiplies child sizeInBytes, so
 * carried stats grow exponentially in bit length across supersteps and
 * eventually stall the driver inside BigInteger.multiply during planning
 * (observed: 53 CPU-minutes of stats estimation in a 9-node Louvain run).
 */
object Lineage {
  def cut(df: DataFrame): DataFrame = GraftShims.cutLineage(df)

  /** Release the checkpoint blocks behind a cut frame, or a persisted
   *  frame's cache. A no-op on any other frame, including one derived from
   *  a cut (`cut.select(...)`): that cut's blocks stay. Call on SUPERSEDED
   *  superstep states — never on a frame still handed to the caller. */
  def release(df: DataFrame): Unit =
    GraftShims.persistedHandle(df).foreach(_.unpersist(blocking = false))

  /**
   * Run an iterative loop with AQE disabled. AQE re-plans every shuffle
   * stage of every superstep's micro-query; measured on the 11.6 M-edge
   * scaling graph this costs ~3 s of fixed latency PER SUPERSTEP at
   * local[8] (5.0 s → 2.0 s without AQE) while buying nothing — superstep
   * frames are tiny, pre-partitioned, and skew-free by construction. AQE
   * stays on for one-shot heavy queries (triangle count, dedup joins),
   * where its skew/coalesce handling is worth the re-planning latency.
   *
   * `enabled = false` is a no-op passthrough: loops over SMALL frames keep
   * AQE — its runtime broadcast conversion and partition coalescing are a
   * measured 2-3× win there (bench r2: louvain 17→58 s, scc 12→32 s when
   * AQE was blanket-disabled), while big superstep frames measure the
   * opposite (re-planning latency, nothing to broadcast). Loops gate on
   * the edge-frame row count: [[Pregel.iterate]] does it for the loops that
   * hand it their edge frame (`Pregel.run`, eigenvector); its other loops
   * keep AQE on.
   *
   * CONCURRENCY CONTRACT (ADVICE r2): the toggle mutates the session conf
   * for the loop's duration, so algorithm runs assume a single-threaded
   * driver — a query submitted CONCURRENTLY on the same SparkSession
   * while a big iterative loop is in flight would silently run without
   * AQE (and concurrent save/restore could race). This matches how every
   * entry point here drives Spark (Verify/Bench/GdsApp are sequential);
   * callers running algorithms from multiple driver threads must hand
   * each thread its own `SparkSession.newSession()` (configs are
   * session-scoped; cached data is shared via SharedState, so the split
   * costs nothing).
   */
  def withFastIteration[A](spark: org.apache.spark.sql.SparkSession,
      enabled: Boolean)(body: => A): A = {
    if (!enabled) body
    else {
      val key = "spark.sql.adaptive.enabled"
      val prev = spark.conf.get(key, "true")
      spark.conf.set(key, "false")
      try body finally spark.conf.set(key, prev)
    }
  }

  /**
   * Sort `df` within its partitions and eagerly localCheckpoint it: the
   * static side of a loop's per-round join then needs neither an exchange
   * nor a sort. The materialization MUST run with AQE disabled: an eager
   * localCheckpoint under AQE snapshots the partitioning of the
   * not-yet-finalized adaptive plan — UnknownPartitioning — and the
   * layout is silently lost. Measured: with AQE on at checkpoint time the
   * captured partitioning is UnknownPartitioning(0); with it off,
   * hashpartitioning(src) + [src ASC, dst ASC] both survive.
   */
  def sortedCheckpoint(df: DataFrame, sortKeys: String*): DataFrame =
    withFastIteration(df.sparkSession, enabled = true) {
      df.sortWithinPartitions(sortKeys.head, sortKeys.tail: _*).localCheckpoint(true)
    }

  /** Edge-count threshold above which an iterative loop turns AQE off
   *  (override with spark conf `graft.aqeOff.minEdges`). */
  def aqeOffMinEdges(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("graft.aqeOff.minEdges").map(_.toLong).getOrElse(16000000L)
}

/**
 * Per-query storage hygiene for long single-JVM runs (Bench/Verify drive
 * ~50 queries through one SparkSession). Every algorithm's FINAL returned
 * frame is a cut/checkpointed DataFrame whose blocks stay persisted after
 * the caller's action — harmless per query, but across a 48-query run the
 * block sets pile up, storage memory fills, the LRU evicts the SHARED
 * ingest/subgraph caches, and the next iterative algorithm re-derives its
 * input graph inside every superstep (the r3 signature: hyperball 11 s
 * isolated vs 300 s mid-run). The fix is structural, not GC tuning:
 * snapshot the shared-cache RDD ids once after warm-up, then after each
 * query unpersist every persisted RDD that is not in the snapshot.
 */
object CacheHygiene {
  import org.apache.spark.sql.SparkSession

  /** Ids of currently-persisted RDDs — call right after warming the shared
   *  caches to get the keep-set. */
  def persistedIds(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  import scala.jdk.CollectionConverters._

  /** RDD ids of shared caches created lazily AFTER the warm-up snapshot
   *  (e.g. GraphQueries' triangle frame, built on first use) — exempt
   *  from releaseAllExcept alongside the snapshot itself. */
  val protectedIds: scala.collection.mutable.Set[Int] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Int]().asScala

  /** Run `body` (which persists + materializes shared frames) and record
   *  the newly-persisted RDD ids as protected. Single-threaded driver
   *  contract (same as Lineage.withFastIteration). */
  def protecting[A](spark: SparkSession)(body: => A): A = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val r = body
    (spark.sparkContext.getPersistentRDDs.keySet.toSet diff before)
      .foreach(protectedIds.add)
    r
  }

  /** Unpersist every persisted RDD whose id is not in `keep` (the
   *  per-query result/checkpoint blocks). Lazily-created shared caches
   *  (`protectedIds`) are exempt too. Returns how many were dropped. */
  def releaseAllExcept(spark: SparkSession, keep: Set[Int]): Int = {
    val garbage = spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => keep(id) || protectedIds.contains(id) }
    garbage.values.foreach(_.unpersist(blocking = false))
    garbage.size
  }

  /** One-line storage telemetry: persisted-RDD count (kept + new) and
   *  driver block-manager memory in use — the instrumentation the r3
   *  verdict asked for after every bench query. */
  def storageLine(spark: SparkSession, keep: Set[Int]): String = {
    val ids = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val keptAlive = ids.count(keep)
    val mem = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum >> 20
    s"rdds=${ids.size} keptShared=$keptAlive/${keep.size} storageMiB=$mem"
  }
}
