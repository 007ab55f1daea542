package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.{DataFrame => CDataFrame, SparkSession => CSparkSession}
import org.apache.spark.sql.types.StructType

/**
 * Thin access shim into package-private Spark API.
 *
 * Why it exists: `Dataset.localCheckpoint` copies the origin plan's
 * statistics into the resulting LogicalRDD. In an iterative job the next
 * plan joins that frame several times, and SizeInBytesOnlyStatsPlanVisitor
 * MULTIPLIES child sizes — so the carried sizeInBytes grows exponentially
 * in bit length across supersteps, and after a few dozen iterations the
 * driver spends minutes in BigInteger.multiply (Karatsuba/ToomCook) during
 * stats estimation. Rebuilding the DataFrame from the checkpointed
 * internal RDD drops the poisoned stats: the fresh LogicalRDD reports the
 * constant `spark.sql.defaultSizeInBytes` instead.
 */
object GraftShims {
  def internalCreateDataFrame(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[CSparkSession].internalCreateDataFrame(rdd, schema)

  /** Eagerly materialize `df`, truncate its lineage AND drop its carried
   *  statistics (see scaladoc above — the localCheckpoint stats poison). */
  def cutLineage(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint(true).asInstanceOf[CDataFrame]
    internalCreateDataFrame(df.sparkSession, c.queryExecution.toRdd, df.schema)
  }

  /** The persisted RDD actually holding a cut frame's checkpoint blocks —
   *  walk the (linear, for a LogicalRDD scan) dependency chain to the first
   *  ancestor with a storage level. Unpersisting it releases the blocks;
   *  without this, a long superstep loop accumulates one block set per
   *  iteration until the ContextCleaner's GC-driven cleanup catches up —
   *  observed as heap thrash + heartbeat loss on a 46 M-edge run.
   *
   *  Only a cut (a bare LogicalRDD scan) or a frame persisted itself has
   *  one: for a frame derived from either, the walk would reach its
   *  parent's blocks, and releasing it would drop a frame the caller
   *  still holds. */
  def persistedHandle(df: DataFrame): Option[RDD[_]] = {
    @annotation.tailrec
    def walk(r: RDD[_], depth: Int): Option[RDD[_]] =
      if (r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE) Some(r)
      else r.dependencies.headOption.map(_.rdd) match {
        case Some(p) if depth < 8 => walk(p, depth + 1)
        case _ => None
      }
    val qe = df.asInstanceOf[CDataFrame].queryExecution
    val owns = qe.logical.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD] ||
      df.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    if (owns) walk(qe.toRdd, 0) else None
  }

  /** Wrap a raw Catalyst Expression as a user-facing Column (the Spark 4
   *  Column API hides the expression constructor behind classic
   *  ExpressionUtils). Used by graft.functions' codegen'd expressions. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
}
