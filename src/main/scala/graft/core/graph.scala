package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Edge orientation applied when a graph view is materialized.
 *
 * Mirrors the reference's projection-time orientation
 * (reference: core/src/main/java/org/neo4j/graphalgo/Orientation.java:28-32):
 * NATURAL keeps (src,dst) as ingested, REVERSE swaps the endpoints,
 * UNDIRECTED unions both directions.
 */
sealed trait Orientation
object Orientation {
  case object Natural    extends Orientation
  case object Reverse    extends Orientation
  case object Undirected extends Orientation
}

/**
 * Parallel-edge aggregation applied when a multigraph is flattened
 * (reference: core/src/main/java/org/neo4j/graphalgo/core/Aggregation.java:28-110,
 * applied during adjacency compression in AdjacencyCompression.java:100-112).
 *
 * Spark mapping: a plain `groupBy(src, dst).agg(...)` — Catalyst plans a
 * partial (map-side) + final hash aggregate, so the shuffle carries
 * pre-combined rows.
 */
sealed trait Aggregation {
  def agg(weight: Column): Column = this match {
    case Aggregation.Sum    => sum(weight)
    case Aggregation.Min    => min(weight)
    case Aggregation.Max    => max(weight)
    case Aggregation.Count  => count(lit(1)).cast("double")
    case Aggregation.Single => first(weight)
    case Aggregation.None   => weight // unused; NONE keeps the multigraph
  }
}
object Aggregation {
  case object None   extends Aggregation
  case object Single extends Aggregation
  case object Sum    extends Aggregation
  case object Min    extends Aggregation
  case object Max    extends Aggregation
  case object Count  extends Aggregation
}

/**
 * An immutable property-graph snapshot: the Spark-native replacement for the
 * reference's in-memory CSR graph (reference: api/Graph.java:27,
 * core/.../huge/HugeGraph.java:83).
 *
 *  - `nodes`: one row per vertex — `id: long` plus arbitrary property columns.
 *  - `edges`: `src: long, dst: long, type: string, weight: double`.
 *
 * Instead of compressed adjacency pages the topology lives in parquet /
 * Tungsten columnar form; the one invariant we keep from the reference is
 * that adjacency arrays, when materialized, are **sorted** (needed for
 * triangle intersection, GraphIntersect.java:60-130).
 */
final case class PropertyGraph(nodes: DataFrame, edges: DataFrame) {

  def spark: SparkSession = nodes.sparkSession

  /** Restrict to a subset of relationship types — the reference's
   *  UnionGraph over per-type topologies (core/.../huge/UnionGraph.java). */
  def withRelationshipTypes(types: Seq[String]): PropertyGraph =
    if (types.isEmpty) this
    else copy(edges = edges.where(col("type").isin(types.map(lit(_)): _*)))

  /** Edge view under an orientation. UNDIRECTED = union of both directions
   *  (parallel duplicates collapse later under aggregation if requested). */
  def oriented(orientation: Orientation): DataFrame = orientation match {
    case Orientation.Natural => edges
    case Orientation.Reverse =>
      edges.select(col("dst").as("src"), col("src").as("dst"),
        col("type"), col("weight"))
    case Orientation.Undirected =>
      edges.unionByName(
        edges.select(col("dst").as("src"), col("src").as("dst"),
          col("type"), col("weight")))
  }

  /** Flatten parallel edges with the given aggregation (reference
   *  Aggregation.java semantics). NONE keeps the multigraph as-is. */
  def aggregated(orientation: Orientation, aggregation: Aggregation): DataFrame = {
    val o = oriented(orientation)
    aggregation match {
      case Aggregation.None => o
      case a =>
        o.groupBy(col("src"), col("dst"))
          .agg(a.agg(col("weight")).cast("double").as("weight"))
    }
  }

  /**
   * The superstep-ready edge layout — the Spark expression of the north
   * star's "per-partition CSR-style sorted adjacency arrays with explicit
   * hash partitioning": ONE shuffle onto hash(src), parallel-edge
   * aggregation executed partition-locally (hash(src) satisfies the
   * (src,dst) clustering, so Catalyst plans no second exchange), rows
   * sorted by (src,dst) inside each partition, materialized once via
   * localCheckpoint — which preserves BOTH the partitioning and the
   * ordering on the resulting LogicalRDD. Every superstep's
   * edges⋈frontier sort-merge join then needs neither an exchange nor a
   * sort on the (large, static) edge side.
   *
   * This is the only edge frame [[graft.core.Pregel.run]] accepts; Pregel.run
   * releases the checkpoint blocks when the loop ends, so don't reuse the
   * frame after the run.
   *
   * @param withWeight false drops the weight column entirely —
   *        connectivity algorithms (WCC) never read it, and the
   *        checkpointed rows shrink from 24 to 16 bytes, cutting the
   *        bandwidth of the one shuffle AND of every superstep's scan
   */
  def pregelEdges(orientation: Orientation, aggregation: Aggregation,
      withWeight: Boolean = true): DataFrame = {
    val cols = if (withWeight) Seq(col("src"), col("dst"), col("weight"))
               else Seq(col("src"), col("dst"))
    val shuffled = oriented(orientation).select(cols: _*).repartition(col("src"))
    val flat = (aggregation, withWeight) match {
      case (Aggregation.None, _) => shuffled
      case (_, false)            => shuffled.distinct()
      case (a, true) => shuffled.groupBy(col("src"), col("dst"))
        .agg(a.agg(col("weight")).cast("double").as("weight"))
    }
    Lineage.sortedCheckpoint(flat, "src", "dst")
  }

  /** (id, degree) under an orientation; vertices with no edges get 0.
   *  Reference: Degrees interface on Graph.java; used for PageRank scatter. */
  def degrees(orientation: Orientation = Orientation.Natural): DataFrame = {
    val d = oriented(orientation).groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("degree"))
    nodes.select(col("id"))
      .join(d, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("degree"), lit(0L)).as("degree"))
  }

  /** (id, weightedDegree): sum of outgoing weights — the reference's
   *  WeightedDegreeCentrality used to build PageRank's DegreeCache
   *  (algo-common/.../pagerank/DegreeCache.java:26). */
  def weightedDegrees(orientation: Orientation = Orientation.Natural): DataFrame = {
    val d = oriented(orientation).groupBy(col("src").as("id"))
      .agg(sum(col("weight")).as("weightedDegree"))
    nodes.select(col("id"))
      .join(d, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("weightedDegree"), lit(0.0)).as("weightedDegree"))
  }

  /**
   * Sorted adjacency arrays: `(id, neighbors: array<long>)` with neighbors
   * ascending and deduplicated — the Spark stand-in for the reference's CSR
   * adjacency (TransientAdjacencyList.java; sortedness invariant from
   * AdjacencyCompression.java:52). One shuffle on `src`, map-side distinct
   * via collect_set, sort inside the row.
   */
  def adjacency(orientation: Orientation = Orientation.Natural): DataFrame =
    oriented(orientation)
      .groupBy(col("src").as("id"))
      .agg(sort_array(collect_set(col("dst"))).as("neighbors"))

  def nodeCount: Long = nodes.count()
  def edgeCount: Long = edges.count()

  /**
   * Degree-distribution summary for `gds.graph.list`
   * (reference: GraphInfoWithHistogram.java:65-66): approximate percentiles
   * over the out-degree column — `approxQuantile` runs a single pass with
   * Greenwald-Khanna sketches, no full sort.
   */
  def degreeHistogram(orientation: Orientation = Orientation.Natural): Map[String, Double] = {
    val d = degrees(orientation).select(col("degree").cast("double"))
    val probes = Array(0.5, 0.75, 0.9, 0.95, 0.99, 0.999)
    val qs = d.stat.approxQuantile("degree", probes, 0.001)
    val mm = d.agg(min("degree"), max("degree"), avg("degree")).head()
    Map(
      "p50" -> qs(0), "p75" -> qs(1), "p90" -> qs(2),
      "p95" -> qs(3), "p99" -> qs(4), "p999" -> qs(5),
      "min" -> mm.getDouble(0), "max" -> mm.getDouble(1), "mean" -> mm.getDouble(2))
  }

  def persist(): PropertyGraph = {
    nodes.persist(StorageLevel.MEMORY_AND_DISK)
    edges.persist(StorageLevel.MEMORY_AND_DISK)
    this
  }

  def unpersist(): PropertyGraph = {
    nodes.unpersist()
    edges.unpersist()
    this
  }
}

object PropertyGraph {
  /** Build from a bare edge list; nodes inferred as the union of endpoints.
   *  Mirrors HugeGraphUtil's in-memory builder (core/.../loading/HugeGraphUtil.java:48-103). */
  def fromEdges(edges: DataFrame): PropertyGraph = {
    val e = normalizeEdges(edges)
    val nodes = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id")))
      .distinct()
    PropertyGraph(nodes, e)
  }

  /** Coerce an edge frame to the canonical schema, defaulting type/weight
   *  (weight default fallback: reference HugeGraph.java:261). */
  def normalizeEdges(edges: DataFrame): DataFrame = {
    val withType =
      if (edges.columns.contains("type")) edges else edges.withColumn("type", lit("REL"))
    val withWeight =
      if (withType.columns.contains("weight")) withType
      else withType.withColumn("weight", lit(1.0))
    withWeight.select(
      col("src").cast("long"), col("dst").cast("long"),
      col("type").cast("string"), col("weight").cast("double"))
  }
}

/**
 * Process-wide named-graph catalog — the reference's GraphStoreCatalog
 * (core/.../loading/GraphStoreCatalog.java:45-132) keyed by graph name.
 * Graphs are persisted on create and unpersisted on drop.
 */
object GraphCatalog {
  private val graphs = new java.util.concurrent.ConcurrentHashMap[String, PropertyGraph]()

  def create(name: String, graph: PropertyGraph, failIfExists: Boolean = true): PropertyGraph = {
    if (failIfExists && graphs.containsKey(name))
      throw new IllegalArgumentException(s"A graph with name '$name' already exists.")
    val g = graph.persist()
    graphs.put(name, g)
    g
  }

  def get(name: String): PropertyGraph = {
    val g = graphs.get(name)
    if (g == null) throw new NoSuchElementException(s"Graph with name '$name' does not exist.")
    g
  }

  def exists(name: String): Boolean = graphs.containsKey(name)

  def list(): Seq[String] = {
    import scala.jdk.CollectionConverters._
    graphs.keySet().asScala.toSeq.sorted
  }

  def drop(name: String): Boolean = {
    val g = graphs.remove(name)
    if (g != null) { g.unpersist(); true } else false
  }

  def dropAll(): Unit = list().foreach(drop)
}

/**
 * Deterministic dense vertex-id assignment — the reference's IdMap
 * (core/.../loading/IdMap.java:54,101-117) maps original ids to a dense
 * [0, nodeCount) space; dense ids are load-bearing for deterministic LPA
 * tie-breaks (SURVEY.md §2.3).
 *
 * Spark mapping: sort the distinct keys, then zipWithIndex. The sort makes
 * the assignment a pure function of the key set (independent of
 * partitioning / parallelism), unlike monotonically_increasing_id. This is
 * one of the two places the engine drops to the RDD API (the other is
 * nothing) — zipWithIndex has no shuffle-free DataFrame equivalent that
 * stays deterministic; a global row_number() window would single-partition.
 */
object Ids {
  def assign(df: DataFrame, keyCol: String): DataFrame = {
    val spark = df.sparkSession
    import org.apache.spark.sql.types._
    val keyField = df.schema(keyCol)
    val rows = df.select(col(keyCol)).distinct()
      .sort(col(keyCol))
      .rdd
      .zipWithIndex()
      .map { case (r, idx) => org.apache.spark.sql.Row(r.get(0), idx) }
    val schema = StructType(Seq(
      StructField(keyCol, keyField.dataType, nullable = false),
      StructField("id", LongType, nullable = false)))
    spark.createDataFrame(rows, schema)
  }
}
