package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import org.roaringbitmap.longlong.Roaring64NavigableMap

/** Bounded-depth breadth-first search: minimum hop distance from a source
  * vertex over an undirected edge set, one Spark job per round.
  *
  * The edges are built once into a cached adjacency: per partition, the
  * sorted source ids, their offsets and a neighbour array (CSR), hash-
  * partitioned on the source id so each vertex lives in one partition.
  * The frontier is a broadcast compressed bitmap of 64-bit vertex ids
  * (`Roaring64NavigableMap`), so raw ids need no dense remap. A round is
  * one job: every partition looks up the frontier vertices it holds and
  * returns the bitmap of their neighbours; the driver ORs those and
  * subtracts the visited set. BFS discovers every vertex first at its
  * minimum depth, so round `h`'s new bitmap IS the set at distance `h`;
  * no edge row is shuffled per round and no distance table is rewritten.
  *
  * The reference expresses this pattern as one MapReduce job PER ROUND
  * with the FULL distance table re-read from and re-written to HDFS each
  * time (cf. JobControl chaining, reference
  * src/mapred/org/apache/hadoop/mapred/jobcontrol/).
  */
object Bfs {

  /** One partition's adjacency: the neighbours of `ids(i)` are
    * `nbrs(offsets(i) until offsets(i + 1))`; `ids` ascend (signed).
    */
  final class Csr(val ids: Array[Long], val offsets: Array[Int], val nbrs: Array[Long])
      extends Serializable {

    /** Adds the neighbours of every frontier vertex held here to `out`.
      * Every partition sees the whole frontier, so it binary-searches its
      * ids for each frontier vertex only while the frontier is the smaller
      * side, and otherwise tests each of its ids against the bitmap.
      * `size` is the frontier's cardinality, taken on the driver: the
      * bitmap's cardinality cache is not safe to fill from concurrent
      * tasks sharing one broadcast.
      */
    def expand(frontier: Roaring64NavigableMap, size: Long,
               out: Roaring64NavigableMap): Unit = {
      def add(i: Int): Unit = {
        var j = offsets(i)
        while (j < offsets(i + 1)) { out.addLong(nbrs(j)); j += 1 }
      }
      if (size < ids.length)
        frontier.forEach { v =>
          val i = java.util.Arrays.binarySearch(ids, v)
          if (i >= 0) add(i)
        }
      else {
        var i = 0
        while (i < ids.length) { if (frontier.contains(ids(i))) add(i); i += 1 }
      }
    }

    /** The highest-degree vertex here, ties to the lowest id. */
    def hub: Option[(Int, Long)] =
      ids.indices.map(i => (offsets(i + 1) - offsets(i), ids(i)))
        .minByOption { case (deg, id) => (-deg, id) }
  }

  private object Csr {
    /** Builds from `(u, v)` rows sorted by `(u, v)`, dropping duplicate
      * pairs and self-loops.
      */
    def of(rows: Iterator[InternalRow]): Csr = {
      val ids = Array.newBuilder[Long]
      val offsets = Array.newBuilder[Int]
      val nbrs = Array.newBuilder[Long]
      var n = 0
      var first = true
      var u0, v0 = 0L
      rows.foreach { r =>
        val u = r.getLong(0)
        val v = r.getLong(1)
        if (u != v && (first || u != u0 || v != v0)) {
          if (first || u != u0) { ids += u; offsets += n; first = false }
          nbrs += v; n += 1
          u0 = u; v0 = v
        }
      }
      offsets += n
      new Csr(ids.result(), offsets.result(), nbrs.result())
    }
  }

  /** The cached adjacency plus what its build learned on the way:
    * `vertices` = how many vertices carry an edge; `hub` = the max-degree
    * vertex, ties to the lowest id (None when there are no edges).
    */
  final class Adjacency(spark: SparkSession, parts: RDD[Csr],
                        val vertices: Long, val hub: Option[Long]) {

    /** Frees the cached partitions; later reads recompute them. */
    def unpersist(): Unit = parts.unpersist(blocking = false)

    /** Traverses from `src` for at most `maxHops` rounds. Once every
      * vertex with an edge is visited no later round can find one, so the
      * loop exits early with an identical result.
      */
    def hopsFrom(src: Long, maxHops: Int): Hops = {
      val levels = ArrayBuffer(bitmap(src))
      val visited = bitmap(src)
      var frontier = levels.head
      var rounds = 0
      while (rounds < maxHops && !frontier.isEmpty && visited.getLongCardinality < vertices) {
        rounds += 1
        val f = spark.sparkContext.broadcast(frontier)
        val size = frontier.getLongCardinality
        frontier = parts.map { c => val out = bitmap(); c.expand(f.value, size, out); out }
          .fold(bitmap()) { (a, b) => a.or(b); a }
        frontier.andNot(visited)
        visited.or(frontier)
        if (!frontier.isEmpty) levels += frontier
      }
      new Hops(spark, parts, levels.toVector, rounds)
    }
  }

  /** A traversal's result: `levels(h)` holds the vertices at distance `h`
    * (level 0 is the source; no level is empty); `rounds` = jobs run.
    */
  final class Hops(spark: SparkSession, parts: RDD[Csr],
                   levels: Vector[Roaring64NavigableMap], val rounds: Int) {

    /** Largest distance reached. */
    def ecc: Int = levels.length - 1

    /** The farthest vertex, ties to the lowest id (signed). */
    def far: Long = levels.last.first()

    /** `part_id`, `hops` for every reached vertex, lazily: each adjacency
      * partition tags the vertices it holds with their level, against the
      * broadcast level bitmaps; the source is its own row.
      */
    def toDF: DataFrame = {
      val ls = spark.sparkContext.broadcast(levels.tail.toArray)
      val reached = parts.mapPartitions { it =>
        val l = ls.value
        it.flatMap(_.ids.iterator.flatMap { id =>
          val h = l.indexWhere(_.contains(id))
          if (h >= 0) Some(Row(id, h + 1)) else None
        })
      }
      val src = spark.sparkContext.parallelize(Seq(Row(levels.head.first(), 0)), 1)
      spark.createDataFrame(reached.union(src), StructType(Seq(
        StructField("part_id", LongType, nullable = false),
        StructField("hops", IntegerType, nullable = false))))
    }
  }

  /** Builds the adjacency in one pass over `pairs`: two BIGINT columns
    * `u`, `v` holding BOTH directions of every undirected edge. Duplicate
    * pairs and self-loops are dropped here.
    */
  def adjacency(pairs: DataFrame): Adjacency = {
    val spark = pairs.sparkSession
    val parts = pairs.select(col("u").cast("long"), col("v").cast("long"))
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt, col("u"))
      .sortWithinPartitions(col("u"), col("v"))
      .queryExecution.toRdd
      .mapPartitions(rows => Iterator.single(Csr.of(rows)))
      .setName("bfs_adjacency")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val stats = parts.map(c => (c.ids.length.toLong, c.hub)).collect()
    val hub = stats.flatMap(_._2).minByOption { case (deg, id) => (-deg, id) }
    new Adjacency(spark, parts, stats.map(_._1).sum, hub.map(_._2))
  }

  /** [[adjacency]] of `edges` (`u`, `v`), each edge taken in both
    * directions.
    */
  def undirected(edges: DataFrame): Adjacency =
    adjacency(edges.select(col("u"), col("v")).union(edges.select(col("v"), col("u"))))

  /** @param edges  two BIGINT columns `u`, `v`; treated as undirected.
    * @return `part_id`, `hops` for every vertex within `maxHops` of `src`.
    *         The adjacency is released on return, so running the frame
    *         rebuilds the partitions it reads.
    */
  def hopsFrom(edges: DataFrame, src: Long, maxHops: Int): DataFrame = {
    val adj = undirected(edges)
    val hops = adj.hopsFrom(src, maxHops)
    adj.unpersist()
    hops.toDF
  }

  /** Empty bitmap ordered by SIGNED id, so `first()` is the lowest id. */
  private def bitmap(ids: Long*): Roaring64NavigableMap = {
    val b = new Roaring64NavigableMap(true)
    ids.foreach(b.addLong)
    b
  }
}
