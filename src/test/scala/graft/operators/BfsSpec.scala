package graft.operators

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.core.{Materialize, Shared}

class BfsSpec extends SparkSpec {
  import spark.implicits._

  private def hops(df: DataFrame): Map[Long, Int] =
    df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  // 1-2, 2-3, 3-4, 1-3 (shortcut), 9-10 (disconnected)
  private def handGraph = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (9L, 10L))
    .toDF("u", "v")

  test("bfs: a source with no edges reaches only itself") {
    assert(hops(Bfs.hopsFrom(handGraph, src = 42L, maxHops = 3)) === Map(42L -> 0))
    val empty = Seq.empty[(Long, Long)].toDF("u", "v")
    assert(hops(Bfs.hopsFrom(empty, src = 7L, maxHops = 3)) === Map(7L -> 0))
  }

  test("bfs: a disconnected component is traversed on its own") {
    assert(hops(Bfs.hopsFrom(handGraph, src = 10L, maxHops = 3)) === Map(10L -> 0, 9L -> 1))
  }

  test("bfs: maxHops = 0 runs no round and returns the source") {
    val adj = Bfs.undirected(handGraph)
    try {
      val h = adj.hopsFrom(1L, maxHops = 0)
      assert(h.rounds === 0 && h.ecc === 0 && h.far === 1L)
      assert(hops(h.toDF) === Map(1L -> 0))
    } finally adj.unpersist()
  }

  test("bfs: on a fully covered graph the coverage exit skips the empty round") {
    val path = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    val adj = Bfs.undirected(path)
    try {
      assert(adj.vertices === 3L && adj.hub === Some(2L))
      // levels {1}, {2}, {3}: all three vertices are visited after round 2,
      // so round 3 (which would find nothing) never runs
      val h = adj.hopsFrom(1L, maxHops = 5)
      assert(h.rounds === 2 && h.ecc === 2 && h.far === 3L)
      assert(hops(h.toDF) === Map(1L -> 0, 2L -> 1, 3L -> 2))
    } finally adj.unpersist()
  }

  test("bfs: negative ids and ids >= 2^32 keep signed (hops desc, id asc) order") {
    val big = 1L << 33
    val neg = -(1L << 40)
    // 0 is joined to -7, 5 and 2^33; 2^33 to neg and 9; -7 to neg
    val edges = Seq((0L, -7L), (0L, 5L), (0L, big), (big, neg), (big, 9L), (-7L, neg))
      .toDF("u", "v")
    val adj = Bfs.undirected(edges)
    try {
      // degree 3 at 0 and at 2^33: the tie goes to the lower id
      assert(adj.vertices === 6L && adj.hub === Some(0L))
      val h = adj.hopsFrom(0L, maxHops = 4)
      // level 1 is {-7, 5, 2^33}; level 2 is {neg, 9}: unsigned order
      // would put 9 first, signed order puts neg first
      assert(h.ecc === 2 && h.far === neg)
      assert(hops(h.toDF) ===
        Map(0L -> 0, -7L -> 1, 5L -> 1, big -> 1, neg -> 2, 9L -> 2))
      // from 5, both -7 and 2^33 sit at distance 2: the far pick is -7
      val h5 = adj.hopsFrom(5L, maxHops = 2)
      assert(h5.ecc === 2 && h5.far === -7L)
    } finally adj.unpersist()
  }

  test("bfs: results are identical with spark.graft.checkpointDir set and unset") {
    def run(): Seq[Map[Long, Int]] =
      Seq(1L, 4L, 9L, 42L).map(s => hops(Bfs.hopsFrom(handGraph, s, maxHops = 3)))
    val local = run()
    val dir = java.nio.file.Files.createTempDirectory("graft-bfs-ckpt").toString
    spark.conf.set(Materialize.ConfKey, dir)
    val reliable = try run() finally spark.conf.unset(Materialize.ConfKey)
    assert(reliable === local)
    assert(local.head === Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2))
  }

  test("bfs: Shared.clear() leaves no persisted adjacency RDD behind") {
    def adjacencies = spark.sparkContext.getPersistentRDDs.values
      .count(_.name == "bfs_adjacency")
    // memoized the way the catalog memoizes the co-purchase adjacency
    def memo() = Shared.memoValue(spark, "bfsspec_adjacency", "hand",
      (a: Bfs.Adjacency) => a.unpersist())(Bfs.undirected(handGraph))
    Shared.clear()
    val before = adjacencies
    Shared.drainBuilds()
    val adj = memo()
    assert(memo() eq adj)
    assert(Shared.drainBuilds().filter(_.startsWith("bfsspec")) === Seq("bfsspec_adjacency"))
    assert(adjacencies === before + 1)
    Shared.clear()
    assert(adjacencies === before)
  }
}
