package graft.sources

import java.lang.reflect.InvocationTargetException
import java.util.concurrent.{Callable, CyclicBarrier, Executors}

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.SequenceFile.CompressionType
import org.apache.spark.sql.functions._

import graft.SparkSpec

class CompressionSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft-compress-$tag-").toString

  test("BLOCK-compressed SequenceFile: header says BLOCK, round trip is lossless") {
    val dir = tmp("block") + "/sf"
    val rows = (1L to 1000L).map(k => (k, s"value-$k-" + ("x" * 50)))
    SequenceFileIO.writeBlockCompressed(rows.toDF("key", "value"), dir)
    assert(SequenceFileIO.compressionType(spark, dir) == CompressionType.BLOCK)
    val back = SequenceFileIO.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(back.sorted.toSeq == rows)
  }

  test("RECORD-compressed SequenceFile round-trips too (per-value compression)") {
    val dir = tmp("record") + "/sf"
    val rows = (1L to 300L).map(k => (k, s"rv-$k-" + ("y" * 40)))
    SequenceFileIO.writeCompressed(rows.toDF("key", "value"), dir,
      CompressionType.RECORD)
    assert(SequenceFileIO.compressionType(spark, dir) == CompressionType.RECORD)
    // the codec parameter's default is the reference's DefaultCodec (zlib)
    assert(SequenceFileIO.compressionCodecName(spark, dir) == "DefaultCodec")
    val back = SequenceFileIO.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(back.sorted.toSeq == rows)
  }

  test("TFile: sorted gzip write, distributed scan, and block-index seeks") {
    val dir = tmp("tfile") + "/tf"
    val rows = (1L to 400L).map(k => (k * 3, s"tv$k")) // every third key
    TFileIO.write(rows.toDF("key", "value"), dir, partitions = 3)
    val back = TFileIO.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(back.sorted.toSeq == rows)
    assert(TFileIO.get(spark, dir, Seq(3L, 600L, 1200L)) ==
      Seq(3L -> "tv1", 600L -> "tv200", 1200L -> "tv400"))
    assert(TFileIO.get(spark, dir, Seq(4L, 5000L)).isEmpty)
  }

  test("TFile: parallel first writers in a JVM never see a half-built gzip codec") {
    // Hadoop's TFile gzip codec is a static built on first use, without a
    // lock. A fresh class loader per round re-runs that first use: each
    // round defines the TFile classes and TFileIO anew and starts four
    // part-file writers at once. Without TFileIO's lock about one round in
    // a hundred fails with an NPE, so 250 rounds catch it nine times in ten.
    val dir = java.nio.file.Files.createTempDirectory("graft-tfile-race-")
    val writers = 4
    val pool = Executors.newFixedThreadPool(writers)
    val failures =
      try (0 until 250).flatMap { round =>
        val loader = new CompressionSpec.ChildFirstLoader(getClass.getClassLoader,
          Seq("org.apache.hadoop.io.file.tfile.", "graft.sources.TFileIO"))
        val io = loader.loadClass("graft.sources.TFileIO$").getField("MODULE$").get(null)
        val writePart = io.getClass.getMethod("writePart",
          classOf[Path], classOf[Iterator[_]])
        val barrier = new CyclicBarrier(writers)
        (0 until writers).map { t =>
          pool.submit(new Callable[Option[Throwable]] {
            def call(): Option[Throwable] = {
              barrier.await()
              try {
                writePart.invoke(io, new Path(dir.resolve(s"r$round-w$t").toString),
                  Iterator((1L, "v")))
                None
              } catch { case e: InvocationTargetException => Some(e.getCause) }
            }
          })
        }.flatMap(_.get())
      } finally pool.shutdown()
    assert(failures.isEmpty,
      s"${failures.size} writers failed, first: ${failures.headOption}")
  }

  test("BZip2-codec SequenceFile (reference BZip2Codec) round-trips losslessly") {
    val dir = tmp("sfbz2") + "/sf"
    val rows = (1L to 200L).map(k => (k, s"bz-$k-" + ("z" * 30)))
    SequenceFileIO.writeCompressed(rows.toDF("key", "value"), dir,
      CompressionType.BLOCK, classOf[org.apache.hadoop.io.compress.BZip2Codec])
    assert(SequenceFileIO.compressionType(spark, dir) == CompressionType.BLOCK)
    assert(SequenceFileIO.compressionCodecName(spark, dir) == "BZip2Codec")
    val back = SequenceFileIO.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(back.sorted.toSeq == rows)
  }

  test("bzip2 is splittable: one .bz2 file decodes across >1 task, losing nothing") {
    val dir = tmp("bz2") + "/txt"
    // ~2 MB of lines in ONE file → several bzip2 blocks (900 KB each raw)
    val n = 20000
    spark.range(n.toLong)
      .select(concat(lit("line-"), col("id"), lit("-"),
        md5(col("id").cast("string"))).as("value"))
      .coalesce(1)
      .write.option("compression", "bzip2").text(dir)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", (64 * 1024).toString)
      val df = spark.read.text(dir)
      assert(df.rdd.getNumPartitions > 1,
        s"bzip2 scan planned ${df.rdd.getNumPartitions} partition(s) — not split")
      assert(df.count() == n)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("gzip, by contrast, cannot split: the same read plans one task per file") {
    val dir = tmp("gz") + "/txt"
    spark.range(20000L).select(col("id").cast("string").as("value"))
      .coalesce(1)
      .write.option("compression", "gzip").text(dir)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", (16 * 1024).toString)
      assert(spark.read.text(dir).rdd.getNumPartitions == 1)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }
}

object CompressionSpec {
  /** Defines the classes under `prefixes` itself, from the parent's class
    * files, and delegates every other class to the parent: each instance
    * holds its own copy of those classes' static state.
    */
  final class ChildFirstLoader(parent: ClassLoader, prefixes: Seq[String])
      extends ClassLoader(parent) {
    override def loadClass(name: String, resolve: Boolean): Class[_] =
      if (!prefixes.exists(name.startsWith)) super.loadClass(name, resolve)
      else getClassLoadingLock(name).synchronized {
        Option(findLoadedClass(name)).getOrElse {
          val in = parent.getResourceAsStream(name.replace('.', '/') + ".class")
          val bytes = try in.readAllBytes() finally in.close()
          defineClass(name, bytes, 0, bytes.length)
        }
      }
  }
}
