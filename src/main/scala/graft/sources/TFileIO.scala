package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.file.tfile.{Compression, TFile}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Real on-disk TFile interop (reference: io/file/tfile/TFile.java — the
  * block-compressed, index-seekable KV container). Keys are stored as
  * 8-byte big-endian longs so the file's `memcmp` comparator order equals
  * numeric order; values are UTF-8 strings.
  *
  * Write mirrors [[MapFileIO]]: range-partition + sort, one part TFile per
  * task through the stock TFile.Writer (gzip block compression, sorted with
  * the memcmp comparator — exactly what reference TFile readers expect).
  * The distributed read hands each task one part file to scan; point
  * lookups use `createScannerByKey` — the TFile block index seek.
  */
object TFileIO {
  private val BlockSize = 256 * 1024

  private def keyBytes(k: Long): Array[Byte] =
    java.nio.ByteBuffer.allocate(8).putLong(k).array()

  /** Hadoop's `Compression.Algorithm.GZ.getCodec` is unsynchronized: it
    * publishes the JVM-wide codec BEFORE calling `setConf` on it, so a
    * second writer or reader starting at the same moment can take the
    * codec with a null conf and fail with an NPE in
    * `Configuration.setInt`. Parallel part-file tasks hit that on the
    * first TFile use in a JVM. The lazy val builds the codec once, under
    * its initialization lock, before any TFile writer or reader is made.
    */
  private lazy val gzCodec: Compression.Algorithm = {
    val gz = Compression.Algorithm.GZ
    gz.returnCompressor(gz.getCompressor())
    gz
  }

  private def initGzCodec(): Unit = { val _ = gzCodec }

  /** Write (long key, string value) rows as `partitions` sorted gzip TFiles
    * under `path`, key ranges disjoint across part files.
    */
  def write(df: DataFrame, path: String, partitions: Int = 4): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    fs.mkdirs(root)
    df.select(col(df.columns(0)).as("key"), col(df.columns(1)).as("value"))
      .repartitionByRange(partitions, col("key")).sortWithinPartitions("key")
      .rdd.map(r => (r.getLong(0), r.getString(1)))
      .mapPartitionsWithIndex { (idx, it) =>
        writePart(new Path(path, f"part-$idx%05d"), it)
        Iterator.single(idx)
      }.count(): Unit
  }

  /** One sorted gzip part TFile of (key, value) rows, keys ascending. */
  private[sources] def writePart(part: Path, rows: Iterator[(Long, String)]): Unit = {
    initGzCodec()
    val conf = new Configuration()
    val out = part.getFileSystem(conf).create(part)
    val w = new TFile.Writer(out, BlockSize, TFile.COMPRESSION_GZ,
      TFile.COMPARATOR_MEMCMP, conf)
    try rows.foreach { case (k, v) =>
      w.append(keyBytes(k), v.getBytes("UTF-8"))
    } finally { w.close(); out.close() }
  }

  /** Distributed scan: one task per part TFile. */
  def read(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val parts = root.getFileSystem(conf).listStatus(root).map(_.getPath)
      .filter(_.getName.startsWith("part-")).map(_.toString).sorted
    spark.sparkContext.parallelize(parts.toSeq, parts.length.max(1))
      .flatMap(readPart)
      .toDF("key", "value")
  }

  private def readPart(part: String): Iterator[(Long, String)] = {
    initGzCodec()
    val conf = new Configuration()
    val p = new Path(part)
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    val r = new TFile.Reader(in, fs.getFileStatus(p).getLen, conf)
    val sc = r.createScanner()
    val out = Seq.newBuilder[(Long, String)]
    try {
      while (!sc.atEnd()) {
        val e = sc.entry()
        val kb = new Array[Byte](e.getKeyLength)
        e.getKey(kb)
        val vb = new Array[Byte](e.getValueLength)
        e.getValue(vb)
        out += ((java.nio.ByteBuffer.wrap(kb).getLong, new String(vb, "UTF-8")))
        sc.advance(): Unit
      }
    } finally { sc.close(); r.close(); in.close() }
    out.result().iterator
  }

  /** Block-index point lookups: `createScannerByKey` seeks the block whose
    * range covers the key; part ranges are disjoint so at most one hits.
    */
  def get(spark: SparkSession, path: String, keys: Seq[Long]): Seq[(Long, String)] = {
    initGzCodec()
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val parts = fs.listStatus(root).map(_.getPath)
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val readers = parts.map { p =>
      (fs.open(p), fs.getFileStatus(p).getLen)
    }.map { case (in, len) => (in, new TFile.Reader(in, len, conf)) }
    def rawBytes(rc: org.apache.hadoop.io.file.tfile.RawComparable): Array[Byte] =
      java.util.Arrays.copyOfRange(rc.buffer(), rc.offset(), rc.offset() + rc.size())
    try keys.flatMap { k =>
      val kb = keyBytes(k)
      readers.iterator.flatMap { case (_, r) =>
        // range-check against the file's first/last key: seeking past the
        // last block trips a TFile index bug, and disjoint part ranges make
        // out-of-range files skippable anyway
        val inRange = r.getEntryCount > 0 &&
          java.util.Arrays.compareUnsigned(kb, rawBytes(r.getFirstKey)) >= 0 &&
          java.util.Arrays.compareUnsigned(kb, rawBytes(r.getLastKey)) <= 0
        if (!inRange) None
        else {
          val sc = r.createScannerByKey(kb, null)
          try {
            if (sc.atEnd()) None
            else {
              val e = sc.entry()
              val found = new Array[Byte](e.getKeyLength)
              e.getKey(found)
              if (!java.util.Arrays.equals(found, kb)) None
              else {
                val vb = new Array[Byte](e.getValueLength)
                e.getValue(vb)
                Some(k -> new String(vb, "UTF-8"))
              }
            }
          } finally sc.close()
        }
      }.take(1).toSeq
    } finally readers.foreach { case (in, r) => r.close(); in.close() }
  }
}
