package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.io.{BytesWritable, LongWritable}
import org.apache.hadoop.mapreduce.lib.input.{FixedLengthInputFormat => HadoopFLIF}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.sources.fixedwidth._

/** DIFFERENTIAL parity against the real thing: the reference repo's
  * descendant, `org.apache.hadoop.mapreduce.lib.input.FixedLengthInputFormat`
  * (the format the reference README points users at since Hadoop 2.x),
  * ships on the Spark classpath — so instead of only testing OUR READING of
  * the reference semantics, read the same bytes through both readers and
  * assert the (offset, value) record sets are identical.
  *
  * Envelope mirrors the reference's randomized suite
  * (TestFixedLengthInputFormat.java:201-209, :235-238): random record
  * lengths, record length 1, split smaller than one record, split forced to
  * a non-multiple of the record length. Split geometry differs by design —
  * the Hadoop reader fixes up unaligned splits at READ time (skip to the
  * next record boundary, finish the last record past split end), ours
  * aligns splits at PLANNING time — so the invariant both must satisfy is
  * set-level: every record exactly once, keyed by its byte offset in the
  * file, with identical bytes. One file per case makes offset a unique key.
  */
class HadoopDifferentialSpec extends SparkSpec with Matchers {

  /** Write n seeded-random records of len bytes as ONE file; returns path. */
  private def writeFile(n: Int, len: Int, seed: Int): String = {
    val dir = Files.createTempDirectory("graft-hadoop-diff").toString
    val rng = new Random(seed)
    val bytes = new Array[Byte](n * len)
    rng.nextBytes(bytes)
    Files.write(Paths.get(dir, "data.fwb"), bytes)
    dir
  }

  private def readHadoop(dir: String, len: Int, maxSplit: Option[Long]): Seq[(Long, Seq[Byte])] =
    readHadoopPath(s"$dir/data.fwb", len, maxSplit)

  private def readHadoopPath(path: String, len: Int, maxSplit: Option[Long]): Seq[(Long, Seq[Byte])] = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    HadoopFLIF.setRecordLength(conf, len)
    maxSplit.foreach(conf.setLong("mapreduce.input.fileinputformat.split.maxsize", _))
    spark.sparkContext.newAPIHadoopFile(
        path, classOf[HadoopFLIF], classOf[LongWritable], classOf[BytesWritable], conf)
      // Writables are REUSED by the record reader — copy before collect
      .map { case (k, v) => (k.get, v.copyBytes().toSeq) }
      .collect().toSeq
  }

  private def readFixedwidth(dir: String, len: Int, maxSplit: Option[Long]): Seq[(Long, Seq[Byte])] = {
    maxSplit.foreach(v => spark.conf.set("spark.sql.files.maxPartitionBytes", v.toString))
    try {
      spark.read.format("fixedwidth").option("recordLength", len).load(dir)
        .select(col("offset"), col("value"))
        .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).toSeq
    } finally maxSplit.foreach(_ => spark.conf.unset("spark.sql.files.maxPartitionBytes"))
  }

  private def check(n: Int, len: Int, maxSplit: Option[Long], seed: Int): Unit = {
    val dir = writeFile(n, len, seed)
    val h = readHadoop(dir, len, maxSplit).sortBy(_._1)
    val g = readFixedwidth(dir, len, maxSplit).sortBy(_._1)
    h.size shouldBe n
    g.size shouldBe n
    g shouldBe h
  }

  // The reference suite's forced edge cases, pinned deterministically.
  test("parity: record length 1 (reference :207-209)")(check(n = 97, len = 1, None, seed = 1))
  test("parity: split smaller than one record (reference :235-238)")(
    check(n = 64, len = 128, Some(61L), seed = 2))
  test("parity: split a non-multiple of the record length")(
    check(n = 200, len = 96, Some(1000L), seed = 3))
  test("parity: default split geometry")(check(n = 999, len = 13, None, seed = 4))

  // Randomized sweep in the reference's style (seeded for reproducibility):
  // random (records, length, maxSplit) combinations, maxSplit drawn to land
  // below, inside, and above the file size.
  {
    val rng = new Random(20260814)
    for (i <- 1 to 6) {
      val n = rng.nextInt(500) + 1
      val len = rng.nextInt(2048) + 1
      val fileSize = n.toLong * len
      val maxSplit = rng.nextInt(3) match {
        case 0 => Some(math.max(1L, rng.nextLong(math.max(2L, len))))      // < one record
        case 1 => Some(math.max(1L, rng.nextLong(math.max(2L, fileSize)))) // mid-file
        case _ => None                                                     // default
      }
      test(s"parity: randomized case $i (n=$n len=$len maxSplit=$maxSplit)")(
        check(n, len, maxSplit, seed = 100 + i))
    }
  }

  // --------------------------------------------------------------------
  // BLOCK boundaries of the columnar reader: a block is at most 4096
  // records and 1 MiB, never crosses a chunk, hence never a file.
  // --------------------------------------------------------------------

  test("parity: a record longer than the block budget reads one record per block")(
    check(n = 3, len = (1 << 20) + 37, None, seed = 5))

  private def rawOpts(len: Int, extra: (String, String)*): FixedWidthOptions =
    FixedWidthOptions(new CaseInsensitiveStringMap(
      (Map("recordLength" -> len.toString) ++ extra).asJava))

  /** Drive the columnar reader over `chunks` on this thread; returns each
    * batch as (the batch's _source_file, its (offset, value) rows). */
  private def columnarBatches(o: FixedWidthOptions, chunks: Seq[FileChunk])
      : Seq[(String, Seq[(Long, Seq[Byte])])] = {
    val schema = o.schema.add(FixedWidthOptions.SourceFileCol, StringType)
    val r = new FixedWidthColumnarReader(FixedWidthInputPartition(chunks), o, schema,
      spark.sessionState.newHadoopConf())
    try Iterator.continually(r).takeWhile(_.next()).map { rr =>
      val b = rr.get()
      b.column(2).getUTF8String(0).toString ->
        (0 until b.numRows()).map(i => (b.column(0).getLong(i), b.column(1).getBinary(i).toSeq))
    }.toList
    finally r.close()
  }

  test("block boundary: batches across capacity, chunk and file switches match Hadoop per file") {
    val len = 7
    val a = writeFile(5000, len, seed = 6) + "/data.fwb"
    val b = writeFile(10, len, seed = 7) + "/data.fwb"
    val c = writeFile(4100, len, seed = 8) + "/data.fwb"
    // two chunks of the same file, then two more files, in one partition
    val chunks = Seq(
      FileChunk(a, 0L, 3000L * len, compressed = false),
      FileChunk(a, 3000L * len, 2000L * len, compressed = false),
      FileChunk(b, 0L, 10L * len, compressed = false),
      FileChunk(c, 0L, 4100L * len, compressed = false))
    val batches = columnarBatches(rawOpts(len), chunks)
    // one block per batch: capacity-bounded, never spanning a chunk
    batches.map(_._2.size) shouldBe Seq(3000, 2000, 10, 4096, 4)
    batches.map(_._1) shouldBe Seq(a, a, b, c, c)
    for (f <- Seq(a, b, c)) withClue(s"$f: ") {
      val ours = batches.filter(_._1 == f).flatMap(_._2)
      ours shouldBe readHadoopPath(f, len, None).sortBy(_._1)
    }
  }

  test("block boundary: a file truncated after planning fails with the EOF-mid-record message") {
    val len = 7
    val f = writeFile(5000, len, seed = 9) + "/data.fwb"
    Files.write(Paths.get(f), Array[Byte](1, 2, 3), java.nio.file.StandardOpenOption.APPEND)
    // the plan still claims whole records past the file's end
    for (claimed <- Seq(5001L, 6000L)) {
      val e = intercept[java.io.IOException](
        columnarBatches(rawOpts(len), Seq(FileChunk(f, 0L, claimed * len, compressed = false))))
      e.getMessage shouldBe s"fixedwidth: EOF mid-record at offset ${5000L * len} of $f: " +
        s"file is not a multiple of recordLength=$len"
    }
  }

  test("block boundary: compressed trailing fragment errors under FAILFAST, drops when tolerant") {
    val len = 7
    val dir = Files.createTempDirectory("graft-hadoop-diff-gz")
    val gz = dir.resolve("data.fwb.gz").toString
    val rng = new Random(10)
    val bytes = new Array[Byte](5000 * len + 3)
    rng.nextBytes(bytes)
    val out = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(gz))
    try out.write(bytes) finally out.close()
    val chunk = Seq(FileChunk(gz, 0L, Files.size(Paths.get(gz)), compressed = true))
    val e = intercept[java.io.IOException](columnarBatches(rawOpts(len), chunk))
    e.getMessage shouldBe s"fixedwidth: EOF mid-record at offset ${5000L * len} of $gz: " +
      s"file is not a multiple of recordLength=$len"
    val batches = columnarBatches(rawOpts(len, "mode" -> "DROPMALFORMED"), chunk)
    batches.map(_._2.size) shouldBe Seq(4096, 904)
    batches.flatMap(_._2) shouldBe (0 until 5000).map(i =>
      (i.toLong * len, bytes.slice(i * len, (i + 1) * len).toSeq))
  }

  // --------------------------------------------------------------------
  // WRITE-side parity: what FixedWidthWrite produces, Hadoop's own
  // FixedLengthInputFormat must consume — file lengths exact multiples of
  // the record length (no separators, no trailers), and per part file the
  // (offset, bytes) sets Hadoop sees equal what our reader sees. Combined
  // with the typed round-trip specs (our reader decodes our writes back to
  // the original values), this closes the loop: a Hadoop MapReduce job
  // pointed at our sink's output reads exactly the records we encoded.
  // --------------------------------------------------------------------

  private def listFwb(root: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".fwb")) Seq(f) else Nil
    walk(new java.io.File(root)).sortBy(_.getPath)
  }

  private def perFileParity(root: String, len: Int, expectedRecords: Long): Unit = {
    val files = listFwb(root)
    files should not be empty
    var total = 0L
    for (f <- files) {
      withClue(s"${f.getPath}: ") {
        (f.length % len) shouldBe 0L // Hadoop FLIF errors on partial records
        val h = readHadoopPath(f.getPath, len, None).sortBy(_._1)
        val g = spark.read.format("fixedwidth").option("recordLength", len)
          .load(f.getPath)
          .select(col("offset"), col("value"))
          .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq))
          .toSeq.sortBy(_._1)
        h shouldBe g
        total += h.size
      }
    }
    total shouldBe expectedRecords
  }

  test("write-side parity: flat strictWidth write reads back identically through Hadoop") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-hadoop-diff-w").toString
    val n = 500
    val df = spark.range(n).select(
      $"id",
      concat(lit("name_"), $"id").as("name"),
      ($"id" * 7 % 1000).cast("decimal(9,2)").as("amt"))
    val fields = "id:long:0:10, name:string:10:16, amt:decimal(9,2):26:12"
    df.repartition(3) // multiple part files — per-file offsets must restart
      .write.format("fixedwidth").option("fields", fields)
      .option("strictWidth", "true").mode("overwrite").save(out)
    perFileParity(out, len = 38, expectedRecords = n.toLong)
  }

  test("write-side parity: partitionBy dirs flatten to Hadoop-readable fixed-length files") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-hadoop-diff-p").toString
    val n = 300
    val df = spark.range(n).select(
      ($"id" % 4).cast("int").as("k"),
      $"id",
      concat(lit("v"), $"id").as("payload"))
    // this format keeps partition columns IN the record bytes (documented
    // divergence from parquet convention) AND lays out Hive-style dirs
    val fields = "k:int:0:4, id:long:4:10, payload:string:14:12"
    df.write.format("fixedwidth").option("fields", fields)
      .option("strictWidth", "true").partitionBy("k")
      .mode("overwrite").save(out)
    val kDirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("k=")).sorted
    kDirs.toSeq shouldBe Seq("k=0", "k=1", "k=2", "k=3")
    perFileParity(out, len = 26, expectedRecords = n.toLong)
    // and the partition values round-trip through OUR read of the tree
    val back = spark.read.format("fixedwidth").option("fields", fields).load(out)
      .groupBy(col("k")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    back shouldBe Map(0 -> 75L, 1 -> 75L, 2 -> 75L, 3 -> 75L)
  }
}
