package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.sources.fixedwidth.FwzFormat

/** The framed compressed layout (.fwz, FwzFormat): write → read round trips
  * at several split granularities for BOTH codecs, file rolling, Hive
  * partitioning, plan-time corruption checks, and the frame-grid split
  * proof (finer maxPartitionBytes ⇒ strictly more partitions). The write
  * side goes BEYOND the reference (which rejects compression outright,
  * FixedLengthRecordReader.java:147-152): frames are record multiples with
  * a content-size footer, so written data splits with no phase-1 pass. */
class FwzRoundTripSpec extends SparkSpec with Matchers {

  private val fieldsOpt = "id:long:0:8,payload:string:8:24"
  private val recLen = 32

  private def df(n: Int) = {
    import spark.implicits._
    (0 until n).map { i =>
      val rnd = new java.util.Random(i * 0x9e3779b9L)
      val s = (0 until 20).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
      (i.toLong, s)
    }.toDF("id", "payload").repartition(4)
  }

  private def writeFwz(dir: String, n: Int, codec: String, frameBytes: Long): Unit =
    df(n).write.format("fixedwidth").option("fields", fieldsOpt)
      .option("recordLength", recLen).option("compression", codec)
      .option("frameBytes", frameBytes.toString)
      .mode("overwrite").save(dir)

  private def readAll(dir: String): Array[(String, Long, Long, String)] =
    spark.read.format("fixedwidth").option("fields", fieldsOpt)
      .option("recordLength", recLen).load(dir)
      .select(col("_source_file"), col("offset"), col("id"), col("payload"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(x => (x._3, x._2))

  test("zstd and gzip round-trip, identical records at 3 split granularities") {
    for (codec <- Seq("zstd", "gzip")) {
      val dir = Files.createTempDirectory(s"graft-fwz-$codec").toString
      writeFwz(dir, 200000, codec, frameBytes = 64 * 1024) // 2k records/frame
      val files = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".fwz"))
      withClue(s"$codec files") { files should not be empty }
      val expectedIds = (0 until 200000).map(_.toLong)
      val partCounts = Seq("134217728", "1048576", "262144").map { mpb =>
        spark.conf.set("spark.sql.files.maxPartitionBytes", mpb)
        try {
          val got = readAll(dir)
          got.map(_._3).toSeq shouldBe expectedIds
          // offsets are the logical decompressed record grid PER FILE:
          // unique within a file, dense from 0 in recLen steps
          got.groupBy(_._1).foreach { case (_, rs) =>
            rs.map(_._2).sorted.toSeq shouldBe rs.indices.map(_.toLong * recLen)
          }
          spark.read.format("fixedwidth").option("fields", fieldsOpt)
            .option("recordLength", recLen).load(dir).rdd.getNumPartitions
        } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
      }
      withClue(s"$codec partition counts $partCounts") {
        partCounts.last should be > partCounts.head
        partCounts.last should be > 1
      }
    }
  }

  test("maxRecordsPerFile rolls framed files, each with its own valid footer") {
    val dir = Files.createTempDirectory("graft-fwz-roll").toString
    import spark.implicits._
    (0 until 50000).map(i => (i.toLong, f"p$i%019d")).toDF("id", "payload")
      .coalesce(1)
      .write.format("fixedwidth").option("fields", fieldsOpt)
      .option("recordLength", recLen).option("compression", "zstd")
      .option("maxRecordsPerFile", "15000")
      .mode("overwrite").save(dir)
    val files = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".fwz"))
    files.length shouldBe 4 // 15000*3 + 5000
    val conf = new org.apache.hadoop.conf.Configuration()
    val dLens = files.map { f =>
      graft.sources.fixedwidth.FwzFormat.readFooter(
        new org.apache.hadoop.fs.Path(f.getPath), f.length(), conf).totalDLen
    }
    dLens.sum shouldBe 50000L * recLen
    dLens.foreach(_ % recLen shouldBe 0L)
    readAll(dir).map(_._3).toSeq shouldBe (0 until 50000).map(_.toLong)
  }

  test("partitionBy + compression: pruned framed reads return the partition's rows") {
    val dir = Files.createTempDirectory("graft-fwz-part").toString
    import spark.implicits._
    (0 until 30000).map(i => (i.toLong, s"g${i % 3}-payload"))
      .toDF("id", "payload")
      .write.format("fixedwidth").option("fields", fieldsOpt)
      .option("recordLength", recLen).option("compression", "gzip")
      .partitionBy("payload")
      .mode("overwrite").save(dir)
    val one = spark.read.format("fixedwidth").option("fields", fieldsOpt)
      .option("recordLength", recLen).load(dir)
      .filter(col("payload") === "g1-payload")
    one.count() shouldBe 10000
    one.select(min(col("id")), max(col("id"))).collect()(0).toSeq shouldBe Seq(1L, 29998L)
  }

  test("corrupt/truncated .fwz fails loudly at plan time") {
    val dir = Files.createTempDirectory("graft-fwz-corrupt").toString
    writeFwz(dir, 5000, "zstd", 16 * 1024)
    val f = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".fwz")).head
    // chop the trailer off: the footer walk must refuse the file
    val raf = new java.io.RandomAccessFile(f, "rw")
    raf.setLength(f.length() - 7); raf.close()
    val e = intercept[Exception] {
      spark.read.format("fixedwidth").option("fields", fieldsOpt)
        .option("recordLength", recLen).load(dir).count()
    }
    e.getMessage should (include("fwz") or include("magic"))
  }

  test("compression option rejects unknown codecs; frameBytes requires compression") {
    val dir = Files.createTempDirectory("graft-fwz-opt").toString
    val e1 = intercept[IllegalArgumentException] {
      df(10).write.format("fixedwidth").option("fields", fieldsOpt)
        .option("recordLength", recLen).option("compression", "snappy")
        .mode("overwrite").save(dir)
    }
    e1.getMessage should include("zstd")
    val e2 = intercept[IllegalArgumentException] {
      df(10).write.format("fixedwidth").option("fields", fieldsOpt)
        .option("recordLength", recLen).option("frameBytes", "1024")
        .mode("overwrite").save(dir)
    }
    e2.getMessage should include("frameBytes")
  }

  test("limit/offset over framed files plans from the footer grid, exact rows") {
    val dir = Files.createTempDirectory("graft-fwz-limit").toString
    // single writer task -> one file with a deterministic record order, so
    // offset N deterministically names record N (the q08 convention)
    import spark.implicits._
    (0 until 120000).map(i => (i.toLong, f"p$i%019d")).toDF("id", "payload")
      .coalesce(1)
      .write.format("fixedwidth").option("fields", fieldsOpt)
      .option("recordLength", recLen).option("compression", "zstd")
      .option("frameBytes", (32 * 1024).toString) // 1k records/frame -> many frames
      .mode("overwrite").save(dir)
    def read() = spark.read.format("fixedwidth").option("fields", fieldsOpt)
      .option("recordLength", recLen).load(dir)
    // offset+limit landing MID-FRAME both ends: rows must be exactly
    // [offset, offset+limit) of the write order
    val got = read().offset(50123).limit(2000).select(col("id"))
      .collect().map(_.getLong(0)).sorted
    got.length shouldBe 2000
    got.toSeq shouldBe (50123L until 52123L)
    // and the push is visible in the plan (Spark's own Limit dropped /
    // scan reports the pushed range)
    val p = read().offset(50123).limit(2000).queryExecution.executedPlan.toString
    withClue(p) { p should include("PushedOffset") }
    // plain limit alone
    read().limit(7).collect().length shouldBe 7
    // offset past EOF -> empty, no error
    read().offset(120000).limit(5).collect().length shouldBe 0
  }

  test("count(*) over framed files is answered from footers, no decompression") {
    val dir = Files.createTempDirectory("graft-fwz-agg").toString
    writeFwz(dir, 20000, "zstd", 32 * 1024)
    val r = spark.read.format("fixedwidth").option("fields", fieldsOpt)
      .option("recordLength", recLen).load(dir)
    val cnt = r.agg(count(lit(1)).as("n"))
    cnt.collect()(0).getLong(0) shouldBe 20000L
    // the exactRecordCount footer path keeps the listing-level answer
    // available for compressed feeds — plan must show the listing scan
    val p = cnt.queryExecution.executedPlan.toString
    withClue(p) { p should include("FixedWidthCountScan") }
    // real aggregates still decompress and are correct
    r.agg(sum(col("id"))).collect()(0).getLong(0) shouldBe (19999L * 20000L / 2)
  }

  test("a write without frameStats is still v3: empty stats block and content CRC") {
    val conf = spark.sessionState.newHadoopConf()
    for (codec <- Seq("zstd", "gzip")) {
      val dir = Files.createTempDirectory(s"graft-fwz-v3-$codec").toString
      writeFwz(dir, 20000, codec, 16 * 1024)
      val files = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".fwz"))
      withClue(s"$codec files") { files should not be empty }
      files.foreach { f =>
        withClue(s"$codec ${f.getName}: ") {
          val bytes = Files.readAllBytes(f.toPath)
          bytes(bytes.length - 5).toInt shouldBe 3 // trailer version byte
          val footer = FwzFormat.readFooter(new Path(f.getPath), f.length(), conf)
          // the reader's defaults: charset UTF-8, trim=right
          footer.stats shouldBe Some(FwzFormat.FwzStatsBlock("UTF-8", FwzFormat.TrimIds("right"), Nil))
          val crc = new java.util.zip.CRC32
          crc.update(bytes, 0, footer.frames.map(_.cLen).sum.toInt)
          java.nio.ByteBuffer.wrap(bytes, bytes.length - 22, 8).getLong shouldBe crc.getValue
        }
      }
    }
  }
}
