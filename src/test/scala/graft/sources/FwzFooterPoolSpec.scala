package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.expressions.{Expression, Expressions}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.sources.fixedwidth.{FixedWidthOptions, FixedWidthScanBuilder, FwzFormat}

/** A batch of `.fwz` footers read in parallel decides exactly as the same
  * reads made one by one: results keep input order, a failure stays its
  * own file's, and the error a scan rethrows is the serial read's. */
class FwzFooterPoolSpec extends SparkSpec with Matchers {

  private val layout = "k:long:0:10,qty:long:10:6"
  private val recLen = 16
  private val nFiles = 8
  private val nRows = 4000

  private def writeFramed(): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-footer-pool").toString
    (0 until nRows).map(i => (i.toLong, (i % 100).toLong)).toDF("k", "qty")
      .repartition(nFiles)
      .write.format("fixedwidth").option("fields", layout)
      .option("recordLength", recLen.toString)
      .option("compression", "zstd").option("frameBytes", (100 * recLen).toString)
      .option("frameStats", "k")
      .mode("overwrite").save(dir)
    dir
  }

  /** Cut the last 5 bytes of the `i`-th `.fwz` file of `dir` (in name
    * order) and drop its checksum sidecar; returns the damaged file. */
  private def truncateOne(dir: String, i: Int): java.io.File = {
    val f = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".fwz")).sortBy(_.getName).apply(i)
    val raf = new java.io.RandomAccessFile(f, "rw")
    try raf.setLength(raf.length - 5) finally raf.close()
    Files.deleteIfExists(Paths.get(f.getParent, s".${f.getName}.crc"))
    f
  }

  private def ref(name: String): Expression = Expressions.column(name)

  test("results keep input order and each failure stays its own") {
    val items = (0 until 40).toSeq
    val got = FwzFormat.footersInParallel(items) { i =>
      if (i % 7 == 3) throw new IllegalArgumentException(s"bad $i")
      FwzFormat.FwzFooter(FwzFormat.CodecZstd, Seq(FwzFormat.FwzFrame(0L, 1L, 0L, i.toLong + 1)), None)
    }
    got.length shouldBe items.length
    items.zip(got).foreach { case (i, t) =>
      if (i % 7 == 3) t.failed.get.getMessage shouldBe s"bad $i"
      else t.get.totalDLen shouldBe i + 1L
    }
  }

  test("a corrupt footer in one of many files declines the push and fails the scan as a serial read does") {
    val dir = writeFramed()
    val bad = truncateOne(dir, 3)
    val conf = new Configuration()
    val serial = intercept[IllegalArgumentException](
      FwzFormat.readFooter(new Path(bad.toURI), bad.length, conf)).getMessage
    serial should include(bad.getName)

    val opts = new CaseInsensitiveStringMap(
      Map("path" -> dir, "fields" -> layout, "recordLength" -> recLen.toString).asJava)
    val b = new FixedWidthScanBuilder(FixedWidthOptions(opts), opts, spark.sessionState.newHadoopConf())
    val minMaxCount = new Aggregation(
      Array[AggregateFunc](new Min(ref("k")), new Max(ref("k")), new CountStar()),
      Array.empty[Expression])
    b.pushAggregation(minMaxCount) shouldBe false
    b.supportCompletePushDown(minMaxCount) shouldBe false
    val scan = b.build()
    intercept[IllegalArgumentException](scan.toBatch.planInputPartitions()).getMessage shouldBe serial

    val e = intercept[Exception] {
      spark.read.format("fixedwidth").option("fields", layout)
        .option("recordLength", recLen.toString).load(dir)
        .agg(min(col("k")), max(col("k")), count(lit(1))).collect()
    }
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq.last
      .getMessage shouldBe serial
  }
}
