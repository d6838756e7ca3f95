package graft.sources

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path}
import org.apache.spark.sql.connector.expressions.{Expression, Expressions}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read.{Scan, SupportsReportStatistics}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.sources.fixedwidth.{FixedWidthOptions, FixedWidthScanBuilder}

/** Counts what planning a query costs the filesystem: `.fwz` opens,
  * `getFileStatus` calls on `.fwz` files and listings of one root. */
object CountingLocalFs {
  val opens = new AtomicLong
  val fwzStats = new AtomicLong
  val rootListings = new AtomicLong
  @volatile var root: String = ""

  def reset(dir: String): Unit = {
    opens.set(0); fwzStats.set(0); rootListings.set(0)
    root = new Path(dir).toUri.getPath
  }
}

/** The local filesystem with counters. Opens bypass the checksum layer:
  * its input checker stats the file on every positioned read, which would
  * count the layer's own calls as the planner's. */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (f.getName.endsWith(".fwz")) opens.incrementAndGet()
    getRawFileSystem.open(f, bufferSize)
  }

  override def getFileStatus(f: Path): FileStatus = {
    if (f.getName.endsWith(".fwz")) fwzStats.incrementAndGet()
    super.getFileStatus(f)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    if (f.toUri.getPath == root) rootListings.incrementAndGet()
    super.listStatus(f)
  }
}

/** Planning IO per query: one listing of the table, one footer consult per
  * kept `.fwz` file (a warm footer cache makes that one tail read, i.e.
  * one open), and no stat of a file the listing already described — however
  * many times Spark asks the builder and the scan the same questions. */
class FixedWidthPlanIoSpec extends SparkSpec with Matchers {

  private val layout = "k:long:0:10,qty:long:10:6"
  private val recLen = 16
  private val nFiles = 6
  private val nRows = 3000

  private def writeFramed(): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-planio").toString
    (0 until nRows).map(i => (i.toLong, (i % 100).toLong)).toDF("k", "qty")
      .repartition(nFiles)
      .write.format("fixedwidth").option("fields", layout)
      .option("recordLength", recLen.toString)
      .option("compression", "zstd").option("frameBytes", (100 * recLen).toString)
      .option("frameStats", "k")
      .mode("overwrite").save(dir)
    new java.io.File(dir).listFiles.count(_.getName.endsWith(".fwz")) shouldBe nFiles
    dir
  }

  private def tableOptions(dir: String) = new CaseInsensitiveStringMap(
    Map("path" -> dir, "fields" -> layout, "recordLength" -> recLen.toString).asJava)

  /** Spark 4.1's order of calls for one query: filter and aggregate
    * pushdown, the complete-pushdown check, the build, statistics, and two
    * input-partition plans of the built scan. */
  private def planLikeSpark(dir: String, filters: Array[Filter], agg: Aggregation): Scan = {
    val opts = tableOptions(dir)
    val b = new FixedWidthScanBuilder(
      FixedWidthOptions(opts), opts, spark.sessionState.newHadoopConf())
    b.pushFilters(filters)
    b.pushAggregation(agg)
    b.supportCompletePushDown(agg)
    val scan = b.build()
    scan match {
      case s: SupportsReportStatistics => s.estimateStatistics().numRows()
      case _ =>
    }
    scan.toBatch.planInputPartitions()
    scan.toBatch.planInputPartitions()
    scan
  }

  /** (`.fwz` opens, `.fwz` stats, root listings) made by `body`, with the
    * counting filesystem set on this session only. */
  private def countedIo(dir: String)(body: => Unit): (Long, Long, Long) = {
    CountingLocalFs.reset(dir)
    spark.conf.set("fs.file.impl", classOf[CountingLocalFs].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    try body
    finally {
      spark.conf.unset("fs.file.impl")
      spark.conf.unset("fs.file.impl.disable.cache")
    }
    (CountingLocalFs.opens.get, CountingLocalFs.fwzStats.get, CountingLocalFs.rootListings.get)
  }

  private def ref(name: String): Expression = Expressions.column(name)

  private val minMaxCount = new Aggregation(
    Array[AggregateFunc](new Min(ref("k")), new Max(ref("k")), new CountStar()),
    Array.empty[Expression])

  test("a pushed MIN/MAX/COUNT consults each footer once") {
    val dir = writeFramed()
    planLikeSpark(dir, Array.empty, minMaxCount) // warms the footer cache
    val (opens, stats, listings) = countedIo(dir) {
      planLikeSpark(dir, Array.empty, minMaxCount).description() should include("FixedWidthCountScan")
    }
    opens shouldBe nFiles
    stats shouldBe 0L
    listings shouldBe 1L
  }

  test("a batch plan lists once, stats no .fwz file and opens each at most once") {
    val dir = writeFramed()
    val keyRange: Array[Filter] = Array(GreaterThanOrEqual("k", nRows / 2L))
    val countSum = new Aggregation(
      Array[AggregateFunc](new CountStar(), new Sum(ref("qty"), false)), Array.empty[Expression])
    val typedAgg = new Aggregation(
      Array[AggregateFunc](new CountStar(), new Sum(ref("k"), false), new Sum(ref("qty"), false)),
      Array.empty[Expression])
    for ((filters, agg) <- Seq(keyRange -> countSum, Array.empty[Filter] -> typedAgg)) {
      planLikeSpark(dir, filters, agg)
      val (opens, stats, listings) = countedIo(dir) {
        planLikeSpark(dir, filters, agg).description() should include("FixedWidthScan(")
      }
      withClue(s"${filters.mkString(",")} ${agg.aggregateExpressions.mkString(",")}: ") {
        opens should be <= nFiles.toLong
        stats shouldBe 0L
        listings shouldBe 1L
      }
    }
  }

  test("an end-to-end MIN/MAX/COUNT opens each footer once") {
    val dir = writeFramed()
    def query() = spark.read.format("fixedwidth").option("fields", layout)
      .option("recordLength", recLen.toString).load(dir)
      .agg(min(col("k")), max(col("k")), count(lit(1)))
    query().collect()
    var row: org.apache.spark.sql.Row = null
    val (opens, stats, listings) = countedIo(dir) {
      val df = query()
      row = df.collect().head
      df.queryExecution.executedPlan.toString should include("FixedWidthCountScan")
    }
    (row.getLong(0), row.getLong(1), row.getLong(2)) shouldBe ((0L, nRows - 1L, nRows.toLong))
    opens shouldBe nFiles
    stats shouldBe 0L
    listings shouldBe 1L
  }
}
