package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** COUNT(*), LIMIT and OFFSET pushdown: the three plan-time shortcuts this
  * indexless format can take because every record is exactly recordLength
  * bytes — a global count is file lengths over the (pruned) listing, and a
  * limit/offset is a truncation of split planning, both zero-data-IO.
  */
class FixedWidthPushdownSpec extends SparkSpec with Matchers {

  private def tmp(): String = Files.createTempDirectory("graft-push").toString

  private val layout = "id:long:0:8,p:string:8:6,v:long:14:6"

  private def writeData(dir: String, partitioned: Boolean): Unit = {
    import spark.implicits._
    val df = (1 to 500).map(i => (i.toLong, s"p${i % 4}", (i % 10).toLong)).toDF("id", "p", "v")
      .repartition(3)
    val w = df.write.format("fixedwidth").option("fields", layout).mode("overwrite")
    (if (partitioned) w.partitionBy("p") else w).save(dir)
  }

  private def read(dir: String): DataFrame =
    spark.read.format("fixedwidth").option("fields", layout).load(dir)

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("global count(*) is answered from the listing with no data scan") {
    val dir = tmp()
    writeData(dir, partitioned = false)
    val df = read(dir).agg(count(lit(1)).as("n"))
    df.collect().map(_.getLong(0)) shouldBe Array(500L)
    val p = plan(df)
    p should include("FixedWidthCountScan")
    p should not include "HashAggregate"
  }

  test("count(*) with a partition-exact filter uses the pruned listing") {
    import spark.implicits._
    val dir = tmp()
    writeData(dir, partitioned = true)
    val df = read(dir).filter($"p" === "p1").agg(count(lit(1)).as("n"))
    df.collect().map(_.getLong(0)) shouldBe Array((1 to 500).count(_ % 4 == 1).toLong)
    plan(df) should include("FixedWidthCountScan")
  }

  test("count(*) with a record-level filter falls back to a real scan") {
    import spark.implicits._
    val dir = tmp()
    writeData(dir, partitioned = true)
    // v is not a partition column: directory pruning cannot answer this
    val df = read(dir).filter($"v" === 3L).agg(count(lit(1)).as("n"))
    df.collect().map(_.getLong(0)) shouldBe Array((1 to 500).count(_ % 10 == 3).toLong)
    val p = plan(df)
    p should not include "PushedAggregates"
    p should include("FixedWidthScan")
  }

  test("count(col), group-by and DROPMALFORMED never push the aggregate") {
    import spark.implicits._
    val dir = tmp()
    writeData(dir, partitioned = false)
    // count(col): typed fields can be NULL via blank bytes
    plan(read(dir).agg(count($"v").as("n"))) should not include "PushedAggregates"
    // group-by
    plan(read(dir).groupBy($"p").agg(count(lit(1)).as("n"))) should not include "PushedAggregates"
    // DROPMALFORMED: dropped records are invisible to file lengths
    val dropped = spark.read.format("fixedwidth").option("fields", layout)
      .option("mode", "DROPMALFORMED").load(dir).agg(count(lit(1)).as("n"))
    plan(dropped) should not include "PushedAggregates"
    dropped.collect().map(_.getLong(0)) shouldBe Array(500L)
  }

  test("global min/max over partition columns come from the listing (with count in the mix)") {
    import spark.implicits._
    val dir = tmp()
    writeData(dir, partitioned = true)
    val df = read(dir).agg(
      min($"p").as("pmin"), max($"p").as("pmax"), count(lit(1)).as("n"))
    df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))) shouldBe
      Array(("p0", "p3", 500L))
    val p = plan(df)
    p should include("FixedWidthCountScan")
    p should include("MAX(P)")
    p should not include "HashAggregate"
    // min/max of a NON-partition column falls back to a real scan
    plan(read(dir).agg(max($"v").as("vm"))) should not include "PushedAggregates"
  }

  test("min/max over a NULL-bearing numeric partition column ignores the NULL directory") {
    import spark.implicits._
    val dir = tmp()
    val lay = "id:long:0:8,k:long:8:6"
    (1 to 30).map(i => (i.toLong, if (i % 5 == 0) None else Some((i % 3).toLong)))
      .toDF("id", "k")
      .write.format("fixedwidth").option("fields", lay).partitionBy("k")
      .mode("overwrite").save(dir)
    val df = spark.read.format("fixedwidth").option("fields", lay).load(dir)
      .agg(min($"k").as("kmin"), max($"k").as("kmax"))
    df.collect().map(r => (r.getLong(0), r.getLong(1))) shouldBe Array((0L, 2L))
    plan(df) should include("FixedWidthCountScan")
  }

  test("count(*) grouped by a partition column is answered from the listing") {
    import spark.implicits._
    val dir = tmp()
    writeData(dir, partitioned = true)
    val df = read(dir).groupBy($"p").agg(count(lit(1)).as("n")).orderBy($"p")
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1))
    got shouldBe (0 to 3).map(g => s"p$g" -> (1 to 500).count(_ % 4 == g).toLong).toArray
    val pl = plan(df)
    pl should include("FixedWidthCountScan")
    pl should include("GroupBy: p")
    pl should not include "FixedWidthScan(" // no data scan at all
  }

  test("grouped count with a partition filter composes with pruning") {
    import spark.implicits._
    val dir = tmp()
    writeData(dir, partitioned = true)
    val df = read(dir).filter($"p".isin("p1", "p2")).groupBy($"p").agg(count(lit(1)).as("n")).orderBy($"p")
    df.collect().map(r => r.getString(0) -> r.getLong(1)) shouldBe
      Seq(1, 2).map(g => s"p$g" -> (1 to 500).count(_ % 4 == g).toLong).toArray
    plan(df) should include("FixedWidthCountScan")
  }

  test("grouped min/max of an inner partition column come from each group's directories") {
    import spark.implicits._
    val dir = tmp()
    val lay = "id:long:0:8,p:string:8:6,q:long:14:4"
    (1 to 300).map(i => (i.toLong, s"p${i % 3}", (i % 7 + i % 3).toLong)).toDF("id", "p", "q")
      .write.format("fixedwidth").option("fields", lay).partitionBy("p", "q")
      .mode("overwrite").save(dir)
    val all = spark.read.format("fixedwidth").option("fields", lay).load(dir)
    val df = all.groupBy($"p").agg(min($"q"), max($"q"), count(lit(1))).orderBy($"p")
    val got = df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val rows = all.select("p", "q").collect().map(r => (r.getString(0), r.getLong(1)))
    got.toSeq shouldBe rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (p, rs) =>
      (p, rs.map(_._2).min, rs.map(_._2).max, rs.length.toLong)
    }
    val pl = plan(df)
    pl should include("FixedWidthCountScan")
    pl should not include "FixedWidthScan("
  }

  test("global min/max/count over a listing pruned to nothing is one (NULL, NULL, 0) row") {
    import spark.implicits._
    val dir = tmp()
    writeData(dir, partitioned = true)
    val df = read(dir).filter($"p" === "p9").agg(min($"v"), max($"v"), count(lit(1)))
    df.collect().map(r => (r.get(0), r.get(1), r.getLong(2))) shouldBe Array((null, null, 0L))
    plan(df) should include("FixedWidthCountScan")
  }

  test("grouping by a non-partition column falls back to a real scan") {
    import spark.implicits._
    val dir = tmp()
    writeData(dir, partitioned = true)
    val df = read(dir).groupBy($"v").agg(count(lit(1)).as("n"))
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      (1 to 500).groupBy(_ % 10).map { case (k, xs) => k.toLong -> xs.size.toLong }
    plan(df) should not include "FixedWidthCountScan"
  }

  test("grouped count over NULL partition values yields a NULL group from the listing") {
    import spark.implicits._
    val dir = tmp()
    val lay = "id:long:0:8,k:long:8:6"
    (1 to 30).map(i => (i.toLong, if (i % 5 == 0) None else Some((i % 2).toLong)))
      .toDF("id", "k")
      .write.format("fixedwidth").option("fields", lay).partitionBy("k")
      .mode("overwrite").save(dir)
    val df = spark.read.format("fixedwidth").option("fields", lay)
      .load(dir).groupBy($"k").agg(count(lit(1)).as("n"))
    val got = df.collect().map(r => (if (r.isNullAt(0)) null else r.getLong(0)) -> r.getLong(1)).toMap
    got shouldBe Map(
      null.asInstanceOf[Any] -> (1 to 30).count(_ % 5 == 0).toLong,
      0L -> (1 to 30).count(i => i % 5 != 0 && i % 2 == 0).toLong,
      1L -> (1 to 30).count(i => i % 5 != 0 && i % 2 == 1).toLong)
    plan(df) should include("FixedWidthCountScan")
  }

  test("foreign directories with equivalent encodings merge by decoded value") {
    import spark.implicits._
    val dir = tmp()
    val lay = "id:long:0:8,k:long:8:6"
    (1 to 10).map(i => (i.toLong, 1L)).toDF("id", "k")
      .write.format("fixedwidth").option("fields", lay).partitionBy("k")
      .mode("overwrite").save(dir)
    // a foreign writer's zero-padded twin of k=1 with 5 records of k=01
    val foreign = new java.io.File(dir, "k=01"); foreign.mkdirs()
    val rec = new Array[Byte](14); java.util.Arrays.fill(rec, ' '.toByte)
    val out = new java.io.FileOutputStream(new java.io.File(foreign, "part-x.fwb"))
    (11 to 15).foreach { i =>
      val bytes = (i.toString + " " * (8 - i.toString.length) + "01    ").getBytes("US-ASCII")
      out.write(bytes)
    }
    out.close()
    val df = spark.read.format("fixedwidth").option("fields", lay).load(dir)
      .groupBy($"k").agg(count(lit(1)).as("n"))
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got shouldBe Map(1L -> 15L)
    plan(df) should include("FixedWidthCountScan")
  }

  test("runtime filters prune directories at execution time (DSv2 dynamic partition pruning)") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import graft.sources.fixedwidth._
    val dir = tmp()
    writeData(dir, partitioned = true)
    val opts = new CaseInsensitiveStringMap(Map("path" -> dir, "fields" -> layout).asJava)
    val sb = new FixedWidthScanBuilder(FixedWidthOptions(opts), opts, spark.sessionState.newHadoopConf())
    val scan = sb.build().asInstanceOf[FixedWidthScan]
    // the join column is advertised as filterable
    scan.filterAttributes().map(_.fieldNames()(0)) should contain("p")
    // Spark delivers the broadcast side's keys as an In filter at runtime
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("p", Array("p2"))))
    // v2 bucketing defaults ON in Spark 4, so partitions may arrive keyed
    val files = scan.planInputPartitions().flatMap {
      case k: FixedWidthKeyedInputPartition => k.inner.chunks.map(_.filePath)
      case p: FixedWidthInputPartition => p.chunks.map(_.filePath)
    }.distinct
    files should not be empty
    all(files) should include("/p=p2")
    scan.reportDriverMetrics().find(_.name == "fwFilesPruned").get.value should be > 0L
  }

  test("broadcast join on the partition column returns exact results with runtime filtering on") {
    import spark.implicits._
    val dir = tmp()
    writeData(dir, partitioned = true)
    val dim = Seq(("p1", "one"), ("p3", "three")).toDF("p", "label")
    val joined = read(dir).join(broadcast(dim), "p")
      .groupBy($"p", $"label").agg(count(lit(1)).as("n")).orderBy($"p")
    joined.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))) shouldBe
      Array(("p1", "one", (1 to 500).count(_ % 4 == 1).toLong),
            ("p3", "three", (1 to 500).count(_ % 4 == 3).toLong))
  }

  /** Spark takes the row path when a scan plans no input partitions (it
    * derives supportsColumnar from them); the reader factory is
    * columnar-only, so such a scan must finish without opening a reader. */
  private def rowPathScans(df: DataFrame): Seq[Boolean] =
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.supportsColumnar
    }

  test("a directory with no data files reads as zero rows on the row path") {
    val dir = tmp()
    Files.write(java.nio.file.Paths.get(dir, "_SUCCESS"), Array.emptyByteArray)
    val df = read(dir)
    df.collect() shouldBe empty
    rowPathScans(df) shouldBe Seq(false)
  }

  test("a pushed filter that prunes every partition directory reads as zero rows") {
    import spark.implicits._
    val dir = tmp()
    writeData(dir, partitioned = true)
    val df = read(dir).filter($"p" === "p9")
    df.collect() shouldBe empty
    rowPathScans(df) shouldBe Seq(false)
    plan(df) should include("FixedWidthScan(")
  }

  test("limit truncates split planning to the requested records") {
    val dir = tmp()
    writeData(dir, partitioned = false)
    val df = read(dir).limit(37)
    df.count() shouldBe 37L
    // the physical scan plans only ceil(37 records) worth of bytes
    val scanned = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    scanned should include("PushedLimit=37")
    // all ids distinct and from the dataset (listing order, not value order)
    val ids = df.select("id").collect().map(_.getLong(0))
    ids.distinct.length shouldBe 37
    all(ids) should (be >= 1L and be <= 500L)
  }

  test("offset + limit compose to the record range [offset, limit)") {
    val dir = tmp()
    writeData(dir, partitioned = false)
    val base = read(dir)
    val all = base.select("id").collect().map(_.getLong(0))
    val window = base.offset(100).limit(25).select("id").collect().map(_.getLong(0))
    window shouldBe all.slice(100, 125)
    val tail = base.offset(490).select("id").collect().map(_.getLong(0))
    tail shouldBe all.drop(490)
    base.offset(600).count() shouldBe 0L
    // reverse composition: limit first, then offset → rows [o, l)
    val lo = base.limit(50).offset(10).select("id").collect().map(_.getLong(0))
    lo shouldBe all.slice(10, 50)
    base.limit(20).offset(30).count() shouldBe 0L
  }

  test("limit with a pushed filter is NOT truncated (filters drop records after the cap)") {
    import spark.implicits._
    val dir = tmp()
    writeData(dir, partitioned = false)
    val df = read(dir).filter($"v" === 3L).limit(30)
    df.count() shouldBe 30L
    df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString should not include "PushedLimit"
  }
}
