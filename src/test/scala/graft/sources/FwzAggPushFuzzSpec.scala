package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Randomized differential proof that the footer-answered aggregates
  * (q238/q239 machinery: global MIN/MAX/COUNT from FwzStats envelopes,
  * grouped per partition directory) are VALUE-EXACT: for seeded random
  * layouts, null patterns and partitionings, the pushed-aggregate answer
  * must equal the same aggregate computed in plain Scala over the fully
  * collected rows — an oracle with no Spark aggregation (and no pushdown)
  * anywhere in it. Non-vacuity is asserted on the physical plan: the
  * global lanes must actually plan the FixedWidthCountScan (a fuzz
  * that silently fell back to a real scan would prove nothing). */
class FwzAggPushFuzzSpec extends SparkSpec with Matchers {

  private val fieldsOpt =
    "k:long:0:9,grp:string:9:2,price:decimal(9,2):11:11,dt:date:22:8,ts:timestamp:30:16"
  private val recLen = 46

  private def makeRows(rnd: java.util.Random, n: Int) =
    (0 until n).map { i =>
      (if (rnd.nextInt(12) == 0) None else Some(rnd.nextInt(2000000).toLong - 1000000L),
        Seq("aa", "bb", "cc")(rnd.nextInt(3)),
        if (rnd.nextInt(9) == 0) None
        else Some(new java.math.BigDecimal(rnd.nextInt(90000000) - 45000000).movePointLeft(2)),
        if (rnd.nextInt(15) == 0) None else Some(15000 + rnd.nextInt(8000)),
        if (rnd.nextInt(11) == 0) None else Some(1500000000000000L + rnd.nextInt(1000000000).toLong))
    }

  private def writeData(dir: String, seed: Int, partitioned: Boolean): Unit = {
    import spark.implicits._
    val rnd = new java.util.Random(seed * 7919 + 13)
    val df = makeRows(rnd, 6000 + rnd.nextInt(6000))
      .toDF("k", "grp", "price", "dt", "ts")
      .select(col("k"), col("grp"), col("price").cast("decimal(9,2)"),
        date_add(lit(java.sql.Date.valueOf("1970-01-01")), col("dt")).as("dt"),
        timestamp_micros(col("ts")).as("ts"))
    val sorted = if (seed % 2 == 0) df.orderBy("k") else df
    val w = sorted.coalesce(1 + rnd.nextInt(3))
      .write.format("fixedwidth").option("fields", fieldsOpt)
      .option("recordLength", recLen.toString)
      .option("compression", if (seed % 2 == 0) "zstd" else "gzip")
      .option("frameBytes", ((100 + rnd.nextInt(400)) * recLen).toString)
      .option("frameStats", "k,price,dt,ts")
    (if (partitioned) w.partitionBy("grp") else w).mode("overwrite").save(dir)
  }

  private def read(dir: String) =
    spark.read.format("fixedwidth").option("fields", fieldsOpt)
      .option("recordLength", recLen.toString).load(dir)

  /** Plain-Scala aggregate over fully collected rows — the no-Spark oracle. */
  private def expected(dir: String): (Long, Option[Long], Option[Long],
      Option[java.math.BigDecimal], Option[java.sql.Date], Option[java.sql.Timestamp]) = {
    val df = read(dir)
    val iK = df.schema.fieldIndex("k")
    val iP = df.schema.fieldIndex("price")
    val iD = df.schema.fieldIndex("dt")
    val iT = df.schema.fieldIndex("ts")
    val rows = df.collect()
    val ks = rows.filterNot(_.isNullAt(iK)).map(_.getLong(iK))
    val ps = rows.filterNot(_.isNullAt(iP)).map(_.getDecimal(iP))
    val ds = rows.filterNot(_.isNullAt(iD)).map(_.getDate(iD))
    val tss = rows.filterNot(_.isNullAt(iT)).map(_.getTimestamp(iT))
    (rows.length.toLong,
      ks.minOption, ks.maxOption,
      if (ps.isEmpty) None else Some(ps.min),
      if (ds.isEmpty) None else Some(ds.min(Ordering.by((d: java.sql.Date) => d.getTime))),
      if (tss.isEmpty) None else Some(tss.max(Ordering.by((t: java.sql.Timestamp) => t.getTime))))
  }

  test("global MIN/MAX/COUNT from footers == plain-Scala aggregation over collected rows") {
    for (seed <- 0 until 4) {
      val dir = Files.createTempDirectory(s"graft-aggfuzz-$seed").toString
      writeData(dir, seed, partitioned = false)
      val agg = read(dir).agg(
        count(lit(1)).as("n"),
        min(col("k")).as("mn_k"), max(col("k")).as("mx_k"),
        min(col("price")).as("mn_p"),
        min(col("dt")).as("mn_d"),
        max(col("ts")).as("mx_t"))
      // non-vacuity: this exact shape must answer from the footer scan
      agg.queryExecution.executedPlan.toString should include("FixedWidthCountScan")
      val r = agg.collect().head
      val (n, mnK, mxK, mnP, mnD, mxT) = expected(dir)
      withClue(s"seed=$seed: ") {
        r.getLong(0) shouldBe n
        Option(r.get(1)) shouldBe mnK
        Option(r.get(2)) shouldBe mxK
        (if (r.isNullAt(3)) None else Some(r.getDecimal(3).stripTrailingZeros)) shouldBe
          mnP.map(_.stripTrailingZeros)
        (if (r.isNullAt(4)) None else Some(r.getDate(4))) shouldBe mnD
        (if (r.isNullAt(5)) None else Some(r.getTimestamp(5))) shouldBe mxT
      }
    }
  }

  test("grouped MIN/MAX/COUNT per partition directory == plain-Scala per-group aggregation") {
    for (seed <- 0 until 3) {
      val dir = Files.createTempDirectory(s"graft-aggfuzz-g-$seed").toString
      writeData(dir, seed, partitioned = true)
      val agg = read(dir).groupBy(col("grp"))
        .agg(count(lit(1)).as("n"), min(col("k")).as("mn_k"), max(col("k")).as("mx_k"))
        .orderBy(col("grp"))
      // non-vacuity: the grouped shape must answer from the footer scan too
      agg.queryExecution.executedPlan.toString should include("FixedWidthCountScan")
      val got = agg
        .collect()
        .map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))
      val rows = read(dir).select("grp", "k").collect()
        .map(r => (r.getString(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      val want = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (g, rs) =>
        val ks = rs.flatMap(_._2)
        (g, rs.length.toLong, ks.minOption, ks.maxOption)
      }
      withClue(s"seed=$seed: ") { got.toSeq shouldBe want }
    }
  }
}
