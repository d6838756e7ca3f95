package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Storage-partitioned execution: with `spark.sql.sources.v2.bucketing
  * .enabled` the scan reports KeyGroupedPartitioning over the partition
  * directories, and joins/aggregations clustered on those columns run
  * WITHOUT a shuffle — the DSv2 analog of bucketed joins, and the shape
  * that makes two co-partitioned 100 TB feeds joinable at IO cost. */
class FixedWidthStoragePartitionSpec extends SparkSpec with Matchers {

  private def tmp(): String = Files.createTempDirectory("graft-spj").toString

  private val layout = "id:long:0:8,p:string:8:6,v:long:14:6"

  private def write(dir: String, n: Int, mod: Int): Unit = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, s"p${i % mod}", (i % 10).toLong)).toDF("id", "p", "v")
      .repartition(2)
      .write.format("fixedwidth").option("fields", layout)
      .partitionBy("p").mode("overwrite").save(dir)
  }

  private def read(dir: String): DataFrame =
    spark.read.format("fixedwidth").option("fields", layout).load(dir)

  private def withConfs(pairs: (String, String)*)(body: => Unit): Unit = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally olds.foreach { case (k, o) => o.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("co-partitioned join on the partition column runs without a shuffle") {
    val a = tmp(); val b = tmp()
    write(a, 300, 3)
    write(b, 200, 3)
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false",
      // force multiple splits per partition value so "no shuffle" is a real
      // claim (and exercises Spark's same-key split grouping), not an
      // accidental SinglePartition
      "spark.sql.files.maxPartitionBytes" -> "256") {
      import spark.implicits._
      val joined = read(a).groupBy($"p").agg(sum($"v").as("va"))
        .join(read(b).groupBy($"p").agg(sum($"v").as("vb")), "p")
        .orderBy($"p")
      val rows = joined.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val ex = (0 until 3).map { g =>
        (s"p$g",
          (1 to 300).filter(_ % 3 == g).map(_ % 10).sum.toLong,
          (1 to 200).filter(_ % 3 == g).map(_ % 10).sum.toLong)
      }
      rows shouldBe ex.toArray
      // the only exchange allowed is the final orderBy range partitioning;
      // neither aggregation nor the join may shuffle
      val plan = joined.queryExecution.executedPlan.toString
      val exchanges = plan.linesIterator.count(l => l.contains("Exchange ") && !l.contains("rangepartitioning"))
      withClue(plan) { exchanges shouldBe 0 }
    }
  }

  test("aggregation clustered on the partition column skips the shuffle") {
    val dir = tmp()
    write(dir, 400, 4)
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.files.maxPartitionBytes" -> "256") {
      import spark.implicits._
      val agg = read(dir).groupBy($"p").agg(sum($"v").as("sv"))
      val got = agg.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      got shouldBe (0 until 4).map(g => s"p$g" -> (1 to 400).filter(_ % 4 == g).map(_ % 10).sum.toLong).toMap
      val plan = agg.queryExecution.executedPlan.toString
      withClue(plan) { plan should not include "Exchange hashpartitioning" }
    }
  }

  test("sort-merge join on the partition column needs neither shuffle nor sort") {
    import spark.implicits._
    val a = tmp(); val b = tmp()
    // ONE file (hence one split) per partition value: Spark honors a scan's
    // reported ordering only when every key group holds at most one split
    // (DataSourceV2ScanExecBase.outputOrdering drops it otherwise — it is
    // conservative about concatenating splits, even for constant-key
    // orderings). Multi-split groups keep the shuffle-free join but re-sort.
    (1 to 90).map(i => (i.toLong, s"p${i % 3}", (i % 10).toLong)).toDF("id", "p", "v")
      .repartition(1)
      .write.format("fixedwidth").option("fields", layout)
      .partitionBy("p").mode("overwrite").save(a)
    (1 to 60).map(i => (i.toLong, s"p${i % 3}", (i % 10).toLong)).toDF("id", "p", "v")
      .repartition(1)
      .write.format("fixedwidth").option("fields", layout)
      .partitionBy("p").mode("overwrite").save(b)
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.join.preferSortMergeJoin" -> "true",
      "spark.sql.adaptive.enabled" -> "false") {
      val joined = read(a).select($"p", $"id".as("ida"))
        .join(read(b).select($"p", $"id".as("idb")), "p")
      joined.count() shouldBe (0 until 3).map(g =>
        (1 to 90).count(_ % 3 == g).toLong * (1 to 60).count(_ % 3 == g)).sum
      val plan = joined.queryExecution.executedPlan.toString
      withClue(plan) {
        plan should include("SortMergeJoin")
        plan should not include "Exchange hashpartitioning"
        // SupportsReportOrdering: rows in each key-grouped partition are
        // trivially ordered by the (constant) key, so no SortExec is planned
        plan should not include "Sort ["
      }
    }
  }

  test("with v2 bucketing disabled the report is inert and results are identical") {
    val dir = tmp()
    write(dir, 400, 4)
    import spark.implicits._
    // NB: spark.sql.sources.v2.bucketing.enabled defaults to TRUE in Spark 4
    // — the disabled path is the opt-out, not the default
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "false",
      "spark.sql.files.maxPartitionBytes" -> "256") {
      val agg = read(dir).groupBy($"p").agg(sum($"v").as("sv"))
      agg.collect().map(r => r.getString(0) -> r.getLong(1)).toMap shouldBe
        (0 until 4).map(g => s"p$g" -> (1 to 400).filter(_ % 4 == g).map(_ % 10).sum.toLong).toMap
      // without the report honored: normal hash aggregation with its exchange
      agg.queryExecution.executedPlan.toString should include("Exchange hashpartitioning")
    }
  }

  test("unpartitioned data never reports key-grouped partitioning") {
    import spark.implicits._
    val dir = tmp()
    (1 to 100).map(i => (i.toLong, s"p${i % 2}", i.toLong)).toDF("id", "p", "v")
      .write.format("fixedwidth").option("fields", layout).mode("overwrite").save(dir)
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.files.maxPartitionBytes" -> "256") {
      val agg = read(dir).groupBy($"p").agg(sum($"v").as("sv"))
      agg.collect().map(r => r.getString(0) -> r.getLong(1)).toMap shouldBe
        Map("p0" -> (2 to 100 by 2).sum.toLong, "p1" -> (1 to 99 by 2).sum.toLong)
      agg.queryExecution.executedPlan.toString should include("Exchange hashpartitioning")
    }
  }

  test("a pushed GROUP BY and key-grouped partitioning form the same groups") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import graft.sources.fixedwidth._
    val dir = tmp()
    val lay = "id:long:0:8,k:long:8:6"
    // directories k=1 and a blank k= (NULL)
    (1 to 30).map(i => (i.toLong, if (i % 5 == 0) None else Some(1L))).toDF("id", "k")
      .write.format("fixedwidth").option("fields", lay).partitionBy("k")
      .mode("overwrite").save(dir)
    // a foreign writer's zero-padded twin of k=1
    val foreign = new java.io.File(dir, "k=01"); foreign.mkdirs()
    val out = new java.io.FileOutputStream(new java.io.File(foreign, "part-x.fwb"))
    (31 to 35).foreach(i => out.write(f"$i%-8d01    ".getBytes("US-ASCII")))
    out.close()
    new java.io.File(dir).list().filter(_.startsWith("k=")).toSet shouldBe Set("k=1", "k=01", "k=")
    withConfs("spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val df = spark.read.format("fixedwidth").option("fields", lay).load(dir)
        .groupBy($"k").agg(count(lit(1)).as("n"))
      df.queryExecution.executedPlan.toString should include("FixedWidthCountScan")
      val pushed = df.collect().map(r => (if (r.isNullAt(0)) null else r.getLong(0)) -> r.getLong(1)).toMap
      pushed shouldBe Map((1L: Any) -> 29L, (null: Any) -> 6L)

      val opts = new CaseInsensitiveStringMap(Map("path" -> dir, "fields" -> lay).asJava)
      val scan = new FixedWidthScanBuilder(
        FixedWidthOptions(opts), opts, spark.sessionState.newHadoopConf()).build().asInstanceOf[FixedWidthScan]
      val reported = scan.outputPartitioning()
        .asInstanceOf[org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning]
      reported.keys().map(_.describe()).toSeq shouldBe Seq("k")
      val keys = scan.planInputPartitions().map {
        case p: FixedWidthKeyedInputPartition =>
          val key = p.partitionKey()
          if (key.isNullAt(0)) null else key.getLong(0)
      }.toSet
      keys shouldBe pushed.keySet
      reported.numPartitions() shouldBe pushed.size
    }
  }
}
