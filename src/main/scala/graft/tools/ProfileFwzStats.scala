package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.queries.{CoreQueries, QueryRegistry}
import graft.sources.fixedwidth.FixedWidthOptions

/** Measures what fwz per-frame statistics actually buy (dev tool): encodes
  * lineitem to the framed layout twice — with and without `frameStats` —
  * and times the q235-shaped selective scan on each, warm, plus the
  * unselective control (a predicate matching everything, where skipping
  * can't help and its plan-time cost must be invisible). Also reports the
  * planner's frame-skip counts straight from a hand-planned partition set.
  * Usage: sbt "runMain graft.tools.ProfileFwzStats [sfDir]"
  */
object ProfileFwzStats {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val fieldsOpt = FixedWidthOptions.renderFields(CoreQueries.lineitemLayout)
    def encode(out: String, stats: Boolean): Unit = {
      val marker = new java.io.File(out,
        s"_graft_done_v${graft.sources.fixedwidth.FwzFormat.VersionStatsV3}")
      if (marker.exists()) return
      // ordered by the write key, like a real feed (and like the q235
      // fixture): the driver's synthetic lineitem is shuffled, which makes
      // every frame span the whole keyspace and no range skippable
      val w = QueryRegistry.table(spark, sfDir, "lineitem")
        .select(CoreQueries.lineitemLayout.map(f => col(f.name)): _*)
        .orderBy(col("l_orderkey"))
        .write.format("fixedwidth").option("fields", fieldsOpt)
        .option("compression", "zstd").option("frameBytes", (64 * 1024).toString)
      (if (stats) w.option("frameStats", "l_orderkey,l_returnflag,l_shipdate") else w)
        .mode("overwrite").save(out)
      marker.createNewFile()
    }
    val withStats = QueryRegistry.scratch(sfDir, "profile_fwz_stats_on")
    val noStats = QueryRegistry.scratch(sfDir, "profile_fwz_stats_off")
    encode(withStats, stats = true)
    encode(noStats, stats = false)

    def scan(dir: String, selective: Boolean): Long = {
      val df = spark.read.format("fixedwidth").option("fields", fieldsOpt).load(dir)
      val cond =
        if (selective) $"l_orderkey" <= 1000L && $"l_returnflag" === "R"
        else $"l_orderkey" >= 0L // matches everything; stats can't skip
      df.filter(cond).agg(count(lit(1))).collect()(0).getLong(0)
    }

    def bench(tag: String, dir: String, selective: Boolean): Double = {
      scan(dir, selective) // warm (plan/codegen/page cache)
      val times = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        scan(dir, selective)
        (System.nanoTime() - t0) / 1e9
      }
      val med = times.sorted.apply(times.size / 2)
      println(f"PROFILE $tag%-28s median=${med}%.3fs  reps=${times.map(t => f"$t%.3f").mkString(",")}")
      med
    }

    // planner-level skip counts for the record
    val conf = spark.sessionState.newHadoopConf()
    val opts = FixedWidthOptions(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("fields", fieldsOpt)))
    val files = graft.sources.fixedwidth.FixedWidthTable
      .listPartitionedFiles(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", withStats, "fields", fieldsOpt)), conf)
      .map(pf => pf.status.getPath.toString -> pf.status.getLen)
    val pm = new graft.sources.fixedwidth.FwzStats.PlanMetrics
    val parts = graft.sources.fixedwidth.FixedWidthScan.alignedPartitionsOf(
      files, opts, None,
      Array(org.apache.spark.sql.sources.LessThanOrEqual("l_orderkey", 1000L),
        org.apache.spark.sql.sources.EqualTo("l_returnflag", "R")), pm)
    val total = files.size
    println(s"PROFILE frames: skipped=${pm.framesSkipped} files=$total " +
      s"plannedChunks=${parts.map(_.asInstanceOf[graft.sources.fixedwidth.FixedWidthInputPartition].chunks.size).sum}")

    val selOn = bench("selective WITH stats", withStats, selective = true)
    val selOff = bench("selective NO stats", noStats, selective = true)
    val allOn = bench("unselective WITH stats", withStats, selective = false)
    val allOff = bench("unselective NO stats", noStats, selective = false)
    println(f"PROFILE speedup: selective ${selOff / selOn}%.2fx  unselective ${allOff / allOn}%.2fx (want ~1.0)")
    spark.stop()
  }
}
