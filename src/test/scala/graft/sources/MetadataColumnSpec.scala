package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** The `_source_file` DSv2 metadata column: absent from the default schema,
  * materialized (correctly, per record) only when referenced, consistent
  * across multi-file scans and the columnar reader's chunk packing, and
  * composable with column pruning and pushed filters. */
class MetadataColumnSpec extends SparkSpec with Matchers {

  private def writeTyped(dir: String, ids: Seq[Int]): Unit = {
    import spark.implicits._
    ids.toDF("id").repartition(3)
      .select(format_string("%04d", col("id")).cast("binary").as("value"))
      .write.format("fixedwidth").option("recordLength", 4).mode("overwrite").save(dir)
  }

  private val layout = "id:int:0:4"

  test("_source_file is not in the schema but resolves when selected") {
    val dir = Files.createTempDirectory("graft-metacol").toString
    writeTyped(dir, 0 until 50)
    val df = spark.read.format("fixedwidth")
      .option("recordLength", 4).option("fields", layout).load(dir)
    df.schema.fieldNames should not contain "_source_file"
    val rows = df.select(col("id"), col("_source_file"))
      .collect().map(r => (r.getInt(0), r.getString(1)))
    rows.length shouldBe 50
    rows.map(_._1).sorted shouldBe (0 until 50)
    all(rows.map(_._2)) should include(dir)
    // 3 writer tasks -> records must attribute to >1 distinct file
    rows.map(_._2).distinct.length should be > 1
  }

  test("per-record attribution matches file contents exactly") {
    val dir = Files.createTempDirectory("graft-metacol2").toString
    writeTyped(dir, 0 until 30)
    val got = spark.read.format("fixedwidth")
      .option("recordLength", 4).option("fields", layout).load(dir)
      .select(col("id"), col("_source_file")).collect()
      .map(r => (r.getInt(0), r.getString(1))).toMap
    // ground truth: parse each data file directly
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    files should not be empty
    for (f <- files) {
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      bytes.grouped(4).foreach { rec =>
        val id = new String(rec, "US-ASCII").toInt
        got(id) should endWith(f.getName)
      }
    }
  }

  test("_source_file and offset stay exact across batch-capacity, chunk and file switches") {
    // ~5000 records per file: blocks of 4096 split every file, and with a
    // small split size chunks of several files pack into one partition
    val dir = Files.createTempDirectory("graft-metacol-blocks")
    val perm = new scala.util.Random(3).shuffle((0 until 15000).toVector)
    val truth: Map[Int, (String, Long)] = perm.grouped(5000).zipWithIndex.flatMap { case (ids, fi) =>
      val name = s"part-$fi.fwb"
      Files.write(dir.resolve(name), ids.map(i => f"$i%05d").mkString.getBytes("US-ASCII"))
      ids.zipWithIndex.map { case (id, j) => id -> (name, j * 5L) }
    }.toMap
    truth.size shouldBe 15000
    for (split <- Seq(None, Some("9000"))) withClue(s"maxPartitionBytes=$split: ") {
      split.foreach(spark.conf.set("spark.sql.files.maxPartitionBytes", _))
      try {
        val got = spark.read.format("fixedwidth")
          .option("recordLength", 5).option("fields", "id:int:0:5").load(dir.toString)
          .select(col("id"), col("_source_file"), col("offset")).collect()
        got.length shouldBe 15000
        got.foreach { r =>
          val (name, off) = truth(r.getInt(0))
          r.getString(1) should endWith(name)
          r.getLong(2) shouldBe off
        }
      } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    }
  }

  test("_source_file composes with pushed filters and prunes cleanly") {
    val dir = Files.createTempDirectory("graft-metacol3").toString
    writeTyped(dir, 0 until 40)
    val df = spark.read.format("fixedwidth")
      .option("recordLength", 4).option("fields", layout).load(dir)
      .filter(col("id") < 10).select(col("_source_file"))
    df.collect().length shouldBe 10
    // metadata-only projection: no declared field needs decoding
    val plan = df.queryExecution.executedPlan.toString
    plan should include("_source_file")
  }

  test("queries without the column are unaffected") {
    val dir = Files.createTempDirectory("graft-metacol4").toString
    writeTyped(dir, 0 until 20)
    val df = spark.read.format("fixedwidth")
      .option("recordLength", 4).option("fields", layout).load(dir)
    df.agg(sum(col("id"))).head.getLong(0) shouldBe (0 until 20).sum.toLong
  }

  test("raw (untyped) mode surfaces _source_file next to offset/value") {
    val dir = Files.createTempDirectory("graft-metacol5").toString
    writeTyped(dir, 0 until 20)
    val rows = spark.read.format("fixedwidth").option("recordLength", 4).load(dir)
      .select(col("offset"), col("value").cast("string"), col("_source_file"))
      .collect()
    rows.length shouldBe 20
    all(rows.map(_.getString(2))) should include(dir)
  }

  test("aggregates over _source_file fall back from listing pushdown and stay correct") {
    val dir = Files.createTempDirectory("graft-metacol6").toString
    writeTyped(dir, 0 until 20)
    val df = spark.read.format("fixedwidth").option("recordLength", 4).load(dir)
    // countDistinct over the metadata column must read records (no zero-IO
    // listing answer exists for it) and equal the number of data files
    val nFiles = new java.io.File(dir).listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    df.agg(countDistinct(col("_source_file"))).head.getLong(0) shouldBe nFiles.toLong
  }

  test("streaming: _source_file flows through the micro-batch reader per record") {
    val dir = Files.createTempDirectory("graft-metacol7").toString
    writeTyped(dir, 0 until 20)
    val name = "metacol_stream"
    val q = spark.readStream.format("fixedwidth")
      .option("recordLength", 4).option("fields", layout).load(dir)
      .select(col("id"), col("_source_file"))
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", Files.createTempDirectory("graft-metacol-ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table(name).collect()
      .map(r => (r.getInt(0), r.getString(1))).toMap
    got.keySet shouldBe (0 until 20).toSet
    // streamed attribution must match the batch reader's per record
    val batch = spark.read.format("fixedwidth")
      .option("recordLength", 4).option("fields", layout).load(dir)
      .select(col("id"), col("_source_file")).collect()
      .map(r => (r.getInt(0), r.getString(1))).toMap
    got shouldBe batch
  }

  test("a declared field named _source_file wins: metadata column suppressed, bytes decode") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-metacol9").toString
    (0 until 5).map(i => f"$i%04d").toDF("_source_file")
      .select(col("_source_file").cast("binary").as("value"))
      .write.format("fixedwidth").option("recordLength", 4).mode("overwrite").save(dir)
    val df = spark.read.format("fixedwidth")
      .option("recordLength", 4).option("fields", "_source_file:string:0:4").load(dir)
    // the DATA column resolves — values come from record bytes, not paths
    df.select(col("_source_file")).collect().map(_.getString(0)).sorted shouldBe
      (0 until 5).map(i => f"$i%04d").toArray
  }

  test("streams that never reference _source_file are unaffected by the trailing vector") {
    val dir = Files.createTempDirectory("graft-metacol8").toString
    writeTyped(dir, 0 until 12)
    val name = "metacol_stream_plain"
    val q = spark.readStream.format("fixedwidth")
      .option("recordLength", 4).option("fields", layout).load(dir)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", Files.createTempDirectory("graft-metacol-ckpt2").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name).collect().map(_.getAs[Int]("id")).sorted shouldBe (0 until 12)
  }
}
