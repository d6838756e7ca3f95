package graft.sources

import java.nio.file.{Files, Path => JPath}

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.sources.fixedwidth._

/** Malformed-record policy for typed decode (PERMISSIVE null /
  * DROPMALFORMED / FAILFAST) plus the Or / string prefix-suffix-contains
  * filter pushdown — the two round-4 scale-hardening items. The reference
  * has no typed decode (it hands raw bytes to user code,
  * FixedLengthRecordReader.java:237-243), so user MapReduce code WAS the
  * malformed-record policy; these modes restore that escape hatch.
  */
class FixedWidthMalformedSpec extends SparkSpec with Matchers {

  private def tmp(): String = Files.createTempDirectory("graft-test").toString

  // Layout: id long [0,6), qty long [6,12), name string [12,16), price double [16,24)
  private val fields = "id:long:0:6,qty:long:6:6,name:string:12:4,price:double:16:8"

  /** 4 records, 24 bytes each: id=2 has a bad qty digit, id=3 a bad double,
    * id=4 a BLANK qty (SQL NULL — legal, NOT malformed). */
  private def writePoisoned(): String = {
    val dir = tmp()
    val recs = Seq(
      "     1" + "    10" + "ab  " + "1.5     ",
      "     2" + "  1X  " + "cd  " + "2.5     ",
      "     3" + "    30" + "ef  " + "2.x5    ",
      "     4" + "      " + "gh  " + "4.5     ")
    recs.foreach(r => assert(r.length == 24))
    Files.write(JPath.of(dir, "data.fwb"), recs.mkString.getBytes("US-ASCII"))
    dir
  }

  private def read(dir: String, opts: (String, String)*) = {
    var r = spark.read.format("fixedwidth").option("fields", fields)
    opts.foreach { case (k, v) => r = r.option(k, v) }
    r.load(dir)
  }

  test("FAILFAST (default): one bad byte kills the scan") {
    val dir = writePoisoned()
    val e = intercept[Exception](read(dir).collect())
    e.toString + Option(e.getCause).mkString should include("fixedwidth")
  }

  test("PERMISSIVE: bad fields null out, the rest of the record survives") {
    val dir = writePoisoned()
    val rows = read(dir, "mode" -> "PERMISSIVE")
      .select($("id"), $("qty"), $("name"), $("price")).orderBy($("id")).collect()
    rows.length shouldBe 4
    rows.map(_.getLong(0)) shouldBe Array(1L, 2L, 3L, 4L)
    rows.map(r => if (r.isNullAt(1)) null else r.getLong(1)) shouldBe Array(10L, null, 30L, null)
    rows.map(_.getString(2)) shouldBe Array("ab", "cd", "ef", "gh")
    rows.map(r => if (r.isNullAt(3)) null else r.getDouble(3)) shouldBe Array(1.5, 2.5, null, 4.5)
  }

  test("PERMISSIVE + columnNameOfCorruptRecord: raw untrimmed record, only for malformed rows") {
    val dir = writePoisoned()
    val rows = read(dir, "mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_bad")
      .select($("id"), $("_bad")).orderBy($("id")).collect()
    rows.map(r => if (r.isNullAt(1)) null else r.getString(1)) shouldBe Array(
      null,
      "     2" + "  1X  " + "cd  " + "2.5     ", // raw bytes, padding intact
      "     3" + "    30" + "ef  " + "2.x5    ",
      null) // blank qty is NULL, not malformed
  }

  test("corrupt column detects malformation in NON-projected fields too") {
    val dir = writePoisoned()
    // qty/price are not selected; the probe path must still flag ids 2 and 3
    val got = read(dir, "mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_bad")
      .filter($("_bad").isNotNull).select($("id")).collect().map(_.getLong(0)).sorted
    got shouldBe Array(2L, 3L)
  }

  test("DROPMALFORMED: poisoned records vanish, independent of projection") {
    val dir = writePoisoned()
    val df = read(dir, "mode" -> "DROPMALFORMED")
    df.select($("id")).collect().map(_.getLong(0)).sorted shouldBe Array(1L, 4L)
    // the drop verdict must not depend on which columns the query projects:
    // name alone parses fine in every record, yet ids 2 and 3 still drop
    df.select($("name")).collect().map(_.getString(0)).sorted shouldBe Array("ab", "gh")
    df.count() shouldBe 2
  }

  test("tolerant modes also drop a trailing partial record (FAILFAST errors)") {
    val dir = writePoisoned()
    Files.write(JPath.of(dir, "frag.fwb"), ("     9" + "     9").getBytes("US-ASCII"))
    read(dir, "mode" -> "DROPMALFORMED").select($("id")).count() shouldBe 2
    intercept[Exception](read(dir).collect())
  }

  test("PERMISSIVE and DROPMALFORMED hold across block boundaries of the columnar reader") {
    // 9000 records of 24 bytes read as blocks of 4096: malformed records sit
    // on both sides of each block boundary, at the ends, and mid-block
    val n = 9000
    val badQty = Set(0, 4095, 4097, 8192, 8999)
    val badPrice = Set(4096, 6000, 8191)
    val recs = (0 until n).map { i =>
      val qty = if (badQty(i)) "  1X  " else f"${i % 97}%6d"
      val price = if (badPrice(i)) "2.x5    " else f"${(i % 89).toDouble}%.2f".padTo(8, ' ')
      f"${i + 1}%6d" + qty + "nm  " + price
    }
    val dir = tmp()
    Files.write(JPath.of(dir, "data.fwb"), recs.mkString.getBytes("US-ASCII"))
    val bad = (badQty ++ badPrice).map(_ + 1L)

    val perm = read(dir, "mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_bad")
      .select($("id"), $("qty"), $("price"), $("_bad")).collect()
    perm.length shouldBe n
    perm.filter(!_.isNullAt(3)).map(_.getLong(0)).toSet shouldBe bad
    perm.filter(_.isNullAt(1)).map(_.getLong(0)).toSet shouldBe badQty.map(_ + 1L)
    perm.filter(_.isNullAt(2)).map(_.getLong(0)).toSet shouldBe badPrice.map(_ + 1L)
    perm.filter(r => !r.isNullAt(3)).foreach(r => r.getString(3) shouldBe recs(r.getLong(0).toInt - 1))
    perm.filter(r => r.isNullAt(3)).foreach(r => r.getLong(1) shouldBe (r.getLong(0) - 1) % 97)
    // the verdict on non-projected fields still reaches the corrupt column
    read(dir, "mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_bad")
      .filter($("_bad").isNotNull).select($("id")).collect().map(_.getLong(0)).toSet shouldBe bad

    val drop = read(dir, "mode" -> "DROPMALFORMED")
    drop.select($("id")).collect().map(_.getLong(0)).toSet shouldBe
      (1L to n.toLong).toSet -- bad
    // pushed filter + drop, on a range spanning the first block boundary
    drop.filter($("id") > 4090L && $("id") <= 4100L).select($("id")).collect()
      .map(_.getLong(0)).toSet shouldBe (4091L to 4100L).toSet -- bad
  }

  test("pushed filters stay tolerant: malformed predicate field = no match, no throw") {
    val dir = writePoisoned()
    val df = read(dir, "mode" -> "PERMISSIVE")
    // predicate ON the malformed field: bad record can't match (SQL NULL)
    df.filter($("qty") > 0L).select($("id")).collect().map(_.getLong(0)).sorted shouldBe
      Array(1L, 3L)
    // predicate on a CLEAN field: bad record still surfaces, qty nulled
    val r2 = df.filter($("name") === "cd").select($("id"), $("qty")).head
    r2.getLong(0) shouldBe 2L
    r2.isNullAt(1) shouldBe true
    // DROPMALFORMED + filter compose
    read(dir, "mode" -> "DROPMALFORMED").filter($("price") > 2.0).count() shouldBe 1L // id=4
  }

  test("PERMISSIVE: Or with a malformed arm keeps the row when the other arm is TRUE") {
    val dir = writePoisoned()
    val df = read(dir, "mode" -> "PERMISSIVE")
    // id=2 has qty malformed (NULL): Catalyst computes NULL OR TRUE = TRUE.
    // Leaf-level NULL encoding must keep it; a catch around the whole
    // predicate tree would skip the record and silently diverge post-scan.
    df.filter($("qty") > 0L || $("name") === "cd")
      .select($("id")).collect().map(_.getLong(0)).sorted shouldBe Array(1L, 2L, 3L)
    // both arms on malformed fields of the same record: NULL OR NULL filters
    df.filter($("qty") > 0L || $("price") < 0.0)
      .select($("id")).collect().map(_.getLong(0)).sorted shouldBe Array(1L, 3L)
  }

  test("PERMISSIVE: pushed IsNull/IsNotNull see malformed fields as NULL, like the decoder") {
    val dir = writePoisoned()
    val df = read(dir, "mode" -> "PERMISSIVE")
    // qty is NULL for id=2 (malformed) AND id=4 (blank) — both must match
    df.filter($("qty").isNull).select($("id")).collect().map(_.getLong(0)).sorted shouldBe
      Array(2L, 4L)
    // IS NOT NULL must exclude the malformed row, not just the blank one
    df.filter($("qty").isNotNull).select($("id")).collect().map(_.getLong(0)).sorted shouldBe
      Array(1L, 3L)
    df.filter($("price").isNull).select($("id")).collect().map(_.getLong(0)) shouldBe Array(3L)
  }

  test("pushed In: one-parse set membership keeps EqualTo semantics incl. NULL/malformed") {
    val dir = writePoisoned()
    val df = read(dir, "mode" -> "PERMISSIVE")
    // long In: malformed qty (id=2) and blank qty (id=4) never match
    df.filter($("qty").isin(10L, 30L, 999L)).select($("id"))
      .collect().map(_.getLong(0)).sorted shouldBe Array(1L, 3L)
    // string In compares the TRIMMED decoded value
    df.filter($("name").isin("ab", "gh")).select($("id"))
      .collect().map(_.getLong(0)).sorted shouldBe Array(1L, 4L)
    // double In: malformed price (id=3) excluded, exact match only
    df.filter($("price").isin(2.5, 9.9)).select($("id"))
      .collect().map(_.getLong(0)) shouldBe Array(2L)
    // decimal In membership is scale-agnostic numeric equality (compareTo,
    // not BigDecimal.equals): stored 1.50 matches literal 1.5
    val ddir = tmp()
    Files.write(JPath.of(ddir, "d.fwb"), "  1.50  2.25".getBytes("US-ASCII"))
    val dd = spark.read.format("fixedwidth")
      .option("fields", "d:decimal(4,2):0:6").load(ddir)
    dd.filter($("d").isin(BigDecimal("1.5"), BigDecimal("7"))).count() shouldBe 1L
  }

  test("option validation: corrupt column needs typed PERMISSIVE and a fresh name") {
    val dir = writePoisoned()
    intercept[IllegalArgumentException](
      read(dir, "columnNameOfCorruptRecord" -> "_bad").collect()) // FAILFAST
      .getMessage should include("PERMISSIVE")
    intercept[IllegalArgumentException](
      read(dir, "mode" -> "DROPMALFORMED", "columnNameOfCorruptRecord" -> "_bad").collect())
      .getMessage should include("PERMISSIVE")
    intercept[IllegalArgumentException](
      read(dir, "mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "qty").collect())
      .getMessage should include("collides")
    intercept[IllegalArgumentException](
      spark.read.format("fixedwidth").option("recordLength", 24)
        .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_bad")
        .load(dir).collect())
      .getMessage should include("fields")
    intercept[IllegalArgumentException](
      read(dir, "mode" -> "WHATEVER").collect())
      .getMessage should include("DROPMALFORMED")
  }

  test("row reader (non-columnar lane) applies the same policy") {
    val dir = writePoisoned()
    import scala.jdk.CollectionConverters._
    val optMap = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      Map("fields" -> fields, "mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_bad").asJava)
    val opts = FixedWidthOptions(optMap)
    val file = JPath.of(dir, "data.fwb")
    val part = FixedWidthInputPartition(Seq(
      FileChunk(file.toString, 0L, Files.size(file), compressed = false)))
    val reader = new FixedWidthPartitionReader(
      part, opts, opts.schema, spark.sessionState.newHadoopConf())
    val got = Iterator.continually(reader)
      .takeWhile(_.next())
      .map { r =>
        val row = r.get()
        (row.getLong(1), row.isNullAt(2), row.isNullAt(5))
      } // (id, qty null?, _bad null?)
      .toList
    reader.close()
    got shouldBe List((1L, false, true), (2L, true, false), (3L, false, false), (4L, true, true))

    // and DROPMALFORMED on the row lane
    val optsDrop = FixedWidthOptions(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      Map("fields" -> fields, "mode" -> "DROPMALFORMED").asJava))
    val r2 = new FixedWidthPartitionReader(
      part, optsDrop, optsDrop.schema, spark.sessionState.newHadoopConf())
    val ids = Iterator.continually(r2).takeWhile(_.next()).map(_.get().getLong(1)).toList
    r2.close()
    ids shouldBe List(1L, 4L)
  }

  test("Or and string prefix/suffix/contains push down fully (no FilterExec)") {
    import org.apache.spark.sql.execution.FilterExec
    val dir = tmp()
    import spark.implicits._
    val in = (0 until 300).map(i => (i.toLong, s"name$i", if (i % 3 == 0) "A" else "R"))
      .toDF("id", "name", "flag")
    val f = "id:long:0:10,name:string:10:10,flag:string:20:1"
    in.write.format("fixedwidth").option("fields", f).mode("overwrite").save(dir)
    val fw = spark.read.format("fixedwidth").option("fields", f).load(dir)

    // Or of two equalities, written with || so it arrives as Or (not In)
    val or = fw.filter($"flag" === "A" || $"id" < 10L)
    or.queryExecution.executedPlan.collect { case x: FilterExec => x } shouldBe empty
    or.count() shouldBe (0 until 300).count(i => i % 3 == 0 || i < 10)

    // prefix / suffix / contains on a trimmed string field
    val pre = fw.filter($"name".startsWith("name2"))
    pre.queryExecution.executedPlan.collect { case x: FilterExec => x } shouldBe empty
    pre.count() shouldBe (0 until 300).count(i => i.toString.startsWith("2"))
    val suf = fw.filter($"name".endsWith("7"))
    suf.queryExecution.executedPlan.collect { case x: FilterExec => x } shouldBe empty
    suf.count() shouldBe (0 until 300).count(i => i.toString.endsWith("7"))
    val has = fw.filter($"name".contains("e11"))
    has.queryExecution.executedPlan.collect { case x: FilterExec => x } shouldBe empty
    has.count() shouldBe (0 until 300).count(i => s"name$i".contains("e11"))

    // nested And-under-Or composes and stays fully pushed
    val mix = fw.filter(($"flag" === "A" && $"name".startsWith("name1")) || $"id" >= 290L)
    mix.queryExecution.executedPlan.collect { case x: FilterExec => x } shouldBe empty
    mix.count() shouldBe (0 until 300).count(i =>
      (i % 3 == 0 && s"name$i".startsWith("name1")) || i >= 290)
  }

  private def $(c: String) = col(c)
}
