package graft.sources

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.sources.fixedwidth.{FixedWidthInputPartition, FixedWidthOptions, FixedWidthScan, FwzFormat, FwzStats}

/** Per-frame column statistics on the framed .fwz layout (FwzFormat v2 +
  * FwzStats): the writer records each declared field's min/max raw slice per
  * frame; the planner skips frames a pushed predicate can never match,
  * WITHOUT decompressing them. Proven here: (1) skipping is observable (the
  * plan's frame coverage shrinks, counted by PlanMetrics) and results stay
  * hash-identical to the stats-less read; (2) absent stats fall back soundly
  * (zero skips, same results); (3) string stats deactivate under a trim
  * convention mismatch; (4) null flags drive IsNull/IsNotNull skipping;
  * (5) the v2 footer round-trips and its corruption fails at plan time. */
class FwzStatsSpec extends SparkSpec with Matchers {

  private val fieldsOpt = "id:long:0:10,grp:string:10:4,amt:decimal(9,2):14:12"
  private val recLen = 26
  private val conf = new Configuration()

  /** 40k records ordered by id (so frames have tight id ranges), 500
    * records/frame ⇒ 80 frames; grp cycles a00..a07 in 5k-record blocks so
    * string predicates also cluster; amt = id/100 exact decimal. */
  private def writeData(dir: String, stats: Option[String], trim: String = "right"): Unit = {
    import spark.implicits._
    val df = (0 until 40000).map { i =>
      (i.toLong, s"a${"%02d".format(i / 5000)}", BigDecimal(i, 2)) // id/100, scale 2
    }.toDF("id", "grp", "amt")
      .select(col("id"), col("grp"), col("amt").cast("decimal(9,2)"))
      .coalesce(1)
    val w = df.write.format("fixedwidth").option("fields", fieldsOpt)
      .option("recordLength", recLen.toString)
      .option("compression", "zstd")
      .option("frameBytes", (500 * recLen).toString)
      .option("trim", trim)
    stats.fold(w)(s => w.option("frameStats", s)).mode("overwrite").save(dir)
  }

  private def opts(extra: Map[String, String] = Map.empty): FixedWidthOptions = {
    import scala.jdk.CollectionConverters._
    FixedWidthOptions(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      (Map("fields" -> fieldsOpt, "recordLength" -> recLen.toString) ++ extra).asJava))
  }

  /** Plan the directory's .fwz files under `filters`; returns (covered
    * decompressed bytes, frames skipped). */
  private def plan(dir: String, filters: Array[Filter],
      o: FixedWidthOptions = opts()): (Long, Long) = {
    val files = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".fwz"))
      .map(f => f.getPath -> f.length()).toSeq
    val pm = new FwzStats.PlanMetrics
    val parts = FixedWidthScan.alignedPartitionsOf(files, o, None, filters, pm)
    val covered = parts.flatMap(_.asInstanceOf[FixedWidthInputPartition].chunks)
      .map(_.asInstanceOf[graft.sources.fixedwidth.FwzRun].dLen).sum
    (covered, pm.framesSkipped)
  }

  private def readFiltered(dir: String, cond: org.apache.spark.sql.Column): Seq[(Long, String, java.math.BigDecimal)] =
    spark.read.format("fixedwidth").option("fields", fieldsOpt)
      .option("recordLength", recLen.toString).load(dir)
      .filter(cond)
      .select(col("id"), col("grp"), col("amt"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDecimal(2)))
      .sortBy(_._1).toSeq

  test("range + equality predicates skip frames; results identical to stats-less read") {
    val withStats = Files.createTempDirectory("graft-fwzstats-on").toString
    val noStats = Files.createTempDirectory("graft-fwzstats-off").toString
    writeData(withStats, Some("all"))
    writeData(noStats, None)

    val fullBytes = 40000L * recLen
    // long range: id < 2000 touches 4 of 80 frames
    val (covR, skipR) = plan(withStats, Array(LessThan("id", 2000L)))
    skipR should be > 60L
    covR should be < fullBytes / 4
    // stats-less: zero skips, full coverage
    val (covN, skipN) = plan(noStats, Array(LessThan("id", 2000L)))
    skipN shouldBe 0L
    covN shouldBe fullBytes
    // equality on the string block
    val (covS, skipS) = plan(withStats, Array(EqualTo("grp", "a03")))
    skipS should be > 60L
    covS should be < fullBytes / 4
    // decimal range
    val (covD, skipD) = plan(withStats,
      Array(GreaterThan("amt", new java.math.BigDecimal("380.00"))))
    skipD should be > 60L
    covD should be < fullBytes / 4
    // In + StartsWith
    val (_, skipIn) = plan(withStats, Array(In("id", Array(5L, 39999L))))
    skipIn should be > 70L
    val (_, skipPre) = plan(withStats, Array(StringStartsWith("grp", "a07")))
    skipPre should be > 60L
    // conjunction with an unconstrained arm still skips on the constrained one
    val (_, skipAnd) = plan(withStats,
      Array(LessThan("id", 2000L), StringContains("grp", "0")))
    skipAnd should be > 60L
    // disjunction with an unconstrained arm must NOT skip
    val (_, skipOr) = plan(withStats,
      Array(Or(LessThan("id", 2000L), StringContains("grp", "0"))))
    skipOr shouldBe 0L

    // end-to-end: every predicate shape returns byte-identical rows on both dirs
    val conds = Seq(
      col("id") < 2000L,
      col("grp") === "a03",
      col("amt") > lit(new java.math.BigDecimal("380.00")),
      col("id").isin(5L, 39999L),
      col("grp").startsWith("a07"),
      col("id") < 2000L && col("grp").contains("0"),
      col("id") < 2000L || col("grp").contains("0"),
      col("id") >= 39000L && col("amt") <= lit(new java.math.BigDecimal("395.50")))
    conds.foreach { c =>
      withClue(s"cond $c") { readFiltered(withStats, c) shouldBe readFiltered(noStats, c) }
    }
  }

  test("stats footer round-trips and count/statistics shortcuts still work") {
    val dir = Files.createTempDirectory("graft-fwzstats-footer").toString
    writeData(dir, Some("id,grp"))
    val f = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".fwz")).head
    val footer = FwzFormat.readFooter(new Path(f.getPath), f.length(), conf)
    footer.frames.length shouldBe 80
    footer.totalDLen shouldBe 40000L * recLen
    val block = footer.stats.get
    block.fields.map(_.name) shouldBe Seq("id", "grp")
    block.trimId shouldBe FwzFormat.TrimIds("right")
    val idStats = block.fields.head
    idStats.start shouldBe 0
    idStats.width shouldBe 10
    // frame 3 holds ids [1500, 2000): raw slices parse back to those bounds
    new String(idStats.mins(3), "US-ASCII").trim.toLong shouldBe 1500L
    new String(idStats.maxs(3), "US-ASCII").trim.toLong shouldBe 1999L
    (idStats.flags(3) & FwzFormat.FlagHasValue) should not be 0
    (idStats.flags(3) & FwzFormat.FlagHasNull) shouldBe 0
    // count(*) pushdown still exact on a stats file
    spark.read.format("fixedwidth").option("fields", fieldsOpt)
      .option("recordLength", recLen.toString).load(dir)
      .count() shouldBe 40000L
  }

  test("corrupt stats block fails loudly at plan time") {
    val dir = Files.createTempDirectory("graft-fwzstats-corrupt").toString
    writeData(dir, Some("all"))
    val f = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".fwz")).head
    val raf = new java.io.RandomAccessFile(f, "rw")
    try {
      // truncate the stats length in the trailer: statsLen sits 14 bytes
      // before EOF in both stats versions — halving it breaks the tiling
      // check
      raf.seek(f.length() - FwzFormat.TrailerLenV2)
      val statsLen = raf.readInt()
      raf.seek(f.length() - FwzFormat.TrailerLenV2)
      raf.writeInt(statsLen / 2)
    } finally raf.close()
    // drop the local-FS checksum sidecar: the hand-edit must reach OUR
    // validation, not Hadoop's CRC check
    new java.io.File(f.getParent, s".${f.getName}.crc").delete()
    val e = intercept[IllegalArgumentException] {
      FwzFormat.readFooter(new Path(f.getPath), f.length(), conf)
    }
    e.getMessage should include("corrupt")
  }

  test("stats block size guard: an over-int32 projected block fails at the first bad frame") {
    // a 2000-byte stat field over ~537k frames (a ~35 GB file at
    // frameBytes=64KiB) — the r15 render would overflow Int arithmetic and
    // die in ByteBuffer.allocate AFTER the whole write; the guard the
    // Tracker calls per frame must fail fast with an actionable message
    val perFrame = 1L + 2L * 2000L
    val e = intercept[IllegalArgumentException] {
      FwzStats.checkStatsSize(50L, perFrame, 537000L)
    }
    e.getMessage should include("frameStats")
    e.getMessage should include("frameBytes")
    noException should be thrownBy FwzStats.checkStatsSize(50L, perFrame, 500000L)
  }

  test("trim-convention mismatch deactivates string stats but never numeric ones") {
    val dir = Files.createTempDirectory("graft-fwzstats-trim").toString
    writeData(dir, Some("all"), trim = "right")
    val noneTrim = opts(Map("trim" -> "none"))
    // string predicate under trim=none: writer tracked under trim=right —
    // stats must deactivate (values decode with trailing pad spaces here)
    val (_, skipStr) = plan(dir, Array(EqualTo("grp", "a03 ")), noneTrim)
    skipStr shouldBe 0L
    // numeric predicate unaffected by trim conventions
    val (_, skipNum) = plan(dir, Array(LessThan("id", 2000L)), noneTrim)
    skipNum should be > 60L
    // and the trim=none read is still value-correct under the numeric skip
    val got = spark.read.format("fixedwidth").option("fields", fieldsOpt)
      .option("recordLength", recLen.toString).option("trim", "none").load(dir)
      .filter(col("id") < 2000L).count()
    got shouldBe 2000L
  }

  test("stats compose with partitionBy and file rolling; each file's footer describes itself") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-fwzstats-parts").toString
    // 2 partition dirs × rolling at 5000 records → 2 files per dir, each
    // with its own tracker generation; ids ordered so frames cluster
    (0 until 20000).map(i => (i.toLong, if (i % 2 == 0) "ev" else "od"))
      .toDF("id", "par").coalesce(1)
      .write.format("fixedwidth").option("fields", "id:long:0:10,par:string:10:2")
      .option("recordLength", "12").option("compression", "zstd")
      .option("frameBytes", (500 * 12).toString).option("frameStats", "id")
      .option("maxRecordsPerFile", "5000")
      .partitionBy("par")
      .mode("overwrite").save(dir)
    val conf = new Configuration()
    val files = new java.io.File(dir).listFiles.filter(_.isDirectory)
      .flatMap(_.listFiles).filter(_.getName.endsWith(".fwz"))
    files.length shouldBe 4 // 2 dirs × (5000+5000 roll)
    files.foreach { f =>
      val footer = FwzFormat.readFooter(new Path(f.getPath), f.length(), conf)
      footer.totalDLen shouldBe 5000L * 12 // every rolled file self-describes
      footer.stats.get.fields.map(_.name) shouldBe Seq("id")
      footer.stats.get.fields.head.flags.length shouldBe footer.frames.length
    }
    // directory pruning composes with frame skipping: a par + id conjunction
    // reads one partition's files and skips their out-of-range frames;
    // values must match the unfiltered read filtered post-hoc
    val read = spark.read.format("fixedwidth")
      .option("fields", "id:long:0:10,par:string:10:2").option("recordLength", "12")
      .load(dir)
    val got = read.filter(col("par") === "od" && col("id") < 1000L)
      .select(col("id")).collect().map(_.getLong(0)).sorted
    got shouldBe (1L until 1000L by 2).toArray
  }

  test("a pushed record range (limit/offset) disables frame skipping") {
    val dir = Files.createTempDirectory("graft-fwzstats-range").toString
    writeData(dir, Some("all"))
    val files = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".fwz"))
      .map(f => f.getPath -> f.length()).toSeq
    val pm = new FwzStats.PlanMetrics
    // filters + recordRange never coexist from the builder, but runtime
    // filters can arrive while a range is pushed — the planner must then
    // keep every frame (the range counts RAW records)
    FixedWidthScan.alignedPartitionsOf(
      files, opts(), Some((100L, 5000L)), Array(LessThan("id", 2000L)), pm)
    pm.framesSkipped shouldBe 0L
  }

  test("a reader declaring a DIFFERENT type over the same bytes ignores the stats") {
    val dir = Files.createTempDirectory("graft-fwzstats-type").toString
    writeData(dir, Some("all"))
    // same name/offset/width, but id declared as STRING: numeric rank does
    // not bound string rank ("9" > "10" as strings) — stats must deactivate
    val asString = opts(Map("fields" -> "id:string:0:10,grp:string:10:4,amt:decimal(9,2):14:12"))
    val (_, skipped) = plan(dir, Array(EqualTo("id", "42")), asString)
    skipped shouldBe 0L
    // and the read itself stays correct (string compare, right-trimmed)
    spark.read.format("fixedwidth")
      .option("fields", "id:string:0:10,grp:string:10:4,amt:decimal(9,2):14:12")
      .option("recordLength", recLen.toString).load(dir)
      .filter(col("id") === "42").count() shouldBe 1L
  }

  test("whole-file envelope: an out-of-range FILE is discarded in O(fields), all frames counted") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-fwzstats-envelope").toString
    // 4 rolled files of 10k ordered ids → per-file id ranges [0,10k), [10k,20k)...
    (0 until 40000).map(i => (i.toLong, s"g${i / 5000}")).toDF("id", "grp").coalesce(1)
      .write.format("fixedwidth").option("fields", "id:long:0:10,grp:string:10:4")
      .option("recordLength", "14").option("compression", "zstd")
      .option("frameBytes", (500 * 14).toString).option("frameStats", "id")
      .option("maxRecordsPerFile", "10000")
      .mode("overwrite").save(dir)
    val o = opts(Map("fields" -> "id:long:0:10,grp:string:10:4", "recordLength" -> "14"))
    val files = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".fwz"))
      .map(f => f.getPath -> f.length()).toSeq
    files should have size 4
    val pm = new FwzStats.PlanMetrics
    val parts = FixedWidthScan.alignedPartitionsOf(
      files, o, None, Array(GreaterThanOrEqual("id", 35000L)), pm)
    // files 0-2 (60 frames) die on their envelopes; file 3's walk skips its
    // first 10 frames — every skipped frame counted either way
    pm.framesSkipped shouldBe 70L
    val touched = parts.flatMap(_.asInstanceOf[FixedWidthInputPartition].chunks)
      .map(_.filePath).distinct
    touched should have size 1
  }

  test("global MIN/MAX over a framed feed answers from footers with zero data IO") {
    val withStats = Files.createTempDirectory("graft-fwzstats-minmax").toString
    val noStats = Files.createTempDirectory("graft-fwzstats-minmax-ns").toString
    writeData(withStats, Some("all"))
    writeData(noStats, None)
    def agg(dir: String) = spark.read.format("fixedwidth").option("fields", fieldsOpt)
      .option("recordLength", recLen.toString).load(dir)
      .agg(min(col("id")).as("mn"), max(col("id")).as("mx"),
        min(col("grp")).as("gmn"), max(col("grp")).as("gmx"),
        min(col("amt")).as("amn"), max(col("amt")).as("amx"),
        count(lit(1)).as("n"))
    val planned = agg(withStats).queryExecution.executedPlan.toString
    planned should include("FixedWidthCountScan")
    planned should include("(fwz stats)")
    val r = agg(withStats).collect()(0)
    (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)) shouldBe
      ((0L, 39999L, "a00", "a07"))
    r.getDecimal(4) shouldBe new java.math.BigDecimal("0.00")
    r.getDecimal(5) shouldBe new java.math.BigDecimal("399.99")
    r.getLong(6) shouldBe 40000L
    // stats-less: no listing-agg plan, same values through a real scan
    val plannedNs = agg(noStats).queryExecution.executedPlan.toString
    plannedNs should not include "FixedWidthCountScan"
    agg(noStats).collect()(0).toSeq shouldBe r.toSeq
    // NULLs are ignored, all-null columns yield SQL NULL (the null fixture:
    // ids 1000-1999 blank)
    val nullDir = Files.createTempDirectory("graft-fwzstats-minmax-null").toString
    import spark.implicits._
    (0 until 4000).map(i => (if (i >= 1000 && i < 2000) None else Some(i.toLong), "g"))
      .toDF("id", "grp").coalesce(1)
      .write.format("fixedwidth").option("fields", "id:long:0:10,grp:string:10:4")
      .option("recordLength", "14").option("compression", "zstd")
      .option("frameBytes", (100 * 14).toString).option("frameStats", "id")
      .mode("overwrite").save(nullDir)
    val nr = spark.read.format("fixedwidth").option("fields", "id:long:0:10,grp:string:10:4")
      .option("recordLength", "14").load(nullDir)
      .agg(min(col("id")).as("mn"), max(col("id")).as("mx")).collect()(0)
    (nr.getLong(0), nr.getLong(1)) shouldBe ((0L, 3999L)) // nulls ignored
  }

  test("grouped MIN/MAX per partition directory answers from footers, zero data IO") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-fwzstats-groupagg").toString
    (0 until 20000).map(i => (i.toLong, if (i % 2 == 0) "ev" else "od"))
      .toDF("id", "par").coalesce(1)
      .write.format("fixedwidth").option("fields", "id:long:0:10,par:string:10:2")
      .option("recordLength", "12").option("compression", "zstd")
      .option("frameBytes", (500 * 12).toString).option("frameStats", "id")
      .partitionBy("par")
      .mode("overwrite").save(dir)
    val df = spark.read.format("fixedwidth")
      .option("fields", "id:long:0:10,par:string:10:2").option("recordLength", "12")
      .load(dir)
      .groupBy(col("par"))
      .agg(min(col("id")).as("mn"), max(col("id")).as("mx"), count(lit(1)).as("n"))
    val planned = df.queryExecution.executedPlan.toString
    planned should include("FixedWidthCountScan")
    planned should include("MIN(ID)")
    val rows = df.orderBy(col("par")).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    rows.toSeq shouldBe Seq(("ev", 0L, 19998L, 10000L), ("od", 1L, 19999L, 10000L))
  }

  test("foreign stats with an unparsable slice degrade to may-match, never crash planning") {
    import graft.sources.fixedwidth.FwzFormat.{FlagHasValue, FwzFieldStats, FwzStatsBlock}
    // frame 0: tested bound (max) is all-blank — this writer never produces
    // it (extremes are ranked through the parser), but the format is
    // documented for foreign writers; frame 1: both bounds parse, out of range
    val st = FwzFieldStats("id", "long", 0, 10,
      flags = Array(FlagHasValue.toByte, FlagHasValue.toByte),
      mins = Array("1         ".getBytes("US-ASCII"), "1         ".getBytes("US-ASCII")),
      maxs = Array("          ".getBytes("US-ASCII"), "50        ".getBytes("US-ASCII")))
    val block = FwzStatsBlock("UTF-8", 0, Seq(st))
    val sk = FwzStats.compileSkipper(Array(GreaterThan("id", 100L)), opts(), block)
    sk.isDefined shouldBe true
    sk.get(0) shouldBe true  // undecodable max: kept (may-match), no crash
    sk.get(1) shouldBe false // decodable max 50 < 100: skipped
    // the whole-file envelope fold degrades the same way: the poisoned
    // frame marks the field unknown, so the file is never envelope-skipped
    (block.envelope.fields.head.flags(0) & FwzFormat.FlagUnknown) should not be 0
  }

  test("frameStats refuses fields wider than the stats layout supports") {
    val wide = opts(Map("fields" -> "big:string:0:70000", "recordLength" -> "70000"))
    val e = intercept[IllegalArgumentException] {
      FwzStats.resolveStatFields("all", wide)
    }
    e.getMessage should include("slice limit")
  }

  test("null flags: IsNull keeps only frames with blanks, IsNotNull skips all-null frames") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-fwzstats-null").toString
    // frames of 100 records; ids [1000, 2000) are NULL — frames 10..19
    val df = (0 until 4000).map { i =>
      (if (i >= 1000 && i < 2000) None else Some(i.toLong), s"g${i / 100}")
    }.toDF("id", "grp").coalesce(1)
    df.write.format("fixedwidth").option("fields", "id:long:0:10,grp:string:10:4")
      .option("recordLength", "14").option("compression", "zstd")
      .option("frameBytes", (100 * 14).toString).option("frameStats", "id")
      .mode("overwrite").save(dir)
    val o = FixedWidthOptions(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      scala.jdk.CollectionConverters.MapHasAsJava(
        Map("fields" -> "id:long:0:10,grp:string:10:4", "recordLength" -> "14")).asJava))
    val files = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".fwz"))
      .map(f => f.getPath -> f.length()).toSeq
    def planWith(fs: Array[Filter]): Long = {
      val pm = new FwzStats.PlanMetrics
      FixedWidthScan.alignedPartitionsOf(files, o, None, fs, pm)
      pm.framesSkipped
    }
    planWith(Array(IsNull("id"))) shouldBe 30L    // 30 all-valued frames skipped
    planWith(Array(IsNotNull("id"))) shouldBe 10L // 10 all-null frames skipped
    // values still correct end-to-end
    val read = spark.read.format("fixedwidth")
      .option("fields", "id:long:0:10,grp:string:10:4").option("recordLength", "14")
      .load(dir)
    read.filter(col("id").isNull).count() shouldBe 1000L
    read.filter(col("id").isNotNull).count() shouldBe 3000L
  }

  test("every trim mode: edge-spaced strings decode, push down, prune, skip and aggregate like the unfiltered read") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import graft.sources.fixedwidth.FixedWidthTable
    val layout = "id:long:0:6,s:string:6:6"
    val width = 6
    // written left-aligned and space-padded to 6 bytes, so the stored bytes
    // carry each value's own leading spaces plus the pad; 100-record runs
    // cluster the frames and give each partition directory 100 records.
    // " zz" is the greatest value only when leading spaces are trimmed, so
    // extremes ranked under another trim convention answer MAX wrongly
    val values = Seq(" ab", "  ab", "ab", "ab  ", " ab ", "a b", "b", " b", "ba ", "  ", "z", " zz")
    val n = values.length * 100
    val lits = Seq("ab", " ab", "ab ", " ab ", "  ab  ", "b", " ", "z", "zz ")
    def decoded(v: String, trim: String): String = {
      val padded = v.padTo(width, ' ')
      val r = if (trim == "right" || trim == "both") padded.replaceAll(" +$", "") else padded
      if (trim == "left" || trim == "both") r.replaceAll("^ +", "") else r
    }
    val filters: Seq[Filter] = lits.flatMap(l => Seq(
      EqualTo("s", l), LessThan("s", l), GreaterThan("s", l),
      StringStartsWith("s", l), StringEndsWith("s", l), StringContains("s", l))) :+
      In("s", Array[Any]("ab", " ab ", "b", "zz "))
    def column(f: Filter): org.apache.spark.sql.Column = f match {
      case EqualTo(a, v)          => col(a) === v
      case LessThan(a, v)         => col(a) < v
      case GreaterThan(a, v)      => col(a) > v
      case In(a, vs)              => col(a).isin(vs.toSeq: _*)
      case StringStartsWith(a, v) => col(a).startsWith(v)
      case StringEndsWith(a, v)   => col(a).endsWith(v)
      case StringContains(a, v)   => col(a).contains(v)
      case other                  => fail(s"no column form for $other")
    }
    // the fixture is ASCII, where String order is UTF8String's byte order
    def holds(f: Filter, v: String): Boolean = f match {
      case EqualTo(_, l)          => v == l
      case LessThan(_, l)         => v.compareTo(l.toString) < 0
      case GreaterThan(_, l)      => v.compareTo(l.toString) > 0
      case In(_, ls)              => ls.contains(v)
      case StringStartsWith(_, l) => v.startsWith(l)
      case StringEndsWith(_, l)   => v.endsWith(l)
      case StringContains(_, l)   => v.contains(l)
      case other                  => fail(s"no reference for $other")
    }
    def norm(p: String): String = new Path(p).toUri.getPath

    for (trim <- Seq("right", "left", "both", "none"); partitioned <- Seq(false, true))
      withClue(s"trim=$trim partitioned=$partitioned: ") {
        val dir = Files.createTempDirectory("graft-fwzstats-trims").toString
        val w = (0 until n).map(i => (i.toLong, values(i / 100))).toDF("id", "s").coalesce(1)
          .write.format("fixedwidth").option("fields", layout).option("trim", trim)
          .option("compression", "zstd").option("frameBytes", (25 * 12).toString)
          .option("frameStats", "all")
        (if (partitioned) w.partitionBy("s") else w).mode("overwrite").save(dir)
        val read = spark.read.format("fixedwidth").option("fields", layout)
          .option("trim", trim).load(dir)

        // decoded strings: the expected trim of each written value
        val rows = read.select(col("id"), col("s"), col("offset"), col("_source_file"))
          .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), norm(r.getString(3))))
        rows.map(_._1).sorted shouldBe (0L until n.toLong).toArray
        rows.foreach { case (id, s, _, _) =>
          withClue(s"id=$id: ") { s shouldBe decoded(values((id / 100).toInt), trim) }
        }

        val o = FixedWidthOptions(new CaseInsensitiveStringMap(
          Map("fields" -> layout, "recordLength" -> "12", "trim" -> trim).asJava))
        val partFiles = FixedWidthTable.listPartitionedFiles(
          new CaseInsensitiveStringMap(Map("path" -> dir).asJava), conf)
        val fwzFiles = partFiles.map(pf => pf.status.getPath.toString -> pf.status.getLen)
        var skippedAny = 0L
        var prunedAny = 0L
        filters.foreach { f =>
          withClue(s"filter $f: ") {
            val expected = rows.filter(r => holds(f, r._2))
            // pushed predicate: the same rows as filtering the unfiltered read
            read.filter(column(f)).select(col("id")).collect().map(_.getLong(0)).sorted shouldBe
              expected.map(_._1).sorted
            // frame skipping keeps every frame holding a matching record
            val pm = new FwzStats.PlanMetrics
            val chunks = FixedWidthScan.alignedPartitionsOf(fwzFiles, o, None, Array(f), pm)
              .flatMap(_.asInstanceOf[FixedWidthInputPartition].chunks)
            skippedAny += pm.framesSkipped
            expected.foreach { case (id, _, off, path) =>
              withClue(s"id=$id: ") {
                chunks.map(_.asInstanceOf[graft.sources.fixedwidth.FwzRun]).exists(c =>
                  norm(c.filePath) == path && c.dStart <= off && off < c.dStart + c.dLen) shouldBe true
              }
            }
            // directory pruning keeps every file holding a matching record;
            // an exact verdict means its kept files hold nothing else
            if (partitioned) {
              val res = FixedWidthTable.pruneFiles(partFiles, o, Array(f))
              prunedAny += res.pruned
              val kept = res.kept.map(st => norm(st.getPath.toString)).toSet
              expected.map(_._4).toSet.subsetOf(kept) shouldBe true
              res.exact shouldBe true
              rows.filter(r => kept.contains(r._4)).map(_._1).sorted shouldBe expected.map(_._1).sorted
            }
          }
        }
        skippedAny should be > 0L
        if (partitioned) prunedAny should be > 0L

        // footer-answered MIN/MAX/COUNT of the string column
        val agg = read.agg(min(col("s")), max(col("s")), count(lit(1)))
        agg.queryExecution.executedPlan.toString should include("FixedWidthCountScan")
        val r = agg.collect()(0)
        (r.getString(0), r.getString(1), r.getLong(2)) shouldBe
          ((rows.map(_._2).min, rows.map(_._2).max, n.toLong))
      }
  }
}
