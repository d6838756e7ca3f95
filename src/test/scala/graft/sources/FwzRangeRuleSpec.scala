package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.sources.fixedwidth.{FixedWidthOptions, FwzFormat, FwzStats}

/** The `.fwz` frame skipper decides every range leaf (`= < <= > >=`, IN,
  * StringStartsWith) through one rule, with a linear walk and, on a field
  * the writer proved ordered, a binary search over the same ranges. This
  * spec pins "ordered equals linear, frame by frame" for the shapes
  * FwzOrderedSpec does not cover: ordered `date` and `decimal(p,s)` stat
  * fields under all five compares and IN, string `< <= > >=`, an `Or` of
  * two ranges on the ordered key, and an `And` of a range and an IN. */
class FwzRangeRuleSpec extends SparkSpec with Matchers {

  private val fieldsOpt = "d:date:0:10,amt:decimal(9,2):10:12,k:string:22:8"
  private val recLen = 30
  private val perFrame = 150
  private val n = 12000
  private val epoch = java.time.LocalDate.of(2020, 1, 1)

  // row r's values: every field ascends with r, so all three stat fields
  // are frame-ordered; the first two frames hold no amt at all, and amt is
  // null on every 29th row elsewhere
  private def day(r: Int) = epoch.plusDays(Math.floorDiv(r, 9).toLong)
  private def amt(r: Int) = java.math.BigDecimal.valueOf(r.toLong * 37, 2)
  private def amtOf(r: Int) = if (r < 2 * perFrame || r % 29 == 0) null else amt(r)
  private def key(r: Int) = f"k$r%06d"

  private val opts = {
    import scala.jdk.CollectionConverters._
    FixedWidthOptions(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      Map("fields" -> fieldsOpt, "recordLength" -> recLen.toString).asJava))
  }

  /** The written file's stats block, and the same block with every
    * ordered flag stripped, which forces the linear walk. */
  private lazy val (stats, linearStats) = {
    val dir = Files.createTempDirectory("graft-range-rule").toString
    locally {
      import spark.implicits._
      (0 until n).map { r =>
        (java.sql.Date.valueOf(day(r)), Option(amtOf(r)).map(BigDecimal(_)), key(r))
      }.toDF("d", "amt", "k")
        .select(col("d"), col("amt").cast("decimal(9,2)"), col("k"))
        .coalesce(1)
        .write.format("fixedwidth").option("fields", fieldsOpt)
        .option("recordLength", recLen.toString)
        .option("compression", "zstd").option("frameBytes", (perFrame * recLen).toString)
        .option("frameStats", "all")
        .mode("overwrite").save(dir)
    }
    val f = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".fwz")).head
    val st = FwzFormat.readFooter(new org.apache.hadoop.fs.Path(f.getPath), f.length(),
      new org.apache.hadoop.conf.Configuration()).stats.get
    (st, st.copy(fields = st.fields.map(_.copy(ordered = false))))
  }
  private def nFrames = n / perFrame

  private val rnd = new java.util.Random(0x4a46e)
  // a row index near a frame boundary half the time, so literals land on
  // recorded extremes; elsewhere anywhere in and just past the data
  private def row(): Int =
    if (rnd.nextBoolean()) perFrame * rnd.nextInt(n / perFrame + 1) + rnd.nextInt(3) - 1
    else rnd.nextInt(n + 400) - 200
  private def lit(field: String, r: Int): Any = field match {
    case "d" => if (rnd.nextBoolean()) day(r) else java.sql.Date.valueOf(day(r))
    case "amt" => amt(r)
    // a whole key or a strict prefix of one, which ranks below it
    case _ => key(r).take(1 + rnd.nextInt(7))
  }
  private def compare(field: String, ops: Int): Filter = {
    val v = lit(field, row())
    rnd.nextInt(ops) match {
      case 0 => GreaterThan(field, v)
      case 1 => GreaterThanOrEqual(field, v)
      case 2 => LessThan(field, v)
      case 3 => LessThanOrEqual(field, v)
      case _ => EqualTo(field, v)
    }
  }
  private def in(field: String): Filter = {
    // clustered literals force interval merges; scattered ones do not
    val r0 = row()
    In(field, Array.tabulate(1 + rnd.nextInt(6))(j =>
      lit(field, if (rnd.nextBoolean()) r0 + j * rnd.nextInt(200) else row())))
  }
  private def decisions(filter: Filter, block: FwzFormat.FwzStatsBlock): Seq[Boolean] = {
    val keep = FwzStats.compileSkipper(Array(filter), opts, block).get
    (0 until nFrames).map(keep)
  }

  test("the writer proves all three stat fields ordered") {
    stats.fields.map(_.ordered) shouldBe Seq(true, true, true)
    stats.fields.head.flags.length shouldBe nFrames
  }

  test("date, decimal and string ranges, Or and And-with-IN: ordered equals linear, frame by frame") {
    val shapes: Seq[(String, () => Filter)] = Seq(
      "date compare" -> (() => compare("d", 5)),
      "date IN" -> (() => in("d")),
      "decimal compare" -> (() => compare("amt", 5)),
      "decimal IN" -> (() => in("amt")),
      "string compare" -> (() => compare("k", 4)),
      "Or of two ranges" -> (() => Or(compare("d", 5), compare("d", 5))),
      "And of a range and an IN" -> (() => And(compare("d", 5), in("d"))))
    for ((shape, gen) <- shapes) {
      var skipped = 0
      for (_ <- 0 until 150) {
        val filter = gen()
        val fast = decisions(filter, stats)
        withClue(s"$shape: filter=$filter: ") {
          fast shouldBe decisions(filter, linearStats)
        }
        skipped += fast.count(!_)
      }
      withClue(s"$shape never skipped a frame: ") { skipped should be > 0 }
    }
  }

  test("one-sided compares keep exactly the frames that hold a matching record") {
    // every frame holds the records its min and max were taken from, so a
    // one-sided compare can decide each frame exactly: keep it iff one of
    // its records matches (a `>` that kept a frame whose max equals the
    // literal would pass every soundness check and fail here)
    def sign(field: String, r: Int, v: Any): Option[Int] = field match {
      case "d" => Some(day(r).compareTo(v match {
        case sd: java.sql.Date => sd.toLocalDate
        case ld => ld.asInstanceOf[java.time.LocalDate]
      }))
      case "amt" => Option(amtOf(r)).map(_.compareTo(v.asInstanceOf[java.math.BigDecimal]))
      case _ => Some(key(r).compareTo(v.asInstanceOf[String]))
    }
    for (field <- Seq("d", "amt", "k"); _ <- 0 until 100) {
      val filter = compare(field, 4)
      val (v, holds) = filter match {
        case GreaterThan(_, v) => (v, (c: Int) => c > 0)
        case GreaterThanOrEqual(_, v) => (v, (c: Int) => c >= 0)
        case LessThan(_, v) => (v, (c: Int) => c < 0)
        case LessThanOrEqual(_, v) => (v, (c: Int) => c <= 0)
        case other => fail(s"not a one-sided compare: $other")
      }
      val matching = (0 until nFrames).map(j =>
        (perFrame * j until perFrame * (j + 1)).exists(r => sign(field, r, v).exists(holds)))
      withClue(s"filter=$filter: ") {
        decisions(filter, stats) shouldBe matching
        decisions(filter, linearStats) shouldBe matching
      }
    }
  }

  test("an empty IN skips every frame on both walks, over a block with an undecodable bound") {
    // one blank (undecodable) min and one blank max on an ordered field: an
    // empty IN matches nothing, so neither walk may keep a frame for it
    for (field <- Seq("d", "amt")) {
      val blank = Array.fill[Byte](stats.fields.find(_.name == field).get.width)(' ')
      def damaged(block: FwzFormat.FwzStatsBlock) = block.copy(fields = block.fields.map { f =>
        if (f.name != field) f
        else f.copy(mins = f.mins.updated(7, blank), maxs = f.maxs.updated(40, blank))
      })
      val (fast, slow) = (damaged(stats), damaged(linearStats))
      fast.fields.find(_.name == field).get.ordered shouldBe true
      val empty = In(field, Array.empty[Any])
      withClue(s"$empty: ") {
        decisions(empty, fast) shouldBe decisions(empty, slow)
        decisions(empty, slow) shouldBe Seq.fill(nFrames)(false)
      }
    }
  }
}
