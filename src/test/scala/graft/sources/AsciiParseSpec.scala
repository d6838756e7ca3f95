package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.sources.fixedwidth.AsciiParse

class AsciiParseSpec extends AnyFunSuite with Matchers {

  private def bytes(s: String): Array[Byte] = s.getBytes("US-ASCII")
  private def parse(s: String): Long = AsciiParse.parseLong(bytes(s), 0, s.length)

  test("property: any long round-trips through its decimal rendering (seeded sweep)") {
    val rng = new scala.util.Random(42)
    (0 until 2000).foreach { _ =>
      val v = rng.nextLong()
      parse(v.toString) shouldBe v
      parse(s"  ${v.toString}  ") shouldBe v // padded both sides
    }
  }

  test("boundary values parse exactly") {
    parse("-9223372036854775808") shouldBe Long.MinValue
    parse("9223372036854775807") shouldBe Long.MaxValue
    parse("+7") shouldBe 7L
    parse("-0") shouldBe 0L
  }

  test("overflow throws instead of wrapping") {
    a[NumberFormatException] should be thrownBy parse("9223372036854775808")
    a[NumberFormatException] should be thrownBy parse("-9223372036854775809")
    a[NumberFormatException] should be thrownBy parse("99999999999999999999")
  }

  test("garbage throws") {
    a[NumberFormatException] should be thrownBy parse("12a4")
    a[NumberFormatException] should be thrownBy parse("-")
    a[NumberFormatException] should be thrownBy parse("1.5")
  }

  test("isBlank detects all-space ranges only") {
    AsciiParse.isBlank(bytes("    "), 0, 4) shouldBe true
    AsciiParse.isBlank(bytes("  x "), 0, 4) shouldBe false
    AsciiParse.isBlank(bytes("ab"), 0, 0) shouldBe true // empty range
  }

  test("parseInt range-checks") {
    AsciiParse.parseInt(bytes("2147483647"), 0, 10) shouldBe Int.MaxValue
    a[NumberFormatException] should be thrownBy AsciiParse.parseInt(bytes("2147483648"), 0, 10)
    a[NumberFormatException] should be thrownBy AsciiParse.parseInt(bytes("-2147483649"), 0, 11)
  }

  test("parseDouble inverts Double.toString and handles blanks") {
    val d = "1.7976931348623157E308"
    AsciiParse.parseDouble(bytes(d), 0, d.length) shouldBe Double.MaxValue
    // blank is SQL NULL: decoders isBlank-check first, and the parser
    // itself refuses it like parseLong/parseDecimal do
    AsciiParse.isBlank(bytes("    "), 0, 4) shouldBe true
    a[NumberFormatException] should be thrownBy AsciiParse.parseDouble(bytes("    "), 0, 4)
  }

  /** Outcome of a parse: the value, or the exception's class and message. */
  private def outcome[T](f: => T): Either[(Class[_], String), T] =
    try Right(f) catch { case t: Throwable => Left((t.getClass, t.getMessage)) }

  /** The general path the fast double parser must match bit for bit:
    * space-trim, then Double.parseDouble. */
  private def doubleRef(s: String): Either[(Class[_], String), Long] =
    outcome(java.lang.Double.doubleToRawLongBits(
      java.lang.Double.parseDouble(s.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse)))

  /** Blank input is outside both parsers' contract (SQL NULL, isBlank-checked
    * by every caller), so the sweeps skip it. */
  private def checkDouble(s: String): Unit = if (s.exists(_ != ' ')) withClue(s"double '$s': ") {
    val b = bytes("#" + s + "#") // offsets exercise the from/until window
    outcome(java.lang.Double.doubleToRawLongBits(AsciiParse.parseDouble(b, 1, 1 + s.length))) shouldBe
      doubleRef(s)
  }

  private def checkDecimal(s: String, prec: Int, scale: Int): Unit =
    withClue(s"decimal($prec,$scale) '$s': ") {
      val b = bytes("#" + s + "#")
      val slow = outcome(AsciiParse.parseDecimalSlow(b, 1, 1 + s.length, prec, scale))
      val fast = outcome(AsciiParse.parseDecimal(b, 1, 1 + s.length, prec, scale))
      def view(d: org.apache.spark.sql.types.Decimal) = (d.toJavaBigDecimal, d.precision, d.scale)
      fast.map(view) shouldBe slow.map(view)
      if (prec <= 18)
        outcome(AsciiParse.parseUnscaled(b, 1, 1 + s.length, prec, scale)) shouldBe
          slow.map(_.toUnscaledLong)
    }

  private def digits(rng: scala.util.Random, n: Int): String =
    (0 until n).map(_ => ('0' + rng.nextInt(10)).toChar).mkString

  /** Random plain numerals: optional sign, leading zeros, optional point,
    * fractional digits, optional space padding. */
  private def numeral(rng: scala.util.Random, maxInt: Int, maxFrac: Int): String = {
    val sign = Seq("", "", "-", "+")(rng.nextInt(4))
    val zeros = "0" * (if (rng.nextInt(4) == 0) rng.nextInt(3) else 0)
    val int = digits(rng, rng.nextInt(maxInt + 1))
    val frac = if (rng.nextBoolean()) "." + digits(rng, rng.nextInt(maxFrac + 1)) else ""
    (" " * rng.nextInt(2)) + sign + zeros + int + frac + (" " * rng.nextInt(2))
  }

  private val oddInputs = Seq("1e5", "1E-5", "-2.5e3", "NaN", "-NaN", "Infinity", "-Infinity",
    "1 5", "1. 5", "- 5", "1.5x", ".", "-", "+", "+-5", "1..5", "1.5.", "0x1p3", "1d", "5f", "\t5")

  test("property: fast parseDouble matches Double.parseDouble bit for bit (seeded + edges)") {
    val edges = Seq("0", "-0", "-0.0", "+0.0", "0.000", ".5", "5.", "-.5", "+5.", "007.50",
      "00000000000000000000001.5", "0.30", "4.35", "1234.25",
      "123456789012345", "1234567890123456", "12345678901234567", // 15/16/17 digits
      "-999999999999999", "9007199254740993", "999999999999999.9",
      "0.1234567890123456789012", "0.12345678901234567890123", // 22/23 fraction digits
      "0.0000000000000000000001", "0.00000000000000000000001",
      "1.000000000000000000000", "179769313486231570000000")
    (edges ++ oddInputs).foreach(checkDouble)
    val rng = new scala.util.Random(0xD0B1E)
    (0 until 20000).foreach { i =>
      i % 3 match {
        case 0 => checkDouble(numeral(rng, 18, 25))
        case 1 => checkDouble(java.lang.Double.toString(
          if (rng.nextBoolean()) rng.nextDouble() * math.pow(10, rng.nextInt(30) - 12)
          else java.lang.Double.longBitsToDouble(rng.nextLong())))
        case _ => checkDouble((rng.nextInt(40000000) / 4.0).toString) // quarter steps
      }
    }
  }

  test("property: fast parseDecimal/parseUnscaled match the BigDecimal path (seeded + edges)") {
    val edges = Seq(
      ("0", 1, 0), ("-0.0", 3, 1), ("+.5", 3, 2), (".5", 2, 1), ("5.", 1, 0), ("-5.", 3, 2),
      ("00012.30", 5, 2), ("0.00", 2, 2), ("0.05", 2, 2), ("1.5", 2, 2), // last: precision overflow
      ("999999999999999999", 18, 0), ("-999999999999999999", 18, 0), // 18 digits
      ("9999999999999999.99", 18, 2), ("1000000000000000000", 18, 0), // 19 digits into 18
      ("9999999999999999999", 19, 0), ("-1234567890123456789.5", 20, 1), // 19/20: general path
      ("123456789", 9, 0), ("1234567890", 9, 0), ("12345678.9", 10, 2),
      ("1.234", 6, 2), ("1.230", 6, 2), ("12.5", 3, 0), // scale above the declared one
      ("", 5, 2), ("   ", 5, 2), ("99999", 4, 0), ("-99999", 5, 0))
    edges.foreach { case (s, p, sc) => checkDecimal(s, p, sc) }
    for (s <- oddInputs; (p, sc) <- Seq((5, 2), (15, 2), (18, 0), (20, 3))) checkDecimal(s, p, sc)
    val rng = new scala.util.Random(0xDEC1)
    (0 until 20000).foreach { _ =>
      val prec = 1 + rng.nextInt(22)
      val scale = rng.nextInt(math.min(prec, 8) + 1)
      checkDecimal(numeral(rng, prec - scale + 2, scale + 2), prec, scale)
    }
  }

  test("property: trimRange equals the naive String.trim views (seeded sweep)") {
    val rng = new scala.util.Random(0x721B)
    (0 until 2000).foreach { _ =>
      // random mix of spaces and letters, often space-heavy at the edges
      val body = (0 until rng.nextInt(12))
        .map(_ => if (rng.nextBoolean()) ' ' else ('a' + rng.nextInt(26)).toChar).mkString
      val s = (" " * rng.nextInt(4)) + body + (" " * rng.nextInt(4))
      val buf = bytes("XX" + s + "Y") // offsets exercise the from/until window
      val (from, until) = (2, 2 + s.length)
      for {
        tl <- Seq(false, true)
        tr <- Seq(false, true)
      } {
        val r = AsciiParse.trimRange(buf, from, until, tl, tr)
        val (ts, te) = ((r >>> 32).toInt, (r & 0xffffffffL).toInt)
        val expect = {
          var a = 0; var b = s.length
          if (tr) while (b > a && s(b - 1) == ' ') b -= 1
          if (tl) while (a < b && s(a) == ' ') a += 1
          s.substring(a, b)
        }
        withClue(s"s='$s' tl=$tl tr=$tr: ") {
          new String(buf, ts, te - ts, "US-ASCII") shouldBe expect
          // decodeString agrees with trimRange byte-for-byte (UTF-8 path)
          AsciiParse.decodeString(buf, from, until, tl, tr,
            java.nio.charset.StandardCharsets.UTF_8).toString shouldBe expect
        }
      }
    }
  }

  test("decodeString honors non-UTF-8 charsets after the trim") {
    val cs = java.nio.charset.Charset.forName("ISO-8859-1")
    val raw = "  café ".getBytes(cs) // é is one byte in latin-1, invalid UTF-8
    AsciiParse.decodeString(raw, 0, raw.length, true, true, cs)
      .toString shouldBe "café"
  }
}
