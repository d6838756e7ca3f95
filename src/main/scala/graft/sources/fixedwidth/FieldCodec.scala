package graft.sources.fixedwidth

import java.nio.charset.{Charset, StandardCharsets}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.vectorized.WritableColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.fixedwidth.AsciiParse.isBlank

/** How one declared field's bytes become values and back: the one place
  * that knows a field's type. It is chosen once per field from the field's
  * validated Catalyst type ([[FixedWidthOptions.codec]]). The reader, the
  * pushed filters, the malformed probes, the fwz stats, the directory
  * values and the writer all ask it; none of them reads the layout's type
  * token. The methods that return closures (`columnDecoder`, `probe`,
  * `comparator`, `member`) run when a reader or predicate is made, never
  * per record.
  *
  * A blank (all-space) numeric field is SQL NULL; a string field is never
  * NULL. Values come in three forms:
  *   - the Catalyst value a scan emits ([[decode]]);
  *   - the comparable value ([[statsValue]]): Integer, Long, Double with
  *     -0.0 as 0.0, java BigDecimal or UTF8String. fwz frame stats rank
  *     records by it, and pushed literals convert into it ([[literal]]), so
  *     a record filter and a frame skipper compare the same values;
  *   - the text a writer stores and names partition directories with
  *     ([[render]]).
  */
sealed abstract class FieldCodec(val dataType: DataType) extends Serializable {

  /** Writes vector slot `row` from the field at `block(base + from until base + until)`. */
  def columnDecoder(block: Array[Byte], from: Int, until: Int, v: WritableColumnVector): (Int, Int) => Unit

  /** Parses non-blank bytes, throwing NumberFormatException iff they do not decode. */
  protected def check(buf: Array[Byte], from: Int, until: Int): Unit = ()

  /** Throws NumberFormatException iff the field in `buf` would not decode;
    * None for strings, which cannot be malformed. */
  def probe(buf: Array[Byte], from: Int, until: Int): Option[() => Unit] =
    if (isString) None else Some(() => if (!isBlank(buf, from, until)) check(buf, from, until))

  /** The comparable value of the field's bytes; null for SQL NULL. */
  def statsValue(buf: Array[Byte], from: Int, until: Int): AnyRef

  /** The Catalyst value of the field's bytes; null for SQL NULL. */
  def decode(buf: Array[Byte], from: Int, until: Int): Any = statsValue(buf, from, until)

  /** A pushed filter literal as a comparable value; None for a literal of
    * another class. Dates become epoch days and timestamps epoch micros
    * through Catalyst's own DateTimeUtils. */
  def literal(value: Any): Option[AnyRef]

  /** The order of comparable values. Decimals compare by numeric value, as
    * Catalyst does; doubles rank NaN greatest, as Spark does. */
  def compare(a: AnyRef, b: AnyRef): Int = a.asInstanceOf[Comparable[AnyRef]].compareTo(b)

  /** A recorded fwz stats extreme. A blank slice, which only a foreign
    * writer can record, throws like any other undecodable one. */
  def extreme(slice: Array[Byte]): AnyRef = {
    val v = statsValue(slice, 0, slice.length)
    if (v == null) throw new NumberFormatException("blank fwz stats extreme")
    v
  }

  /** Sign of (field in `buf` − `lit`), null when the field is NULL. */
  def comparator(buf: Array[Byte], from: Int, until: Int, lit: AnyRef): () => java.lang.Integer =
    () => {
      val v = statsValue(buf, from, until)
      if (v == null) null else Integer.valueOf(compare(v, lit))
    }

  /** Set-equality form of a comparable value (decimals drop trailing zeros,
    * so membership follows `compare`, not BigDecimal.equals). */
  protected def setKey(v: AnyRef): AnyRef = v

  /** True iff the field in `buf` equals one of `lits`: one parse and one
    * hash probe per record. NULL never matches. */
  def member(buf: Array[Byte], from: Int, until: Int, lits: Seq[AnyRef]): () => Boolean = {
    val set = new java.util.HashSet[AnyRef]()
    lits.foreach(l => set.add(setKey(l)))
    () => {
      val v = statsValue(buf, from, until)
      v != null && set.contains(setKey(v))
    }
  }

  final def isString: Boolean = isInstanceOf[FieldCodec.Str]

  /** Catalyst normalizes -0.0 and NaN in group keys and MIN/MAX results, so
    * doubles are never answered from directory names and footers. */
  def listingAnswerable: Boolean = dataType != DoubleType

  /** The text of a non-null input value of Spark type `dt` at `ord`; None
    * when such a column cannot be stored in this field. An int column
    * widens into a long field, a zone-less timestamp into a timestamp. */
  def render(ord: Int, dt: DataType): Option[InternalRow => String] = {
    val accepted = dt == dataType ||
      dataType == LongType && dt == IntegerType || dataType == TimestampType && dt == TimestampNTZType
    if (!accepted) None
    else Some(dt match {
      case StringType => r => r.getUTF8String(ord).toString
      case IntegerType | DateType => r => r.getInt(ord).toString
      case DoubleType => r => r.getDouble(ord).toString
      // toPlainString: no exponent notation, the exact inverse of parseDecimal
      case d: DecimalType => r => r.getDecimal(ord, d.precision, d.scale).toJavaBigDecimal.toPlainString
      case _ => r => r.getLong(ord).toString // long and epoch-micro timestamps
    })
  }

  /** Writes a non-null input value of Spark type `dt` at `ord` into field
    * `f` of a record; None when the types do not fit. A numeric value wider
    * than the field fails: cutting it would corrupt it. */
  def encoder(f: FieldSpec, ord: Int, dt: DataType, strictWidth: Boolean): Option[FixedWidthEncoder.Enc] =
    render(ord, dt).map(text => (row, buf) =>
      if (!row.isNullAt(ord))
        FixedWidthEncoder.place(text(row).getBytes(StandardCharsets.US_ASCII), buf, f.start, f.len, f.name))

  /** The field bytes of a stored text, for a directory value: the charset
    * for strings (cut to the width when placed, as the writer cuts them),
    * ASCII for numerics, None for a numeric wider than `width`, which this
    * writer cannot have produced. */
  def textBytes(text: String, width: Int): Option[Array[Byte]] =
    Some(text.getBytes(StandardCharsets.US_ASCII)).filter(_.length <= width)
}

object FieldCodec {

  /** The codec of a field of validated Catalyst type `dt`; the string
    * conventions matter only to string fields. */
  def apply(dt: DataType, trimLeft: Boolean, trimRight: Boolean, charsetName: String): FieldCodec =
    dt match {
      case StringType              => new Str(trimLeft, trimRight, charsetName)
      case IntegerType | DateType  => new Ints(dt)
      case LongType | TimestampType => new Longs(dt)
      case DoubleType              => new Doubles
      case d: DecimalType          => new Decimals(d)
    }

  /** int, and date as epoch days. */
  final class Ints(dt: DataType) extends FieldCodec(dt) {
    def columnDecoder(block: Array[Byte], from: Int, until: Int, v: WritableColumnVector): (Int, Int) => Unit =
      (r, b) =>
        if (isBlank(block, b + from, b + until)) v.putNull(r)
        else v.putInt(r, AsciiParse.parseInt(block, b + from, b + until))
    override protected def check(buf: Array[Byte], from: Int, until: Int): Unit = AsciiParse.parseInt(buf, from, until)
    def statsValue(buf: Array[Byte], from: Int, until: Int): AnyRef =
      if (isBlank(buf, from, until)) null else Integer.valueOf(AsciiParse.parseInt(buf, from, until))
    def literal(value: Any): Option[AnyRef] = value match {
      case d: java.sql.Date        => Some(Integer.valueOf(DateTimeUtils.fromJavaDate(d)))
      case ld: java.time.LocalDate => Some(Integer.valueOf(DateTimeUtils.localDateToDays(ld)))
      case n: Number               => Some(Integer.valueOf(n.intValue()))
      case _                       => None
    }
    override def comparator(buf: Array[Byte], from: Int, until: Int, lit: AnyRef): () => java.lang.Integer = {
      val l = lit.asInstanceOf[Integer].intValue()
      () => if (isBlank(buf, from, until)) null
        else Integer.valueOf(Integer.compare(AsciiParse.parseInt(buf, from, until), l))
    }
  }

  /** long, and timestamp as epoch micros. */
  final class Longs(dt: DataType) extends FieldCodec(dt) {
    def columnDecoder(block: Array[Byte], from: Int, until: Int, v: WritableColumnVector): (Int, Int) => Unit =
      (r, b) =>
        if (isBlank(block, b + from, b + until)) v.putNull(r)
        else v.putLong(r, AsciiParse.parseLong(block, b + from, b + until))
    override protected def check(buf: Array[Byte], from: Int, until: Int): Unit = AsciiParse.parseLong(buf, from, until)
    def statsValue(buf: Array[Byte], from: Int, until: Int): AnyRef =
      if (isBlank(buf, from, until)) null else java.lang.Long.valueOf(AsciiParse.parseLong(buf, from, until))
    def literal(value: Any): Option[AnyRef] = value match {
      case t: java.sql.Timestamp        => Some(java.lang.Long.valueOf(DateTimeUtils.fromJavaTimestamp(t)))
      case inst: java.time.Instant      => Some(java.lang.Long.valueOf(DateTimeUtils.instantToMicros(inst)))
      case ldt: java.time.LocalDateTime => Some(java.lang.Long.valueOf(DateTimeUtils.localDateTimeToMicros(ldt)))
      case n: Number                    => Some(java.lang.Long.valueOf(n.longValue()))
      case _                            => None
    }
    override def comparator(buf: Array[Byte], from: Int, until: Int, lit: AnyRef): () => java.lang.Integer = {
      val l = lit.asInstanceOf[java.lang.Long].longValue()
      () => if (isBlank(buf, from, until)) null
        else Integer.valueOf(java.lang.Long.compare(AsciiParse.parseLong(buf, from, until), l))
    }
  }

  /** Comparable doubles rank -0.0 as 0.0: Double.compare orders -0.0 below
    * 0.0 while Catalyst's comparison treats them equal, so a pushed
    * EqualTo(0.0) must not drop a -0.0 record or skip a -0.0 frame. A scan
    * still emits -0.0 as read. */
  final class Doubles extends FieldCodec(DoubleType) {
    private def norm(d: Double): Double = if (d == 0.0d) 0.0d else d
    def columnDecoder(block: Array[Byte], from: Int, until: Int, v: WritableColumnVector): (Int, Int) => Unit =
      (r, b) =>
        if (isBlank(block, b + from, b + until)) v.putNull(r)
        else v.putDouble(r, AsciiParse.parseDouble(block, b + from, b + until))
    override protected def check(buf: Array[Byte], from: Int, until: Int): Unit = AsciiParse.parseDouble(buf, from, until)
    def statsValue(buf: Array[Byte], from: Int, until: Int): AnyRef =
      if (isBlank(buf, from, until)) null else java.lang.Double.valueOf(norm(AsciiParse.parseDouble(buf, from, until)))
    override def decode(buf: Array[Byte], from: Int, until: Int): Any =
      if (isBlank(buf, from, until)) null else AsciiParse.parseDouble(buf, from, until)
    def literal(value: Any): Option[AnyRef] = value match {
      case n: Number => Some(java.lang.Double.valueOf(norm(n.doubleValue())))
      case _         => None
    }
    override def comparator(buf: Array[Byte], from: Int, until: Int, lit: AnyRef): () => java.lang.Integer = {
      val l = lit.asInstanceOf[java.lang.Double].doubleValue()
      () => if (isBlank(buf, from, until)) null
        else Integer.valueOf(java.lang.Double.compare(norm(AsciiParse.parseDouble(buf, from, until)), l))
    }
  }

  final class Decimals(dt: DecimalType) extends FieldCodec(dt) {
    private val (prec, scale) = (dt.precision, dt.scale)
    def columnDecoder(block: Array[Byte], from: Int, until: Int, v: WritableColumnVector): (Int, Int) => Unit =
      (r, b) =>
        if (isBlank(block, b + from, b + until)) v.putNull(r)
        else if (prec > Decimal.MAX_LONG_DIGITS)
          v.putDecimal(r, AsciiParse.parseDecimal(block, b + from, b + until, prec, scale), prec)
        else { // the unscaled long is what putDecimal stores up to 18 digits
          val u = AsciiParse.parseUnscaled(block, b + from, b + until, prec, scale)
          if (prec <= Decimal.MAX_INT_DIGITS) v.putInt(r, u.toInt) else v.putLong(r, u)
        }
    override protected def check(buf: Array[Byte], from: Int, until: Int): Unit =
      AsciiParse.parseDecimal(buf, from, until, prec, scale)
    def statsValue(buf: Array[Byte], from: Int, until: Int): AnyRef =
      if (isBlank(buf, from, until)) null
      else AsciiParse.parseDecimal(buf, from, until, prec, scale).toJavaBigDecimal
    override def decode(buf: Array[Byte], from: Int, until: Int): Any =
      if (isBlank(buf, from, until)) null else AsciiParse.parseDecimal(buf, from, until, prec, scale)
    def literal(value: Any): Option[AnyRef] = value match {
      case b: java.math.BigDecimal => Some(b)
      case b: BigDecimal           => Some(b.bigDecimal)
      case n: Number               => Some(new java.math.BigDecimal(n.toString))
      case _                       => None
    }
    override protected def setKey(v: AnyRef): AnyRef = v.asInstanceOf[java.math.BigDecimal].stripTrailingZeros
  }

  /** Trimmed, charset-decoded strings. UTF-8 values zero-copy: a
    * `statsValue` shares `buf` and must be consumed or cloned before the
    * buffer is reused; `decode` returns a copy. */
  final class Str(trimLeft: Boolean, trimRight: Boolean, charsetName: String) extends FieldCodec(StringType) {
    @transient private lazy val cs = Charset.forName(charsetName)
    def columnDecoder(block: Array[Byte], from: Int, until: Int, v: WritableColumnVector): (Int, Int) => Unit = {
      val (utf8, charset) = (cs == StandardCharsets.UTF_8, cs)
      (r, b) => {
        val tr = AsciiParse.trimRange(block, b + from, b + until, trimLeft, trimRight)
        val ts = (tr >>> 32).toInt
        val te = (tr & 0xffffffffL).toInt
        if (utf8) v.putByteArray(r, block, ts, te - ts)
        else v.putByteArray(r, new String(block, ts, te - ts, charset).getBytes(StandardCharsets.UTF_8))
      }
    }
    def statsValue(buf: Array[Byte], from: Int, until: Int): UTF8String =
      AsciiParse.decodeString(buf, from, until, trimLeft, trimRight, cs)
    override def decode(buf: Array[Byte], from: Int, until: Int): Any = statsValue(buf, from, until).clone()
    def literal(value: Any): Option[AnyRef] = Some(UTF8String.fromString(value.toString))

    /** Strings may be cut to the declared width (pad/truncate is the
      * fixed-width contract); strictWidth=true makes an over-width string
      * fail too, since a payload field that silently loses bytes surfaces
      * only as a downstream digest mismatch. */
    override def encoder(
        f: FieldSpec, ord: Int, dt: DataType, strictWidth: Boolean): Option[FixedWidthEncoder.Enc] =
      render(ord, dt).map { _ =>
        val utf8 = cs == StandardCharsets.UTF_8
        (row, buf) =>
          if (!row.isNullAt(ord)) {
            val b = if (utf8) row.getUTF8String(ord).getBytes else row.getUTF8String(ord).toString.getBytes(cs)
            if (strictWidth && b.length > f.len)
              throw new IllegalArgumentException(
                s"fixedwidth: value of '${f.name}' is ${b.length} bytes, exceeds field " +
                  s"width ${f.len} (strictWidth=true; widen the field or pre-truncate)")
            System.arraycopy(b, 0, buf, f.start, math.min(b.length, f.len))
          }
      }

    override def textBytes(text: String, width: Int): Option[Array[Byte]] = Some(text.getBytes(cs))
  }
}
