package graft.sources.fixedwidth

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Pushed-filter compilation for the fixedwidth reader: each supported
  * `sources.Filter` becomes a predicate evaluated DIRECTLY against the
  * reused record buffer, before any column decodes — non-matching records
  * cost only their predicate fields' parse. Pushed filters are fully
  * accepted (NOT returned as post-scan residuals), so Spark plans no
  * redundant re-evaluation and may prune predicate-only columns from the
  * read schema entirely; that is why predicates read from the buffer, not
  * from the output row. Unsupported shapes are simply not pushed (Spark
  * evaluates them post-scan as usual).
  */
object FixedWidthFilters {

  /** Field types we can compare (timestamps/dates are stored as epoch
    * micros/days, so comparisons reduce to long/int compares once the
    * literal is converted through Catalyst's own DateTimeUtils; decimals
    * compare as exact BigDecimal). */
  private def comparableField(name: String, opts: FixedWidthOptions): Boolean =
    name.equalsIgnoreCase(FixedWidthOptions.OffsetCol) ||
      opts.fields.exists(f => f.name.equalsIgnoreCase(name) &&
        (Set("int", "long", "double", "string", "timestamp", "date").contains(f.ftype) ||
          FieldSpec.DecimalRe.matches(f.ftype)))

  /** String-typed declared field (prefix/suffix/contains push down only on
    * these — they are the cheapest predicates this format can run: byte
    * compares at a fixed offset). */
  private def stringField(name: String, opts: FixedWidthOptions): Boolean =
    opts.fields.exists(f => f.name.equalsIgnoreCase(name) && f.ftype == "string")

  def supported(f: Filter, opts: FixedWidthOptions): Boolean = f match {
    case EqualTo(a, _)            => comparableField(a, opts)
    case GreaterThan(a, _)        => comparableField(a, opts)
    case GreaterThanOrEqual(a, _) => comparableField(a, opts)
    case LessThan(a, _)           => comparableField(a, opts)
    case LessThanOrEqual(a, _)    => comparableField(a, opts)
    case IsNotNull(a)             => comparableField(a, opts)
    case IsNull(a)                => comparableField(a, opts)
    case In(a, vs)                => vs.nonEmpty && vs.forall(_ != null) && comparableField(a, opts)
    case StringStartsWith(a, v)   => v != null && stringField(a, opts)
    case StringEndsWith(a, v)     => v != null && stringField(a, opts)
    case StringContains(a, v)     => v != null && stringField(a, opts)
    case And(l, r)                => supported(l, opts) && supported(r, opts)
    // `l_returnflag = 'A' OR l_returnflag = 'R'` arrives as Or (not In) when
    // written with ||; composes exactly like And. Our compiled predicates
    // encode NULL as false, which is sound under Or: null|true = true either
    // way, null|false = null = filtered. (Not is NOT pushable under this
    // encoding: not(null) = null must filter, but not(false) = true.)
    case Or(l, r)                 => supported(l, opts) && supported(r, opts)
    case _                        => false
  }

  /** Compile a pushed filter to a predicate over the reused record buffer.
    * `offset` supplies the current record's byte offset (the synthetic
    * `offset` column). Returns None only for shapes `supported` rejects —
    * the ScanBuilder guarantees it never pushes those.
    *
    * Under tolerant modes a predicate field whose bytes fail the typed
    * parse evaluates as SQL NULL at the LEAF (no match for that
    * comparison) — identical to what Spark would compute post-scan on the
    * PERMISSIVE-nulled field, and an already-doomed record under
    * DROPMALFORMED. The NULL must be encoded at the leaf, not by catching
    * around the whole tree: with a top-level catch `x > 5 OR y = 2` on a
    * malformed x would skip the record even when the y arm is TRUE, where
    * Catalyst computes NULL OR TRUE = TRUE. (Leaf NULL-as-false composes
    * soundly through And/Or — see the Or note in `supported`.) */
  def compileOnBuffer(
      f: Filter,
      opts: FixedWidthOptions,
      buf: Array[Byte],
      offset: () => Long): Option[() => Boolean] = {

    def fieldOf(name: String): Option[FieldSpec] =
      opts.fields.find(_.name.equalsIgnoreCase(name))

    def isOffset(name: String): Boolean = name.equalsIgnoreCase(FixedWidthOptions.OffsetCol)

    /** Under tolerant modes a parse failure IS the SQL NULL the decoder
      * would emit for the field — encoded here at the leaf so And/Or
      * composition stays Catalyst-exact (NULL OR TRUE = TRUE). */
    def nullOnMalformed(g: () => java.lang.Integer): () => java.lang.Integer =
      if (!opts.tolerant) g
      else () => try g() catch { case _: NumberFormatException => null }

    /** Comparator returning sign of (record value - literal), null when the
      * field is blank (SQL NULL — comparisons never match) or, under
      * tolerant modes, when its bytes fail the typed parse. */
    def cmp(name: String, value: Any): Option[() => java.lang.Integer] = {
      if (isOffset(name)) {
        val v = value.asInstanceOf[Number].longValue()
        return Some(() => Integer.valueOf(java.lang.Long.compare(offset(), v)))
      }
      fieldOf(name).flatMap { fs =>
        val from = fs.start
        val until = fs.end
        fs.ftype match {
          case "int" | "date" =>
            import org.apache.spark.sql.catalyst.util.DateTimeUtils
            val v: Int = value match {
              case d: java.sql.Date        => DateTimeUtils.fromJavaDate(d)
              case ld: java.time.LocalDate => DateTimeUtils.localDateToDays(ld)
              case n: Number               => n.intValue()
              case _                       => return None
            }
            Some(nullOnMalformed(() => if (AsciiParse.isBlank(buf, from, until)) null
              else Integer.valueOf(java.lang.Integer.compare(AsciiParse.parseInt(buf, from, until), v))))
          case "long" | "timestamp" =>
            import org.apache.spark.sql.catalyst.util.DateTimeUtils
            val v: Long = value match {
              case t: java.sql.Timestamp        => DateTimeUtils.fromJavaTimestamp(t)
              case inst: java.time.Instant      => DateTimeUtils.instantToMicros(inst)
              case ldt: java.time.LocalDateTime => DateTimeUtils.localDateTimeToMicros(ldt)
              case n: Number                    => n.longValue()
              case _                            => return None
            }
            Some(nullOnMalformed(() => if (AsciiParse.isBlank(buf, from, until)) null
              else Integer.valueOf(java.lang.Long.compare(AsciiParse.parseLong(buf, from, until), v))))
          case "double" =>
            // Normalize -0.0 to 0.0 on both sides: Double.compare orders
            // -0.0 < 0.0 while Catalyst's primitive comparison treats them
            // equal — a pushed EqualTo(0.0) must not drop -0.0 records at
            // the source. NaN ordering via Double.compare already matches
            // Spark (NaN == greatest).
            val raw = value.asInstanceOf[Number].doubleValue()
            val v = if (raw == 0.0d) 0.0d else raw
            Some(nullOnMalformed(() => if (AsciiParse.isBlank(buf, from, until)) null
              else {
                val rv0 = AsciiParse.parseDouble(buf, from, until)
                val rv = if (rv0 == 0.0d) 0.0d else rv0
                Integer.valueOf(java.lang.Double.compare(rv, v))
              }))
          case "string" =>
            val cs = opts.charset
            val v = UTF8String.fromString(value.toString)
            val trimRight = opts.trim == "right" || opts.trim == "both"
            val trimLeft = opts.trim == "left" || opts.trim == "both"
            Some(() => Integer.valueOf(
              AsciiParse.decodeString(buf, from, until, trimLeft, trimRight, cs).compareTo(v)))
          case FieldSpec.DecimalRe(pp, ss) =>
            val (prec, scale) = (pp.toInt, ss.toInt)
            // Catalyst compares decimals by numeric VALUE (scale-agnostic):
            // BigDecimal.compareTo has the same semantics.
            val v: java.math.BigDecimal = value match {
              case b: java.math.BigDecimal => b
              case b: BigDecimal           => b.bigDecimal
              case n: Number               => new java.math.BigDecimal(n.toString)
              case _                       => return None
            }
            Some(nullOnMalformed(() => if (AsciiParse.isBlank(buf, from, until)) null
              else Integer.valueOf(
                AsciiParse.parseDecimal(buf, from, until, prec, scale).toJavaBigDecimal.compareTo(v))))
          case _ => None
        }
      }
    }

    /** The decoded (trimmed, charset-converted) value of a string field —
      * exactly what the column decoder emits, so pushed prefix/suffix/
      * contains predicates match Catalyst's post-scan semantics bit-exactly. */
    def strGetter(name: String): Option[() => UTF8String] =
      fieldOf(name).filter(_.ftype == "string").map { fs =>
        val (from, until) = (fs.start, fs.end)
        val cs = opts.charset
        val trimRight = opts.trim == "right" || opts.trim == "both"
        val trimLeft = opts.trim == "left" || opts.trim == "both"
        () => AsciiParse.decodeString(buf, from, until, trimLeft, trimRight, cs)
      }

    /** String fields decode to "" (never NULL); numeric fields are NULL iff
      * blank — or, under tolerant modes, iff their bytes fail the typed
      * parse (PERMISSIVE nulls exactly those fields, so a pushed
      * IsNull/IsNotNull must see the same NULL set as the decoder; judging
      * by blank alone would keep a malformed row through IS NOT NULL and
      * then emit it with the field NULL). Offset is never NULL. */
    def isNullPred(name: String, expectNull: Boolean): Option[() => Boolean] = {
      if (isOffset(name)) return Some(() => !expectNull)
      fieldOf(name).map { fs =>
        val (from, until) = (fs.start, fs.end)
        def decodesNull(parse: () => Any): () => Boolean =
          if (!opts.tolerant) () => AsciiParse.isBlank(buf, from, until)
          else () => AsciiParse.isBlank(buf, from, until) ||
            (try { parse(); false } catch { case _: NumberFormatException => true })
        val nullTest: () => Boolean = fs.ftype match {
          case "string" => () => false
          case "int" | "date" => decodesNull(() => AsciiParse.parseInt(buf, from, until))
          case "long" | "timestamp" => decodesNull(() => AsciiParse.parseLong(buf, from, until))
          case "double" => decodesNull(() => AsciiParse.parseDouble(buf, from, until))
          case FieldSpec.DecimalRe(pp, ss) =>
            val (prec, scale) = (pp.toInt, ss.toInt)
            decodesNull(() => AsciiParse.parseDecimal(buf, from, until, prec, scale))
          case _ => () => AsciiParse.isBlank(buf, from, until)
        }
        () => nullTest() == expectNull
      }
    }

    def fromCmp(name: String, value: Any)(test: Int => Boolean): Option[() => Boolean] =
      cmp(name, value).map(c => () => { val r = c(); r != null && test(r.intValue()) })

    /** In(...) as ONE field parse + O(1) set probe per record. Compiling a
      * comparator per list element (the first version) re-parsed the same
      * bytes |values| times per record — on `k IN (<1000 ids>)` that is a
      * 1000× parse amplification on the per-record hot path. NULL (blank,
      * or malformed under tolerant modes) never matches, like EqualTo. */
    def inPred(name: String, vs: Array[Any]): Option[() => Boolean] = {
      def boolGuard(g: () => Boolean): () => Boolean =
        if (!opts.tolerant) g
        else () => try g() catch { case _: NumberFormatException => false }
      if (isOffset(name)) {
        val set = new java.util.HashSet[java.lang.Long]()
        vs.foreach(v => set.add(java.lang.Long.valueOf(v.asInstanceOf[Number].longValue())))
        return Some(() => set.contains(java.lang.Long.valueOf(offset())))
      }
      fieldOf(name).flatMap { fs =>
        val from = fs.start
        val until = fs.end
        fs.ftype match {
          case "int" | "date" =>
            import org.apache.spark.sql.catalyst.util.DateTimeUtils
            val set = new java.util.HashSet[Integer]()
            vs.foreach { value =>
              val v: Int = value match {
                case d: java.sql.Date        => DateTimeUtils.fromJavaDate(d)
                case ld: java.time.LocalDate => DateTimeUtils.localDateToDays(ld)
                case n: Number               => n.intValue()
                case _                       => return None
              }
              set.add(Integer.valueOf(v))
            }
            Some(boolGuard(() => !AsciiParse.isBlank(buf, from, until) &&
              set.contains(Integer.valueOf(AsciiParse.parseInt(buf, from, until)))))
          case "long" | "timestamp" =>
            import org.apache.spark.sql.catalyst.util.DateTimeUtils
            val set = new java.util.HashSet[java.lang.Long]()
            vs.foreach { value =>
              val v: Long = value match {
                case t: java.sql.Timestamp        => DateTimeUtils.fromJavaTimestamp(t)
                case inst: java.time.Instant      => DateTimeUtils.instantToMicros(inst)
                case ldt: java.time.LocalDateTime => DateTimeUtils.localDateTimeToMicros(ldt)
                case n: Number                    => n.longValue()
                case _                            => return None
              }
              set.add(java.lang.Long.valueOf(v))
            }
            Some(boolGuard(() => !AsciiParse.isBlank(buf, from, until) &&
              set.contains(java.lang.Long.valueOf(AsciiParse.parseLong(buf, from, until)))))
          case "double" =>
            // same -0.0 normalization as cmp; boxed Double equality makes
            // NaN match NaN, which is Spark's own `=` semantics for doubles
            val set = new java.util.HashSet[java.lang.Double]()
            vs.foreach { value =>
              val raw = value match {
                case n: Number => n.doubleValue()
                case _         => return None
              }
              set.add(java.lang.Double.valueOf(if (raw == 0.0d) 0.0d else raw))
            }
            Some(boolGuard(() => !AsciiParse.isBlank(buf, from, until) && {
              val rv0 = AsciiParse.parseDouble(buf, from, until)
              set.contains(java.lang.Double.valueOf(if (rv0 == 0.0d) 0.0d else rv0))
            }))
          case "string" =>
            val set = new java.util.HashSet[UTF8String]()
            vs.foreach(v => set.add(UTF8String.fromString(v.toString)))
            strGetter(name).map(g => () => set.contains(g()))
          case FieldSpec.DecimalRe(pp, ss) =>
            // membership must follow compareTo (scale-agnostic numeric
            // equality), not BigDecimal.equals — normalize both sides
            val (prec, scale) = (pp.toInt, ss.toInt)
            val set = new java.util.HashSet[java.math.BigDecimal]()
            vs.foreach { value =>
              val v: java.math.BigDecimal = value match {
                case b: java.math.BigDecimal => b
                case b: BigDecimal           => b.bigDecimal
                case n: Number               => new java.math.BigDecimal(n.toString)
                case _                       => return None
              }
              set.add(v.stripTrailingZeros)
            }
            Some(boolGuard(() => !AsciiParse.isBlank(buf, from, until) &&
              set.contains(AsciiParse.parseDecimal(buf, from, until, prec, scale)
                .toJavaBigDecimal.stripTrailingZeros)))
          case _ => None
        }
      }
    }

    f match {
      case EqualTo(a, v)            => fromCmp(a, v)(_ == 0)
      case GreaterThan(a, v)        => fromCmp(a, v)(_ > 0)
      case GreaterThanOrEqual(a, v) => fromCmp(a, v)(_ >= 0)
      case LessThan(a, v)           => fromCmp(a, v)(_ < 0)
      case LessThanOrEqual(a, v)    => fromCmp(a, v)(_ <= 0)
      case IsNotNull(a)             => isNullPred(a, expectNull = false)
      case IsNull(a)                => isNullPred(a, expectNull = true)
      case In(a, vs) => inPred(a, vs)
      case StringStartsWith(a, v) =>
        val pre = UTF8String.fromString(v)
        strGetter(a).map(g => () => g().startsWith(pre))
      case StringEndsWith(a, v) =>
        val suf = UTF8String.fromString(v)
        strGetter(a).map(g => () => g().endsWith(suf))
      case StringContains(a, v) =>
        val sub = UTF8String.fromString(v)
        strGetter(a).map(g => () => g().contains(sub))
      case And(l, r) =>
        for {
          lp <- compileOnBuffer(l, opts, buf, offset)
          rp <- compileOnBuffer(r, opts, buf, offset)
        } yield () => lp() && rp()
      case Or(l, r) =>
        for {
          lp <- compileOnBuffer(l, opts, buf, offset)
          rp <- compileOnBuffer(r, opts, buf, offset)
        } yield () => lp() || rp()
      case _ => None
    }
  }
}
