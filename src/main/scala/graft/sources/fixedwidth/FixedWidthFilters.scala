package graft.sources.fixedwidth

import org.apache.spark.sql.sources._
import org.apache.spark.unsafe.types.UTF8String

/** Pushed-filter compilation for the fixedwidth reader: each supported
  * `sources.Filter` becomes a predicate evaluated DIRECTLY against the
  * reused record buffer, before any column decodes — non-matching records
  * cost only their predicate fields' parse. Pushed filters are fully
  * accepted (NOT returned as post-scan residuals), so Spark plans no
  * redundant re-evaluation and may prune predicate-only columns from the
  * read schema entirely; that is why predicates read from the buffer, not
  * from the output row. Unsupported shapes are simply not pushed (Spark
  * evaluates them post-scan as usual). Each field's parse, literal
  * conversion and comparison come from its [[FieldCodec]], the same ones
  * the column decoder and the fwz frame skipper use.
  */
object FixedWidthFilters {

  /** Every declared field compares through its codec (dates and timestamps
    * as epoch days and micros, decimals by exact value); prefix, suffix and
    * contains push down only on string fields, where they are byte
    * compares at a fixed offset. */
  private def comparableField(name: String, opts: FixedWidthOptions): Boolean =
    name.equalsIgnoreCase(FixedWidthOptions.OffsetCol) || opts.fields.exists(_.name.equalsIgnoreCase(name))

  private def stringField(name: String, opts: FixedWidthOptions): Boolean =
    opts.fields.exists(f => f.name.equalsIgnoreCase(name) && opts.codec(f).isString)

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
      * field is NULL (comparisons never match) or, under tolerant modes,
      * when its bytes fail the typed parse. The literal converts through the
      * field codec, as the fwz frame skipper's does. */
    def cmp(name: String, value: Any): Option[() => java.lang.Integer] = {
      if (isOffset(name)) {
        val v = value.asInstanceOf[Number].longValue()
        return Some(() => Integer.valueOf(java.lang.Long.compare(offset(), v)))
      }
      fieldOf(name).flatMap { fs =>
        val codec = opts.codec(fs)
        codec.literal(value).map(v => nullOnMalformed(codec.comparator(buf, fs.start, fs.end, v)))
      }
    }

    /** The decoded (trimmed, charset-converted) value of a string field —
      * exactly what the column decoder emits, so pushed prefix/suffix/
      * contains predicates match Catalyst's post-scan semantics bit-exactly. */
    def strGetter(name: String): Option[() => UTF8String] =
      fieldOf(name).map(fs => (fs, opts.codec(fs))).collect { case (fs, s: FieldCodec.Str) =>
        () => s.statsValue(buf, fs.start, fs.end)
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
        val nullTest: () => Boolean = opts.codec(fs).probe(buf, from, until) match {
          case None => () => false
          case Some(parse) if opts.tolerant => () => AsciiParse.isBlank(buf, from, until) ||
            (try { parse(); false } catch { case _: NumberFormatException => true })
          case Some(_) => () => AsciiParse.isBlank(buf, from, until)
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
        val codec = opts.codec(fs)
        val lits = vs.toSeq.map(codec.literal)
        if (lits.exists(_.isEmpty)) None
        else Some(boolGuard(codec.member(buf, fs.start, fs.end, lits.flatten)))
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
