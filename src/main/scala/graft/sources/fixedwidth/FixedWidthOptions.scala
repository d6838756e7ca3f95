package graft.sources.fixedwidth

import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** One typed fixed-offset field inside a record.
  *
  * `start` is a zero-based byte offset, `len` a byte width; both refer to the
  * raw record buffer. Mirrors (but generalizes) the reference's key-slice
  * machinery (reference FixedLengthRecordReader.java:249-253), which only ever
  * extracted a single untyped byte range.
  */
final case class FieldSpec(name: String, ftype: String, start: Int, len: Int) {
  def dataType: DataType = ftype match {
    case "string"    => StringType
    case "int"       => IntegerType
    case "long"      => LongType
    case "double"    => DoubleType
    case "date"      => DateType
    case "timestamp" => TimestampType
    case FieldSpec.DecimalRe(p, s) =>
      val (prec, scale) = (p.toInt, s.toInt)
      if (prec < 1 || prec > 38 || scale < 0 || scale > prec)
        throw new IllegalArgumentException(
          s"fixedwidth: bad decimal($prec,$scale) for field '$name' (need 1<=p<=38, 0<=s<=p)")
      DecimalType(prec, scale)
    case other =>
      throw new IllegalArgumentException(
        s"fixedwidth: unsupported field type '$other' for field '$name' " +
          "(supported: string,int,long,double,date,timestamp,decimal(p,s))")
  }
  def end: Int = start + len
}

object FieldSpec {
  private val DecimalRe = """decimal\((\d+),(\d+)\)""".r
}

/** Parsed + validated reader/writer options for the `fixedwidth` format.
  *
  * Validation rules follow the reference's fail-fast plan-time checks
  * (reference FixedLengthInputFormat.java:318-362, helper :249-261):
  *   - recordLength > 0 (required unless derivable from `fields`);
  *   - keyStartAt/keyEndAt must be set together; endAt >= startAt; both >= 0.
  * We deliberately fix the reference's latent off-by-one (its checks at
  * :351-352 admit startAt == recordLength which overruns the buffer): here
  * both boundaries must be <= recordLength - 1 (documented divergence,
  * SURVEY.md §4.3).
  */
final case class FixedWidthOptions(
    recordLength: Int,
    keyStartAt: Int,
    keyEndAt: Int,
    fields: Seq[FieldSpec],
    charsetName: String,
    trim: String,
    mode: String = "FAILFAST",
    allowCompressed: Boolean = false,
    corruptRecordCol: Option[String] = None,
    strictWidth: Boolean = false,
    bz2IndexDir: Option[String] = None) {

  def permissive: Boolean = mode == "PERMISSIVE"
  def dropMalformed: Boolean = mode == "DROPMALFORMED"

  /** Non-FAILFAST modes tolerate structural damage: a trailing partial
    * record is dropped instead of erroring, and a field whose bytes fail the
    * typed parse nulls out (PERMISSIVE) or drops its record (DROPMALFORMED)
    * instead of killing the job — at 100 TB one poison record in a mainframe
    * feed is a certainty. (The reference has no typed decode: it hands raw
    * bytes to user code, FixedLengthRecordReader.java:237-243, so user code
    * was the malformed-record policy; these modes restore that escape hatch
    * at the engine level with Spark CSV/JSON-source-parity semantics.) */
  def tolerant: Boolean = mode != "FAILFAST"

  /** Which ends of a string field lose their pad spaces under `trim`. */
  def trimLeft: Boolean = FixedWidthOptions.TrimModes(trim)._1
  def trimRight: Boolean = FixedWidthOptions.TrimModes(trim)._2

  /** Each declared field's codec, resolved once from its Catalyst type. */
  @transient private lazy val codecs: Map[FieldSpec, FieldCodec] =
    fields.map(f => f -> FieldCodec(f.dataType, trimLeft, trimRight, charsetName)).toMap
  def codec(f: FieldSpec): FieldCodec = codecs(f)

  def typed: Boolean = fields.nonEmpty
  def hasKey: Boolean = keyStartAt >= 0
  def keyLen: Int = keyEndAt - keyStartAt + 1

  /** Resolved charset for typed string fields (name validated at option
    * parse; kept as a name because Charset is not Serializable and this
    * object ships driver → executor). */
  def charset: java.nio.charset.Charset = java.nio.charset.Charset.forName(charsetName)

  /** Read schema. Raw mode matches the reference's (key, value) pair plus the
    * deterministic record offset (the reference's default key — the record's
    * absolute byte offset in the file, FixedLengthRecordReader.java:255-260).
    */
  def schema: StructType =
    if (typed) {
      val base = StructField(FixedWidthOptions.OffsetCol, LongType, nullable = false) +:
        fields.map(f => StructField(f.name, f.dataType, nullable = true))
      // The corrupt-record column is always LAST so readers can fill it after
      // every typed field's malformed verdict is known.
      StructType(base ++ corruptRecordCol.map(StructField(_, StringType, nullable = true)))
    } else {
      val base = Seq(StructField(FixedWidthOptions.OffsetCol, LongType, nullable = false))
      val key = if (hasKey) Seq(StructField(FixedWidthOptions.KeyCol, BinaryType, nullable = false)) else Nil
      StructType(base ++ key :+ StructField(FixedWidthOptions.ValueCol, BinaryType, nullable = false))
    }
}

object FixedWidthOptions {
  val OffsetCol = "offset"
  val KeyCol = "key"
  val ValueCol = "value"

  /** DSv2 metadata column (SupportsMetadataColumns): the record's source
    * file path. NOT part of the table schema — surfaced only when a query
    * references it (`select($"_source_file")`), the provenance column a
    * 100 TB lineage audit needs without paying for it on every scan. */
  val SourceFileCol = "_source_file"

  /** `trim` mode → (trim left, trim right): the one definition of the
    * string trim policy. */
  val TrimModes: Map[String, (Boolean, Boolean)] = Map(
    "right" -> (false, true), "left" -> (true, false), "both" -> (true, true), "none" -> (false, false))

  /** Hadoop config-key aliases for drop-in migration: the reference's job-conf
    * property names (reference FixedLengthInputFormat.java:97-149) are accepted
    * as reader options alongside the native names. Setting both spellings to
    * DIFFERENT values is ambiguous and fails fast. */
  private val HadoopAliases: Map[String, String] = Map(
    "recordLength" -> "mapreduce.input.fixedlengthinputformat.record.length",
    "keyStartAt"   -> "mapreduce.input.fixedlengthinputformat.recordkey.startat",
    "keyEndAt"     -> "mapreduce.input.fixedlengthinputformat.recordkey.endat")

  /** Option `k` as a positive integer, or None when it is unset. */
  def positiveLong(map: CaseInsensitiveStringMap, k: String): Option[Long] =
    Option(map.get(k)).map { v =>
      scala.util.Try(v.trim.toLong).toOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"fixedwidth: option '$k' must be a positive integer, got '$v'"))
    }

  def apply(map: CaseInsensitiveStringMap): FixedWidthOptions = {
    def rawOpt(k: String): String = {
      val native = map.get(k)
      val aliasKey = HadoopAliases.get(k).orNull
      val alias = if (aliasKey == null) null else map.get(aliasKey)
      if (native != null && alias != null && native.trim != alias.trim)
        throw new IllegalArgumentException(
          s"fixedwidth: option '$k' ($native) conflicts with its Hadoop alias '$aliasKey' ($alias)")
      if (native != null) native else alias
    }
    def intOpt(k: String, dflt: Int): Int = {
      val v = rawOpt(k)
      if (v == null) dflt
      else
        try v.trim.toInt
        catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(s"fixedwidth: option '$k' must be an integer, got '$v'")
        }
    }

    val fields = parseFields(Option(map.get("fields")))
    val derivedLen = if (fields.nonEmpty) fields.map(_.end).max else 0
    val recordLength = intOpt("recordLength", derivedLen)
    if (recordLength <= 0)
      throw new IllegalArgumentException(
        "fixedwidth: option 'recordLength' must be set and > 0 " +
          "(or derivable from a non-empty 'fields' layout)")
    fields.foreach { f =>
      if (f.start < 0 || f.len <= 0 || f.end > recordLength)
        throw new IllegalArgumentException(
          s"fixedwidth: field '${f.name}' [start=${f.start}, len=${f.len}] does not fit in recordLength=$recordLength")
    }
    val dupNames = fields.groupBy(_.name.toLowerCase).collect { case (n, fs) if fs.size > 1 => n }
    if (dupNames.nonEmpty)
      throw new IllegalArgumentException(s"fixedwidth: duplicate field names: ${dupNames.mkString(", ")}")

    val keyStart = intOpt("keyStartAt", -1)
    val keyEnd = intOpt("keyEndAt", -1)
    // Typed mode has no key column — silently ignoring key options would
    // mislead; fail fast instead.
    if (fields.nonEmpty && (keyStart != -1 || keyEnd != -1))
      throw new IllegalArgumentException(
        "fixedwidth: 'keyStartAt'/'keyEndAt' cannot be combined with a 'fields' layout " +
          "(typed mode has no key column; declare the key bytes as a field instead)")
    // Reference rule: both-or-neither (FixedLengthInputFormat.java:344-349).
    if ((keyStart == -1) != (keyEnd == -1))
      throw new IllegalArgumentException(
        "fixedwidth: 'keyStartAt' and 'keyEndAt' must be set together (both or neither)")
    if (keyStart != -1) {
      if (keyStart < 0 || keyEnd < 0)
        throw new IllegalArgumentException("fixedwidth: key boundaries must be >= 0 when set")
      if (keyEnd < keyStart)
        throw new IllegalArgumentException(
          s"fixedwidth: 'keyEndAt' ($keyEnd) must be >= 'keyStartAt' ($keyStart)")
      if (keyEnd > recordLength - 1)
        throw new IllegalArgumentException(
          s"fixedwidth: 'keyEndAt' ($keyEnd) must be <= recordLength - 1 (${recordLength - 1})")
    }

    val trim = Option(map.get("trim")).getOrElse("right").toLowerCase
    if (!TrimModes.contains(trim))
      throw new IllegalArgumentException(s"fixedwidth: option 'trim' must be one of right|left|both|none, got '$trim'")

    val charsetName = Option(map.get("charset")).getOrElse("UTF-8")
    try java.nio.charset.Charset.forName(charsetName)
    catch {
      case _: Exception =>
        throw new IllegalArgumentException(s"fixedwidth: unknown charset '$charsetName'")
    }

    // FAILFAST = reference parity (truncated file ⇒ error,
    // FixedLengthRecordReader.java:225-235). PERMISSIVE drops a trailing
    // partial record and nulls malformed typed fields; DROPMALFORMED drops
    // the trailing partial AND every record with a malformed typed field
    // (CSV/JSON source parity).
    val mode = Option(map.get("mode")).getOrElse("FAILFAST").toUpperCase
    if (!Set("FAILFAST", "PERMISSIVE", "DROPMALFORMED").contains(mode))
      throw new IllegalArgumentException(
        s"fixedwidth: option 'mode' must be FAILFAST, PERMISSIVE or DROPMALFORMED, got '$mode'")

    val allowCompressed0 =
      Option(map.get("allowCompressed")).exists(_.trim.equalsIgnoreCase("true"))
    // Persisted phase-1 split-index cache for splittable bz2 reads (see
    // Bz2SplitIndex): sidecars land fingerprint-keyed in this directory,
    // amortizing the plan-time full-corpus decompress to once per file
    // ever instead of once per driver JVM.
    val bz2IndexDir = Option(map.get("bz2IndexDir")).map(_.trim).filter(_.nonEmpty)
    bz2IndexDir.foreach { _ =>
      if (!allowCompressed0)
        throw new IllegalArgumentException(
          "fixedwidth: 'bz2IndexDir' requires allowCompressed=true " +
            "(it caches the bz2 split index, which only exists for compressed reads)")
    }

    val corruptCol = Option(map.get("columnNameOfCorruptRecord")).map(_.trim).filter(_.nonEmpty)
    corruptCol.foreach { c =>
      if (fields.isEmpty)
        throw new IllegalArgumentException(
          "fixedwidth: 'columnNameOfCorruptRecord' requires a 'fields' layout " +
            "(raw mode has no typed decode, so nothing can be malformed)")
      if (mode != "PERMISSIVE")
        throw new IllegalArgumentException(
          "fixedwidth: 'columnNameOfCorruptRecord' requires mode=PERMISSIVE " +
            s"(got $mode; DROPMALFORMED discards the record, FAILFAST errors)")
      if (c.equalsIgnoreCase(OffsetCol) || fields.exists(_.name.equalsIgnoreCase(c)))
        throw new IllegalArgumentException(
          s"fixedwidth: 'columnNameOfCorruptRecord' ('$c') collides with a declared column")
    }

    FixedWidthOptions(
      recordLength = recordLength,
      keyStartAt = keyStart,
      keyEndAt = keyEnd,
      fields = fields,
      charsetName = charsetName,
      trim = trim,
      mode = mode,
      allowCompressed = allowCompressed0,
      corruptRecordCol = corruptCol,
      // write-side: over-width STRING values truncate by default (pad/
      // truncate is the documented fixed-width contract); strictWidth=true
      // turns that into a loud per-record error — silent truncation of a
      // payload field surfaces only as a downstream digest mismatch
      strictWidth = Option(map.get("strictWidth")).exists(_.trim.equalsIgnoreCase("true")),
      bz2IndexDir = bz2IndexDir)
  }

  /** Layout grammar: `name:type:start:len[,name:type:start:len...]`.
    * Whitespace around entries is ignored. The entry separator is a comma
    * NOT inside parentheses, so `decimal(15,2)` type tokens parse. */
  def parseFields(spec: Option[String]): Seq[FieldSpec] = spec match {
    case None => Nil
    case Some(s) if s.trim.isEmpty => Nil
    case Some(s) =>
      s.split(",(?![^(]*\\))").toIndexedSeq.map(_.trim).filter(_.nonEmpty).map { entry =>
        entry.split(':') match {
          case Array(name, ftype, start, len) =>
            val f = FieldSpec(name.trim, ftype.trim.toLowerCase, start.trim.toInt, len.trim.toInt)
            f.dataType // validate type token eagerly
            f
          case _ =>
            throw new IllegalArgumentException(
              s"fixedwidth: bad 'fields' entry '$entry' (expected name:type:start:len)")
        }
      }
  }

  /** Render a layout back to its option-string form (inverse of parseFields). */
  def renderFields(fields: Seq[FieldSpec]): String =
    fields.map(f => s"${f.name}:${f.ftype}:${f.start}:${f.len}").mkString(",")
}
