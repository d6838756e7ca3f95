package graft.sources.fixedwidth

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.{ConstantColumnVector, OnHeapColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** Vectorized fixedwidth reader. Each `next()` reads ONE block of whole
  * records from one chunk (`ChunkedRecordStream.fetchBlock`: one bulk read
  * for an uncompressed chunk) and decodes it column by column into reused
  * `OnHeapColumnVector`s: the outer loop runs over columns, the inner loop
  * over the block's records. Typed decoders use `AsciiParse`'s
  * allocation-free fast paths, falling back to `BigDecimal` /
  * `Double.parseDouble` only for inputs those do not cover, so decode
  * allocates nothing per record — the reference reader's bar
  * (FixedLengthRecordReader.java:198-206).
  *
  * A block holds at most 4096 records and at most
  * [[FixedWidthColumnarReader.BlockBytes]] bytes, always at least one
  * record. It never crosses a chunk, hence never a file, so the
  * `_source_file` column is a constant vector set once per batch.
  *
  * Pushed predicates and the DROPMALFORMED probes run per record on a copy
  * in `buf` (the buffer `FixedWidthFilters` compiles against) and select
  * the records to decode. A block with no survivors is skipped, so a batch
  * is never empty.
  */
class FixedWidthColumnarReader(
    part: FixedWidthInputPartition,
    opts: FixedWidthOptions,
    requiredSchema: StructType,
    conf: Configuration,
    pushedFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends PartitionReader[ColumnarBatch] {

  private val recLen = opts.recordLength
  private val rows = math.max(1, math.min(4096, FixedWidthColumnarReader.BlockBytes / recLen))
  private val stream = new ChunkedRecordStream(part, opts, conf)
  private val block = new Array[Byte](rows * recLen)
  private val buf = new Array[Byte](recLen)

  /** Block offsets of the batch's records, in order; with no predicate and
    * no drop probe it is always the identity [0, recLen, 2·recLen, ...). */
  private val sel = Array.tabulate(rows)(_ * recLen)
  /** Offset of the record in `buf` (read by pushed `offset` predicates). */
  private var recOffset = 0L

  // Pushed predicates evaluate straight off the record buffer (independent
  // of the pruned output schema — see FixedWidthFilters.compileOnBuffer).
  private val predicates: Array[() => Boolean] =
    pushedFilters.map(f => FixedWidthFilters.compileOnBuffer(f, opts, buf, () => recOffset).getOrElse(
      // fail LOUDLY: this filter was accepted as fully pushed, so nothing
      // downstream re-evaluates it — dropping it would silently unfilter
      throw new IllegalStateException(s"fixedwidth: accepted pushed filter failed to compile: $f")))
  private var skipped = 0L
  private var malformed = 0L

  // Malformed-record policy — same probe sets as the row reader (see
  // FixedWidthPartitionReader). DROPMALFORMED probes ALL declared fields
  // BEFORE any vector write: a half-written slot can't be reused because
  // WritableColumnVector.putNull is sticky (overwrites don't clear the null
  // bit), so dropped records must never touch the vectors.
  private val corruptIdx: Int = opts.corruptRecordCol
    .map(c => requiredSchema.fieldNames.indexWhere(_.equalsIgnoreCase(c))).getOrElse(-1)
  private val probes: Array[() => Unit] =
    if (opts.dropMalformed) FixedWidthMalformed.probes(opts.fields, buf)
    else if (corruptIdx >= 0)
      FixedWidthMalformed.probes(
        opts.fields.filterNot(f => requiredSchema.fieldNames.exists(_.equalsIgnoreCase(f.name))), buf)
    else Array.empty
  /** PERMISSIVE: which of the batch's records had a malformed field. */
  private val bad = if (opts.permissive) new Array[Boolean](rows) else null

  // `_source_file` metadata column: a ConstantColumnVector set once per
  // batch (a batch is one block, so one file). It is always the LAST field
  // (pruneColumns and toMicroBatchStream both append it), which lets the
  // writable vectors array simply be one shorter.
  private val metaIdx: Int = requiredSchema.fieldNames.indexWhere(fn =>
    fn.equalsIgnoreCase(FixedWidthOptions.SourceFileCol) &&
      !opts.fields.exists(_.name.equalsIgnoreCase(fn)))
  require(metaIdx < 0 || metaIdx == requiredSchema.length - 1,
    s"fixedwidth: ${FixedWidthOptions.SourceFileCol} must be the last read column, " +
      s"got index $metaIdx of ${requiredSchema.length}")

  private val vectors: Array[OnHeapColumnVector] =
    OnHeapColumnVector.allocateColumns(rows,
      if (metaIdx < 0) requiredSchema else StructType(requiredSchema.fields.init))

  private val metaVec: ConstantColumnVector =
    if (metaIdx >= 0) new ConstantColumnVector(rows, StringType) else null

  private val batch = new ColumnarBatch(Array.tabulate[ColumnVector](requiredSchema.length) { i =>
    if (i == metaIdx) metaVec else vectors(i)
  })

  // Per-column decoders: (row, base) writes vector slot `row` from the
  // record at `block(base)`. Null for the columns next() fills itself:
  // the metadata column and the corrupt-record column.
  private val decoders: Array[(Int, Int) => Unit] = Array.tabulate(vectors.length) { ci =>
    val v = vectors(ci)
    requiredSchema(ci).name match {
      case FixedWidthOptions.OffsetCol =>
        (r: Int, b: Int) => v.putLong(r, stream.blockOffset + b)
      case FixedWidthOptions.KeyCol if !opts.typed =>
        (r: Int, b: Int) => v.putByteArray(r, block, b + opts.keyStartAt, opts.keyLen)
      case FixedWidthOptions.ValueCol if !opts.typed =>
        (r: Int, b: Int) => v.putByteArray(r, block, b, recLen)
      case _ if ci == corruptIdx => null
      case name =>
        val f = opts.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
          throw new IllegalArgumentException(s"fixedwidth: unknown column '$name'"))
        fieldDecoder(f, v)
    }
  }

  private def fieldDecoder(f: FieldSpec, v: OnHeapColumnVector): (Int, Int) => Unit = {
    val (s, e) = (f.start, f.end)
    f.ftype match {
      case "string" =>
        val cs = opts.charset
        val utf8 = cs == java.nio.charset.StandardCharsets.UTF_8
        val trimRight = opts.trim == "right" || opts.trim == "both"
        val trimLeft = opts.trim == "left" || opts.trim == "both"
        (r: Int, b: Int) => {
          val tr = AsciiParse.trimRange(block, b + s, b + e, trimLeft, trimRight)
          val ts = (tr >>> 32).toInt
          val te = (tr & 0xffffffffL).toInt
          if (utf8) v.putByteArray(r, block, ts, te - ts)
          else v.putByteArray(r, new String(block, ts, te - ts, cs).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      case "int" | "date" =>
        (r: Int, b: Int) =>
          if (AsciiParse.isBlank(block, b + s, b + e)) v.putNull(r)
          else v.putInt(r, AsciiParse.parseInt(block, b + s, b + e))
      case "long" | "timestamp" =>
        (r: Int, b: Int) =>
          if (AsciiParse.isBlank(block, b + s, b + e)) v.putNull(r)
          else v.putLong(r, AsciiParse.parseLong(block, b + s, b + e))
      case "double" =>
        (r: Int, b: Int) =>
          if (AsciiParse.isBlank(block, b + s, b + e)) v.putNull(r)
          else v.putDouble(r, AsciiParse.parseDouble(block, b + s, b + e))
      case FieldSpec.DecimalRe(p, sc) =>
        val (prec, scale) = (p.toInt, sc.toInt)
        (r: Int, b: Int) =>
          if (AsciiParse.isBlank(block, b + s, b + e)) v.putNull(r)
          else if (prec > Decimal.MAX_LONG_DIGITS)
            v.putDecimal(r, AsciiParse.parseDecimal(block, b + s, b + e, prec, scale), prec)
          else { // the unscaled long is what putDecimal stores up to 18 digits
            val u = AsciiParse.parseUnscaled(block, b + s, b + e, prec, scale)
            if (prec <= Decimal.MAX_INT_DIGITS) v.putInt(r, u.toInt) else v.putLong(r, u)
          }
    }
  }

  /** Copy the record at `block(base)` into `buf` for predicates and probes. */
  private def load(base: Int): Unit = {
    System.arraycopy(block, base, buf, 0, recLen)
    recOffset = stream.blockOffset + base
  }

  /** Run predicates, then DROPMALFORMED probes, over a block of `got`
    * records; fills `sel` with the survivors' offsets, returns their count. */
  private def select(got: Int): Int = {
    if (predicates.isEmpty && !opts.dropMalformed) return got
    var n = 0
    var i = 0
    while (i < got) {
      val base = i * recLen
      load(base)
      var pass = true
      var p = 0
      while (pass && p < predicates.length) { pass = predicates(p)(); p += 1 }
      if (pass && opts.dropMalformed) {
        try {
          var j = 0
          while (j < probes.length) { probes(j)(); j += 1 }
        } catch {
          case _: NumberFormatException => pass = false; malformed += 1
        }
      }
      if (pass) { sel(n) = base; n += 1 } else skipped += 1
      i += 1
    }
    n
  }

  override def next(): Boolean = {
    var i = 0
    while (i < vectors.length) { vectors(i).reset(); i += 1 }
    var n = 0
    var got = 1
    while (n == 0 && got > 0) {
      got = stream.fetchBlock(block, rows)
      if (got > 0) n = select(got)
    }
    if (n == 0) return false
    var c = 0
    while (c < decoders.length) {
      val dec = decoders(c)
      if (dec != null) {
        var r = 0
        if (!opts.permissive) while (r < n) { dec(r, sel(r)); r += 1 }
        else while (r < n) { // PERMISSIVE: a malformed field reads as NULL
          try dec(r, sel(r))
          catch { case _: NumberFormatException => vectors(c).putNull(r); bad(r) = true }
          r += 1
        }
      }
      c += 1
    }
    if (opts.permissive) finishPermissive(n)
    if (metaVec != null) metaVec.setUtf8String(UTF8String.fromBytes(stream.currentPathUtf8))
    batch.setNumRows(n)
    true
  }

  /** PERMISSIVE tail of a batch: probe the fields the projection skipped,
    * fill the corrupt-record column (written exactly once per slot, since
    * putNull is sticky), count malformed records and clear `bad`. */
  private def finishPermissive(n: Int): Unit = {
    var r = 0
    while (r < n) {
      if (corruptIdx >= 0) {
        if (bad(r) || probes.nonEmpty) load(sel(r))
        var j = 0
        while (!bad(r) && j < probes.length) {
          try probes(j)() catch { case _: NumberFormatException => bad(r) = true }
          j += 1
        }
        if (bad(r)) vectors(corruptIdx).putByteArray(r,
          FixedWidthMalformed.rawRecord(buf, recLen, opts.charset).getBytes)
        else vectors(corruptIdx).putNull(r)
      }
      if (bad(r)) { malformed += 1; bad(r) = false }
      r += 1
    }
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = {
    stream.close()
    batch.close()
  }

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(
      FixedWidthMetrics.task("fwRecordsRead", stream.recordsRead),
      FixedWidthMetrics.task("fwBytesRead", stream.recordsRead * recLen),
      FixedWidthMetrics.task("fwRecordsSkipped", skipped),
      FixedWidthMetrics.task("fwRecordsMalformed", malformed))
}

object FixedWidthColumnarReader {
  /** Byte budget of one block: caps the read buffer and the batch's byte
    * vectors for long records (a 70 000-byte record gets 14-row batches,
    * not 4096). */
  val BlockBytes: Int = 1 << 20
}
