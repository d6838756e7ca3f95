package graft.sources.fixedwidth

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.{ConstantColumnVector, OnHeapColumnVector}
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** Vectorized fixedwidth reader. Each `next()` reads ONE block of whole
  * records from one chunk through the cursor of its kind
  * (`ChunkedRecordStream.fetchBlock`: one bulk read for a [[PlainRange]],
  * frame-at-a-time decode for an [[FwzRun]], codec-stream reads for a
  * [[WholeFile]] or [[Bz2Split]]) and decodes it column by column into reused
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

  // Malformed-record policy. `probes` are the codec probes
  // (FieldCodec.probe) of the fields whose malformation the projected
  // decoders would not surface: ALL declared fields under DROPMALFORMED
  // (the drop verdict must not depend on which columns a query projects),
  // the non-projected ones under PERMISSIVE when the corrupt-record column
  // is selected. DROPMALFORMED probes run BEFORE any vector write: a
  // half-written slot can't be reused because WritableColumnVector.putNull
  // is sticky (overwrites don't clear the null bit), so dropped records
  // must never touch the vectors.
  private val corruptIdx: Int = opts.corruptRecordCol
    .map(c => requiredSchema.fieldNames.indexWhere(_.equalsIgnoreCase(c))).getOrElse(-1)
  private val probes: Array[() => Unit] =
    (if (opts.dropMalformed) opts.fields
     else if (corruptIdx >= 0) opts.fields.filterNot(f => requiredSchema.fieldNames.exists(_.equalsIgnoreCase(f.name)))
     else Nil).flatMap(f => opts.codec(f).probe(buf, f.start, f.end)).toArray
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
        opts.codec(f).columnDecoder(block, f.start, f.end, v)
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
