package graft.sources.fixedwidth

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** Fixed-width sink: the inverse of the scan, the production analog of the
  * reference test harness's file writers (reference
  * TestFixedLengthInputFormat.java:92-134, :142-181 — which hand-write
  * exact-multiple files to drive the reader). Each task writes
  * exact-multiple-of-recordLength binary files; records are space-padded.
  *
  * Typed mode (`fields` layout): each named field is encoded at its byte
  * range — strings right-padded (truncated if over-width), numerics as ASCII
  * (doubles via `Double.toString`, the shortest form that round-trips
  * exactly; timestamps as epoch-micros; dates as epoch-day). Raw mode: the
  * incoming `value` binary/string column is padded to `recordLength`.
  *
  * `partitionBy(cols)` lays files out Hive-style (`col=value/` directories)
  * so the scan can DIRECTORY-PRUNE — the only IO skip an indexless format
  * can ever get (real fixed-width feeds are laid out by date). Divergence
  * from parquet convention, on purpose: partition columns stay IN the record
  * bytes (every record remains self-contained and exactly recordLength
  * wide); the directory layout is purely an index, never the data.
  */
class FixedWidthWriteBuilder(
    opts: FixedWidthOptions,
    tableOptions: CaseInsensitiveStringMap,
    info: LogicalWriteInfo,
    conf: Configuration,
    partitionCols: Seq[String] = Nil)
    extends WriteBuilder with SupportsTruncate {

  private var doTruncate = false

  // Write-side compression stance: the reference REJECTS compressed input
  // (reference FixedLengthRecordReader.java:147-152) because record-aligned
  // splitting needs byte offsets — and whole-file gzip of fixed-width bytes
  // would indeed defeat this source's own reader. 'none'/'uncompressed'
  // stay the default; 'zstd'/'gzip' opt into the FRAMED layout (.fwz,
  // [[FwzFormat]]): record-multiple frames + a footer of content sizes, so
  // written data splits record-aligned WITHOUT a phase-1 pass — a layout
  // this sink owns, not foreign-codec compatibility. Anything else errors.
  private val framedCodec: Byte = {
    val v = Seq("compression", "codec").flatMap(k => Option(tableOptions.get(k)))
      .map(_.trim.toLowerCase).headOption.getOrElse("none")
    v match {
      case "none" | "uncompressed" => -1
      case "zstd" | "gzip" => FwzFormat.codecIdOf(v)
      case other =>
        throw new IllegalArgumentException(
          s"fixedwidth: unsupported write compression '$other': use 'zstd' or 'gzip' " +
            "for the framed .fwz layout (record-group frames + content-size footer, " +
            "splits without a phase-1 pass), or 'none' for raw fixed-width bytes " +
            "(reference parity, FixedLengthRecordReader.java:147-152).")
    }
  }

  // Target DECOMPRESSED bytes per frame (rounded down to a record multiple,
  // floored at one record). Smaller frames split finer but compress worse;
  // 1 MiB ≈ a few thousand records is the sane default for both codecs.
  private val frameBytes: Long =
    FixedWidthOptions.positiveLong(tableOptions, "frameBytes").getOrElse(1L * 1024 * 1024)
  if (framedCodec < 0 && tableOptions.get("frameBytes") != null)
    throw new IllegalArgumentException(
      "fixedwidth: 'frameBytes' requires compression=zstd|gzip (framed layout)")

  // Per-frame column statistics (`frameStats=all` or a comma-separated
  // field subset): the writer records each listed field's min/max per
  // frame in the footer ([[FwzStats]]), so a later scan's pushed range
  // predicates skip whole frames without decompressing them — the parquet
  // row-group statistics idea applied to the framed layout.
  private val statFields: Seq[FieldSpec] =
    Option(tableOptions.get("frameStats")).map { v =>
      if (framedCodec < 0)
        throw new IllegalArgumentException(
          "fixedwidth: 'frameStats' requires compression=zstd|gzip (framed layout)")
      FwzStats.resolveStatFields(v, opts)
    }.getOrElse(Nil)

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = new Write with RequiresDistributionAndOrdering {
    // ---- Clustered partitioned writes (opt-in `clusteredWrite=true`): ask
    // Spark to shuffle rows so each partition value lands in ONE task and to
    // sort within tasks by the partition columns — the DSv2
    // RequiresDistributionAndOrdering contract. Without it, every input
    // task holding a value writes its own file into the value's directory:
    // a 1000-task job over 10k dirs can mint 10M small files, the classic
    // way a 100 TB feed becomes unmanageable. With it, a directory gets
    // exactly one file (plus maxRecordsPerFile rolls) at the cost of one
    // clustering shuffle. Default OFF: unclustered dynamic writes need no
    // shuffle and are fine for few-directories layouts.
    private val clustered = Option(tableOptions.get("clusteredWrite")).exists { v =>
      v.trim.toLowerCase match {
        case "true" => true
        case "false" => false
        case other => throw new IllegalArgumentException(
          s"fixedwidth: option 'clusteredWrite' must be true or false, got '$other'")
      }
    }
    if (clustered && partitionCols.isEmpty)
      throw new IllegalArgumentException(
        "fixedwidth: 'clusteredWrite' requires partitionBy columns to cluster on")

    override def requiredDistribution(): org.apache.spark.sql.connector.distributions.Distribution =
      if (clustered)
        org.apache.spark.sql.connector.distributions.Distributions.clustered(
          partitionCols.map(c =>
            org.apache.spark.sql.connector.expressions.Expressions.column(c): org.apache.spark.sql.connector.expressions.Expression).toArray)
      else org.apache.spark.sql.connector.distributions.Distributions.unspecified()

    // Sorting within tasks by the partition columns makes each directory's
    // rows contiguous, so the dynamic writer holds ONE open stream at a
    // time instead of one per directory seen — open handles are the scarce
    // resource against object stores.
    override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
      if (clustered)
        partitionCols.map(c => org.apache.spark.sql.connector.expressions.Expressions.sort(
          org.apache.spark.sql.connector.expressions.Expressions.column(c),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray
      else Array.empty

    override def toBatch: BatchWrite = {
      val path = Option(tableOptions.get("path")).getOrElse(
        throw new IllegalArgumentException("fixedwidth: write requires a single 'path'"))
      val maxRecords =
        FixedWidthOptions.positiveLong(tableOptions, "maxRecordsPerFile").getOrElse(0L)
      new FixedWidthBatchWrite(
        path, opts, info.schema(), doTruncate,
        SerializableHadoopConf.broadcast(conf), partitionCols,
        maxRecords, framedCodec, frameBytes, statFields)
    }
  }
}

/** Job-level commit protocol (the analog of Hadoop's FileOutputCommitter,
  * which the reference's MapReduce pipeline got for free): every task writes
  * into a job-scoped `_temporary-<jobId>` directory (mirroring the final
  * partition subdirectories); `commit()` renames the committed tasks' files
  * into the final directory tree and drops a `_SUCCESS` marker; `abort()`
  * (or a task lost without abort) leaves nothing visible because readers
  * skip `_`-prefixed paths and the temp dir is deleted. Speculative/zombie
  * task attempts are harmless: only files named in commit messages are
  * renamed, the rest die with the temp dir.
  */
class FixedWidthBatchWrite(
    path: String,
    opts: FixedWidthOptions,
    querySchema: StructType,
    truncate: Boolean,
    conf: Broadcast[SerializableConfiguration],
    partitionCols: Seq[String] = Nil,
    maxRecordsPerFile: Long = 0L,
    framedCodec: Byte = -1,
    frameBytes: Long = 1L * 1024 * 1024,
    statFields: Seq[FieldSpec] = Nil)
    extends BatchWrite {

  private val jobId = java.util.UUID.randomUUID().toString
  private def tempDir = new Path(path, s"_temporary-$jobId")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // Driver-side, before any task launches.
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf.value.value)
    if (truncate && fs.exists(dir)) fs.delete(dir, true)
    fs.mkdirs(tempDir)
    // Validate the incoming schema maps onto the layout once, up front.
    FixedWidthEncoder.plan(opts, querySchema)
    FixedWidthEncoder.partitionRenderers(opts, querySchema, partitionCols)
    new FixedWidthDataWriterFactory(
      tempDir.toString, opts, querySchema, conf, partitionCols,
      maxRecordsPerFile, jobId.replace("-", "").take(8), framedCodec, frameBytes,
      statFields)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf.value.value)
    messages.collect { case m: FixedWidthCommitMessage => m }.foreach { m =>
      m.relPaths.foreach { rel =>
        val src = new Path(tempDir, rel)
        val dst = new Path(dir, rel)
        fs.mkdirs(dst.getParent)
        if (!fs.rename(src, dst))
          throw new java.io.IOException(s"fixedwidth: commit failed to rename $src -> $dst")
      }
    }
    fs.delete(tempDir, true)
    fs.create(new Path(dir, "_SUCCESS"), true).close()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(conf.value.value)
    fs.delete(tempDir, true)
  }
}

/** `relPaths` are partition-relative (`a=1/b=x/part-...fwb`) so commit can
  * reproduce the directory tree under the final path. */
final case class FixedWidthCommitMessage(relPaths: Seq[String], records: Long)
    extends WriterCommitMessage

class FixedWidthDataWriterFactory(
    tempDir: String,
    opts: FixedWidthOptions,
    querySchema: StructType,
    conf: Broadcast[SerializableConfiguration],
    partitionCols: Seq[String] = Nil,
    maxRecordsPerFile: Long = 0L,
    jobTag: String = "",
    framedCodec: Byte = -1,
    frameBytes: Long = 1L * 1024 * 1024,
    statFields: Seq[FieldSpec] = Nil)
    extends DataWriterFactory {
  // jobTag (first 8 hex of the job UUID) keeps file names unique across
  // APPEND jobs from different sessions: Spark task ids restart from 0 in a
  // new session, and a colliding name would make commit's rename fail.
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new FixedWidthDataWriter(
      tempDir, f"part-$partitionId%05d-$taskId${if (jobTag.isEmpty) "" else s"-$jobTag"}",
      opts, querySchema, conf.value.value, partitionCols, maxRecordsPerFile,
      framedCodec, frameBytes, statFields)
}

class FixedWidthDataWriter(
    tempDir: String,
    fileStem: String,
    opts: FixedWidthOptions,
    querySchema: StructType,
    conf: Configuration,
    partitionCols: Seq[String] = Nil,
    maxRecordsPerFile: Long = 0L,
    framedCodec: Byte = -1,
    frameBytes: Long = 1L * 1024 * 1024,
    statFields: Seq[FieldSpec] = Nil)
    extends DataWriter[InternalRow] {

  private val fs = new Path(tempDir).getFileSystem(conf)
  private val encoders = FixedWidthEncoder.plan(opts, querySchema)
  private val partRender = FixedWidthEncoder.partitionRenderers(opts, querySchema, partitionCols)
  private val buf = new Array[Byte](opts.recordLength)
  private var records = 0L
  private val framed = framedCodec >= 0
  // frame capacity in whole records (decompressed) — frames are ALWAYS
  // record multiples, which is what makes every frame boundary a legal
  // split point with no spanning-record logic
  private val frameCap: Int = {
    val recs = math.max(1L, frameBytes / opts.recordLength)
    math.min(recs, Int.MaxValue / opts.recordLength - 1).toInt * opts.recordLength
  }

  // One open stream per partition directory seen by this task (a task's
  // rows may span many partition values — same as Spark's dynamic
  // partition file writers). Unpartitioned writes collapse to one entry
  // under key "". With maxRecordsPerFile > 0 a directory's stream ROLLS to
  // a new sequence-numbered file when full (the v1 writer's option of the
  // same name) — unbounded single files are how 100 TB feeds become
  // unmanageable.
  private final class DirState {
    var seq = 0
    var inFile = 0L
    var stream: org.apache.hadoop.fs.FSDataOutputStream = null
    val relPaths = scala.collection.mutable.ArrayBuffer.empty[String]
    // framed mode: the current file's pending frame + finished-frame table
    var frameBuf: Array[Byte] = if (framed) new Array[Byte](frameCap) else null
    var frameFill = 0
    val frames = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    // whole-file CRC-32 over compressed frame bytes, recorded in the v3
    // trailer so the reader's footer-cache tail fingerprint covers CONTENT
    val contentCrc = new java.util.zip.CRC32
    // per-frame column statistics tracker — one per OPEN FILE (reset on
    // roll: each file's footer describes exactly its own frames)
    var tracker: FwzStats.Tracker = null
  }
  private val dirs = scala.collection.mutable.LinkedHashMap.empty[String, DirState]

  private def relPathOf(relDir: String, seq: Int): String = {
    val ext = if (framed) FwzFormat.Extension else ".fwb"
    val name = if (seq == 0) s"$fileStem$ext" else f"$fileStem-r$seq%04d$ext"
    if (relDir.isEmpty) name else s"$relDir/$name"
  }

  /** Compress + write the directory's pending frame, if any. */
  private def flushFrame(st: DirState): Unit = if (st.frameFill > 0) {
    if (st.tracker != null) st.tracker.frameDone(st.frameBuf, st.frameFill)
    val c = FwzFormat.compressFrame(framedCodec, st.frameBuf, st.frameFill)
    st.stream.write(c)
    st.contentCrc.update(c)
    st.frames += ((c.length.toLong, st.frameFill.toLong))
    st.frameFill = 0
  }

  /** Close the directory's current file — for framed files, flush the tail
    * frame and append the footer first (a frameless close would leave a
    * file the reader rejects at plan time, which is the CORRECT failure
    * mode for a crashed task: commit only renames completed files). */
  private def closeFile(st: DirState): Unit = if (st.stream != null) {
    if (framed) {
      flushFrame(st)
      // ALWAYS v3, even with no stat fields (an empty stats block): the
      // footer cache's tail fingerprint covers file CONTENT only through
      // the v3 contentCrc, and a v1 file rewritten to identical length
      // with identical framing would be undetectable — no file this sink
      // writes should carry that residual gap (r16 closed it for stats
      // files; r17 for all).
      FwzFormat.writeFooter(st.stream, framedCodec, st.frames.toSeq,
        Some(Option(st.tracker).map(_.block()).getOrElse(
          FwzFormat.FwzStatsBlock(opts.charsetName, FwzFormat.TrimIds(opts.trim), Nil))),
        st.contentCrc.getValue)
      st.frames.clear()
      st.contentCrc.reset()
      st.tracker = null
    }
    st.stream.close()
    st.stream = null
  }

  private def stateFor(relDir: String): DirState = {
    val st = dirs.getOrElseUpdate(relDir, new DirState)
    if (st.stream != null && maxRecordsPerFile > 0 && st.inFile >= maxRecordsPerFile) {
      closeFile(st)
      st.seq += 1
      st.inFile = 0L
    }
    if (st.stream == null) {
      val rel = relPathOf(relDir, st.seq)
      st.relPaths += rel
      st.stream = fs.create(new Path(tempDir, rel), true)
      if (framed && statFields.nonEmpty)
        st.tracker = new FwzStats.Tracker(opts, statFields)
    }
    st.inFile += 1
    st
  }

  override def write(record: InternalRow): Unit = {
    val relDir =
      if (partRender.isEmpty) ""
      else partRender.map { case (name, r) =>
        s"$name=${FixedWidthEncoder.escapePartitionValue(r(record))}"
      }.mkString("/")
    java.util.Arrays.fill(buf, ' '.toByte)
    var i = 0
    while (i < encoders.length) { encoders(i)(record, buf); i += 1 }
    val st = stateFor(relDir)
    if (framed) {
      System.arraycopy(buf, 0, st.frameBuf, st.frameFill, buf.length)
      st.frameFill += buf.length
      if (st.frameFill >= frameCap) flushFrame(st)
    } else st.stream.write(buf)
    records += 1
  }

  override def commit(): WriterCommitMessage = {
    dirs.values.foreach(closeFile)
    FixedWidthCommitMessage(dirs.values.flatMap(_.relPaths).toSeq, records)
  }

  override def abort(): Unit = {
    dirs.values.foreach { st =>
      if (st.stream != null) try st.stream.close() catch { case _: Throwable => }
      st.relPaths.foreach { rel =>
        try fs.delete(new Path(tempDir, rel), false) catch { case _: Throwable => }
      }
    }
  }

  override def close(): Unit = ()
}

object FixedWidthEncoder {
  type Enc = (InternalRow, Array[Byte]) => Unit

  /** Bind each layout field to an ordinal of the incoming query schema and
    * compile an encoder per field. Fails fast on missing columns or
    * un-encodable type combinations — write validation is the writer's job
    * because the table advertises ACCEPT_ANY_SCHEMA.
    */
  def plan(opts: FixedWidthOptions, querySchema: StructType): Array[Enc] = {
    if (opts.typed) {
      opts.fields.map { f =>
        val ord = querySchema.fieldNames.indexWhere(_.equalsIgnoreCase(f.name))
        if (ord < 0)
          throw new IllegalArgumentException(
            s"fixedwidth: write schema is missing layout field '${f.name}' " +
              s"(have: ${querySchema.fieldNames.mkString(", ")})")
        val dt = querySchema.fields(ord).dataType
        opts.codec(f).encoder(f, ord, dt, opts.strictWidth).getOrElse(throw new IllegalArgumentException(
          s"fixedwidth: cannot encode column '${f.name}' of Spark type $dt as layout type '${f.ftype}'"))
      }.toArray
    } else {
      val ord = querySchema.fieldNames.indexWhere(_.equalsIgnoreCase(FixedWidthOptions.ValueCol))
      if (ord < 0)
        throw new IllegalArgumentException(
          "fixedwidth: raw-mode write requires a 'value' column (binary or string)")
      val cs = opts.charset
      val utf8 = cs == StandardCharsets.UTF_8
      val enc: Enc = querySchema.fields(ord).dataType match {
        case BinaryType => (row, buf) => place(row.getBinary(ord), buf, 0, buf.length, "value")
        case StringType => (row, buf) => {
          val b = if (utf8) row.getUTF8String(ord).getBytes
                  else row.getUTF8String(ord).toString.getBytes(cs)
          place(b, buf, 0, buf.length, "value")
        }
        case dt => throw new IllegalArgumentException(
          s"fixedwidth: raw-mode 'value' column must be binary or string, got $dt")
      }
      Array(enc)
    }
  }

  /** Per-partition-column (name, row => directory value string) in the
    * user-declared order. The rendered string is the SAME text the field
    * encoder writes into the record (so directory pruning and record
    * predicates see one value); NULL renders as "" — the blank-field NULL
    * encoding this format already uses. */
  def partitionRenderers(
      opts: FixedWidthOptions,
      querySchema: StructType,
      partitionCols: Seq[String]): Array[(String, InternalRow => String)] = {
    if (partitionCols.nonEmpty && !opts.typed)
      throw new IllegalArgumentException(
        "fixedwidth: partitionBy requires a 'fields' layout (raw mode has no named columns)")
    partitionCols.map { c =>
      val f = opts.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(s"fixedwidth: partition column '$c' is not a declared field"))
      val ord = querySchema.fieldNames.indexWhere(_.equalsIgnoreCase(c))
      if (ord < 0)
        throw new IllegalArgumentException(
          s"fixedwidth: write schema is missing partition column '$c' " +
            s"(have: ${querySchema.fieldNames.mkString(", ")})")
      val dt = querySchema.fields(ord).dataType
      val render = opts.codec(f).render(ord, dt).getOrElse(throw new IllegalArgumentException(
        s"fixedwidth: cannot partition by column '$c' of Spark type $dt as layout type '${f.ftype}'"))
      (f.name, (row: InternalRow) => if (row.isNullAt(ord)) "" else render(row))
    }.toArray
  }

  /** Hive-style escaping for partition directory names: anything that could
    * break a path or the `name=value` grammar becomes %XX of its UTF-8
    * bytes. The inverse is [[unescapePartitionValue]]. */
  def escapePartitionValue(v: String): String = {
    val sb = new java.lang.StringBuilder(v.length)
    v.getBytes(StandardCharsets.UTF_8).foreach { b =>
      val c = (b & 0xff).toChar
      if (c.isLetterOrDigit && c < 128 || c == '.' || c == '-' || c == '_')
        sb.append(c)
      else sb.append(f"%%${b & 0xff}%02X")
    }
    sb.toString
  }

  private def isHex(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'A' && c <= 'F') || (c >= 'a' && c <= 'f')

  /** Inverse of [[escapePartitionValue]]: `%XX` → the byte; malformed
    * escapes (short, or non-hex digits — explicit check because
    * `Integer.parseInt` would also accept signed forms like `+1`) pass
    * through as literal characters. */
  def unescapePartitionValue(v: String): String = {
    // %XX runs decode as UTF-8 byte sequences; everything else appends at
    // the CHAR level. Writing non-escaped chars as single bytes (the first
    // version) truncated chars > 0xFF and mangled raw multi-byte UTF-8 —
    // Hive/Spark layouts leave non-ASCII unescaped in directory names, and
    // a mangled value makes pruneFiles wrongly PRUNE matching files.
    val sb = new java.lang.StringBuilder(v.length)
    val bytes = new java.io.ByteArrayOutputStream(8)
    def flush(): Unit = if (bytes.size() > 0) {
      sb.append(new String(bytes.toByteArray, StandardCharsets.UTF_8))
      bytes.reset()
    }
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      if (c == '%' && i + 2 < v.length && isHex(v.charAt(i + 1)) && isHex(v.charAt(i + 2))) {
        bytes.write(Integer.parseInt(v.substring(i + 1, i + 3), 16))
        i += 3
      } else { flush(); sb.append(c); i += 1 }
    }
    flush()
    sb.toString
  }

  private[fixedwidth] def place(bytes: Array[Byte], buf: Array[Byte], start: Int, width: Int, name: String): Unit = {
    if (bytes.length > width)
      throw new IllegalArgumentException(
        s"fixedwidth: value of '$name' is ${bytes.length} bytes, exceeds field width $width")
    System.arraycopy(bytes, 0, buf, start, bytes.length)
  }
}
