package graft.sources.fixedwidth

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** The framed compressed fixed-width layout (`.fwz`) — the WRITE-side
  * compression story the reference never had (it REJECTS compressed input
  * outright, FixedLengthRecordReader.java:147-152, because record-aligned
  * splitting needs byte offsets; gzip/bz2 reads here are the opt-in
  * compatibility escape for FOREIGN files).
  *
  * For data this sink writes itself, a better contract is available: frame
  * the stream. Records are grouped into FRAMES — each frame an independent
  * zstd frame / gzip member whose DECOMPRESSED length is an exact record
  * multiple — and a footer records every frame's (compressed, decompressed)
  * length. A reader then plans record-aligned splits from ONE bounded
  * footer read per file (the parquet planning shape): no phase-1
  * decompression pass (the bz2 path's honest-floor cost), no spanning tail
  * records (frame boundaries ARE record boundaries), and any contiguous
  * frame run decompresses independently — which is exactly what makes a
  * 100 TB compressed feed scan as parallel as an uncompressed one.
  *
  * Layout (version 1):
  * {{{
  *   file    := frame* footer trailer
  *   frame   := one zstd frame | one gzip member   (a record-multiple group)
  *   footer  := nFrames × { cLen: int64 BE, dLen: int64 BE }
  *   trailer := nFrames: int32 BE | codecId: u8 | version: u8 | magic "GFZ1"
  * }}}
  * The trailer is fixed-size (10 bytes) at EOF, so a reader seeks to
  * `len-10`, validates magic/version, then reads the 16·nFrames-byte footer
  * — two bounded reads regardless of file size. Frame payloads are
  * self-framing codecs, so a chunk reader decompresses a frame RUN through
  * one continuous stream without per-frame bookkeeping.
  *
  * Layout (version 2 — READ-compatibility only since r16; the parquet
  * row-group-statistics idea applied to this framed layout, so a pushed
  * range filter can skip whole frames WITHOUT decompressing them):
  * {{{
  *   file    := frame* stats frameTable trailer2
  *   stats   := csLen: u8 | charsetName (UTF-8) | trimId: u8
  *            | nFields: int16 BE | fieldEntry*
  *   fieldEntry := nameLen: u8 | name (UTF-8) | ftypeLen: u8 | ftype (UTF-8)
  *            | start: int32 BE | width: int32 BE
  *            | nFrames × { flags: u8 | minBytes[width] | maxBytes[width] }
  *   frameTable := nFrames × { cLen: int64 BE, dLen: int64 BE }
  *   trailer2 := statsLen: int32 BE | nFrames: int32 BE | codecId: u8
  *            | version: u8 = 2 | magic "GFZ1"
  * }}}
  * The LAST 10 bytes of trailer2 are laid out exactly like the v1 trailer,
  * so one tail read dispatches on the version byte. Per-frame min/max are
  * the RAW FIELD BYTE SLICES of the frame's extreme records, tracked by the
  * writer under the same decode the reader applies (numeric parse /
  * trim+charset string decode) — plan time decodes them with the reader's
  * own parsers, so stats-based skipping can never disagree with the
  * per-record predicate. `flags`: bit0 = frame has a non-null value (min/
  * max valid), bit1 = frame has a SQL-NULL (blank numeric field), bit2 =
  * stats unknown for this frame (tracker bailed; never skip).
  *
  * Layout (version 3 — what the writer emits for stats files since r16):
  * v2 with two additions, each closing a measured gap:
  * {{{
  *   fieldEntry := ... | start: int32 BE | width: int32 BE | ordered: u8
  *            | nFrames × { flags: u8 | minBytes[width] | maxBytes[width] }
  *   trailer3 := contentCrc: int64 BE | statsLen: int32 BE | nFrames: int32 BE
  *            | codecId: u8 | version: u8 = 3 | magic "GFZ1"
  * }}}
  *  - `ordered` (0/1): the writer PROVED at close that this field's frame
  *    extremes are non-overlapping ascending (max_i ≤ min_{i+1}, every
  *    frame holding a value) — the license for the plan-time skipper to
  *    binary-search a pushed comparison to a frame interval instead of
  *    walking every frame ([[FwzStats.compileSkipper]]); what keeps driver
  *    planning flat past ~10^5 frames/file on key-ordered feeds.
  *  - `contentCrc`: CRC-32 over ALL compressed frame bytes in file order,
  *    maintained incrementally by the writer. It lives in the trailer so
  *    the footer CACHE's tail fingerprint (below) covers file CONTENT, not
  *    just framing — the footer now answers count-star and MIN/MAX
  *    directly, so a stale cache hit would be a wrong ANSWER. Readers do
  *    not re-verify it against the frames (that would cost a full read);
  *    it is a fingerprint, not an integrity seal — the per-frame zstd/gzip
  *    checksums already cover corruption.
  * `statsLen` sits at the same end-relative offset (EOF-14) in v2 and v3,
  * and the last 10 bytes dispatch identically across all versions.
  */
object FwzFormat {

  val Extension = ".fwz"
  val Magic: Int = 0x47465A31 // "GFZ1"
  val Version: Byte = 1
  val VersionStats: Byte = 2
  val VersionStatsV3: Byte = 3
  val CodecZstd: Byte = 0
  val CodecGzip: Byte = 1
  val TrailerLen = 10
  val TrailerLenV2 = 14
  val TrailerLenV3 = 22

  /** flags bit0: the frame holds at least one non-null value (min/max valid). */
  val FlagHasValue: Int = 1
  /** flags bit1: the frame holds at least one SQL NULL (blank numeric field). */
  val FlagHasNull: Int = 2
  /** flags bit2: stats unknown for this frame — a skipper must keep it. */
  val FlagUnknown: Int = 4

  def isFramed(p: Path): Boolean = p.getName.toLowerCase.endsWith(Extension)

  def codecIdOf(name: String): Byte = name match {
    case "zstd" => CodecZstd
    case "gzip" => CodecGzip
    case other => throw new IllegalArgumentException(
      s"fixedwidth: unsupported framed compression codec '$other' (zstd, gzip)")
  }

  def codecNameOf(id: Byte): String = id match {
    case CodecZstd => "zstd"
    case CodecGzip => "gzip"
    case other => throw new IllegalArgumentException(
      s"fixedwidth: unknown fwz codec id $other")
  }

  /** One frame as planned: compressed range [cOff, cOff+cLen) holds the
    * dLen decompressed bytes at logical offset dOff. */
  final case class FwzFrame(cOff: Long, cLen: Long, dOff: Long, dLen: Long)

  /** Per-frame min/max of one declared field, as the raw byte slices of the
    * frame's extreme records. `flags(i)`/`mins(i)`/`maxs(i)` describe frame
    * i. `ftype` is the writer's layout type token (`long`, `decimal(9,2)`,
    * ...): extremes were RANKED under that type's ordering, so a reader
    * declaring a different type over the same bytes must ignore the entry
    * (numeric rank does not bound string rank and vice versa). `ordered`
    * (v3) asserts the frame extremes are non-overlapping ascending with
    * every frame holding a value — the binary-search license; consumers
    * re-check the flag invariant before trusting a foreign block
    * ([[FwzStats.compileSkipper]]). */
  final case class FwzFieldStats(
      name: String, ftype: String, start: Int, width: Int,
      flags: Array[Byte], mins: Array[Array[Byte]], maxs: Array[Array[Byte]],
      ordered: Boolean = false)

  /** The v2 stats block: the string-tracking conventions (charset + trim)
    * travel with the data so a reader with DIFFERENT string semantics
    * soundly ignores string-field stats instead of mis-skipping. */
  final case class FwzStatsBlock(
      charsetName: String, trimId: Byte, fields: Seq[FwzFieldStats]) {

    /** WHOLE-FILE envelope: the per-frame tables folded to one synthetic
      * frame per field (min of mins, max of maxs, flags OR'd; a single
      * unknown frame poisons its field to unknown). Lazily computed ONCE
      * per block — the block lives in the footer cache, so after the first
      * fold a query pays O(fields) to discard a whole out-of-range file
      * instead of O(frames): the difference between minutes and
      * milliseconds of driver planning on a 10^8-frame feed. Self-decoding
      * via the recorded `ftype` + trim/charset conventions, so the fold
      * needs no reader options. */
    lazy val envelope: FwzStatsBlock = FwzStatsBlock(
      charsetName, trimId,
      fields.map { f =>
        val n = f.flags.length
        var flags = 0
        var minV: Any = null
        var maxV: Any = null
        var minB: Array[Byte] = null
        var maxB: Array[Byte] = null
        var i = 0
        while (i < n && (flags & FlagUnknown) == 0) {
          val fl = f.flags(i)
          if ((fl & FlagUnknown) != 0) flags = FlagUnknown
          else {
            flags |= fl & (FlagHasValue | FlagHasNull)
            if ((fl & FlagHasValue) != 0) {
              try {
                val mn = FwzStatsDecode.decode(f.ftype, f.mins(i), trimId, charsetName)
                val mx = FwzStatsDecode.decode(f.ftype, f.maxs(i), trimId, charsetName)
                if (minV == null || mn.asInstanceOf[Comparable[Any]].compareTo(minV) < 0) {
                  minV = mn; minB = f.mins(i)
                }
                if (maxV == null || mx.asInstanceOf[Comparable[Any]].compareTo(maxV) > 0) {
                  maxV = mx; maxB = f.maxs(i)
                }
              } catch { case _: Exception => flags = FlagUnknown }
            }
          }
          i += 1
        }
        val zero = new Array[Byte](f.width)
        FwzFieldStats(f.name, f.ftype, f.start, f.width,
          Array(flags.toByte),
          Array(if (minB != null) minB else zero),
          Array(if (maxB != null) maxB else zero))
      })
  }

  /** trim option ↔ the byte recorded in the stats block. */
  val TrimIds: Map[String, Byte] =
    Map("right" -> 0.toByte, "left" -> 1.toByte, "both" -> 2.toByte, "none" -> 3.toByte)

  final case class FwzFooter(
      codec: Byte, frames: Seq[FwzFrame], stats: Option[FwzStatsBlock] = None) {
    def totalDLen: Long = if (frames.isEmpty) 0L else {
      val l = frames.last; l.dOff + l.dLen
    }
  }

  /** Compress one frame's decompressed bytes `bytes[0, len)` with `codec`.
    * zstd level 3 — the codec's own default, the ratio/speed point a feed
    * writer wants. The zstd branch compresses the prefix IN PLACE via the
    * length-bounded byte-array call — no ~frameBytes copy of the
    * uncompressed input on the write hot path (the only copy is of the
    * smaller compressed output, to size the result exactly). */
  def compressFrame(codec: Byte, bytes: Array[Byte], len: Int): Array[Byte] =
    codec match {
      case CodecZstd =>
        val dst = new Array[Byte](com.github.luben.zstd.Zstd.compressBound(len.toLong).toInt)
        val n = com.github.luben.zstd.Zstd.compressByteArray(
          dst, 0, dst.length, bytes, 0, len, 3)
        if (com.github.luben.zstd.Zstd.isError(n))
          throw new java.io.IOException(
            s"fixedwidth fwz: zstd compression failed: ${com.github.luben.zstd.Zstd.getErrorName(n)}")
        java.util.Arrays.copyOf(dst, n.toInt)
      case CodecGzip =>
        val bos = new java.io.ByteArrayOutputStream(len / 2 + 64)
        val g = new java.util.zip.GZIPOutputStream(bos)
        g.write(bytes, 0, len); g.close()
        bos.toByteArray
    }

  /** Decompressing stream over a CONTIGUOUS frame run already positioned at
    * the run's first compressed byte; `in` must be bounded to the run. */
  def frameRunStream(codec: Byte, in: java.io.InputStream): java.io.InputStream =
    codec match {
      case CodecZstd =>
        val z = new com.github.luben.zstd.ZstdInputStream(in)
        z.setContinuous(true) // read ACROSS concatenated frames
        z
      case CodecGzip =>
        new java.util.zip.GZIPInputStream(in, 64 * 1024) // multi-member capable
    }

  // ---- Footer memoization: the footer is immutable for a given
  // (path, length, mtime, tail fingerprint) and is consulted by count-star,
  // grouped-count, min/max ANSWERS, estimateStatistics AND split planning —
  // without the memo one query plan over a directory of framed files paid
  // repeated driver-side positioned-read round-trips per file (the same
  // reason Bz2SplitIndex memoizes its phase-1 index). Bounded by total
  // cached frames; wholesale-cleared past the bound (entries are cheap to
  // rebuild: two bounded reads).
  //
  // The TAIL FINGERPRINT (r16, mirroring the r14 Bz2SplitIndex fix): mtime
  // alone cannot see a same-length rewrite inside the filesystem's mtime
  // granularity, and since r15 the footer's statistics are answer-bearing
  // (q238/q239 MIN-MAX come straight from it), so a stale hit is a wrong
  // RESULT, not just a bad plan. The key therefore folds in a hash of the
  // file's last ≤4 KiB — trailer + frame-table tail + stats tail, and for
  // v3 files the writer's whole-file contentCrc, so ANY rewrite this
  // library's own sink produces changes the fingerprint. Residual honesty:
  // a v1/v2 file rewritten to identical length with identical framing and
  // identical last-4KiB stats bytes is undetectable — v3 exists to close
  // exactly that, and since r17 the sink writes v3 unconditionally (empty
  // stats block when no fields are tracked), so the gap survives only on
  // pre-r17 or foreign legacy files. Cost: one bounded positioned read per
  // cache consult, strictly cheaper than the trailer+table+stats reads a
  // miss pays.
  private val footerCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long, Long), FwzFooter]()
  private val cachedWeight = new java.util.concurrent.atomic.AtomicLong(0L)
  // Weight ≈ RETAINED BYTES (frames at ~48 B each, stats at their actual
  // per-frame slice size — a width-2000 stat field retains ~4 KB/frame, so
  // unit-per-frame accounting would let the "bounded" cache grow to GBs).
  // 64 MB driver-side; wholesale-cleared past the bound.
  private val MaxCachedWeight = 64L * 1024 * 1024

  private def weightOf(f: FwzFooter): Long = {
    val statBytes = f.stats.map(_.fields.map(fl => 1L + 2L * fl.width).sum).getOrElse(0L)
    f.frames.length.toLong * (48L + statBytes)
  }

  /** Content fingerprint folded into the cache key: FNV-1a-style hash of
    * the file's last ≤4 KiB (see the cache comment above for exactly what
    * that window covers per version). One bounded positioned read. */
  private def tailFingerprint(path: Path, fileLen: Long, conf: Configuration): Long = {
    val n = math.min(4096L, fileLen).toInt
    if (n <= 0) return 0L
    val in = path.getFileSystem(conf).open(path)
    try {
      val buf = new Array[Byte](n)
      in.readFully(fileLen - n, buf, 0, n)
      var h = 1125899906842597L
      var i = 0
      while (i < n) { h = h * 31 + buf(i); i += 1 }
      h
    } finally in.close()
  }

  /** [[readFooter]] memoized per (path, length, mtime, tail fingerprint). */
  def readFooterCached(path: Path, fileLen: Long, mtime: Long, conf: Configuration): FwzFooter = {
    val key = (path.toString, fileLen, mtime, tailFingerprint(path, fileLen, conf))
    val hit = footerCache.get(key)
    if (hit != null) return hit
    val f = readFooter(path, fileLen, conf)
    if (cachedWeight.get() > MaxCachedWeight) {
      footerCache.clear(); cachedWeight.set(0L)
    }
    if (footerCache.putIfAbsent(key, f) == null) cachedWeight.addAndGet(weightOf(f))
    f
  }

  /** [[readFooterCached]] with the mtime resolved by one driver-side stat
    * call — for callers that only know (path, length), e.g. planning from a
    * streaming source's recorded state. A stat is far cheaper than the two
    * positioned footer reads it saves on every repeat. A FAILED stat
    * bypasses the memo entirely (an uncached direct read): caching under a
    * sentinel mtime would make every stat-failing read of a same-length
    * path share one entry. */
  def readFooterCachedStat(path: Path, fileLen: Long, conf: Configuration): FwzFooter = {
    val mtime = try path.getFileSystem(conf).getFileStatus(path).getModificationTime
                catch { case _: java.io.IOException => return readFooter(path, fileLen, conf) }
    readFooterCached(path, fileLen, mtime, conf)
  }

  /** Read and validate a file's footer: two bounded reads (trailer, then
    * frame table + stats), magic/version/codec checks, and structural
    * consistency (compressed lengths + stats + footer + trailer must tile
    * the file exactly) so a truncated or foreign file fails loudly at PLAN
    * time, not mid-scan. */
  def readFooter(path: Path, fileLen: Long, conf: Configuration): FwzFooter = {
    require(fileLen >= TrailerLen,
      s"fixedwidth: $path is too short (${fileLen}B) for an fwz trailer")
    val in = path.getFileSystem(conf).open(path)
    try {
      val trailer = new Array[Byte](TrailerLen)
      in.readFully(fileLen - TrailerLen, trailer, 0, TrailerLen)
      val bb = java.nio.ByteBuffer.wrap(trailer)
      val nFrames = bb.getInt
      val codec = bb.get
      val version = bb.get
      val magic = bb.getInt
      if (magic != Magic)
        throw new IllegalArgumentException(
          s"fixedwidth: $path is not an fwz file (bad magic)")
      if (version != Version && version != VersionStats && version != VersionStatsV3)
        throw new IllegalArgumentException(
          s"fixedwidth: $path has fwz version $version, this reader supports " +
            s"$Version, $VersionStats and $VersionStatsV3")
      codecNameOf(codec) // validates
      val trailerLen = version match {
        case VersionStatsV3 => TrailerLenV3
        case VersionStats => TrailerLenV2
        case _ => TrailerLen
      }
      require(fileLen >= trailerLen,
        s"fixedwidth: $path is too short (${fileLen}B) for an fwz v$version trailer")
      // statsLen sits at EOF-14 in BOTH stats versions (v3 only prepends
      // the contentCrc, which planning never needs to read)
      val statsLen: Long =
        if (version == Version) 0L
        else {
          val sb = new Array[Byte](4)
          in.readFully(fileLen - TrailerLenV2, sb, 0, 4)
          java.nio.ByteBuffer.wrap(sb).getInt.toLong
        }
      // 16L·nFrames must fit BOTH the file and an Int-indexed array — a
      // corrupt trailer claiming ~2^27 frames must fail the validation
      // below, not overflow the allocation into NegativeArraySizeException.
      require(nFrames >= 0 && statsLen >= 0 &&
        16L * nFrames <= Int.MaxValue.toLong - trailerLen &&
        trailerLen + statsLen + 16L * nFrames <= fileLen,
        s"fixedwidth: $path fwz trailer claims $nFrames frames + ${statsLen}B stats, " +
          s"impossible for ${fileLen}B")
      val table = new Array[Byte](16 * nFrames)
      in.readFully(fileLen - trailerLen - table.length, table, 0, table.length)
      val tb = java.nio.ByteBuffer.wrap(table)
      var cOff = 0L
      var dOff = 0L
      val frames = Seq.newBuilder[FwzFrame]
      var i = 0
      while (i < nFrames) {
        val cLen = tb.getLong
        val dLen = tb.getLong
        require(cLen > 0 && dLen > 0,
          s"fixedwidth: $path fwz frame $i has non-positive lengths ($cLen, $dLen)")
        frames += FwzFrame(cOff, cLen, dOff, dLen)
        cOff += cLen; dOff += dLen
        i += 1
      }
      require(cOff + statsLen + table.length + trailerLen == fileLen,
        s"fixedwidth: $path fwz frames cover ${cOff}B but the file holds " +
          s"${fileLen - statsLen - table.length - trailerLen}B of frame data — corrupt or truncated")
      val stats =
        if (statsLen == 0L) None
        else {
          require(statsLen <= Int.MaxValue.toLong,
            s"fixedwidth: $path fwz stats block too large (${statsLen}B)")
          val sbuf = new Array[Byte](statsLen.toInt)
          in.readFully(fileLen - trailerLen - table.length - statsLen, sbuf, 0, sbuf.length)
          Some(parseStats(path, sbuf, nFrames, hasOrdered = version == VersionStatsV3))
        }
      FwzFooter(codec, frames.result(), stats)
    } finally in.close()
  }

  private def parseStats(
      path: Path, buf: Array[Byte], nFrames: Int, hasOrdered: Boolean): FwzStatsBlock = {
    val bb = java.nio.ByteBuffer.wrap(buf)
    def fail(why: String): Nothing =
      throw new IllegalArgumentException(s"fixedwidth: $path fwz stats block corrupt: $why")
    def utf8(n: Int): String = {
      if (n < 0 || bb.remaining() < n) fail("string overruns block")
      val b = new Array[Byte](n); bb.get(b)
      new String(b, java.nio.charset.StandardCharsets.UTF_8)
    }
    if (bb.remaining() < 1) fail("empty")
    val charsetName = utf8(bb.get() & 0xff)
    if (bb.remaining() < 3) fail("truncated header")
    val trimId = bb.get()
    val nFields = bb.getShort.toInt
    if (nFields < 0) fail(s"negative field count $nFields")
    val fields = (0 until nFields).map { _ =>
      if (bb.remaining() < 1) fail("truncated field entry")
      val name = utf8(bb.get() & 0xff)
      if (bb.remaining() < 1) fail(s"truncated field entry '$name'")
      val ftype = utf8(bb.get() & 0xff)
      if (bb.remaining() < 8) fail(s"truncated field entry '$name'")
      val start = bb.getInt
      val width = bb.getInt
      if (start < 0 || width <= 0 || width > 0xffff) fail(s"field '$name' bad range [$start,+$width)")
      val ordered =
        if (!hasOrdered) false
        else {
          if (bb.remaining() < 1) fail(s"truncated field entry '$name'")
          bb.get() != 0
        }
      if (bb.remaining().toLong < (1L + 2L * width) * nFrames)
        fail(s"field '$name' per-frame table overruns block")
      val flags = new Array[Byte](nFrames)
      val mins = new Array[Array[Byte]](nFrames)
      val maxs = new Array[Array[Byte]](nFrames)
      var i = 0
      while (i < nFrames) {
        flags(i) = bb.get()
        val mn = new Array[Byte](width); bb.get(mn); mins(i) = mn
        val mx = new Array[Byte](width); bb.get(mx); maxs(i) = mx
        i += 1
      }
      FwzFieldStats(name, ftype, start, width, flags, mins, maxs, ordered)
    }
    if (bb.remaining() != 0) fail(s"${bb.remaining()} trailing bytes")
    FwzStatsBlock(charsetName, trimId, fields)
  }

  /** Render a v3 stats block to its on-disk bytes. Size math is Long all
    * the way down — Int arithmetic overflows for wide stat fields over
    * ~10^5 frames (a negative `allocate` AFTER the whole expensive data
    * write); the Tracker's incremental guard fails such a write at the
    * first over-budget frame instead, so reaching the require here means a
    * caller bypassed the Tracker. */
  private def renderStats(stats: FwzStatsBlock, nFrames: Int): Array[Byte] = {
    val cs = stats.charsetName.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    require(cs.length <= 255, s"fixedwidth: charset name too long for fwz stats")
    val entries = stats.fields.map { f =>
      val name = f.name.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val ftype = f.ftype.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      require(name.length <= 255, s"fixedwidth: field name '${f.name}' too long for fwz stats")
      require(ftype.length <= 255, s"fixedwidth: type token '${f.ftype}' too long for fwz stats")
      require(f.flags.length == nFrames && f.mins.length == nFrames && f.maxs.length == nFrames,
        s"fixedwidth: stats for '${f.name}' cover ${f.flags.length} frames, file has $nFrames")
      (f, name, ftype)
    }
    val size: Long = 1L + cs.length + 1 + 2 +
      entries.map { case (f, n, t) =>
        1L + n.length + 1L + t.length + 9L + (1L + 2L * f.width) * nFrames
      }.sum
    require(size <= FwzStats.MaxStatsBlockBytes,
      s"fixedwidth: fwz stats block would be ${size}B (limit " +
        s"${FwzStats.MaxStatsBlockBytes}B — the trailer's statsLen is int32); " +
        "narrow 'frameStats' or raise 'frameBytes'")
    val bb = java.nio.ByteBuffer.allocate(size.toInt)
    bb.put(cs.length.toByte).put(cs).put(stats.trimId).putShort(stats.fields.length.toShort)
    entries.foreach { case (f, name, ftype) =>
      bb.put(name.length.toByte).put(name)
        .put(ftype.length.toByte).put(ftype)
        .putInt(f.start).putInt(f.width)
        .put(if (f.ordered) 1.toByte else 0.toByte)
      var i = 0
      while (i < nFrames) {
        require(f.mins(i).length == f.width && f.maxs(i).length == f.width,
          s"fixedwidth: stats slice width mismatch for '${f.name}' frame $i")
        bb.put(f.flags(i)).put(f.mins(i)).put(f.maxs(i))
        i += 1
      }
    }
    bb.array()
  }

  /** Append the footer + trailer for `frames` (written in order) to `out` —
    * version 1 without stats, version 3 with (`contentCrc` = CRC-32 over
    * all compressed frame bytes, ignored for v1). The production sink
    * ALWAYS passes a stats block since r17 — an empty one (no fields) when
    * no `frameStats` were requested — so every file it writes is v3 and
    * carries the contentCrc; the None→v1 branch remains only so read-compat
    * tests can craft legacy fixtures. */
  def writeFooter(
      out: java.io.OutputStream, codec: Byte, frames: Seq[(Long, Long)],
      stats: Option[FwzStatsBlock] = None, contentCrc: Long = 0L): Unit = {
    val statsBytes = stats.map(renderStats(_, frames.length))
    statsBytes.foreach(out.write)
    val trailerLen = if (statsBytes.isDefined) TrailerLenV3 else TrailerLen
    val bb = java.nio.ByteBuffer.allocate(16 * frames.length + trailerLen)
    frames.foreach { case (cLen, dLen) => bb.putLong(cLen).putLong(dLen) }
    statsBytes.foreach { s => bb.putLong(contentCrc); bb.putInt(s.length) }
    bb.putInt(frames.length).put(codec)
      .put(if (statsBytes.isDefined) VersionStatsV3 else Version).putInt(Magic)
    out.write(bb.array())
  }
}

/** Decode one stats extreme slice under the block's RECORDED conventions —
  * shared by the whole-file envelope fold (no reader in sight) and the
  * plan-time skipper (whose string-validity gate guarantees the reader's
  * conventions equal the recorded ones; numeric parses are
  * convention-independent). Same parsers a record read uses. */
private[fixedwidth] object FwzStatsDecode {
  def decode(ftype: String, b: Array[Byte], trimId: Byte, charsetName: String): Any =
    ftype match {
      case "int" | "date" => Integer.valueOf(AsciiParse.parseInt(b, 0, b.length))
      case "long" | "timestamp" => java.lang.Long.valueOf(AsciiParse.parseLong(b, 0, b.length))
      case "double" =>
        val d = AsciiParse.parseDouble(b, 0, b.length)
        java.lang.Double.valueOf(if (d == 0.0d) 0.0d else d) // Catalyst -0.0 normalization
      case "string" =>
        val trimRight = trimId == 0 || trimId == 2
        val trimLeft = trimId == 1 || trimId == 2
        AsciiParse.decodeString(b, 0, b.length, trimLeft, trimRight,
          java.nio.charset.Charset.forName(charsetName))
      case FieldSpec.DecimalRe(p, s) =>
        AsciiParse.parseDecimal(b, 0, b.length, p.toInt, s.toInt).toJavaBigDecimal
      case other =>
        throw new IllegalArgumentException(s"fixedwidth: unknown fwz stats type token '$other'")
    }
}

/** Reads at most `limit` bytes from `in` — bounds a frame run so the
  * decompressor can never read into the footer (or a later chunk's frames)
  * and misparse it as a frame header. */
private[fixedwidth] final class BoundedInputStream(
    in: java.io.InputStream, private var limit: Long) extends java.io.InputStream {
  override def read(): Int =
    if (limit <= 0) -1
    else { val r = in.read(); if (r >= 0) limit -= 1; r }
  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    if (limit <= 0) return -1
    val r = in.read(b, off, math.min(len.toLong, limit).toInt)
    if (r > 0) limit -= r
    r
  }
  override def close(): Unit = in.close()
}
