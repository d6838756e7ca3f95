package graft.sources.fixedwidth

import org.apache.spark.sql.sources._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.fixedwidth.FwzFormat.{FlagHasNull, FlagHasValue, FlagUnknown, FwzFieldStats, FwzStatsBlock}

/** Per-frame column statistics for the framed `.fwz` layout — the parquet
  * row-group min/max idea applied to compressed fixed-width feeds (SURVEY
  * §7.5): the writer records each declared field's min/max RAW BYTE SLICE
  * per frame, and the planner skips whole frames a pushed range predicate
  * can never match, without decompressing a byte of them.
  *
  * The soundness contract that makes this safe on foreign-trim readers and
  * lossy encodes alike: stats are tracked over the bytes AS WRITTEN, parsed
  * back through the SAME decoders the reader runs ([[AsciiParse]]) — never
  * over the pre-encode input values. Whatever a reader will decode for a
  * record, the writer decoded identically when ranking extremes, so
  * `[decode(min), decode(max)]` always brackets every decoded value in the
  * frame. String ordering additionally depends on the trim convention and
  * charset, which therefore travel in the stats block; a reader whose
  * string semantics differ ignores string-field stats (numeric parses are
  * trim/charset-independent). Frame skipping is a pure optimization: the
  * per-record pushed-filter evaluation still runs on every record read, so
  * a skipped frame is exactly a frame whose records would all have been
  * filtered out one by one.
  */
object FwzStats {

  // ---------------------------------------------------------------- writer

  /** Tracks one open file's per-frame field statistics. One instance per
    * framed output file; [[frameDone]] once per flushed frame (over the
    * exact bytes being compressed), [[block]] at file close. */
  final class Tracker(opts: FixedWidthOptions, statFields: Seq[FieldSpec]) {
    private val recLen = opts.recordLength

    private final class FieldAcc(val f: FieldSpec) {
      val codec: FieldCodec = opts.codec(f)
      val flags = scala.collection.mutable.ArrayBuffer.empty[Byte]
      val mins = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      val maxs = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    }
    private val accs = statFields.map(new FieldAcc(_)).toArray
    // Incremental size guard: per-frame stats bytes this layout adds, and
    // the block's fixed header/field-entry overhead — checked BEFORE each
    // frame is folded so an over-budget write dies at the first bad frame,
    // not in renderStats after hours of data landed (checkStatsSize).
    private val perFrameBytes: Long = statFields.map(f => 1L + 2L * f.len).sum
    private val fixedBytes: Long = 4L + opts.charsetName.length +
      statFields.map(f => 11L + f.name.length + f.ftype.length).sum
    private var framesDone = 0L

    /** Fold one completed frame (`buf[0, len)`, an exact record multiple)
      * into the per-frame tables. Cost: one typed parse + compare per stat
      * field per record — write-path only, never on the scan hot path. */
    def frameDone(buf: Array[Byte], len: Int): Unit = {
      checkStatsSize(fixedBytes, perFrameBytes, framesDone + 1)
      framesDone += 1
      var ai = 0
      while (ai < accs.length) {
        val acc = accs(ai)
        val f = acc.f
        val codec = acc.codec
        var flags = 0
        var minV: AnyRef = null
        var maxV: AnyRef = null
        var minB: Array[Byte] = null
        var maxB: Array[Byte] = null
        try {
          var base = 0
          while (base < len) {
            val from = base + f.start
            val until = from + f.len
            // a UTF-8 string value shares `buf`, which stays unchanged
            // until this frame is folded
            val v = codec.statsValue(buf, from, until)
            if (v == null) flags |= FlagHasNull
            else {
              flags |= FlagHasValue
              if (minV == null || codec.compare(v, minV) < 0) {
                minV = v
                minB = java.util.Arrays.copyOfRange(buf, from, until)
              }
              if (maxV == null || codec.compare(v, maxV) > 0) {
                maxV = v
                maxB = java.util.Arrays.copyOfRange(buf, from, until)
              }
            }
            base += recLen
          }
        } catch {
          // A slice this writer produced always reparses; reaching here
          // means an exotic encode path — record "unknown" for the frame
          // (never skipped) rather than guessing bounds.
          case _: NumberFormatException =>
            flags = FlagUnknown
            minB = null; maxB = null
        }
        val zero = new Array[Byte](f.len)
        acc.flags += flags.toByte
        acc.mins += (if (minB != null) minB else zero)
        acc.maxs += (if (maxB != null) maxB else zero)
        ai += 1
      }
    }

    /** True iff no frame is unknown, at least one holds a value, and the
      * decoded extremes of the VALUE-BEARING frames are non-overlapping
      * ascending in file order (max_i ≤ min_j for consecutive value frames
      * i < j) — the writer PROVING frame-orderedness at close rather than
      * trusting a clustered-write hint. Frames with no value (all-null
      * runs, e.g. NULLS FIRST under a sort) carry no extremes and are
      * outside the lattice; a compare predicate can never match them, so
      * the skipper handles them by flag, not by bound. O(frames) decodes
      * of already-tracked slices, once per file close; a decode failure
      * just yields `false` (the flag is an optimization license, never
      * load-bearing). */
    private def proveOrdered(a: FieldAcc): Boolean = {
      val n = a.flags.length
      if (n == 0) return false
      var any = false
      var i = 0
      while (i < n) {
        val fl = a.flags(i)
        if ((fl & FlagUnknown) != 0) return false
        if ((fl & FlagHasValue) != 0) any = true
        i += 1
      }
      if (!any) return false
      try {
        var prevMax: AnyRef = null
        i = 0
        while (i < n) {
          if ((a.flags(i) & FlagHasValue) != 0) {
            val mn = a.codec.extreme(a.mins(i))
            if (prevMax != null && a.codec.compare(prevMax, mn) > 0) return false
            prevMax = a.codec.extreme(a.maxs(i))
          }
          i += 1
        }
        true
      } catch { case _: Exception => false }
    }

    def block(): FwzStatsBlock =
      FwzStatsBlock(
        opts.charsetName,
        FwzFormat.TrimIds(opts.trim),
        accs.toSeq.map(a => FwzFieldStats(
          a.f.name, a.f.ftype, a.f.start, a.f.len,
          a.flags.toArray, a.mins.toArray, a.maxs.toArray,
          ordered = proveOrdered(a))))
  }

  /** Hard ceiling on a rendered stats block: the trailer's statsLen is an
    * int32 and the render buffer a JVM array. */
  val MaxStatsBlockBytes: Long = Int.MaxValue.toLong - 64

  /** Fail fast when a stats block of `nFrames` frames would blow
    * [[MaxStatsBlockBytes]] — called per frame by the Tracker so the write
    * dies at the first over-budget frame, not at file close. */
  def checkStatsSize(fixedBytes: Long, perFrameBytes: Long, nFrames: Long): Unit = {
    val size = fixedBytes + perFrameBytes * nFrames
    if (size > MaxStatsBlockBytes)
      throw new IllegalArgumentException(
        s"fixedwidth: fwz stats block would reach ${size}B at frame $nFrames " +
          s"(limit ${MaxStatsBlockBytes}B — the trailer's statsLen is int32); " +
          "narrow 'frameStats' or raise 'frameBytes'")
  }

  /** Widest field the stats layout supports: parseStats bounds `width` at
    * 0xffff, so the WRITER must refuse wider fields up front — committing
    * a file whose own footer the reader then rejects would be the worst
    * failure mode (write succeeds, every read crashes). */
  val MaxStatFieldWidth = 0xffff

  /** Resolve + validate a writer's `frameStats` option value against the
    * declared layout: `all`, or a comma-separated subset of field names. */
  def resolveStatFields(spec: String, opts: FixedWidthOptions): Seq[FieldSpec] = {
    if (!opts.typed)
      throw new IllegalArgumentException(
        "fixedwidth: 'frameStats' requires a 'fields' layout (raw mode has no typed columns)")
    val t = spec.trim
    val resolved =
      if (t.equalsIgnoreCase("all")) opts.fields.toSeq
      else t.split(',').toIndexedSeq.map(_.trim).filter(_.nonEmpty).map { name =>
        opts.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
          throw new IllegalArgumentException(
            s"fixedwidth: 'frameStats' names unknown field '$name' " +
              s"(declared: ${opts.fields.map(_.name).mkString(", ")})"))
      }
    resolved.foreach { f =>
      if (f.len > MaxStatFieldWidth)
        throw new IllegalArgumentException(
          s"fixedwidth: 'frameStats' field '${f.name}' is ${f.len} bytes wide, " +
            s"exceeds the stats layout's $MaxStatFieldWidth-byte slice limit " +
            "(narrow the field or leave it out of frameStats)")
    }
    resolved
  }

  // --------------------------------------------------------------- planner

  /** Mutable plan-time counters surfaced as driver metrics (fwFramesSkipped). */
  final class PlanMetrics { var framesSkipped: Long = 0L }

  private final case class Pred(eval: Int => Boolean, trivial: Boolean)
  private val AlwaysTrue = Pred(_ => true, trivial = true)

  /** One range of decoded values, as two optional monotone tests on a
    * frame's decoded extremes: `reaches` tests the max and goes from false
    * to true over ascending extremes; `within` tests the min and goes from
    * true to false. A side with no test is unconstrained, and its bound is
    * never decoded. */
  private final case class ValueRange(
      reaches: Option[AnyRef => Boolean],
      within: Option[AnyRef => Boolean]) {
    def holds(min: AnyRef, max: AnyRef): Boolean = reaches.forall(_(max)) && within.forall(_(min))
  }

  /** Memoized sentinel for a stats slice that fails its typed parse (only
    * reachable via a foreign-written block) — leaves degrade to may-match. */
  private object Undecodable

  /** Control-flow escape from the ordered binary search back to the linear
    * leaf when a consulted bound is [[Undecodable]] (foreign block). */
  private object BailToLinear extends RuntimeException {
    override def fillInStackTrace(): Throwable = this
  }

  /** The stats entry of `block` usable for reader field `name`, applying
    * every soundness gate consumers must share: names match
    * case-insensitively; the byte range must be identical (a reader
    * declaring different offsets reads different bytes than the writer
    * ranked); the RECORDED type must equal the reader's (extremes were
    * ranked under the writer's type ordering — numeric rank does not bound
    * string rank over the same bytes, "9" > "10" as strings); and string
    * entries require the reader's trim + charset to equal the block's
    * recorded conventions (string ordering depends on both). */
  def usableEntry(
      opts: FixedWidthOptions,
      block: FwzStatsBlock,
      name: String): Option[(FieldCodec, FwzFieldStats)] =
    opts.fields.find(_.name.equalsIgnoreCase(name)).flatMap { fs =>
      val codec = opts.codec(fs)
      val stringOk = !codec.isString ||
        (FwzFormat.TrimIds.get(opts.trim).contains(block.trimId) &&
          block.charsetName.equalsIgnoreCase(opts.charsetName))
      if (!stringOk) None
      else block.fields.find(b =>
        b.name.equalsIgnoreCase(fs.name) && b.ftype == fs.ftype &&
          b.start == fs.start && b.width == fs.len)
        .map(codec -> _)
    }

  /** Compile the pushed conjunction into a per-frame may-match predicate
    * over `block`'s stats, or None when no filter constrains a covered
    * field (skipping would test nothing). The predicate is a sound
    * OVER-approximation: `false` proves no record in the frame satisfies
    * the full pushed conjunction — exactly the frames the reader would
    * decompress only to drop record by record. */
  def compileSkipper(
      filters: Array[Filter],
      opts: FixedWidthOptions,
      block: FwzStatsBlock): Option[Int => Boolean] = {
    if (filters.isEmpty || block.fields.isEmpty) return None

    /** Decoded extreme bounds, memoized per (entry, bound, frame): a
      * conjunction with several leaves on one field decodes each frame's
      * bound ONCE, not once per leaf — and one-sided comparisons never
      * decode the bound they don't test. Decoding goes through the reader's
      * field codec, whose conventions equal the recorded ones (the
      * string-validity gate above; numerics are convention-independent),
      * so it is identical to a record read of those bytes; pushed literals
      * convert through the same codec as the record filter's. A slice that
      * fails the typed parse — possible only in a foreign-written stats
      * block, since this writer ranks extremes through the same parser —
      * memoizes as [[Undecodable]] and the leaf degrades to may-match,
      * mirroring the envelope fold's degrade-don't-crash contract. */
    val decodeMemo = scala.collection.mutable.HashMap.empty[(FwzFieldStats, Boolean), Array[AnyRef]]
    def bound(codec: FieldCodec, st: FwzFieldStats, i: Int, wantMax: Boolean): AnyRef = {
      val arr = decodeMemo.getOrElseUpdate((st, wantMax), new Array[AnyRef](st.flags.length))
      var v = arr(i)
      if (v == null) {
        v = try codec.extreme(if (wantMax) st.maxs(i) else st.mins(i))
            catch { case _: Exception => Undecodable }
        arr(i) = v
      }
      v
    }

    def unknown(st: FwzFieldStats, i: Int): Boolean = (st.flags(i) & FlagUnknown) != 0
    def hasVal(st: FwzFieldStats, i: Int): Boolean = (st.flags(i) & FlagHasValue) != 0
    def hasNull(st: FwzFieldStats, i: Int): Boolean = (st.flags(i) & FlagHasNull) != 0

    /** The ordered flag is only a LICENSE when its invariant could hold:
      * no frame is unknown (a foreign block could set the bit vacuously).
      * The memo carries the indices of the VALUE-BEARING frames — the
      * subsequence the ordering invariant actually covers and the lattice
      * the binary search runs over (all-null frames can never match a
      * compare predicate and are excluded by flag). One O(frames) flag
      * scan, memoized per entry — bytes, not decodes. */
    val orderedOkMemo = scala.collection.mutable.HashMap.empty[FwzFieldStats, Option[Array[Int]]]
    def orderedValIdx(st: FwzFieldStats): Option[Array[Int]] =
      orderedOkMemo.getOrElseUpdate(st, {
        if (!st.ordered || st.flags.exists(fl => (fl & FlagUnknown) != 0)) None
        else {
          val b = Array.newBuilder[Int]
          var i = 0
          while (i < st.flags.length) {
            if ((st.flags(i) & FlagHasValue) != 0) b += i
            i += 1
          }
          Some(b.result())
        }
      })

    /** First index in [0, n) where monotone `p` flips to true; n if none. */
    def firstTrue(n: Int, p: Int => Boolean): Int = {
      var lo = 0
      var hi = n
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (p(mid)) hi = mid else lo = mid + 1
      }
      lo
    }

    /** Probe extreme `j` of an ordered lattice (an index into `valIdx`):
      * only O(log) bounds are probed, so the `ordered` contract (format
      * note) includes decodability of every extreme under the recorded
      * conventions — this writer proves it at close (proveOrdered decodes
      * all of them); a foreign block setting the bit over an undecodable
      * slice is as out-of-contract as one recording wrong extreme bytes. A
      * probed bound that still fails to decode bails the whole leaf back
      * to its linear walk. */
    def orderedBound(codec: FieldCodec, st: FwzFieldStats, valIdx: Array[Int])(
        j: Int, wantMax: Boolean): AnyRef = {
      val v = bound(codec, st, valIdx(j), wantMax)
      if (v eq Undecodable) throw BailToLinear
      v
    }

    /** Range leaf (`= < <= > >=`, IN, StringStartsWith): the union of
      * `ranges` over field `name`. Linear walk: a frame is kept when it is
      * unknown, or has a value and either a tested bound does not decode or
      * some range holds on every side it tests, so an empty set (an empty
      * IN, which matches nothing) skips every frame that has statistics, on
      * both paths. Ordered fast path: on a
      * proved-ordered field (mins AND maxs both ascend, since
      * max_i ≤ min_{i+1}), each range keeps one contiguous INTERVAL of the
      * value frames, found by binary search — O(|ranges|·log frames)
      * decodes against the linear walk's O(frames) (probe/decodability
      * contract: [[orderedBound]]):
      *   lo = first max that `reaches` (0 when untested)
      *   hi = last min `within` (the last value frame when untested).
      * The intervals merge (integer frame indices, so merging at gap 0 is
      * the exact union) and each frame binary-searches the merged starts;
      * all-null frames inside an interval are excluded by the hasVal check
      * (a range never matches null). The decisions are the linear walk's
      * EXACTLY (FwzOrderedSpec and FwzRangeRuleSpec pin this
      * differentially). */
    def rangeLeaf(name: String)(ranges: FieldCodec => Option[Seq[ValueRange]]): Pred =
      usableEntry(opts, block, name).flatMap { case (codec, st) =>
        ranges(codec).map { rs =>
          val testsMin = rs.exists(_.within.isDefined)
          val testsMax = rs.exists(_.reaches.isDefined)
          def linear: Pred = Pred(i => unknown(st, i) || (hasVal(st, i) && {
            val mn = if (testsMin) bound(codec, st, i, wantMax = false) else null
            val mx = if (testsMax) bound(codec, st, i, wantMax = true) else null
            (mn eq Undecodable) || (mx eq Undecodable) || rs.exists(_.holds(mn, mx))
          }), trivial = false)
          orderedValIdx(st) match {
            case None => linear
            case Some(valIdx) =>
              val m = valIdx.length
              val b = orderedBound(codec, st, valIdx) _
              try {
                // ranks within the value-frame subsequence, mapped back to
                // frame indices
                val ivs = rs.flatMap { r =>
                  val lo = r.reaches.fold(0)(t => firstTrue(m, j => t(b(j, true))))
                  val hi = r.within.fold(m)(t => firstTrue(m, j => !t(b(j, false)))) - 1
                  if (lo > hi) None else Some((valIdx(lo), valIdx(hi)))
                }.sortBy(_._1)
                val merged = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
                ivs.foreach { case (s, e) =>
                  if (merged.nonEmpty && s <= merged.last._2 + 1)
                    merged(merged.length - 1) = (merged.last._1, math.max(merged.last._2, e))
                  else merged += ((s, e))
                }
                if (merged.length == 1) {
                  // one interval stays two integer compares
                  val (lo, hi) = merged.head
                  Pred(i => i >= lo && i <= hi && hasVal(st, i), trivial = false)
                } else {
                  val starts = merged.map(_._1).toArray
                  val ends = merged.map(_._2).toArray
                  Pred(i => hasVal(st, i) && {
                    var k = java.util.Arrays.binarySearch(starts, i)
                    if (k < 0) k = -k - 2 // greatest start <= i
                    k >= 0 && i <= ends(k)
                  }, trivial = false)
                }
              } catch { case BailToLinear => linear }
          }
        }
      }.getOrElse(AlwaysTrue)

    /** The range of `x` with `c(x) op 0`, for a three-way compare `c`
      * against one literal: `=` tests both sides, `>`/`>=` only the max,
      * `<`/`<=` only the min. */
    def range(c: AnyRef => Int, op: String): ValueRange = op match {
      case "=" => ValueRange(Some(c(_) >= 0), Some(c(_) <= 0))
      case ">" => ValueRange(Some(c(_) > 0), None)
      case ">=" => ValueRange(Some(c(_) >= 0), None)
      case "<" => ValueRange(None, Some(c(_) < 0))
      case _ => ValueRange(None, Some(c(_) <= 0))
    }

    def cmpLeaf(name: String, value: Any, op: String): Pred =
      rangeLeaf(name)(codec =>
        codec.literal(value).map(lit => Seq(range(codec.compare(_, lit), op))))

    /** Unsigned-lexicographic compare of `u`'s first `n` BYTES against
      * prefix `p` (UTF8String order is bytewise, so byte truncation is the
      * exact parquet truncated-stats compare). Monotone in the UTF8 byte
      * order, so a prefix is an `=` range under it. */
    def prefixCmp(u: UTF8String, p: UTF8String): Int = {
      val ub = u.getBytes
      val pb = p.getBytes
      val n = math.min(ub.length, pb.length)
      var i = 0
      while (i < n) {
        val c = (ub(i) & 0xff) - (pb(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      // first min(|u|,|p|) bytes equal: if u carries at least |p| bytes its
      // prefix IS p (0); a shorter u is a strict prefix of p and ranks
      // below every p-prefixed string (-1)
      if (ub.length >= pb.length) 0 else -1
    }

    def compile(f: Filter): Pred = f match {
      case EqualTo(a, v) => cmpLeaf(a, v, "=")
      case GreaterThan(a, v) => cmpLeaf(a, v, ">")
      case GreaterThanOrEqual(a, v) => cmpLeaf(a, v, ">=")
      case LessThan(a, v) => cmpLeaf(a, v, "<")
      case LessThanOrEqual(a, v) => cmpLeaf(a, v, "<=")
      // an IN list is a disjunction of equalities: one `=` range per literal
      case In(a, vs) =>
        rangeLeaf(a) { codec =>
          val lits = vs.flatMap(codec.literal)
          Option.when(lits.length == vs.length)(
            lits.toSeq.map(lit => range(codec.compare(_, lit), "=")))
        }
      case IsNull(a) =>
        usableEntry(opts, block, a).map { case (codec, st) =>
          // string fields decode to "" (never SQL NULL) — IsNull can never
          // match, matching FixedWidthFilters.isNullPred
          if (codec.isString) Pred(i => unknown(st, i), trivial = false)
          else Pred(i => unknown(st, i) || hasNull(st, i), trivial = false)
        }.getOrElse(AlwaysTrue)
      case IsNotNull(a) =>
        usableEntry(opts, block, a).map { case (codec, st) =>
          if (codec.isString) AlwaysTrue // strings are never NULL
          else Pred(i => unknown(st, i) || hasVal(st, i), trivial = false)
        }.getOrElse(AlwaysTrue)
      case StringStartsWith(a, v) =>
        rangeLeaf(a) { codec =>
          val p = UTF8String.fromString(v)
          Option.when(codec.isString)(Seq(range(u => prefixCmp(u.asInstanceOf[UTF8String], p), "=")))
        }
      case And(l, r) =>
        val (lp, rp) = (compile(l), compile(r))
        if (lp.trivial) rp
        else if (rp.trivial) lp
        else Pred(i => lp.eval(i) && rp.eval(i), trivial = false)
      case Or(l, r) =>
        val (lp, rp) = (compile(l), compile(r))
        // an unconstrained arm makes the disjunction unconstrained
        if (lp.trivial || rp.trivial) AlwaysTrue
        else Pred(i => lp.eval(i) || rp.eval(i), trivial = false)
      case _ => AlwaysTrue // contains/endsWith and anything else: no interval inference
    }

    val preds = filters.map(compile).filterNot(_.trivial)
    if (preds.isEmpty) None
    else Some(i => preds.forall(_.eval(i)))
  }
}
