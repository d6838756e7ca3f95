package graft.sources.fixedwidth

import scala.collection.immutable.ArraySeq

/** One record-aligned piece of one file, in one of four layouts. Each kind
  * plans itself from a file (its companion's `plan`) and is read by its own
  * cursor in [[ChunkedRecordStream]]. The split between the two is the
  * reference's: planning in `FixedLengthInputFormat.getSplits` (:276-298),
  * reading in `FixedLengthRecordReader` (:147-152, :221-243). */
sealed trait FileChunk {
  def filePath: String
  /** The on-disk byte range [start, start + length) the chunk reads, where
    * its block locations are looked up. */
  def start: Long
  def length: Long
  /** Packing weight: the bytes of records the chunk yields where the plan
    * knows them, its on-disk size where it does not. */
  def weight: Long = length
}

/** Bytes [start, start + length) of an uncompressed file: every record
  * starting in the range belongs to the chunk. */
final case class PlainRange(filePath: String, start: Long, length: Long) extends FileChunk

object PlainRange {
  /** The file's records [firstRec, lastRec) of `clip`, cut every `aligned`
    * bytes (a record multiple). Under PERMISSIVE the trailing fragment past
    * the last whole record is never read; a file the clip misses yields
    * nothing. */
  def plan(path: String, clip: (Long, Long), recLen: Long, aligned: Long): Seq[PlainRange] = {
    val usable = clip._2 * recLen
    (clip._1 * recLen until usable by aligned).map(s => PlainRange(path, s, math.min(aligned, usable - s)))
  }
}

/** A whole compressed file read through its Hadoop codec: gzip, any codec
  * without block structure, and a bzip2 file no wider than one index range.
  * `length` is its on-disk size; its decompressed size is unknown, so that
  * is also its weight. */
final case class WholeFile(filePath: String, length: Long) extends FileChunk {
  def start: Long = 0L
}

/** A SPLIT bzip2 range ([[Bz2SplitIndex]]): compressed bytes
  * [cStart, cStart + cLen) own the blocks that decompress to the `dLen`
  * bytes at decompressed offset `dStart`, and every record STARTING in
  * those bytes. `fileDLen`, the file's total decompressed length, lets the
  * cursor tell the file's genuine trailing fragment from an unexpected early
  * EOF (stale index, changed BYBLOCK semantics) and fail loudly on the
  * latter instead of silently dropping a spanning tail record. Packs by
  * `dLen`, known exactly from the index: compressed bytes would hand a
  * partition 4-10x the intended work at bzip2's typical ratios. */
final case class Bz2Split(
    filePath: String, cStart: Long, cLen: Long, dStart: Long, dLen: Long, fileDLen: Long)
    extends FileChunk {
  def start: Long = cStart
  def length: Long = cLen
  override def weight: Long = dLen
}

object Bz2Split {
  /** One chunk per indexed range of the file. */
  def plan(path: String, ranges: Seq[Bz2Range]): Seq[Bz2Split] = {
    val fileDLen = ranges.lastOption.fold(0L)(l => l.dStart + l.dLen)
    ranges.map(r => Bz2Split(path, r.cStart, r.cLen, r.dStart, r.dLen, fileDLen))
  }
}

/** A contiguous `.fwz` frame run ([[FwzFormat]]) starting at compressed
  * offset `cStart` and decompressed offset `dOrigin`. `frameLens` holds the
  * run's footer lengths as interleaved (cLen, dLen) pairs and `firstFrame`
  * the footer index of its first frame; the chunk owns the `dLen` bytes at
  * `dStart`, which a pushed limit/offset may clip inside the run. Frame
  * boundaries are record boundaries, so no record spans two runs. */
final case class FwzRun(
    filePath: String, cStart: Long, codec: Byte, dOrigin: Long, dStart: Long, dLen: Long,
    frameLens: ArraySeq[Long], firstFrame: Int)
    extends FileChunk {
  def start: Long = cStart
  def length: Long = frameLens.indices.by(2).iterator.map(frameLens).sum
  override def weight: Long = dLen
}

object FwzRun {
  /** The footer's exact (compressed, decompressed) frame grid plans the
    * file directly: contiguous frame runs, cut only at record-aligned frame
    * boundaries once a run owns `aligned` bytes, CLIPPED to the records
    * [firstRec, lastRec) of `clip` (a limit/offset on a compressed feed
    * decompresses only the frames it touches). No phase-1 job, no spanning
    * tail records.
    *
    * `skip(i)` is asked only of a frame inside the clip that sits on the
    * record grid on BOTH ends (writer frames always do; this only guards
    * foreign grids, where cutting it out would split a record), and a true
    * answer cuts frame i out of the runs: never decompressed, never read. */
  def plan(path: String, footer: FwzFormat.FwzFooter, clip: (Long, Long), recLen: Long,
      aligned: Long)(skip: Int => Boolean): Seq[FwzRun] = {
    val lo = clip._1 * recLen
    val hi = clip._2 * recLen
    val out = Seq.newBuilder[FwzRun]
    var run = List.empty[FwzFormat.FwzFrame] // reversed
    var runFirst = 0 // footer index of the run's first frame
    var runOrigin = 0L // decompressed offset of the run's first frame
    def flush(): Unit = if (run.nonEmpty) {
      val frames = run.reverse
      val dEnd = math.min(hi, run.head.dOff + run.head.dLen)
      val dStart = math.max(lo, runOrigin)
      if (dEnd > dStart)
        out += FwzRun(path, frames.head.cOff, footer.codec, runOrigin, dStart, dEnd - dStart,
          ArraySeq.from(frames.iterator.flatMap(f => Iterator(f.cLen, f.dLen))), runFirst)
      run = Nil
    }
    footer.frames.zipWithIndex.foreach { case (f, i) =>
      val fEnd = f.dOff + f.dLen
      if (fEnd > lo && f.dOff < hi) { // frame overlaps the clip
        if (f.dOff % recLen == 0 && fEnd % recLen == 0 && skip(i)) {
          flush() // the gap ends the current contiguous run
        } else {
          if (run.isEmpty) { runFirst = i; runOrigin = f.dOff }
          run = f :: run
          // cut only where the NEXT chunk would start on the record grid —
          // writer-produced frames always do; a recordLength-mismatched
          // read just degrades to coarser chunks
          val owned = math.min(hi, fEnd) - math.max(lo, runOrigin)
          if (owned >= aligned && fEnd % recLen == 0) flush()
        }
      }
    }
    flush()
    out.result()
  }
}
