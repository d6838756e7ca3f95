package graft.sources.fixedwidth

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.{CodecPool, CompressionCodecFactory, SplittableCompressionCodec}
import org.apache.spark.sql.SparkSession

/** One indexed bzip2 range: compressed bytes [cStart, cStart+cLen) own the
  * blocks starting in that range, which decompress to the dLen bytes at
  * logical (decompressed) offset dStart of the file's record stream. */
final case class Bz2Range(cStart: Long, cLen: Long, dStart: Long, dLen: Long)

/** Splittable bzip2 support for the fixedwidth source.
  *
  * The reference rejects every codec outright
  * (FixedLengthRecordReader.java:147-152 — "Compressed files not supported");
  * this source keeps that as the default, reads gzip whole-file under
  * `allowCompressed=true` (opt-in parity escape), and — because 100 TB feeds
  * arrive compressed — reads `.bz2` SPLIT, using Hadoop's own
  * SplittableCompressionCodec machinery.
  *
  * The fixed-length wrinkle vs. text: records don't self-delimit, so a
  * split must know its DECOMPRESSED start offset to find the record grid —
  * and a bzip2 block's decompressed offset is unknowable without knowing
  * every prior block's decompressed size. So: a one-time PHASE-1 index pass
  * decompresses each compressed range once (executor-parallel Spark job —
  * bzip2 blocks decompress independently, that's what makes the codec
  * splittable) to measure the ranges' decompressed lengths, a driver-side
  * prefix sum turns lengths into offsets, and phase 2 (the real scan) reads
  * each range already knowing its record grid: skip to the first record
  * start ≥ dStart, read every record starting before dStart+dLen, letting
  * the stream run past the range end to complete a spanning tail record.
  * Net cost: the corpus is decompressed twice, both times fully parallel —
  * the honest floor for record-grid alignment over a block codec with no
  * self-framing. The index is memoized per (path, length, mtime, rangeBytes,
  * tail fingerprint) for the life of the JVM, and — when the reader sets
  * `bz2IndexDir` — PERSISTED as a fingerprint-keyed JSON sidecar in that
  * directory, so a fresh driver JVM pays zero phase-1 jobs at plan time
  * (at 100 TB the once-per-JVM full-corpus decompress is the feature's
  * dominant cost; the sidecar amortizes it to once per file ever). The
  * sidecar is a pure cache: its name AND body carry the full key, a
  * mismatch or unreadable file is a miss that rebuilds, and the scan-time
  * fileDLen early-EOF guard stays the loud backstop.
  *
  * Block-boundary semantics (established empirically against Hadoop's
  * BZip2Codec, see the range-ownership rules below):
  *  - `createInputStream(in, d, s, e, BYBLOCK)` aligns to the FIRST block
  *    whose start is ≥ s; ranges tiling [0, fileLen) therefore own disjoint,
  *    exhaustive block sets under the half-open stop rule.
  *  - the stream does NOT stop at its end bound — it reads to file EOF;
  *    stopping is the caller's job.
  *  - a block transition surfaces as a read() returning EXACTLY 1 byte
  *    (the new block's first byte) with getPos() flipped to blockStart+1;
  *    within a block, getPos() is constant.
  */
object Bz2SplitIndex {

  private val logger = org.slf4j.LoggerFactory.getLogger(Bz2SplitIndex.getClass)

  private val cache = new ConcurrentHashMap[(String, Long, Long, Long, Long), Seq[Bz2Range]]()

  /** Test hook: drop the JVM memo so a spec can prove the sidecar path
    * alone (zero phase-1 jobs) serves a fresh "driver". */
  private[sources] def clearMemoForTest(): Unit = cache.clear()

  /** Indexed ranges for a SET of bz2 files — one executor-parallel phase-1
    * job covers every uncached (file, range) pair across the whole set, so
    * planning a directory of N large files decompresses the entire tree in
    * a single pass instead of N sequential per-file jobs. Memoized per
    * (path, len, mtime, rangeBytes, tailFingerprint) — mtime + the bzip2
    * footer-CRC fingerprint so a same-size rewrite (scratch fixtures, even
    * inside mtime granularity) can't serve a stale index, rangeBytes
    * because a different split setting is a different index (the first
    * read's granularity must not cap a later, finer read). The planner
    * reads a file at most one range wide whole ([[WholeFile]]) and never
    * indexes it; one passed here gets its one exact range. */
  def rangesOfAll(files: Seq[(String, Long)], rangeBytes: Long,
      conf: Configuration, indexDir: Option[String] = None): Map[String, Seq[Bz2Range]] = {
    val keyed = files.map { case (p, len) =>
      val hp = new Path(p)
      val mtime = hp.getFileSystem(conf).getFileStatus(hp).getModificationTime
      // the last ≤16 bytes hold the bzip2 stream footer + COMBINED CRC32 of
      // every block: any same-length rewrite inside the filesystem's mtime
      // granularity changes the key (a stale index silently duplicates or
      // drops records instead of erroring)
      (p, len, (p, len, mtime, rangeBytes, FwzFormat.tailFingerprint(hp, len, 16, conf)))
    }
    val unmemoized = keyed.filter { case (_, _, k) => !cache.containsKey(k) }
    // Sidecar tier between the JVM memo and phase 1: a hit with every key
    // field equal (path, len, mtime, rangeBytes, tail CRC fingerprint) is
    // the same index a fresh phase-1 pass would measure — load it into the
    // memo and skip the decompress entirely. Any miss/mismatch/IO failure
    // is just a cache miss: phase 1 rebuilds and overwrites.
    indexDir.foreach { dir =>
      unmemoized.foreach { case (_, _, k) =>
        loadSidecar(dir, k, conf).foreach(rs => cache.put(k, rs))
      }
    }
    val uncached = unmemoized.filter { case (_, _, k) => !cache.containsKey(k) }
    if (uncached.nonEmpty) {
      val bounds = uncached.flatMap { case (p, len, _) =>
        (0L until len by rangeBytes).map(s => (p, s, math.min(rangeBytes, len - s)))
      }
      // Executor-parallel phase 1: each range decompresses only its own
      // blocks (plus one overshoot byte at the boundary read). The Hadoop
      // conf rides along as a plain key-value map — executors in a real
      // cluster must resolve the same filesystem the driver listed.
      val confMap: Seq[(String, String)] = {
        val it = conf.iterator()
        val b = Seq.newBuilder[(String, String)]
        while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue) }
        b.result()
      }
      val sc = SparkSession.active.sparkContext
      val lens = sc.parallelize(bounds, math.min(bounds.size, sc.defaultParallelism))
        .map { case (p, s, l) =>
          val c = new Configuration(false)
          confMap.foreach { case (k, v) => c.set(k, v) }
          ((p, s), decompressedLengthOf(p, s, s + l, c))
        }
        .collect().toMap
      uncached.foreach { case (p, len, key) =>
        var dOff = 0L
        val out = Seq.newBuilder[Bz2Range]
        (0L until len by rangeBytes).foreach { s =>
          val l = math.min(rangeBytes, len - s)
          val dLen = lens((p, s))
          if (dLen > 0) { out += Bz2Range(s, l, dOff, dLen); dOff += dLen }
        }
        val ranges = out.result()
        cache.put(key, ranges)
        indexDir.foreach(dir => writeSidecar(dir, key, ranges, conf))
      }
    }
    keyed.map { case (p, _, k) => p -> cache.get(k) }.toMap
  }

  /** Sidecar object name for a cache key: content-addressed by a hash of
    * every key field, so a changed file (mtime/tail CRC), length, or range
    * granularity resolves to a DIFFERENT name — stale sidecars are never
    * read, they just age out as garbage. The full key is ALSO stored in the
    * sidecar body and verified on load (a name-hash collision degrades to a
    * cache miss, never a wrong index). */
  private def sidecarPath(dir: String, key: (String, Long, Long, Long, Long)): Path = {
    val (p, len, mtime, rb, tail) = key
    var h = 1125899906842597L
    p.foreach(c => h = h * 31 + c)
    Seq(len, mtime, rb, tail).foreach(v => h = h * 6364136223846793005L + v)
    new Path(dir, f"bz2idx-$h%016x-$len.json")
  }

  private def loadSidecar(dir: String, key: (String, Long, Long, Long, Long),
      conf: Configuration): Option[Seq[Bz2Range]] =
    try {
      val sp = sidecarPath(dir, key)
      val fs = sp.getFileSystem(conf)
      if (!fs.exists(sp)) return None
      val in = fs.open(sp)
      val bytes = try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](64 * 1024)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        out.toByteArray
      } finally in.close()
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytes)
      val (p, len, mtime, rb, tail) = key
      val keyOk = node.get("path").asText() == p &&
        node.get("len").asLong() == len && node.get("mtime").asLong() == mtime &&
        node.get("rangeBytes").asLong() == rb && node.get("tailCrc").asLong() == tail
      if (!keyOk) return None
      val arr = node.get("ranges")
      val rs = (0 until arr.size()).map { i =>
        val r = arr.get(i)
        Bz2Range(r.get(0).asLong(), r.get(1).asLong(), r.get(2).asLong(), r.get(3).asLong())
      }
      // Sanity against hand-damage: ranges must tile a prefix-summed grid —
      // ascending disjoint compressed ranges inside the file, decompressed
      // offsets an exact prefix sum. A violated invariant is a miss (phase 1
      // rebuilds); a PASSED one still leaves the reader's own fileDLen
      // early-EOF guard as the loud backstop at scan time.
      var cEnd = 0L; var dOff = 0L; var ok = true
      rs.foreach { r =>
        ok &&= r.cStart >= cEnd && r.cStart + r.cLen <= len && r.dLen > 0 && r.dStart == dOff
        cEnd = r.cStart + r.cLen; dOff = r.dStart + r.dLen
      }
      if (ok) Some(rs) else None
    } catch {
      case e: Exception =>
        logger.warn(s"fixedwidth: unreadable bz2 index sidecar in $dir " +
          s"for ${key._1} — rebuilding via phase 1 ($e)")
        None
    }

  /** Best-effort, atomically published (temp + rename): a concurrent writer
    * races to an identical result, a failed write costs only the next JVM's
    * phase-1 pass — never the plan. */
  private def writeSidecar(dir: String, key: (String, Long, Long, Long, Long),
      ranges: Seq[Bz2Range], conf: Configuration): Unit =
    try {
      val sp = sidecarPath(dir, key)
      val fs = sp.getFileSystem(conf)
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = mapper.createObjectNode()
      val (p, len, mtime, rb, tail) = key
      node.put("path", p); node.put("len", len); node.put("mtime", mtime)
      node.put("rangeBytes", rb); node.put("tailCrc", tail)
      val arr = node.putArray("ranges")
      ranges.foreach { r =>
        val e = arr.addArray()
        e.add(r.cStart); e.add(r.cLen); e.add(r.dStart); e.add(r.dLen)
      }
      val tmp = new Path(dir, s"${sp.getName}.inprogress-${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, true)
      try out.write(mapper.writeValueAsString(node).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      if (!fs.rename(tmp, sp)) { // racer published first — identical content
        fs.delete(tmp, false); ()
      }
    } catch {
      case e: Exception =>
        logger.warn(s"fixedwidth: bz2 index sidecar write to $dir failed " +
          s"for ${key._1} — next JVM re-pays phase 1 ($e)")
    }

  /** Single-file convenience over [[rangesOfAll]] (specs, small callers). */
  def rangesOf(path: String, fileLen: Long, rangeBytes: Long,
      conf: Configuration): Seq[Bz2Range] =
    rangesOfAll(Seq(path -> fileLen), rangeBytes, conf)(path)

  /** Decompressed byte count of the blocks starting in [s, e) of `path` —
    * the phase-1 kernel. Runs on executors. */
  private def decompressedLengthOf(
      path: String, s: Long, e: Long, conf: Configuration): Long = {
    val p = new Path(path)
    val codec = new CompressionCodecFactory(conf).getCodec(p) match {
      case sp: SplittableCompressionCodec => sp
      case other => throw new IllegalStateException(
        s"fixedwidth: $path is not a splittable codec (${other})")
    }
    val raw = p.getFileSystem(conf).open(p)
    val dec = CodecPool.getDecompressor(codec.asInstanceOf[org.apache.hadoop.io.compress.CompressionCodec])
    // every exit (return, require failure, IOException mid-range, codec
    // creation failure) must close the streams — task retries over many
    // files would otherwise leak executor file descriptors
    var in: java.io.InputStream = null
    try {
      val sin = codec.createInputStream(raw, dec, s, e,
        SplittableCompressionCodec.READ_MODE.BYBLOCK)
      in = sin
      // current block = the one the stream aligned to (getPos reports its
      // start before the first read; 0-start streams report 0)
      var currentBlock = sin.getPos
      if (s > 0 && currentBlock >= e) return 0L
      var lastRawPos = sin.getPos
      var count = 0L
      val buf = new Array[Byte](64 * 1024)
      var n = sin.read(buf)
      while (n >= 0) {
        if (sin.getPos != lastRawPos) {
          val newBlock = sin.getPos - 1
          lastRawPos = sin.getPos
          if (newBlock != currentBlock) {
            // a real block transition (not the aligned block's own +1 flip)
            require(n == 1, s"fixedwidth bz2: block-boundary read returned " +
              s"$n bytes (expected 1) at $path pos ${sin.getPos} — Hadoop " +
              "BYBLOCK semantics changed; refusing to mis-index")
            if (newBlock >= e) return count // next range's block
            currentBlock = newBlock
          }
        }
        count += n
        n = sin.read(buf)
      }
      count
    } finally {
      try { if (in != null) in.close() else raw.close() }
      finally CodecPool.returnDecompressor(dec)
    }
  }
}
