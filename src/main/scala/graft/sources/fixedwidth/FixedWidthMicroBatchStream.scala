package graft.sources.fixedwidth

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxBytes, ReadMaxFiles, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Streaming offset = a metadata-log SEQUENCE NUMBER — O(1) regardless of
  * how many files the source has ever seen (round-2 design note fixed: the
  * previous offset carried the full seen-file map, O(total files) JSON per
  * trigger). */
final case class FixedWidthStreamOffset(seq: Long) extends Offset {
  override def json(): String = seq.toString
}

object FixedWidthStreamOffset {
  def fromJson(json: String): FixedWidthStreamOffset =
    FixedWidthStreamOffset(json.trim.toLong)
}

/** Compacting file-metadata log under the query's checkpoint location — the
  * same design as Spark's built-in file stream source. Entry `N.json` holds
  * the (path, length) pairs FIRST SEEN at batch N; every `compactInterval`-th
  * entry is instead a COMPACT entry holding the union of everything seen up
  * to N, so recovery replays at most `compactInterval` delta files plus one
  * compact file — never the whole history. Entries are immutable once
  * written; lengths recorded at discovery time make checkpointed batches
  * replay the exact same bytes (a file deleted after discovery fails loudly
  * at read time instead of silently shrinking the batch).
  */
final class FixedWidthFileLog(dir: Path, conf: Configuration, compactInterval: Int = 10) {
  private val fs = dir.getFileSystem(conf)
  private val mapper = new ObjectMapper()

  private def entryPath(seq: Long) = new Path(dir, f"$seq%020d.json")

  def latestSeq(): Long = {
    if (!fs.exists(dir)) return 0L
    fs.listStatus(dir).map(_.getPath.getName).filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json").toLong).foldLeft(0L)(math.max)
  }

  def write(seq: Long, files: Map[String, Long], compact: Boolean): Unit = {
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val node = mapper.createObjectNode()
    node.put("compact", compact)
    val fnode = node.putObject("files")
    files.toSeq.sortBy(_._1).foreach { case (p, l) => fnode.put(p, l) }
    val tmp = new Path(dir, s".${entryPath(seq).getName}.tmp")
    val out = fs.create(tmp, true)
    out.write(mapper.writeValueAsString(node).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    if (!fs.rename(tmp, entryPath(seq)) && !fs.exists(entryPath(seq)))
      throw new java.io.IOException(s"fixedwidth stream: failed to commit log entry $seq")
  }

  /** Compact positions are deterministic — every compactInterval-th entry —
    * so readers jump straight to the nearest compact base, no scanning. */
  def isCompact(seq: Long): Boolean = seq % compactInterval == 0

  private def read(seq: Long): Map[String, Long] = {
    val in = fs.open(entryPath(seq))
    val bytes = try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in) finally in.close()
    val node = mapper.readTree(bytes)
    node.get("files").properties().iterator().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
  }

  /** Files first seen in entries (startExclusive, endInclusive]: union of the
    * window's entries minus everything known at the window start (a compact
    * entry inside the window is cumulative — the subtraction restores delta
    * semantics). Bounded by window size + one compact recovery. */
  def filesInRange(startExclusive: Long, endInclusive: Long): Map[String, Long] = {
    val prior = allSeenUpTo(startExclusive).keySet
    ((startExclusive + 1) to endInclusive)
      .foldLeft(Map.empty[String, Long])((acc, s) => acc ++ read(s))
      .filterNot { case (p, _) => prior.contains(p) }
  }

  /** Union of everything seen up to `seq`: nearest compact base + following
    * deltas — at most `compactInterval` reads, never the whole history. */
  def allSeenUpTo(seq: Long): Map[String, Long] = {
    if (seq <= 0) return Map.empty
    val base = (seq / compactInterval) * compactInterval
    val start = if (base > 0) read(base) else Map.empty[String, Long]
    ((base + 1) to seq).foldLeft(start)((acc, s) => acc ++ read(s))
  }
}

/** Micro-batch streaming read for the fixedwidth format
  * (`spark.readStream.format("fixedwidth")`): each micro-batch scans the
  * files that appeared since the previous offset, with the same
  * record-aligned partitioning and reader as the batch path. The reference
  * is batch-only MapReduce (SURVEY.md §2.9) — this is the [EXT] Structured
  * Streaming surface over the same byte format.
  *
  * Per-trigger work: ONE directory listing diffed against the in-memory
  * seen-set (rebuilt from the compacting log on restart); the offset itself
  * is a sequence number.
  *
  * Admission control (`SupportsAdmissionControl`): `maxFilesPerTrigger`,
  * `maxRecordsPerTrigger` and `maxBytesPerTrigger` bound each micro-batch —
  * on a 100 TB backfill, admitting the whole backlog as ONE batch pins the
  * full dataset into a single trigger's shuffle/state footprint; chunked
  * admission keeps per-batch memory and checkpoint commit latency flat.
  * Because records are fixed-length, `maxRecordsPerTrigger` is EXACT at
  * file granularity (records-per-file = bytes / recordLength, no sampling
  * or estimation), something a delimited format cannot promise without
  * reading the data — and exact for framed .fwz members too (their cached
  * footers carry decompressed lengths; r15). Caveat: for FOREIGN
  * compressed inputs (allowCompressed) the
  * on-disk length under-counts records, so record/byte admission caps
  * become conservative rate heuristics rather than exact — batch
  * CORRECTNESS is unaffected (partition planning shares the batch scan's
  * alignedPartitionsOf, including the r13 bz2 split path); only the
  * per-trigger batch sizing drifts looser. Under `Trigger.AvailableNow`
  * (`SupportsTriggerAvailableNow`) the backlog is SNAPSHOTTED at query
  * start and drained in limit-sized batches; files arriving mid-drain wait
  * for the next query run — Spark file-source parity.
  */
object FixedWidthMicroBatchStream {
  /** Prefix of `files` admissible under `limit`; always at least one file
    * when any are pending (a single file larger than the cap must still make
    * progress — Spark file-source semantics). Pure so the invariants are
    * property-testable without running a stream.
    *
    * `fwzRecords` carries EXACT per-file record counts for framed .fwz
    * members (from their already-cached footers — admission validated them
    * anyway): without it, compressed-length ÷ recordLength UNDERCOUNTS a
    * framed file several-fold and `maxRecordsPerTrigger` would admit that
    * many times the cap. With it, record admission is exact for .fwz like
    * it is for plain files, and byte admission weighs the DECOMPRESSED
    * size (records × recordLength — the work a batch actually does). */
  private[sources] def admissiblePrefix(
      limit: ReadLimit,
      files: Vector[(String, Long)],
      recordLength: Int,
      fwzRecords: Map[String, Long] = Map.empty): Vector[(String, Long)] = {
    def recordsOf(f: (String, Long)): Long =
      fwzRecords.getOrElse(f._1, f._2 / recordLength)
    // a strict PREFIX under the cap (not best-fit): admission must cut at the
    // first rejected file or batch boundaries would depend on later entries
    def capped(cap: Long, weight: ((String, Long)) => Long): Vector[(String, Long)] = {
      var out = Vector.empty[(String, Long)]
      var sum = 0L
      var done = false
      files.foreach { f =>
        val w = weight(f)
        if (!done && (out.isEmpty || sum + w <= cap)) { out :+= f; sum += w }
        else done = true
      }
      out
    }
    limit match {
      case _: ReadAllAvailable => files
      case l: ReadMaxFiles => files.take(l.maxFiles)
      case l: ReadMaxRows => capped(l.maxRows, recordsOf)
      case l: ReadMaxBytes => capped(l.maxBytes, f =>
        if (fwzRecords.contains(f._1)) recordsOf(f) * recordLength else f._2)
      case c: CompositeReadLimit =>
        c.getReadLimits.foldLeft(files)((acc, l) =>
          admissiblePrefix(l, acc, recordLength, fwzRecords))
      case _ => files // ReadMinRows etc.: no deferral semantics for files — admit
    }
  }
}

class FixedWidthMicroBatchStream(
    opts: FixedWidthOptions,
    tableOptions: CaseInsensitiveStringMap,
    requiredSchema: StructType,
    conf: Configuration,
    checkpointLocation: String,
    pushedFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private val log = new FixedWidthFileLog(new Path(checkpointLocation, "graft-file-log"), conf)

  // Recovered once at stream construction: current log head + seen paths.
  private var curSeq: Long = log.latestSeq()
  private val seen: scala.collection.mutable.Set[String] =
    scala.collection.mutable.Set.empty ++ log.allSeenUpTo(curSeq).keySet

  private def posLongOpt(k: String): Option[Long] =
    Option(tableOptions.get(k)).map { v =>
      val n =
        try v.trim.toLong
        catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"fixedwidth: option '$k' must be a positive integer, got '$v'")
        }
      if (n <= 0)
        throw new IllegalArgumentException(
          s"fixedwidth: option '$k' must be a positive integer, got '$v'")
      n
    }

  private val maxFilesPerTrigger: Option[Int] = posLongOpt("maxFilesPerTrigger").map { n =>
    if (n > Int.MaxValue)
      throw new IllegalArgumentException(s"fixedwidth: 'maxFilesPerTrigger' too large: $n")
    n.toInt
  }
  private val maxRecordsPerTrigger: Option[Long] = posLongOpt("maxRecordsPerTrigger")
  private val maxBytesPerTrigger: Option[Long] = posLongOpt("maxBytesPerTrigger")

  /** How long a framed file may stay unreadable AT A STABLE LENGTH before
    * the stream fails loudly instead of excluding it for another trigger.
    * A file still being written completes (or at least grows) within any
    * sane grace; one that sits frozen with an unreadable footer is
    * permanently corrupt, and silently under-reporting it forever behind a
    * WARN is the one place the streaming path was weaker than the batch
    * path (which fails loudly on the same directory). */
  private val fwzUnreadableGraceMs: Long =
    posLongOpt("fwzUnreadableGraceMs").getOrElse(10L * 60 * 1000)

  /** Backlog snapshot for Trigger.AvailableNow: fixed at query start, so the
    * drain has a definite end even while files keep landing. */
  private var availableNowBacklog: Option[Vector[(String, Long)]] = None

  /** Directory-pruned listing: files whose `col=value` path can never match
    * the pushed filters are not even admitted to the file log — on a
    * date-partitioned streaming feed the checkpoint state stays proportional
    * to the matching partitions. (Pruned-away files also never age into the
    * seen-set; that is fine because they could never produce rows.)
    *
    * Framed `.fwz` files additionally gate on FOOTER COMPLETENESS: a file a
    * foreign writer is still streaming has no trailer yet (this sink's own
    * commit protocol renames only completed files, but a watched directory
    * makes no such promise), and admitting it would crash the batch at plan
    * time. An incomplete file is simply NOT admitted this trigger — it stays
    * out of the seen-set, so the stream re-probes it every cycle and picks
    * it up in the trigger after its footer lands. The footer probe is
    * memoized per (path, length, mtime), so a completed file pays it once. */
  // Exact record counts of the VALID framed files seen by the latest
  // snapshot (from the same memoized footer read the completeness gate
  // pays) — admission reuses them instead of re-stat'ing every file.
  @volatile private var fwzRecords: Map[String, Long] = Map.empty
  // One WARN per (path, length): an excluded file must be visible in the
  // logs — "not yet complete" and "permanently corrupt" are
  // indistinguishable from outside at first sight, so the operator can see
  // what the stream is waiting on. Bounded: wholesale-cleared if
  // pathological growth.
  private val fwzWarned = scala.collection.mutable.Set.empty[(String, Long)]
  // Per path: (length, mtime, first seen unreadable in that state, last
  // seen failing). A length OR mtime change (the file grew / was rewritten
  // — including a deleted corrupt file REPLACED by a new same-length
  // still-being-written file within the grace) resets the first-unreadable
  // clock; a stable unreadable file past the grace fails the stream. The
  // last-failing stamp exists ONLY for eviction: a corrupt file that
  // intermittently drops out of the listing (eventually-consistent store,
  // flapping partition prune) must not get its grace clock reset by each
  // absence.
  private val fwzFirstUnreadable = scala.collection.mutable.Map.empty[String, (Long, Long, Long, Long)]
  private val logger = org.slf4j.LoggerFactory.getLogger(classOf[FixedWidthMicroBatchStream])

  private def snapshot(): Map[String, Long] = {
    val meta = Map.newBuilder[String, Long]
    val failingNow = scala.collection.mutable.Set.empty[String]
    val listed = FixedWidthTable.pruneFiles(
      FixedWidthTable.listPartitionedFiles(tableOptions, conf), opts, pushedFilters).kept
    // ALREADY-ADMITTED framed files skip the footer probe entirely: the
    // footer was complete when they were admitted, their record counts are
    // checkpointed, and nothing about them can affect admission again —
    // without this, a 10k-file watched directory pays 10k tail reads per
    // trigger forever (the r16 fingerprint fold made cache hits a
    // positioned read, which is fine per QUERY plan but not per streaming
    // trigger per processed file). The unseen ones are probed in one
    // parallel batch, then judged one by one in listing order.
    val unseen = listed.filter(st =>
      FwzFormat.isFramed(st.getPath) && !seen.contains(st.getPath.toString))
    val probed = unseen.map(_.getPath.toString).zip(FwzFormat.footersInParallel(unseen)(st =>
      FwzFormat.readFooterCached(st.getPath, st.getLen, st.getModificationTime, conf))).toMap
    val kept = listed
      .filter { st =>
        if (!FwzFormat.isFramed(st.getPath)) true
        else if (seen.contains(st.getPath.toString)) true
        else probed(st.getPath.toString) match {
          case scala.util.Success(footer) =>
            meta += st.getPath.toString -> footer.totalDLen / opts.recordLength
            fwzFirstUnreadable.remove(st.getPath.toString)
            true
          case scala.util.Failure(e) =>
            val pathStr = st.getPath.toString
            failingNow += pathStr
            val now = System.currentTimeMillis()
            fwzFirstUnreadable.get(pathStr) match {
              case Some((len0, mtime0, t0, _))
                  if len0 == st.getLen && mtime0 == st.getModificationTime =>
                if (now - t0 > fwzUnreadableGraceMs)
                  throw new IllegalStateException(
                    s"fixedwidth stream: framed file $pathStr has been unreadable at " +
                      s"a stable ${st.getLen} B for ${now - t0} ms (> " +
                      s"fwzUnreadableGraceMs=$fwzUnreadableGraceMs) — permanently " +
                      s"corrupt, not still-being-written; failing loudly like the " +
                      s"batch path would: $e", e)
                fwzFirstUnreadable(pathStr) = (len0, mtime0, t0, now)
              case _ =>
                fwzFirstUnreadable(pathStr) = (st.getLen, st.getModificationTime, now, now)
            }
            if (fwzWarned.size > 10000) fwzWarned.clear()
            if (fwzWarned.add((pathStr, st.getLen)))
              logger.warn(s"fixedwidth stream: excluding framed file ${st.getPath} " +
                s"(${st.getLen} B) until its footer becomes readable — a file " +
                "still being written completes (or grows) on its own; one frozen " +
                s"at this length past ${fwzUnreadableGraceMs} ms fails the stream: $e")
            false
        }
      }
    // Evict deadline entries only for files CONFIRMED resolved: admitted or
    // became readable (explicit remove above), or absent from the listing
    // for longer than the grace window (deleted for real — a file that
    // merely FLAPS out of an eventually-consistent listing or a moving
    // partition prune reappears within the grace, keeping its clock, so
    // the fail-loudly deadline still fires on a corrupt flapping file).
    // Still bounded: by the current failing set plus files failing within
    // the last grace window — unlike a wholesale clear at a size cap, a
    // genuinely corrupt file's grace clock is never reset, so the deadline
    // survives pathological directories, which is exactly when it matters.
    val evictNow = System.currentTimeMillis()
    fwzFirstUnreadable.filterInPlace { case (p, (_, _, _, lastFailing)) =>
      failingNow.contains(p) || evictNow - lastFailing <= fwzUnreadableGraceMs
    }
    fwzRecords = meta.result()
    kept.map(st => st.getPath.toString -> st.getLen).toMap
  }

  override def initialOffset(): Offset = FixedWidthStreamOffset(0L)

  /** Unseen files in deterministic (path) order — admission order must not
    * depend on filesystem listing order or a batch boundary would move
    * between runs of the same backlog. */
  private def freshFiles(): Vector[(String, Long)] =
    snapshot().filterNot { case (p, _) => seen.contains(p) }.toVector.sortBy(_._1)

  private def admissible(limit: ReadLimit, files: Vector[(String, Long)]): Vector[(String, Long)] = {
    // exact record counts for framed members, carried over from the footer
    // reads snapshot()'s completeness gate already paid — genuinely no
    // extra IO here (the stat-resolving fallback covers only a file that
    // somehow bypassed the snapshot, e.g. an AvailableNow backlog entry
    // surviving a fwzRecords wipe)
    val counts = files.collect {
      case (p, l) if FwzFormat.isFramed(new Path(p)) =>
        p -> fwzRecords.getOrElse(p,
          scala.util.Try(FwzFormat.readFooterCachedStat(new Path(p), l, conf).totalDLen)
            .getOrElse(l) / opts.recordLength)
    }.toMap
    FixedWidthMicroBatchStream.admissiblePrefix(limit, files, opts.recordLength, counts)
  }

  private def admit(files: Vector[(String, Long)]): Unit = {
    if (files.nonEmpty) {
      val fresh = files.toMap
      curSeq += 1
      val compact = log.isCompact(curSeq)
      if (compact) log.write(curSeq, log.allSeenUpTo(curSeq - 1) ++ fresh, compact = true)
      else log.write(curSeq, fresh, compact = false)
      seen ++= fresh.keySet
    }
  }

  override def getDefaultReadLimit: ReadLimit = {
    val limits = Seq(
      maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n)),
      maxRecordsPerTrigger.map(n => ReadLimit.maxRows(n)),
      maxBytesPerTrigger.map(n => ReadLimit.maxBytes(n))).flatten
    limits match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  override def prepareForTriggerAvailableNow(): Unit = synchronized {
    availableNowBacklog = Some(freshFiles())
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = synchronized {
    val pending = availableNowBacklog match {
      // AvailableNow: never look at the filesystem again — drain the snapshot
      case Some(b) => b.filterNot { case (p, _) => seen.contains(p) }
      case None => freshFiles()
    }
    admit(admissible(limit, pending))
    FixedWidthStreamOffset(curSeq)
  }

  override def latestOffset(): Offset =
    latestOffset(initialOffset(), ReadLimit.allAvailable())

  override def deserializeOffset(json: String): Offset = FixedWidthStreamOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FixedWidthStreamOffset].seq
    val e = end.asInstanceOf[FixedWidthStreamOffset].seq
    // Plan from the LOG's recorded (path, length) pairs, never from a fresh
    // listing: replaying a checkpointed batch after a file was deleted must
    // fail loudly at read time, not silently plan without it.
    val files = log.filesInRange(s, e).toSeq.sortBy(_._1)
    // pushed filters reach the planner too: fwz per-frame statistics can
    // skip compressed frames in a streamed batch exactly like a batch scan
    FixedWidthScan.alignedPartitionsOf(files, opts, None, pushedFilters)
  }

  // Pushed filters were fully accepted by the ScanBuilder (no residual), so
  // the streaming reader MUST evaluate them just like the batch reader does.
  override def createReaderFactory(): PartitionReaderFactory = readerFactory
  // one conf broadcast per stream, not one conf per task
  private lazy val readerFactory = new FixedWidthReaderFactory(opts, requiredSchema,
    SerializableHadoopConf.broadcast(conf), pushedFilters)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}
