package graft.sources.fixedwidth

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Column pruning (`SupportsPushDownRequiredColumns`): the reference always
  * materializes the whole record (SURVEY.md §4 table); here a projection that
  * only needs 2 of 16 fields decodes exactly those 2 byte ranges — the IO is
  * still one sequential pass (no indexes to skip with), but per-record CPU
  * drops with the projected width.
  *
  * Filter pushdown (`SupportsPushDownFilters`): supported comparison filters
  * are evaluated INSIDE the reader right after the predicate's own fields
  * decode, so non-matching records skip the remaining field decodes and the
  * row emit entirely. The source cannot skip IO (no indexes — same as the
  * reference), so every filter is also returned as a post-scan filter for
  * Spark to re-apply; the win is decode CPU, which is the per-record cost.
  */
class FixedWidthScanBuilder(
    opts: FixedWidthOptions,
    tableOptions: CaseInsensitiveStringMap,
    conf: Configuration)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownOffset {

  private var requiredSchema: StructType = opts.schema
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var groupedPushed = false // a GROUPED aggregate was fully pushed
  private var limitN: Long = -1L  // cap on raw record index (includes any offset)
  private var offsetN: Long = 0L  // records skipped from the front

  override def pruneColumns(required: StructType): Unit = {
    // Preserve OUR field order/decoders; keep only requested names. The
    // `_source_file` metadata column is not in opts.schema — append it
    // (always last) when the query references it.
    val wanted = required.fieldNames.toSet
    val base = opts.schema.fields.filter(f => wanted.contains(f.name))
    val meta =
      if (required.fieldNames.exists(_.equalsIgnoreCase(FixedWidthOptions.SourceFileCol)) &&
        !opts.fields.exists(_.name.equalsIgnoreCase(FixedWidthOptions.SourceFileCol)))
        Array(StructField(FixedWidthOptions.SourceFileCol, StringType, nullable = false))
      else Array.empty[StructField]
    requiredSchema = StructType(base ++ meta)
  }

  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter]): Array[org.apache.spark.sql.sources.Filter] = {
    // Fully accept what we can evaluate: the readers run these predicates
    // against the raw record buffer with Catalyst-identical semantics
    // (NULL/blank fields, -0.0, NaN ordering, binary UTF8 collation), so no
    // post-scan re-evaluation is needed and predicate-only columns can be
    // pruned from the read schema. Only unsupported shapes are residual.
    pushed = filters.filter(f => FixedWidthFilters.supported(f, opts))
    filters.filterNot(f => FixedWidthFilters.supported(f, opts))
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed

  // ---- COUNT(*) pushdown: the one aggregate an indexless fixed-width
  // format can answer with ZERO data IO — every record is recordLength
  // bytes, so the count is file lengths over the (partition-pruned) listing.
  // On a 100 TB feed, `SELECT count(*) ... WHERE date = X` becomes a driver-
  // side directory listing. Preconditions (else fall back to a normal scan):
  //  - global aggregation, COUNT(*) columns only (no group-by, no count(col)
  //    — typed fields can be NULL via blank bytes, which lengths can't see);
  //  - pushed filters, if any, are EXACTLY answered by directory pruning
  //    (PruneResult.exact) — a record-level residual would need real IO;
  //  - no DROPMALFORMED (dropped records aren't visible in lengths; the
  //    PERMISSIVE trailing-fragment floor IS visible — floor(len/recLen));
  //  - no compressed files (on-disk length ≠ record count) and, under
  //    FAILFAST, no truncated tail (the scan must throw, not undercount).
  private lazy val listedFiles = FixedWidthTable.listPartitionedFiles(tableOptions, conf)

  // One prune walk per pushed-filter set: the aggregate-pushdown probes
  // (countable, grouped counts, min/max preconditions, kept-with-parts) all
  // ask the same question — without the memo a single COUNT(*) planning
  // walked the full listing up to four times.
  private var pruneMemo: Option[(Seq[org.apache.spark.sql.sources.Filter],
    FixedWidthTable.PruneResult)] = None
  private def prunedForPushed(): FixedWidthTable.PruneResult = {
    val key = pushed.toSeq
    pruneMemo match {
      case Some((k, r)) if k == key => r
      case _ =>
        val r = FixedWidthTable.pruneFiles(listedFiles, opts, pushed)
        pruneMemo = Some((key, r))
        r
    }
  }

  private lazy val countable: Option[Long] = {
    val res = prunedForPushed()
    val recLen = opts.recordLength.toLong
    if (!res.exact || opts.dropMalformed) None
    else {
      // per-file exact counts: length arithmetic for plain files, footer
      // reads for framed .fwz (count(*) over a compressed feed without
      // decompressing a byte); any unknowable file disables the push
      val counts = res.kept.map(
        FixedWidthTable.exactRecordCount(_, recLen, opts.tolerant, conf))
      if (counts.exists(_.isEmpty)) None else Some(counts.flatten.sum)
    }
  }

  // GROUP BY over partition columns composes with the same trick: one group
  // per distinct directory assignment, its count from that directory's file
  // lengths. `SELECT date, count(*) ... GROUP BY date` on a date-partitioned
  // feed never opens a file. Group keys are merged by DECODED value (a
  // foreign `k=01` directory merges with `k=1`), validated driver-side;
  // doubles are refused (Catalyst normalizes -0.0/NaN in group keys — not
  // worth replicating for a pathological partition type).
  private var groupedRows: Seq[(Seq[String], Seq[FixedWidthListingCol])] = Nil
  private var groupedAggSchema: StructType = new StructType()
  private var groupFields: Seq[FieldSpec] = Nil

  private def groupColsOf(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Option[Seq[FieldSpec]] = {
    val cols = agg.groupByExpressions.toSeq.map {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference if nr.fieldNames.length == 1 =>
        nr.fieldNames()(0)
      case _ => return None
    }
    if (cols.distinct.length != cols.length) return None
    val fields = cols.map { c =>
      opts.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(return None)
    }
    if (fields.exists(_.ftype == "double")) return None
    Some(fields)
  }

  private def decodeDirValue(f: FieldSpec, raw: String): Any =
    FixedWidthTable.decodeDirValue(opts, f, raw)

  /** Grouped aggregate over partition columns, answered per DIRECTORY
    * group: COUNT(*) from per-file exact counts (plain length math, framed
    * footer reads — the original grouped-count push), and — r15 — MIN/MAX
    * of fwz-stats-covered fields from the group's files' footer envelopes:
    * `SELECT date, min(ts), max(ts), count(*) ... GROUP BY date` on a
    * compressed feed is a footer walk, zero data IO. Any unanswerable
    * position (unknowable count, plain/foreign member under min/max,
    * uncovered field) declines the whole push. */
  private def groupedAggOf(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Option[(Seq[FieldSpec], Seq[(Seq[String], Seq[FixedWidthListingCol])])] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    if (agg.aggregateExpressions.isEmpty ||
        !agg.aggregateExpressions.forall(e =>
          e.isInstanceOf[CountStar] || e.isInstanceOf[Min] || e.isInstanceOf[Max])) return None
    val fields = groupColsOf(agg).getOrElse(return None)
    if (opts.dropMalformed) return None
    val res = prunedForPushed()
    if (!res.exact) return None
    // need the partition assignment per kept file, not just the status
    val keptPaths = res.kept.map(_.getPath.toString).toSet
    val kept = listedFiles.filter(pf => keptPaths.contains(pf.status.getPath.toString))
    val recLen = opts.recordLength.toLong
    val lowerNames = fields.map(_.name.toLowerCase)
    if (kept.exists(pf => !lowerNames.forall(pf.partValues.contains))) return None
    try {
      // group files by decoded key; keep the first raw representative
      val grouped = scala.collection.mutable.LinkedHashMap
        .empty[Seq[Any], (Seq[String], scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.FileStatus])]
      kept.foreach { pf =>
        val raws = lowerNames.map(pf.partValues)
        val key = fields.zip(raws).map { case (f, r) => decodeDirValue(f, r) }
        grouped.getOrElseUpdate(key,
          (raws, scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]))._2 += pf.status
      }
      val rows = grouped.values.toSeq.map { case (raws, sts) =>
        val cols: Seq[FixedWidthListingCol] = agg.aggregateExpressions.toSeq.map {
          case _: CountStar =>
            // per-file exact counts; any unknowable file disables the push
            val counts = sts.map(FixedWidthTable.exactRecordCount(_, recLen, opts.tolerant, conf))
            if (counts.exists(_.isEmpty)) return None
            FixedWidthCountCol(counts.flatten.sum): FixedWidthListingCol
          case m: Min =>
            val f = minMaxFieldOf(m.column()).getOrElse(return None)
            footerExtremeOver(sts.toSeq, f, wantMax = false)
              .map(s => FixedWidthSliceCol(s"min(${f.name})", f, s): FixedWidthListingCol)
              .getOrElse(return None)
          case m: Max =>
            val f = minMaxFieldOf(m.column()).getOrElse(return None)
            footerExtremeOver(sts.toSeq, f, wantMax = true)
              .map(s => FixedWidthSliceCol(s"max(${f.name})", f, s): FixedWidthListingCol)
              .getOrElse(return None)
          case _ => return None
        }
        (raws, cols)
      }
      Some((fields, rows))
    } catch { case _: NumberFormatException => None }
  }

  /** A declared field a MIN/MAX aggregate may target (doubles refused:
    * Catalyst normalizes -0.0/NaN in ways not worth replicating). */
  private def minMaxFieldOf(
      e: org.apache.spark.sql.connector.expressions.Expression): Option[FieldSpec] = e match {
    case nr: org.apache.spark.sql.connector.expressions.NamedReference if nr.fieldNames.length == 1 =>
      opts.fields.find(f => f.name.equalsIgnoreCase(nr.fieldNames()(0))).filter(_.ftype != "double")
    case _ => None
  }

  /** Extreme of a stats-covered field over the given ALL-FRAMED files, from
    * their cached footers' whole-file envelopes — see the scaladoc on the
    * global path's footerExtremeOf wrapper inside globalListingAggOf. None
    * = not answerable; Some(None) = no non-null value (SQL NULL). */
  private def footerExtremeOver(
      files: Seq[org.apache.hadoop.fs.FileStatus], f: FieldSpec, wantMax: Boolean): Option[Option[Array[Byte]]] = {
    val recLen = opts.recordLength.toLong
    var best: Any = null
    var bestSlice: Array[Byte] = null
    files.foreach { st =>
      if (!FwzFormat.isFramed(st.getPath)) return None
      val footer =
        try FwzFormat.readFooterCached(st.getPath, st.getLen, st.getModificationTime, conf)
        catch { case _: Exception => return None }
      if (footer.totalDLen % recLen != 0) return None // foreign trailing fragment
      val block = footer.stats.getOrElse(return None)
      val entry = FwzStats.usableEntry(opts, block.envelope, f.name)
        .getOrElse(return None)._2
      val flags = entry.flags(0)
      if ((flags & FwzFormat.FlagUnknown) != 0) return None
      if ((flags & FwzFormat.FlagHasValue) != 0) {
        val slice = if (wantMax) entry.maxs(0) else entry.mins(0)
        val v =
          try FwzStatsDecode.decode(f.ftype, slice, block.trimId, block.charsetName)
          catch { case _: Exception => return None }
        val better = best == null || {
          val c = v.asInstanceOf[Comparable[Any]].compareTo(best)
          if (wantMax) c > 0 else c < 0
        }
        if (better) { best = v; bestSlice = slice }
      }
    }
    Some(Option(bestSlice))
  }

  // Global MIN/MAX over a partition column composes too: the distinct
  // directory values ARE the distinct column values (writer contract), so
  // "what date range does this feed cover?" is a listing walk. Values
  // compare through their DECODED Catalyst forms (all supported types are
  // Comparable with Catalyst-identical order: UTF8String binary, numeric,
  // Decimal; doubles refused — -0.0/NaN ordering not worth replicating).
  private var listingCols: Seq[FixedWidthListingCol] = Nil

  private def minMaxPreconditionsOk: Boolean = {
    val res = prunedForPushed()
    val recLen = opts.recordLength.toLong
    // every kept file must have a KNOWN, NONZERO record count: a directory
    // value backed only by record-less files (a tolerant trailing-fragment
    // file, or an empty framed write) must not surface in min/max
    res.exact && !opts.dropMalformed &&
      res.kept.forall(st =>
        FixedWidthTable.exactRecordCount(st, recLen, opts.tolerant, conf).exists(_ > 0L))
  }

  private def globalListingAggOf(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Option[Seq[FixedWidthListingCol]] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    if (agg.groupByExpressions.nonEmpty || agg.aggregateExpressions.isEmpty) return None

    def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[FieldSpec] =
      minMaxFieldOf(e)

    lazy val keptWithParts: Option[Seq[FixedWidthTable.PartitionedFile]] =
      if (!minMaxPreconditionsOk) None
      else {
        val keptPaths = prunedForPushed().kept
          .map(_.getPath.toString).toSet
        Some(listedFiles.filter(pf => keptPaths.contains(pf.status.getPath.toString)))
      }

    /** Extreme of a stats-covered field over an ALL-FRAMED kept listing,
      * from the cached footers' whole-file envelopes ([[FwzStats]]): the
      * min/max twin of the framed count(*) — `SELECT min(ts), max(ts),
      * count(*)` (the feed-freshness query) over a 100 TB compressed feed
      * becomes a footer walk with ZERO data IO. Sound because envelope
      * extremes are the decoded-value extremes of every record (tracked
      * through the reader's own parsers, type/slice/convention gated by
      * usableEntry); NULLs never participate (FlagHasValue); an unknown
      * envelope, a foreign trailing fragment, any plain/foreign member, or
      * a residual pushed filter disables the push. None = not answerable;
      * Some(None) = no non-null value anywhere (SQL NULL). */
    def footerExtremeOf(f: FieldSpec, wantMax: Boolean): Option[Option[Array[Byte]]] = {
      val res = prunedForPushed()
      if (!res.exact || opts.dropMalformed) return None
      footerExtremeOver(res.kept, f, wantMax)
    }

    /** Extreme of a partition column over the kept listing: None = not
      * answerable; Some(None) = no non-null value (SQL NULL result). */
    def extremeOf(f: FieldSpec, wantMax: Boolean): Option[Option[String]] =
      keptWithParts.flatMap { kept =>
        val lower = f.name.toLowerCase
        if (!kept.forall(_.partValues.contains(lower))) None
        else try {
          val candidates = kept.map(_.partValues(lower)).distinct
            .map(raw => raw -> FixedWidthTable.decodeDirValue(opts, f, raw))
            .filter(_._2 != null) // blank = SQL NULL: min/max ignore it
          if (candidates.isEmpty) Some(None)
          else Some(Some(candidates.reduceLeft { (a, b) =>
            val c = a._2.asInstanceOf[Comparable[Any]].compareTo(b._2)
            if ((c >= 0) == wantMax) a else b
          }._1))
        } catch { case _: NumberFormatException => None }
      }

    val cols = agg.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        countable.map(n => FixedWidthCountCol(n): FixedWidthListingCol).getOrElse(return None)
      case m: Min =>
        val f = fieldOf(m.column()).getOrElse(return None)
        extremeOf(f, wantMax = false)
          .map(raw => FixedWidthValueCol(s"min(${f.name})", f, raw): FixedWidthListingCol)
          .orElse(footerExtremeOf(f, wantMax = false)
            .map(s => FixedWidthSliceCol(s"min(${f.name})", f, s): FixedWidthListingCol))
          .getOrElse(return None)
      case m: Max =>
        val f = fieldOf(m.column()).getOrElse(return None)
        extremeOf(f, wantMax = true)
          .map(raw => FixedWidthValueCol(s"max(${f.name})", f, raw): FixedWidthListingCol)
          .orElse(footerExtremeOf(f, wantMax = true)
            .map(s => FixedWidthSliceCol(s"max(${f.name})", f, s): FixedWidthListingCol))
          .getOrElse(return None)
      case _ => return None
    }
    Some(cols)
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    if (agg.groupByExpressions.isEmpty) globalListingAggOf(agg).isDefined
    else groupedAggOf(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    if (agg.groupByExpressions.isEmpty)
      globalListingAggOf(agg) match {
        case Some(cols) =>
          listingCols = cols
          true
        // Never accept a PARTIAL pushdown (complete-unsupported cases): our
        // one-row answer is the FINAL aggregate, not a per-partition partial.
        case None => false
      }
    else
      groupedAggOf(agg) match {
        case Some((fields, rows)) =>
          import org.apache.spark.sql.connector.expressions.aggregate.{Max, Min}
          groupFields = fields
          groupedRows = rows
          groupedAggSchema = StructType(agg.aggregateExpressions.toSeq.zipWithIndex.map {
            case (m: Min, _) =>
              val f = minMaxFieldOf(m.column()).get
              StructField(s"min(${f.name})", f.dataType, nullable = true)
            case (m: Max, _) =>
              val f = minMaxFieldOf(m.column()).get
              StructField(s"max(${f.name})", f.dataType, nullable = true)
            case (_, i) =>
              StructField(s"count(*)${if (i == 0) "" else s"_$i"}", LongType, nullable = false)
          })
          groupedPushed = true
          true
        case None => false
      }

  // ---- LIMIT/OFFSET pushdown: truncate SPLIT PLANNING to the record index
  // range [offset, limit) — `df.limit(n)` on a 100 TB feed plans one tiny
  // partition instead of ~100k splits. Spark pushes `limit+offset` as the
  // limit when both are present, so the range math composes directly. Only
  // when the raw record stream maps 1:1 to output rows: no pushed filters
  // (they drop records AFTER the cap) and no DROPMALFORMED. Plain files
  // clip by length arithmetic and framed .fwz files by their footer grid
  // (r14 — `df.limit(n)` on a COMPRESSED feed also plans tiny); foreign
  // compressed files have unknown record counts and disable the push.
  private def canTruncate: Boolean =
    pushed.isEmpty && !opts.dropMalformed &&
      !listedFiles.exists(pf => FixedWidthTable.isCompressed(pf.status.getPath))

  override def pushLimit(limit: Int): Boolean =
    if (canTruncate) { limitN = limit.toLong; true } else false

  // The planned range is exact, so Spark can drop its own Limit operator.
  override def isPartiallyPushed(): Boolean = false

  override def pushOffset(offset: Int): Boolean =
    if (canTruncate) { offsetN = offset.toLong; true } else false

  override def build(): Scan =
    if (listingCols.nonEmpty)
      new FixedWidthListingAggScan(opts, listingCols)
    else if (groupedPushed)
      new FixedWidthCountScan(opts, groupFields, groupedRows, groupedAggSchema)
    else new FixedWidthScan(opts, tableOptions, requiredSchema, conf, pushed,
      recordRange = if (limitN >= 0 || offsetN > 0)
        Some((offsetN, if (limitN >= 0) limitN else Long.MaxValue)) else None)
}

/** One result column of a fully-listing-answered GLOBAL aggregate. */
sealed trait FixedWidthListingCol extends Serializable
final case class FixedWidthCountCol(n: Long) extends FixedWidthListingCol
/** min/max of a partition column: the winning directory value travels raw
  * and decodes on the executor (None = SQL NULL — no non-null value). */
final case class FixedWidthValueCol(alias: String, field: FieldSpec, raw: Option[String])
    extends FixedWidthListingCol
/** min/max answered from fwz footer statistics: the winning record's raw
  * field SLICE travels and decodes on the executor through the same
  * parsers a record read uses (None = SQL NULL — no non-null value). */
final case class FixedWidthSliceCol(alias: String, field: FieldSpec, slice: Option[Array[Byte]])
    extends FixedWidthListingCol

/** The whole scan when a global COUNT(*)/MIN/MAX-over-partition-columns
  * aggregate is fully pushed: one partition, ONE row, zero data IO. */
class FixedWidthListingAggScan(opts: FixedWidthOptions, cols: Seq[FixedWidthListingCol])
    extends Scan with Batch {

  override def readSchema(): StructType = StructType(cols.zipWithIndex.map {
    case (FixedWidthCountCol(_), i) => StructField(s"count(*)${if (i == 0) "" else s"_$i"}", LongType, nullable = false)
    case (FixedWidthValueCol(alias, f, _), _) => StructField(alias, f.dataType, nullable = true)
    case (FixedWidthSliceCol(alias, f, _), _) => StructField(alias, f.dataType, nullable = true)
  })

  override def toBatch: Batch = this
  override def description(): String =
    s"FixedWidthListingAggScan [PushedAggregates: ${cols.map {
      case FixedWidthCountCol(_) => "COUNT(*)"
      case FixedWidthValueCol(alias, _, _) => alias.toUpperCase
      case FixedWidthSliceCol(alias, _, _) => alias.toUpperCase + " (fwz stats)"
    }.mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] =
    Array(FixedWidthListingAggPartition(opts, cols))

  override def createReaderFactory(): PartitionReaderFactory = new PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] =
      new PartitionReader[InternalRow] {
        private val lp = p.asInstanceOf[FixedWidthListingAggPartition]
        private var emitted = false
        override def next(): Boolean = if (emitted) false else { emitted = true; true }
        override def get(): InternalRow = {
          val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(lp.cols.length)
          lp.cols.zipWithIndex.foreach {
            case (FixedWidthCountCol(n), i) => row.setLong(i, n)
            case (FixedWidthValueCol(_, _, None), i) => row.setNullAt(i)
            case (FixedWidthValueCol(_, f, Some(raw)), i) =>
              row.update(i, FixedWidthTable.decodeDirValue(lp.opts, f, raw))
            case (FixedWidthSliceCol(_, _, None), i) => row.setNullAt(i)
            case (FixedWidthSliceCol(_, f, Some(b)), i) =>
              row.update(i, FixedWidthTable.decodeSliceValue(lp.opts, f, b))
          }
          row
        }
        override def close(): Unit = ()
      }
  }
}

final case class FixedWidthListingAggPartition(
    opts: FixedWidthOptions, cols: Seq[FixedWidthListingCol]) extends InputPartition

/** The whole scan when a GROUPED aggregate over partition columns is fully
  * pushed down: zero data IO — COUNT(*) from the driver-side (pruned) file
  * listing, and MIN/MAX of fwz-stats-covered fields from the group's
  * files' footer envelopes (r15). One row per directory group. Group
  * values travel as the raw directory strings and decode on the executor
  * through the same decoders a record read uses; min/max values travel as
  * the winning records' raw field slices and decode identically
  * (FixedWidthTable.decodeSliceValue). */
class FixedWidthCountScan(
    opts: FixedWidthOptions,
    groupFields: Seq[FieldSpec],
    groups: Seq[(Seq[String], Seq[FixedWidthListingCol])],
    aggSchema: StructType) extends Scan with Batch {

  override def readSchema(): StructType = StructType(
    groupFields.map(f => StructField(f.name, f.dataType, nullable = true)) ++ aggSchema.fields)

  override def toBatch: Batch = this
  override def description(): String =
    s"FixedWidthCountScan(groups=${groups.length}) [PushedAggregates: " +
      aggSchema.fieldNames.map(n =>
        if (n.startsWith("count(*)")) "COUNT(*)" else n.toUpperCase).mkString(", ") +
      (if (groupFields.nonEmpty) s", GroupBy: ${groupFields.map(_.name).mkString(",")}" else "") + "]"

  override def planInputPartitions(): Array[InputPartition] =
    Array(FixedWidthCountPartition(opts, groupFields, groups, aggSchema))

  override def createReaderFactory(): PartitionReaderFactory = new PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] =
      new FixedWidthCountReader(p.asInstanceOf[FixedWidthCountPartition])
  }
}

final case class FixedWidthCountPartition(
    opts: FixedWidthOptions,
    groupFields: Seq[FieldSpec],
    groups: Seq[(Seq[String], Seq[FixedWidthListingCol])],
    aggSchema: StructType) extends InputPartition

class FixedWidthCountReader(p: FixedWidthCountPartition) extends PartitionReader[InternalRow] {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  private val nGroup = p.groupFields.length
  private val buf = new Array[Byte](p.opts.recordLength)
  private val row = new GenericInternalRow(nGroup + p.aggSchema.length)
  private val decoders: Array[() => Unit] =
    FixedWidthRowDecoders.plan(
      p.opts,
      StructType(p.groupFields.map(f => StructField(f.name, f.dataType))),
      buf, row, () => 0L)
  private val proj = UnsafeProjection.create(
    StructType(p.groupFields.map(f => StructField(f.name, f.dataType)) ++
      p.aggSchema.fields.zipWithIndex.map { case (f, i) => StructField(s"c$i", f.dataType) }))
  private var idx = -1

  override def next(): Boolean = { idx += 1; idx < p.groups.length }

  override def get(): InternalRow = {
    val (raws, aggVals) = p.groups(idx)
    java.util.Arrays.fill(buf, ' '.toByte)
    p.groupFields.zip(raws).foreach { case (f, raw) =>
      val bytes =
        if (f.ftype == "string") raw.getBytes(p.opts.charset)
        else raw.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      System.arraycopy(bytes, 0, buf, f.start, math.min(bytes.length, f.len))
    }
    var i = 0
    while (i < decoders.length) { decoders(i)(); i += 1 }
    aggVals.zipWithIndex.foreach {
      case (FixedWidthCountCol(n), j) => row.setLong(nGroup + j, n)
      case (FixedWidthSliceCol(_, _, None), j) => row.setNullAt(nGroup + j)
      case (FixedWidthSliceCol(_, f, Some(b)), j) =>
        row.update(nGroup + j, FixedWidthTable.decodeSliceValue(p.opts, f, b))
      case (FixedWidthValueCol(_, _, None), j) => row.setNullAt(nGroup + j)
      case (FixedWidthValueCol(_, f, Some(raw)), j) =>
        row.update(nGroup + j, FixedWidthTable.decodeDirValue(p.opts, f, raw))
    }
    proj(row)
  }

  override def close(): Unit = ()
}

class FixedWidthScan(
    opts: FixedWidthOptions,
    tableOptions: CaseInsensitiveStringMap,
    requiredSchema: StructType,
    conf: Configuration,
    pushedFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    recordRange: Option[(Long, Long)] = None)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  // ---- Runtime filtering (the DSv2 face of dynamic partition pruning):
  // Spark hands the scan join-key filters (typically In over the broadcast
  // side's keys) at EXECUTION time; we apply them to directory pruning only
  // — a star-join on a date-partitioned 100 TB feed then reads just the
  // dimension-selected directories. Spark re-evaluates the join itself, so
  // pruning-only application is always sound (and records inside kept
  // directories are untouched).
  private var runtimeFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  // Attributes must resolve against the scan's (column-pruned) OUTPUT —
  // Spark resolves them by name over readSchema, so advertise only declared
  // fields that survived pruning.
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    opts.fields
      .filter(f => requiredSchema.fieldNames.exists(_.equalsIgnoreCase(f.name)))
      .map(f => org.apache.spark.sql.connector.expressions.Expressions.column(f.name)).toArray

  override def filter(filters: Array[org.apache.spark.sql.sources.Filter]): Unit =
    runtimeFilters = filters.filter(f => FixedWidthFilters.supported(f, opts))

  override def readSchema(): StructType = requiredSchema

  /** Directory-pruned file listing, computed once per scan (plan time, on the
    * driver): pushed filters fully covered by a file's `col=value` path
    * segments skip the file's IO entirely — see FixedWidthTable.pruneFiles.
    * Statistics and split planning both read the pruned list, so Catalyst's
    * size estimates (broadcast decisions) shrink with the pruning too. */
  private lazy val listedFiles = FixedWidthTable.listPartitionedFiles(tableOptions, conf)
  private lazy val pruneResult: FixedWidthTable.PruneResult =
    FixedWidthTable.pruneFiles(listedFiles, opts, pushedFilters)
  private def prunedFiles = pruneResult.kept
  // set by planInputPartitions (which sees runtime filters); statistics and
  // the metric fall back to the static pruning before that
  @volatile private var filesPruned: Long = -1L

  /** Size/row statistics from file lengths — exact for this format (every
    * record is recordLength bytes), so Catalyst's broadcast-join threshold
    * sees the true table size instead of defaulting to "huge". When any
    * compressed file is present the on-disk length is NOT the data size, so
    * report unknown rather than an undercount that would trick Catalyst into
    * auto-broadcasting an arbitrarily large table. Row count floors per file
    * (a trailing fragment under PERMISSIVE yields no record). */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      private lazy val files = prunedFiles
      // per-file exact counts (length arithmetic / framed footer reads);
      // None if ANY file is unknowable (a foreign compressed member) —
      // report unknown rather than an undercount that would trick
      // Catalyst into auto-broadcasting an arbitrarily large table
      private lazy val counts: Option[Long] = {
        val cs = files.map(st => FixedWidthTable.exactRecordCount(
          st, opts.recordLength.toLong, opts.tolerant, conf))
        if (cs.exists(_.isEmpty)) None else Some(cs.flatten.sum)
      }
      override def sizeInBytes(): java.util.OptionalLong =
        counts.fold(java.util.OptionalLong.empty())(n =>
          java.util.OptionalLong.of(n * opts.recordLength)) // DECOMPRESSED bytes for framed members
      override def numRows(): java.util.OptionalLong =
        counts.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
    }
  override def toBatch: Batch = this
  override def description(): String =
    s"FixedWidthScan(recordLength=${opts.recordLength}, " +
      s"columns=[${requiredSchema.fieldNames.mkString(",")}], " +
      s"PushedFilters=[${pushedFilters.mkString(", ")}]" +
      recordRange.map { case (o, l) => s", PushedOffset=$o, PushedLimit=$l" }.getOrElse("") + ")"

  // ---- Storage-partitioned execution (the DSv2 analog of bucketed joins):
  // when every (statically pruned) file sits under directories binding the
  // same partition columns, report KeyGroupedPartitioning over those columns
  // — joins and aggregations clustered on them then skip the shuffle
  // entirely. Opt-in via spark.sql.sources.v2.bucketing.enabled (Spark
  // ignores the report otherwise), matching the conf that gates Spark's own
  // split-grouping machinery. Key values decode through the same path the
  // scan uses, so "k=1" and a foreign "k=01" directory land in ONE group.
  private lazy val keyedGroups: Option[(Seq[FieldSpec], Seq[(org.apache.spark.sql.catalyst.expressions.UnsafeRow, Seq[FixedWidthTable.PartitionedFile])])] = {
    // NB: the registered DEFAULT of spark.sql.sources.v2.bucketing.enabled
    // is true in Spark 4 — read the effective value (getConfString with a
    // fallback would ignore the registered default and misreport).
    val bucketing =
      try SparkSession.active.sessionState.conf.v2BucketingEnabled
      catch { case _: Exception => false }
    if (!bucketing || !opts.typed || recordRange.nonEmpty) None
    else {
      val keptPaths = prunedFiles.map(_.getPath.toString).toSet
      val kept = listedFiles.filter(pf => keptPaths.contains(pf.status.getPath.toString))
      if (kept.isEmpty) None
      else {
        // partition columns bound in EVERY file's path, in layout order,
        // restricted to the projected output (Spark resolves the reported
        // key expressions against the scan output schema)
        val common = opts.fields.filter { f =>
          val lower = f.name.toLowerCase
          requiredSchema.fieldNames.exists(_.equalsIgnoreCase(f.name)) &&
            kept.forall(_.partValues.contains(lower))
        }
        if (common.isEmpty) None
        else try {
          val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
            StructType(common.map(f => StructField(f.name, f.dataType))))
          val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(common.length)
          val groups = scala.collection.mutable.LinkedHashMap
            .empty[Seq[Any], (org.apache.spark.sql.catalyst.expressions.UnsafeRow, scala.collection.mutable.ArrayBuffer[FixedWidthTable.PartitionedFile])]
          kept.foreach { pf =>
            val key = common.map(f => FixedWidthTable.decodeDirValue(opts, f, pf.partValues(f.name.toLowerCase)))
            val entry = groups.getOrElseUpdate(key, {
              var i = 0
              while (i < common.length) { row.update(i, key(i)); i += 1 }
              (proj(row).copy(), scala.collection.mutable.ArrayBuffer.empty[FixedWidthTable.PartitionedFile])
            })
            entry._2 += pf
          }
          Some((common, groups.values.toSeq.map { case (k, fs) => (k, fs.toSeq) }))
        } catch { case _: NumberFormatException => None } // foreign garbage value
      }
    }
  }

  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning =
    keyedGroups match {
      case Some((fields, groups)) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          fields.map(f => org.apache.spark.sql.connector.expressions.Expressions.identity(f.name)).toArray,
          groups.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  /** Under key-grouped reporting every split holds exactly one partition-key
    * value, so rows within any Spark partition are trivially sorted (all
    * equal) by the key columns — reporting that ordering lets a sort-merge
    * join or sort-based aggregation on partition columns skip its SortExec
    * on top of the shuffle KeyGroupedPartitioning already skips: the plan
    * becomes a bare merge over the directory groups. Without key grouping,
    * chunk packing mixes partition values inside a split, so no ordering is
    * claimed. NB Spark applies the report only to key groups holding at most
    * ONE split (DataSourceV2ScanExecBase.outputOrdering is conservative
    * about split concatenation, even for constant-key orderings): one
    * file+split per directory gets the sortless merge join; multi-split
    * groups keep the shuffle-free join but re-sort locally. */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    keyedGroups match {
      case Some((fields, _)) =>
        fields.map(f => org.apache.spark.sql.connector.expressions.Expressions.sort(
          org.apache.spark.sql.connector.expressions.Expressions.identity(f.name),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray
      case None => Array.empty
    }

  /** Record-aligned split planning — see [[FixedWidthScan.alignedPartitions]].
    * Runtime (join-derived) filters, when present, are merged into the
    * pruning pass here — planInputPartitions runs after `filter()`. Under
    * key-grouped reporting, chunks never pack across partition values and
    * every split carries its key (Spark groups same-key splits itself;
    * runtime filtering may drop whole groups — reporting a SUBSET of the
    * original partition values is explicitly allowed). */
  override def planInputPartitions(): Array[InputPartition] = {
    val res =
      if (runtimeFilters.isEmpty) pruneResult
      else FixedWidthTable.pruneFiles(listedFiles, opts, pushedFilters ++ runtimeFilters)
    filesPruned = res.pruned
    // Frame skipping sees pushed AND runtime filters: a join-derived In on a
    // stats-covered key can skip compressed frames too (always sound — Spark
    // re-evaluates the join itself).
    val allFilters = pushedFilters ++ runtimeFilters
    val pm = new FwzStats.PlanMetrics
    val parts: Array[InputPartition] = keyedGroups match {
      case Some((_, groups)) =>
        val keptNow = res.kept.map(_.getPath.toString).toSet
        groups.toArray.flatMap { case (key, pfs) =>
          val files = pfs.collect { case pf if keptNow.contains(pf.status.getPath.toString) => pf.status }
          FixedWidthScan.alignedPartitions(files, opts, conf, None, allFilters, pm).map { p =>
            FixedWidthKeyedInputPartition(p.asInstanceOf[FixedWidthInputPartition], key)
          }
        }
      case None =>
        FixedWidthScan.alignedPartitions(res.kept, opts, conf, recordRange, allFilters, pm)
    }
    framesSkipped = pm.framesSkipped
    parts
  }
  @volatile private var framesSkipped: Long = 0L

  /** Plan-time metrics: files skipped by partition-directory pruning, and
    * compressed frames skipped by fwz per-frame statistics (visible in the
    * SQL UI next to the task-level records/bytes counters). */
  override def reportDriverMetrics(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(
      FixedWidthMetrics.task("fwFilesPruned",
        if (filesPruned >= 0) filesPruned else pruneResult.pruned),
      FixedWidthMetrics.task("fwFramesSkipped", framesSkipped))

  override def createReaderFactory(): PartitionReaderFactory =
    new FixedWidthReaderFactory(opts, requiredSchema, new SerializableHadoopConf(conf), pushedFilters)

  override def toMicroBatchStream(checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // Streaming plans bypass V2 column pruning, so Spark maps the
    // relation's output — the FULL table schema plus, when the query
    // references it, `_source_file` appended LAST — onto the batch's
    // vectors by ordinal. Emit the metadata column as a trailing vector
    // unconditionally: for streams that never reference it the aligned
    // prefix makes the extra vector inert (per-chunk path bytes, near-zero
    // cost), while omitting it breaks provenance-selecting streams with an
    // out-of-bounds read in ColumnarToRow. If a future Spark version runs
    // pruning on streams (requiredSchema would then already carry the
    // column), the presence check prevents a duplicate.
    //
    // UPGRADE TRIPWIRE: "extra trailing vectors are ignored" is observed
    // ColumnarToRow behavior, not documented contract, and the public DSv2
    // streaming API offers no callback handing the stream its actual
    // required schema (MicroBatchStream has no pruneColumns analog), so it
    // cannot be plumbed away. MetadataColumnSpec's "metacol8" test pins
    // both stream shapes (with and without _source_file referenced) and is
    // the test that MUST fail first if a Spark upgrade adds a strict
    // vector-count check here.
    val hasMeta = requiredSchema.fieldNames
      .exists(_.equalsIgnoreCase(FixedWidthOptions.SourceFileCol))
    val shadowed = opts.fields.exists(_.name.equalsIgnoreCase(FixedWidthOptions.SourceFileCol))
    val streamSchema =
      if (hasMeta || shadowed) requiredSchema
      else StructType(requiredSchema.fields :+
        StructField(FixedWidthOptions.SourceFileCol, StringType, nullable = false))
    new FixedWidthMicroBatchStream(opts, tableOptions, streamSchema, conf, checkpointLocation, pushedFilters)
  }

  /** Task-level metrics surfaced in the Spark UI / listener (the analog of
    * the reference's byte counter + progress, FixedLengthRecordReader.java:
    * 91,154-157,247). */
  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    FixedWidthMetrics.all
}

object FixedWidthMetrics {
  import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}

  class RecordsRead extends CustomSumMetric {
    override def name(): String = "fwRecordsRead"
    override def description(): String = "fixed-width records read"
  }
  class BytesRead extends CustomSumMetric {
    override def name(): String = "fwBytesRead"
    override def description(): String = "fixed-width bytes read"
  }
  class RecordsSkipped extends CustomSumMetric {
    override def name(): String = "fwRecordsSkipped"
    override def description(): String = "records skipped by pushed filters or dropped as malformed"
  }
  class RecordsMalformed extends CustomSumMetric {
    override def name(): String = "fwRecordsMalformed"
    override def description(): String = "records with >=1 malformed typed field (nulled or dropped)"
  }
  class FilesPruned extends CustomSumMetric {
    override def name(): String = "fwFilesPruned"
    override def description(): String = "files skipped by partition-directory pruning"
  }
  class FramesSkipped extends CustomSumMetric {
    override def name(): String = "fwFramesSkipped"
    override def description(): String = "fwz frames skipped by per-frame column statistics"
  }

  def all: Array[CustomMetric] =
    Array(new RecordsRead, new BytesRead, new RecordsSkipped, new RecordsMalformed,
      new FilesPruned, new FramesSkipped)

  // NB: parameter must not be called `name` — inside the anonymous class the
  // member `name()` would shadow it and `def name() = name` becomes a
  // scalac-optimized self-tail-call, i.e. an infinite loop.
  def task(metricName: String, metricValue: Long): CustomTaskMetric = new CustomTaskMetric {
    override def name(): String = metricName
    override def value(): Long = metricValue
  }
}

object FixedWidthScan {
  /** Record-aligned split planning — the reference's one real physical
    * planning rule (FixedLengthInputFormat.java:276-298): floor the target
    * split size to a record multiple so no partition ever holds a partial
    * record, bumping to at least one record when the target is smaller than a
    * single record (:281-285). Spark's own `FilePartition.maxSplitBytes`
    * slices at arbitrary byte offsets, so we plan partitions ourselves.
    * Honors `spark.sql.files.maxPartitionBytes` and spreads small inputs
    * across `defaultParallelism` like Spark's planner does.
    */
  def alignedPartitions(
      files: Seq[org.apache.hadoop.fs.FileStatus],
      opts: FixedWidthOptions,
      conf: Configuration = null,
      recordRange: Option[(Long, Long)] = None,
      pushedFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
      planMetrics: FwzStats.PlanMetrics = null): Array[InputPartition] = {
    val parts = alignedPartitionsOf(
      files.map(st => st.getPath.toString -> st.getLen), opts, recordRange,
      pushedFilters, planMetrics)
    if (conf == null) return parts
    // Attach HDFS block hosts per chunk for executor data locality (same
    // driver-side NN lookups Spark's own file sources do at plan time).
    val byPath = files.map(st => st.getPath.toString -> st).toMap
    parts.map { p =>
      val fwp = p.asInstanceOf[FixedWidthInputPartition]
      FixedWidthInputPartition(fwp.chunks.map { c =>
        val hosts =
          try {
            val st = byPath(c.filePath)
            val fs = st.getPath.getFileSystem(conf)
            fs.getFileBlockLocations(st, c.start, math.max(c.length, 1L))
              .flatMap(_.getHosts).toSeq.distinct.filterNot(_ == "localhost")
          } catch { case _: Exception => Nil }
        c.copy(hosts = hosts)
      })
    }
  }

  /** Plan from bare (path, length) pairs — used by the streaming source to
    * plan strictly from offset-recorded state rather than a live listing.
    *
    * `recordRange = Some((start, end))` restricts planning to the half-open
    * GLOBAL record index range [start, end) in listing order — the pushed
    * LIMIT/OFFSET truncation (the builder guarantees callers only pass it
    * when raw records map 1:1 to output rows and no compressed files exist).
    */
  def alignedPartitionsOf(
      files: Seq[(String, Long)],
      opts: FixedWidthOptions,
      recordRange: Option[(Long, Long)] = None,
      pushedFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
      planMetrics: FwzStats.PlanMetrics = null): Array[InputPartition] = {
    val recLen = opts.recordLength.toLong
    // .fwz first: the sink's OWN framed layout (FwzFormat) is always
    // readable — it is not the foreign-codec compatibility path the
    // allowCompressed gate exists for, and its footer makes it split
    // record-aligned with no phase-1 pass
    val (framedFiles, rest) = files.partition { case (p, _) =>
      FwzFormat.isFramed(new org.apache.hadoop.fs.Path(p))
    }
    val (compressed, plain) = rest.partition { case (p, _) =>
      FixedWidthTable.isCompressed(new org.apache.hadoop.fs.Path(p))
    }

    compressed.foreach { case (p, _) =>
      if (!opts.allowCompressed)
        throw new IllegalArgumentException(
          s"fixedwidth: compressed input is not supported: $p " +
            "(reference parity — set allowCompressed=true; .bz2 then reads " +
            "SPLIT on block boundaries, other codecs whole-file)")
    }
    plain.foreach { case (p, len) =>
      if (len % recLen != 0 && !opts.tolerant)
        throw new IllegalArgumentException(
          s"fixedwidth: file length $len of $p is not a multiple of recordLength=$recLen " +
            "(truncated or corrupt fixed-width file; mode=PERMISSIVE/DROPMALFORMED drops the trailing partial record)")
    }

    val session = SparkSession.active
    val maxPartitionBytes = session.sessionState.conf.filesMaxPartitionBytes
    val parallelism = session.sparkContext.defaultParallelism.toLong.max(1L)
    val totalBytes = plain.map(_._2).sum
    val bytesPerCore = totalBytes / parallelism
    // Same shape as Spark's FilePartition.maxSplitBytes: don't create
    // partitions bigger than maxPartitionBytes, but also don't leave cores
    // idle on small inputs; then align to the record grid.
    val target = math.min(maxPartitionBytes, math.max(bytesPerCore, 4L * 1024 * 1024))
    val aligned = math.max(recLen, (target / recLen) * recLen)

    val conf = session.sessionState.newHadoopConf()
    // footer per framed file, read ONCE here and shared by the record-range
    // clipping and the chunker below (two bounded reads per file, the
    // parquet planning shape)
    val fwzFooters: Map[String, FwzFormat.FwzFooter] = framedFiles.map { case (p, len) =>
      p -> FwzFormat.readFooterCachedStat(new org.apache.hadoop.fs.Path(p), len, conf)
    }.toMap

    val (rangeStart, rangeEnd) = recordRange.getOrElse((0L, Long.MaxValue))
    // Global record intervals are assigned over the ORIGINAL listing order
    // — plain and framed files interleave in one index space, so a pushed
    // [offset, limit) range clips both kinds consistently (foreign
    // compressed files disable the push before it reaches here, so their
    // unknowable counts never participate).
    val clipOf: Map[String, (Long, Long)] = {
      var recordsBefore = 0L
      files.map { case (p, len) =>
        val fileRecords =
          fwzFooters.get(p).map(_.totalDLen / recLen).getOrElse(len / recLen)
        val firstRec = math.max(0L, rangeStart - recordsBefore)
        val lastRec = math.min(fileRecords, rangeEnd - recordsBefore)
        recordsBefore += fileRecords
        p -> (firstRec, lastRec)
      }.toMap
    }
    val plainChunks = plain.flatMap { case (path, len) =>
      // PERMISSIVE: chunks cover only whole records; the trailing fragment
      // is never read. Whole files drop out when the pushed range doesn't
      // touch them.
      val (firstRec, lastRec) = clipOf(path)
      val usable = lastRec * recLen
      (firstRec * recLen until usable by aligned).map { start =>
        FileChunk(path, start, math.min(aligned, usable - start), compressed = false)
      }
    }
    // Compressed: the reference rejects codecs outright
    // (FixedLengthRecordReader.java:147-152); under the opt-in escape,
    // gzip (no block structure) stays one whole-file chunk while bzip2 —
    // Hadoop's SplittableCompressionCodec — is SPLIT on block boundaries
    // via the phase-1 decompressed-offset index (Bz2SplitIndex), so a
    // 100 TB compressed feed doesn't serialize into per-file readers.
    // Compressed range granularity: the plain-file target scaled by a
    // conservative 1:4 compression guess (granularity only — ownership
    // and grid math are exact), floored at 128 KiB (~1.5 bzip2 blocks).
    val bz2RangeBytes = math.max(128L * 1024, target / 4)
    val (bz2Files, wholeFile) =
      compressed.partition(_._1.toLowerCase.endsWith(".bz2"))
    // ONE phase-1 job for the whole file set — per-file jobs would run
    // serially at plan time and underutilize the cluster on each
    val bz2Ranges =
      if (bz2Files.isEmpty) Map.empty[String, Seq[Bz2Range]]
      else Bz2SplitIndex.rangesOfAll(bz2Files, bz2RangeBytes, conf, opts.bz2IndexDir)
    val gzChunks = bz2Files.flatMap { case (p, _) =>
      val rs = bz2Ranges(p)
      // total decompressed length, carried per chunk so the reader can
      // tell the file's genuine trailing fragment from an unexpected
      // early EOF (stale index / changed BYBLOCK semantics) and fail
      // loudly on the latter instead of silently dropping a spanning
      // tail record per range
      val fileDLen = rs.lastOption match {
        case Some(last) if last.dLen != Long.MaxValue => last.dStart + last.dLen
        case _ => -1L
      }
      rs.map(r =>
        FileChunk(p, r.cStart, r.cLen, compressed = true,
          dStart = r.dStart, dLen = r.dLen, fileDLen = fileDLen))
    } ++ wholeFile.map { case (p, len) =>
      FileChunk(p, 0L, len, compressed = true)
    }
    // Framed .fwz files: the footer's exact (compressed, decompressed)
    // frame grid plans chunks directly — contiguous frame runs cut only at
    // record-aligned frame boundaries, packed by their known decompressed
    // weight, CLIPPED to the pushed record range (a limit/offset on a
    // compressed feed decompresses only the frames it touches). No phase-1
    // job, no spanning tail records.
    val fwzChunks = framedFiles.flatMap { case (p, _) =>
      val footer = fwzFooters(p)
      val fileDLen = footer.totalDLen
      if (fileDLen % recLen != 0 && !opts.tolerant)
        throw new IllegalArgumentException(
          s"fixedwidth: fwz decompressed length $fileDLen of $p is not a multiple of " +
            s"recordLength=$recLen (wrong recordLength, or truncated write; " +
            "mode=PERMISSIVE/DROPMALFORMED drops the trailing partial record)")
      // the file's owned decompressed byte range under the pushed clip
      val (firstRec, lastRec) = clipOf(p)
      val lo = firstRec * recLen
      val hi = lastRec * recLen
      val out = Seq.newBuilder[FileChunk]
      var run = List.empty[FwzFormat.FwzFrame] // reversed
      var cBytes = 0L
      def flush(): Unit = if (run.nonEmpty) {
        val frames = run.reverse
        val dOrigin = frames.head.dOff
        val dEnd = math.min(hi, run.head.dOff + run.head.dLen)
        val dStart = math.max(lo, dOrigin)
        if (dEnd > dStart)
          out += FileChunk(p, frames.head.cOff, cBytes, compressed = true,
            dStart = dStart, dLen = dEnd - dStart, fileDLen = fileDLen,
            framedCodec = footer.codec, dOrigin = dOrigin)
        run = Nil; cBytes = 0L
      }
      // Per-frame statistics skipping ([[FwzStats]]): frames whose recorded
      // min/max prove no record can satisfy the pushed conjunction are cut
      // out of the runs entirely — never decompressed, never even read.
      // Gated off under a pushed record range: limit/offset semantics count
      // RAW records, and dropping frames would shift the grid (the builder
      // never pushes a range alongside filters, but runtime filters can
      // arrive independently).
      val statsUsable = pushedFilters.nonEmpty && recordRange.isEmpty && footer.stats.isDefined
      // WHOLE-FILE fast path: evaluate the pushed conjunction against the
      // footer's lazily-folded per-file envelope first — O(fields) to
      // discard an entirely out-of-range file, vs the O(frames) per-frame
      // walk below. On a 10^8-frame feed where most files are wholly in or
      // out of a date/key range, this is what keeps driver planning
      // milliseconds instead of minutes (the envelope is cached with the
      // footer, so its one-time fold amortizes across queries).
      if (statsUsable && FwzStats.compileSkipper(
          pushedFilters, opts, footer.stats.get.envelope).exists(sk => !sk(0))) {
        if (planMetrics != null)
          planMetrics.framesSkipped += footer.frames.length.toLong
        Nil
      } else {
      val skipper: Option[Int => Boolean] =
        if (!statsUsable) None
        else footer.stats.flatMap(FwzStats.compileSkipper(pushedFilters, opts, _))
      footer.frames.zipWithIndex.foreach { case (f, i) =>
        if (f.dOff + f.dLen > lo && f.dOff < hi) { // frame overlaps the clip
          // a skipped frame must sit on the record grid on BOTH ends or the
          // surrounding chunks' dStart/dLen math would split a record
          // (writer frames always do; this only guards foreign grids)
          if (skipper.exists(sk => !sk(i)) &&
              f.dOff % recLen == 0 && (f.dOff + f.dLen) % recLen == 0) {
            flush() // the gap ends the current contiguous run
            if (planMetrics != null) planMetrics.framesSkipped += 1
          } else {
            run = f :: run
            cBytes += f.cLen
            // cut only where the NEXT chunk would start on the record grid —
            // writer-produced frames always do; a recordLength-mismatched
            // read just degrades to coarser chunks and fails the check above
            val owned = math.min(hi, f.dOff + f.dLen) - math.max(lo, run.last.dOff)
            if (owned >= aligned && (f.dOff + f.dLen) % recLen == 0) flush()
          }
        }
      }
      flush()
      out.result()
      }
    }

    // Pack chunks into partitions up to the target size (greedy, listing
    // order) — a million small files must NOT become a million partitions.
    // Each chunk stays independently record-aligned, so packing never risks
    // a record straddling two files (the multi-file coalescing hazard
    // SURVEY.md §7.4 flags in Spark's own FilePartition packing).
    val partitions = scala.collection.mutable.ArrayBuffer.empty[InputPartition]
    val current = scala.collection.mutable.ArrayBuffer.empty[FileChunk]
    var currentBytes = 0L
    // Packing weight: split bz2 ranges pack by their DECOMPRESSED length
    // (known exactly from the phase-1 index) — packing by compressed bytes
    // would hand a partition 4-10x the intended work at bzip2's typical
    // ratios. Whole-file compressed chunks have no known decompressed size
    // and keep their on-disk weight.
    def weight(c: FileChunk): Long =
      if (c.dStart >= 0L && c.dLen != Long.MaxValue) c.dLen else c.length
    (plainChunks ++ gzChunks ++ fwzChunks).foreach { c =>
      if (current.nonEmpty && currentBytes + weight(c) > target) {
        partitions += FixedWidthInputPartition(current.toSeq)
        current.clear(); currentBytes = 0L
      }
      current += c
      currentBytes += weight(c)
    }
    if (current.nonEmpty) partitions += FixedWidthInputPartition(current.toSeq)
    partitions.toArray
  }
}

/** One record-aligned byte range of one file. `compressed` chunks with
  * `dStart < 0` cover the whole file (gzip path; `length` is the on-disk
  * compressed size); `compressed` chunks with `dStart >= 0` are SPLIT
  * bzip2 ranges — [start, start+length) in compressed bytes, owning the
  * blocks that decompress to the `dLen` logical bytes at decompressed
  * offset `dStart` (see [[Bz2SplitIndex]]). `hosts` are the HDFS block
  * hosts of the range (empty on non-located filesystems). */
final case class FileChunk(
    filePath: String, start: Long, length: Long, compressed: Boolean,
    hosts: Seq[String] = Nil, dStart: Long = -1L, dLen: Long = -1L,
    fileDLen: Long = -1L, framedCodec: Byte = -1, dOrigin: Long = -1L)

/** A packed set of independently record-aligned chunks (serialized driver →
  * executor; the Spark analog of a packed `FilePartition`). */
final case class FixedWidthInputPartition(chunks: Seq[FileChunk]) extends InputPartition {
  /** Hosts holding the most bytes of this partition, for locality-aware
    * scheduling on a real cluster. */
  override def preferredLocations(): Array[String] =
    chunks.flatMap(c => c.hosts.map(_ -> c.length))
      .groupMapReduce(_._1)(_._2)(_ + _)
      .toSeq.sortBy(-_._2).take(3).map(_._1).toArray
}

/** A split whose rows all share one partition-column value tuple — the
  * storage-partitioned-join unit. Spark groups same-key splits itself
  * (`spark.sql.sources.v2.bucketing.enabled`), so large directories keep
  * their intra-value split parallelism. */
final case class FixedWidthKeyedInputPartition(
    inner: FixedWidthInputPartition,
    key: org.apache.spark.sql.catalyst.expressions.UnsafeRow)
    extends InputPartition with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = key
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

class FixedWidthReaderFactory(
    opts: FixedWidthOptions,
    requiredSchema: StructType,
    conf: SerializableHadoopConf,
    pushedFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends PartitionReaderFactory {

  private def unwrap(partition: InputPartition): FixedWidthInputPartition = partition match {
    case k: FixedWidthKeyedInputPartition => k.inner
    case p: FixedWidthInputPartition => p
    case other => throw new IllegalStateException(s"fixedwidth: unexpected partition $other")
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new FixedWidthPartitionReader(unwrap(partition), opts, requiredSchema, conf.value, pushedFilters)

  /** Always columnar: with pushed filters the columnar reader evaluates
    * predicates per record and decodes only the survivors (same
    * skip-decode property as the row path) while keeping the batch output
    * format that whole-stage codegen consumes fastest. The row reader
    * remains for API completeness and as the plain-`InternalRow` fallback. */
  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createColumnarReader(partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new FixedWidthColumnarReader(unwrap(partition), opts, requiredSchema, conf.value, pushedFilters)
}

/** Chunk-walking record cursor shared by the row and columnar readers: opens
  * one stream at a time across a partition's packed chunks. `fetchBlock`
  * fills the caller's buffer with up to `max` whole records of ONE chunk
  * (so of one file) and sets `blockOffset` to the first one's byte offset
  * in its file, the reference's default key. An uncompressed chunk fills
  * the block with one bulk read; compressed chunks (`.fwz`, gzip, split
  * bz2) read record by record, keeping every EOF, stall and
  * trailing-fragment check. `fetch` is the one-record block.
  */
final class ChunkedRecordStream(
    part: FixedWidthInputPartition,
    opts: FixedWidthOptions,
    conf: Configuration) {

  private val recLen = opts.recordLength
  private var chunkIdx = -1
  private var rawIn: org.apache.hadoop.fs.FSDataInputStream = null
  private var compIn: java.io.InputStream = null
  private var curCompressed = false
  private var curDecompressor: org.apache.hadoop.io.compress.Decompressor = null
  private var curPath: String = ""
  private var end = 0L
  private var pos = 0L // byte offset in the current file (uncompressed/logical)
  // total decompressed file length for SPLIT compressed ranges (-1 when
  // unknown: plain, gzip whole-file, small-bz2 whole-file) — lets the
  // fetch loop tell the file's genuine trailing fragment from an
  // unexpected early EOF and fail loudly on the latter
  private var curFileDLen = -1L

  var recordsRead = 0L

  // Current file path as UTF-8 bytes, converted ONCE per chunk — the
  // `_source_file` metadata column must not pay a per-record String→UTF8
  // encode. Empty until the first chunk opens (readers only consult it
  // after a successful fetch).
  private var curPathUtf8: Array[Byte] = Array.emptyByteArray

  /** UTF-8 bytes of the file the LAST fetched record came from. */
  def currentPathUtf8: Array[Byte] = curPathUtf8

  def close(): Unit = {
    if (compIn != null) { compIn.close(); compIn = null }
    if (rawIn != null) { rawIn.close(); rawIn = null }
    if (curDecompressor != null) {
      org.apache.hadoop.io.compress.CodecPool.returnDecompressor(curDecompressor)
      curDecompressor = null
    }
  }

  private def openNextChunk(): Boolean = {
    close()
    chunkIdx += 1
    if (chunkIdx >= part.chunks.length) return false
    val c = part.chunks(chunkIdx)
    val p = new Path(c.filePath)
    rawIn = p.getFileSystem(conf).open(p)
    curCompressed = c.compressed
    curPath = c.filePath
    curPathUtf8 = c.filePath.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    curFileDLen = -1L
    if (c.framedCodec >= 0) {
      // framed .fwz chunk (FwzFormat): a contiguous frame run — seek,
      // decompress the run through one continuous stream bounded to its
      // compressed range (the bound keeps the decompressor from parsing
      // the footer or a later chunk's frames), and read the chunk's owned
      // records. No spanning tail: frame boundaries are record boundaries.
      // A pushed limit/offset may clip the owned range INSIDE the run —
      // the stream decodes from the run's first frame (dOrigin) and the
      // head [dOrigin, dStart) bytes are discarded here, outside any
      // record; trailing frame bytes past `end` are simply never read.
      rawIn.seek(c.start)
      compIn = FwzFormat.frameRunStream(c.framedCodec,
        new BoundedInputStream(rawIn, c.length))
      pos = c.dStart
      end = c.dStart + c.dLen
      curFileDLen = c.fileDLen
      var toSkip = c.dStart - (if (c.dOrigin >= 0L) c.dOrigin else c.dStart)
      if (toSkip > 0) {
        val scratch = new Array[Byte](math.min(toSkip, 64L * 1024).toInt)
        while (toSkip > 0) {
          val r = compIn.read(scratch, 0, math.min(toSkip, scratch.length.toLong).toInt)
          if (r <= 0) // r == 0: zstd continuous-mode stall on a dry bounded source
            throw new java.io.IOException(
              s"fixedwidth fwz: EOF while skipping to clipped offset ${c.dStart} " +
                s"of $curPath — footer grid inconsistent with frame payload")
          toSkip -= r
        }
      }
    } else if (c.compressed && c.dStart >= 0L) {
      // split bzip2 range: BYBLOCK stream aligned to the range's first
      // block; the record grid comes from the phase-1 index (dStart/dLen —
      // see Bz2SplitIndex). Skip to the first record start ≥ dStart, own
      // every record STARTING before dStart+dLen; the stream reads past
      // the range's blocks transparently, which is exactly what completes
      // a tail record spanning into the next range's blocks.
      val codec = new org.apache.hadoop.io.compress.CompressionCodecFactory(conf).getCodec(p)
      codec match {
        case sp: org.apache.hadoop.io.compress.SplittableCompressionCodec =>
          curDecompressor = org.apache.hadoop.io.compress.CodecPool.getDecompressor(codec)
          compIn = sp.createInputStream(rawIn, curDecompressor, c.start, c.start + c.length,
            org.apache.hadoop.io.compress.SplittableCompressionCodec.READ_MODE.BYBLOCK)
        case _ => throw new IllegalArgumentException(
          s"fixedwidth: ${c.filePath} planned as a split codec but no splittable Hadoop codec resolves")
      }
      end = if (c.dLen == Long.MaxValue) Long.MaxValue else c.dStart + c.dLen
      curFileDLen = if (c.dLen == Long.MaxValue) -1L else c.fileDLen
      val misalign = c.dStart % recLen
      val skip = if (misalign == 0L) 0L else recLen - misalign
      pos = c.dStart + skip
      var toSkip = skip
      val scratch = new Array[Byte](recLen)
      while (toSkip > 0) {
        val r = compIn.read(scratch, 0, math.min(toSkip, recLen.toLong).toInt)
        if (r < 0) toSkip = 0 // EOF inside the head fragment: range owns nothing
        else toSkip -= r
      }
    } else if (c.compressed) {
      val codec = new org.apache.hadoop.io.compress.CompressionCodecFactory(conf).getCodec(p)
      if (codec == null)
        throw new IllegalArgumentException(s"fixedwidth: no Hadoop codec for ${c.filePath}")
      compIn = codec.createInputStream(rawIn)
      pos = 0L
      end = Long.MaxValue // compressed whole-file: bounded by stream EOF
    } else {
      rawIn.seek(c.start)
      pos = c.start
      end = c.start + c.length
    }
    true
  }

  private def truncated(): Nothing =
    // Parity with the reference's truncated-record detection
    // (FixedLengthRecordReader.java:225-235).
    throw new java.io.IOException(
      s"fixedwidth: EOF mid-record at offset $pos of $curPath: " +
        s"file is not a multiple of recordLength=$recLen")

  /** Read up to `max` records of the current chunk into `dst`; 0 at its end. */
  private def fetchFromChunk(dst: Array[Byte], max: Int): Int =
    if (curCompressed) {
      var k = 0
      // split bz2 ranges bound `end` to their owned record starts (gzip
      // whole-file chunks set Long.MaxValue — EOF-bounded, check is free)
      while (k < max && pos < end) {
        var n = 0
        while (n < recLen) {
          val r = compIn.read(dst, k * recLen + n, recLen - n)
          if (r <= 0) {
            // r == 0 is an IO-protocol violation for a blocking stream —
            // zstd-jni's continuous mode can return it when a BOUNDED source
            // runs dry mid-frame (e.g. a corrupt .fwz whose per-frame cLens
            // tile the file but misalign with the actual frame payloads).
            // Treating it as progress would spin this loop forever inside a
            // task; fail loudly like any other corruption.
            if (r == 0)
              throw new java.io.IOException(
                s"fixedwidth: decompressor stalled (read 0 bytes) at logical " +
                  s"offset ${pos + n} of $curPath — corrupt compressed chunk")
            // EOF mid-chunk. For a SPLIT range with a known decompressed
            // file length, the ONLY legitimate mid-record EOF is the file's
            // genuine trailing fragment (the bz2 BYBLOCK stream reads past
            // its range bound to file EOF, so a spanning tail record always
            // completes; fwz frame grids come from the validated footer);
            // anything else means the phase-1 bz2 index is stale, BYBLOCK
            // semantics changed, or an fwz frame's payload disagrees with
            // its footer — fail loudly instead of silently dropping records
            // per range (phase 1 has the same guard as a require on
            // block-boundary reads).
            if (curFileDLen >= 0L) {
              val tailFragment = (curFileDLen % recLen).toInt
              if (pos != curFileDLen - tailFragment || n != tailFragment)
                throw new java.io.IOException(
                  s"fixedwidth: unexpected EOF at logical offset ${pos + n} " +
                    s"of $curPath (indexed decompressed length $curFileDLen) — " +
                    "split index/footer is stale or inconsistent with the " +
                    "compressed payload; refusing to silently drop records")
            }
            if (n > 0 && !opts.tolerant) truncated() // tolerant: drop the trailing partial record
            end = pos // drained: later calls must not read past this EOF again
            return k
          }
          n += r
        }
        pos += recLen
        k += 1
      }
      k
    } else {
      if (pos >= end) return 0
      // every record STARTING before `end` belongs to the chunk
      val n = math.min(max.toLong, (end - pos + recLen - 1) / recLen).toInt
      var got = 0
      while (got < n * recLen) {
        val r = rawIn.read(dst, got, n * recLen - got)
        if (r < 0) { pos += got / recLen * recLen; truncated() }
        got += r
      }
      pos += got
      n
    }

  /** Byte offset in its file of the first record of the last block. */
  var blockOffset = -1L

  /** Fill `dst` with up to `max` whole records of one chunk; returns how
    * many (0 when all chunks are drained) and sets `blockOffset`. */
  def fetchBlock(dst: Array[Byte], max: Int): Int = {
    while (true) {
      if (chunkIdx >= 0 && rawIn != null) {
        blockOffset = pos
        val n = fetchFromChunk(dst, max)
        if (n > 0) { recordsRead += n; return n }
      }
      if (!openNextChunk()) return 0
    }
    0 // unreachable
  }

  /** Fill `buf` with the next record; returns its byte offset in its file,
    * or -1 when all chunks are drained. */
  def fetch(buf: Array[Byte]): Long =
    if (fetchBlock(buf, 1) == 1) blockOffset else -1L
}

/** Streams whole records from one aligned split: open, seek once, readFully
  * per record (reference FixedLengthRecordReader.java:186-243). Buffers are
  * allocated once and reused for every record — the reference's deliberate
  * perf idiom (:198-206) — and rows are emitted through a reused
  * `UnsafeProjection`, so steady-state per-record allocation is ~zero (the
  * 100 TB-scale must-have).
  */
class FixedWidthPartitionReader(
    part: FixedWidthInputPartition,
    opts: FixedWidthOptions,
    requiredSchema: StructType,
    conf: Configuration,
    pushedFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends PartitionReader[InternalRow] {

  private val recLen = opts.recordLength
  private val stream = new ChunkedRecordStream(part, opts, conf)
  private var pos = 0L // byte offset of the CURRENT record in its file

  private val buf = new Array[Byte](recLen)
  private val keyBuf = if (opts.hasKey && !opts.typed) new Array[Byte](opts.keyLen) else null
  private val row = new GenericInternalRow(requiredSchema.length)
  private val proj = UnsafeProjection.create(requiredSchema)

  private var recordsSkipped = 0L

  // Precompiled per-column decoders writing into `row`. Closing over the
  // reusable `buf` is safe: `proj` copies all bytes into its own buffer
  // before the next record overwrites `buf`.
  private val decoders: Array[() => Unit] =
    FixedWidthRowDecoders.plan(opts, requiredSchema, buf, row, () => pos, keyBuf,
      () => stream.currentPathUtf8)

  // Pushed predicates evaluate straight off the record buffer — fully
  // independent of the (possibly pruned) output schema, because fully-pushed
  // filters are NOT re-evaluated by Spark and their columns may not even be
  // projected. Non-matching records never run a single column decoder.
  private val predicates: Array[() => Boolean] =
    pushedFilters.map(f => FixedWidthFilters.compileOnBuffer(f, opts, buf, () => pos).getOrElse(
      // fail LOUDLY: this filter was accepted as fully pushed, so nothing
      // downstream re-evaluates it — dropping it would silently unfilter
      throw new IllegalStateException(s"fixedwidth: accepted pushed filter failed to compile: $f")))

  // Malformed-record policy (see FixedWidthMalformed). `probes` attempt-parse
  // the typed fields whose malformation the projected decoders would not
  // surface: ALL fields under DROPMALFORMED (the drop verdict must not depend
  // on which columns a query projects), the non-projected ones under
  // PERMISSIVE when the corrupt-record column is selected.
  private val corruptIdx: Int = opts.corruptRecordCol
    .map(c => requiredSchema.fieldNames.indexWhere(_.equalsIgnoreCase(c))).getOrElse(-1)
  private val probes: Array[() => Unit] =
    if (opts.dropMalformed) FixedWidthMalformed.probes(opts.fields, buf)
    else if (corruptIdx >= 0)
      FixedWidthMalformed.probes(
        opts.fields.filterNot(f => requiredSchema.fieldNames.exists(_.equalsIgnoreCase(f.name))), buf)
    else Array.empty
  private var recordsMalformed = 0L

  override def next(): Boolean = {
    var at = stream.fetch(buf)
    while (at >= 0) {
      pos = at
      var pass = true
      var i = 0
      while (pass && i < predicates.length) { pass = predicates(i)(); i += 1 }
      if (pass) {
        if (decodeRecord()) return true // else: dropped as malformed
      } else recordsSkipped += 1
      at = stream.fetch(buf)
    }
    false
  }

  /** Decode the current record into `row`; false ⇒ drop it (DROPMALFORMED). */
  private def decodeRecord(): Boolean =
    if (!opts.tolerant) {
      var i = 0
      while (i < decoders.length) { decoders(i)(); i += 1 }
      true
    } else if (opts.dropMalformed) {
      try {
        var i = 0
        while (i < probes.length) { probes(i)(); i += 1 }
      } catch {
        case _: NumberFormatException =>
          recordsMalformed += 1
          recordsSkipped += 1
          return false
      }
      var i = 0
      while (i < decoders.length) { decoders(i)(); i += 1 }
      true
    } else { // PERMISSIVE: null the bad field(s), optionally keep the raw record
      var bad = false
      var i = 0
      while (i < decoders.length) {
        try decoders(i)()
        catch { case _: NumberFormatException => row.setNullAt(i); bad = true }
        i += 1
      }
      if (corruptIdx >= 0) {
        var j = 0
        while (!bad && j < probes.length) {
          try probes(j)() catch { case _: NumberFormatException => bad = true }
          j += 1
        }
        // decoders already nulled the slot; overwrite only when malformed
        if (bad) row.update(corruptIdx, FixedWidthMalformed.rawRecord(buf, recLen, opts.charset))
      }
      if (bad) recordsMalformed += 1
      true
    }

  override def get(): InternalRow = proj(row)

  override def close(): Unit = stream.close()

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(
      FixedWidthMetrics.task("fwRecordsRead", stream.recordsRead),
      FixedWidthMetrics.task("fwBytesRead", stream.recordsRead * recLen),
      FixedWidthMetrics.task("fwRecordsSkipped", recordsSkipped),
      FixedWidthMetrics.task("fwRecordsMalformed", recordsMalformed))
}

/** Precompiled per-column decoders from a reused record buffer into a
  * `GenericInternalRow` — shared by the row reader (all columns) and the
  * columnar reader's pushed-filter path (predicate columns only, into a
  * scratch row). Closing over the caller's reusable `buf` is intentional;
  * consumers copy bytes out before the next record overwrites it. */
object FixedWidthRowDecoders {

  def plan(
      opts: FixedWidthOptions,
      requiredSchema: StructType,
      buf: Array[Byte],
      row: GenericInternalRow,
      offset: () => Long,
      keyBufOrNull: Array[Byte] = null,
      sourceFileUtf8: () => Array[Byte] = null): Array[() => Unit] = {
    val keyBuf =
      if (keyBufOrNull != null) keyBufOrNull
      else if (opts.hasKey && !opts.typed) new Array[Byte](opts.keyLen)
      else null
    requiredSchema.fields.zipWithIndex.map { case (sf, i) =>
      sf.name match {
        case FixedWidthOptions.OffsetCol =>
          () => row.setLong(i, offset())
        case FixedWidthOptions.SourceFileCol
            if sourceFileUtf8 != null && !opts.fields.exists(_.name.equalsIgnoreCase(sf.name)) =>
          () => row.update(i,
            org.apache.spark.unsafe.types.UTF8String.fromBytes(sourceFileUtf8()))
        case FixedWidthOptions.KeyCol if !opts.typed =>
          () => {
            System.arraycopy(buf, opts.keyStartAt, keyBuf, 0, opts.keyLen)
            row.update(i, keyBuf)
          }
        case FixedWidthOptions.ValueCol if !opts.typed =>
          () => row.update(i, buf)
        case name if opts.corruptRecordCol.exists(_.equalsIgnoreCase(name)) =>
          // Default NULL; the PERMISSIVE reader overwrites it with the raw
          // record after the record's malformed verdict is known.
          () => row.setNullAt(i)
        case name =>
          val f = opts.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
            throw new IllegalArgumentException(s"fixedwidth: unknown column '$name'"))
          fieldDecoder(opts, f, i, buf, row)
      }
    }
  }

  private def fieldDecoder(
      opts: FixedWidthOptions, f: FieldSpec, i: Int,
      buf: Array[Byte], row: GenericInternalRow): () => Unit = f.ftype match {
    case "string" =>
      val cs = opts.charset
      val trimRight = opts.trim == "right" || opts.trim == "both"
      val trimLeft = opts.trim == "left" || opts.trim == "both"
      () => row.update(i, AsciiParse.decodeString(buf, f.start, f.end, trimLeft, trimRight, cs))
    case "int" | "date" => // date stored as epoch-day decimal int
      () => {
        if (AsciiParse.isBlank(buf, f.start, f.end)) row.setNullAt(i)
        else row.setInt(i, AsciiParse.parseInt(buf, f.start, f.end))
      }
    case "long" | "timestamp" => // timestamp stored as epoch-micros decimal long
      () => {
        if (AsciiParse.isBlank(buf, f.start, f.end)) row.setNullAt(i)
        else row.setLong(i, AsciiParse.parseLong(buf, f.start, f.end))
      }
    case "double" =>
      () => {
        if (AsciiParse.isBlank(buf, f.start, f.end)) row.setNullAt(i)
        else row.setDouble(i, AsciiParse.parseDouble(buf, f.start, f.end))
      }
    case FieldSpec.DecimalRe(p, s) =>
      val (prec, scale) = (p.toInt, s.toInt)
      () => {
        if (AsciiParse.isBlank(buf, f.start, f.end)) row.setNullAt(i)
        else row.update(i, AsciiParse.parseDecimal(buf, f.start, f.end, prec, scale))
      }
  }
}

/** Malformed-typed-field machinery shared by the row and columnar readers:
  * attempt-parse probes (throw `NumberFormatException` iff the field's bytes
  * would not decode) and the raw-record payload for the corrupt-record
  * column. String fields can never malform (any bytes are a valid string),
  * so they compile to no probe.
  */
object FixedWidthMalformed {

  def probes(fields: Seq[FieldSpec], buf: Array[Byte]): Array[() => Unit] =
    fields.flatMap { f =>
      val (from, until) = (f.start, f.end)
      f.ftype match {
        case "string" => None
        case "int" | "date" =>
          Some(() => if (!AsciiParse.isBlank(buf, from, until)) { AsciiParse.parseInt(buf, from, until); () })
        case "long" | "timestamp" =>
          Some(() => if (!AsciiParse.isBlank(buf, from, until)) { AsciiParse.parseLong(buf, from, until); () })
        case "double" =>
          Some(() => if (!AsciiParse.isBlank(buf, from, until)) { AsciiParse.parseDouble(buf, from, until); () })
        case FieldSpec.DecimalRe(p, s) =>
          val (prec, scale) = (p.toInt, s.toInt)
          Some(() => if (!AsciiParse.isBlank(buf, from, until)) { AsciiParse.parseDecimal(buf, from, until, prec, scale); () })
      }
    }.toArray

  /** The corrupt-record payload: the whole raw record, charset-decoded,
    * UNtrimmed (the fixed-width analog of CSV's raw line). The returned
    * UTF8String may share `buf` — callers copy before the next record. */
  def rawRecord(buf: Array[Byte], recLen: Int, cs: java.nio.charset.Charset): UTF8String =
    if (cs == java.nio.charset.StandardCharsets.UTF_8) UTF8String.fromBytes(buf, 0, recLen)
    else UTF8String.fromString(new String(buf, 0, recLen, cs))
}

/** Allocation-free ASCII numeric parsing over a byte range (spaces trimmed on
  * both sides; all-space field decodes to SQL NULL — callers test `isBlank`
  * first, so no in-band sentinel value can collide with real data). These
  * are the ONE parse definitions: the row and columnar readers,
  * `FixedWidthFilters` and `FwzStats` all call them.
  *
  * Decimals of precision ≤ 18 and doubles take fast paths over plain
  * `[sign]digits[.digits]` that build no String, BigDecimal or boxed value.
  * The fallback rule: any input a fast path does not cover exactly goes to
  * the general `BigDecimal` / `Double.parseDouble` parse, so every value
  * and every `NumberFormatException` message is the general path's. */
object AsciiParse {

  /** Configurable space-trim of a byte range, packed as (start << 32) | end —
    * one primitive return, no tuple allocation on the per-record path. The
    * SAME loop previously lived (and could drift) in four decode sites: the
    * row reader, the columnar reader, and both pushed-filter compile paths. */
  def trimRange(buf: Array[Byte], from: Int, until: Int,
      trimLeft: Boolean, trimRight: Boolean): Long = {
    var s = from
    var e = until
    if (trimRight) while (e > s && buf(e - 1) == ' ') e -= 1
    if (trimLeft) while (s < e && buf(s) == ' ') s += 1
    (s.toLong << 32) | e
  }

  /** Trimmed, charset-decoded string field value — the ONE definition of
    * what a fixedwidth string field decodes to, shared by the row reader
    * and both pushed-filter paths so pushed predicates match Catalyst's
    * post-scan semantics bit-exactly. UTF-8 zero-copies: the returned
    * UTF8String SHARES `buf`, so callers must consume it before the next
    * record overwrites the buffer. */
  def decodeString(buf: Array[Byte], from: Int, until: Int,
      trimLeft: Boolean, trimRight: Boolean,
      cs: java.nio.charset.Charset): UTF8String = {
    val r = trimRange(buf, from, until, trimLeft, trimRight)
    val s = (r >>> 32).toInt
    val e = (r & 0xffffffffL).toInt
    if (cs eq java.nio.charset.StandardCharsets.UTF_8) UTF8String.fromBytes(buf, s, e - s)
    else UTF8String.fromString(new String(buf, s, e - s, cs))
  }

  /** True iff the byte range is entirely spaces (the encoding of SQL NULL). */
  def isBlank(buf: Array[Byte], from: Int, until: Int): Boolean = {
    var s = from
    while (s < until) { if (buf(s) != ' ') return false; s += 1 }
    true
  }

  /** Parse a signed decimal long. Overflow throws NumberFormatException
    * instead of silently wrapping (a 20-digit foreign value must error, not
    * alias to some in-range long). Accumulates negative so Long.MinValue
    * itself parses exactly. Caller must have checked `isBlank` first. */
  def parseLong(buf: Array[Byte], from: Int, until: Int): Long = {
    var s = from
    var e = until
    while (s < e && buf(s) == ' ') s += 1
    while (e > s && buf(e - 1) == ' ') e -= 1
    if (s >= e)
      throw new NumberFormatException("fixedwidth: empty numeric field (caller must isBlank-check)")
    var neg = false
    if (buf(s) == '-') { neg = true; s += 1 }
    else if (buf(s) == '+') s += 1
    if (s >= e)
      throw new NumberFormatException("fixedwidth: sign with no digits in numeric field")
    var v = 0L // accumulated NEGATIVE
    val lim = Long.MinValue / 10
    while (s < e) {
      val c = buf(s)
      if (c < '0' || c > '9')
        throw new NumberFormatException(s"fixedwidth: bad digit '${c.toChar}' in numeric field")
      val d = c - '0'
      if (v < lim || v * 10 < Long.MinValue + d)
        throw new NumberFormatException("fixedwidth: numeric field overflows 64-bit long")
      v = v * 10 - d
      s += 1
    }
    if (neg) v
    else if (v == Long.MinValue)
      throw new NumberFormatException("fixedwidth: numeric field overflows 64-bit long")
    else -v
  }

  /** parseLong + 32-bit range check (silent truncation would corrupt data). */
  def parseInt(buf: Array[Byte], from: Int, until: Int): Int = {
    val v = parseLong(buf, from, until)
    if (v < Int.MinValue || v > Int.MaxValue)
      throw new NumberFormatException(s"fixedwidth: value $v overflows 32-bit int field")
    v.toInt
  }

  /** Parse a double. Plain `[sign]digits[.digits]` with at most 15 digits
    * (leading integer zeros aside, so at most 15 fractional) takes Clinger's
    * exact fast path: the digits form an integer m < 2^53 and 10^f is an
    * exact double, so the one correctly rounded division m / 10^f is
    * exactly what `Double.parseDouble` returns. Every other input (exponents, NaN,
    * Infinity, longer mantissas, stray bytes) goes through
    * `Double.parseDouble` itself, so values and exception messages are
    * unchanged. Caller must have checked `isBlank` first. */
  def parseDouble(buf: Array[Byte], from: Int, until: Int): Double = {
    var s = from
    var e = until
    while (s < e && buf(s) == ' ') s += 1
    while (e > s && buf(e - 1) == ' ') e -= 1
    if (s >= e)
      throw new NumberFormatException("fixedwidth: empty numeric field (caller must isBlank-check)")
    var i = s
    val neg = buf(i) == '-'
    if (neg || buf(i) == '+') i += 1
    val lead = i
    while (i < e && buf(i) == '0') i += 1 // leading zeros are not significant
    val first = i
    if (e - first > 16) return parseDoubleSlow(buf, s, e) // over 15 digits
    var m = 0L
    var dot = -1
    while (i < e) {
      val d = buf(i) - '0'
      if (d >= 0 && d <= 9) m = m * 10 + d
      else if (buf(i) == '.' && dot < 0) dot = i
      else return parseDoubleSlow(buf, s, e)
      i += 1
    }
    val digits = e - first - (if (dot < 0) 0 else 1)
    val frac = if (dot < 0) 0 else e - dot - 1
    if (digits > 15 || (digits == 0 && first == lead)) return parseDoubleSlow(buf, s, e)
    val v = if (frac == 0) m.toDouble else m.toDouble / Pow10D(frac)
    if (neg) -v else v
  }

  /** Exact powers of ten as doubles (exact up to 10^22; the fast path
    * needs 10^15 at most). */
  private val Pow10D: Array[Double] = Array.tabulate(16)(i => math.pow(10, i))

  /** Doubles are written as Double.toString (shortest round-trip form), so
    * java.lang.Double.parseDouble is the exact inverse. */
  private def parseDoubleSlow(buf: Array[Byte], s: Int, e: Int): Double =
    java.lang.Double.parseDouble(new String(buf, s, e - s, java.nio.charset.StandardCharsets.US_ASCII))

  /** Parse a plain-notation decimal into an exact Decimal(precision, scale).
    * A value that does not FIT the declared precision/scale errors rather
    * than silently rounding — mainframe money fields must round-trip
    * bit-exact. Precision ≤ 18 goes through [[parseUnscaled]], so no
    * BigDecimal is built for it. Caller must have checked `isBlank` first. */
  def parseDecimal(buf: Array[Byte], from: Int, until: Int,
      precision: Int, scale: Int): org.apache.spark.sql.types.Decimal =
    if (precision <= org.apache.spark.sql.types.Decimal.MAX_LONG_DIGITS)
      org.apache.spark.sql.types.Decimal.createUnsafe(
        parseUnscaled(buf, from, until, precision, scale), precision, scale)
    else parseDecimalSlow(buf, from, until, precision, scale)

  /** The unscaled long of a decimal(precision ≤ 18, scale) field: the value
    * `OnHeapColumnVector.putDecimal` stores (`putInt` up to 9 digits,
    * `putLong` up to 18). Plain `[sign]digits[.digits]` that fits the
    * declared type is parsed straight to the long; anything else — an
    * exponent, a stray byte, a scale above the declared one, a precision
    * overflow — goes through [[parseDecimalSlow]], which returns the same
    * value or throws the same message. Caller must have checked `isBlank`. */
  def parseUnscaled(buf: Array[Byte], from: Int, until: Int,
      precision: Int, scale: Int): Long = {
    var s = from
    var e = until
    while (s < e && buf(s) == ' ') s += 1
    while (e > s && buf(e - 1) == ' ') e -= 1
    var i = s
    val neg = i < e && buf(i) == '-'
    if (i < e && (neg || buf(i) == '+')) i += 1
    val lead = i
    while (i < e && buf(i) == '0') i += 1 // leading zeros carry no precision
    val first = i
    if (e - first > precision + 1) return slowUnscaled(buf, from, until, precision, scale)
    // at most precision + 1 ≤ 19 digits: a 19-digit v may wrap, but then
    // digits > precision below rejects it before v is used
    var v = 0L
    var dot = -1
    while (i < e) {
      val d = buf(i) - '0'
      if (d >= 0 && d <= 9) v = v * 10 + d
      else if (buf(i) == '.' && dot < 0) dot = i
      else return slowUnscaled(buf, from, until, precision, scale)
      i += 1
    }
    val digits = e - first - (if (dot < 0) 0 else 1)
    val frac = if (dot < 0) 0 else e - dot - 1
    // fits decimal(precision, scale) iff v·10^(scale - frac) < 10^precision
    if (digits > precision || frac > scale || (digits == 0 && first == lead) ||
        v >= Pow10L(precision - scale + frac))
      return slowUnscaled(buf, from, until, precision, scale)
    val u = v * Pow10L(scale - frac)
    if (neg) -u else u
  }

  private val Pow10L: Array[Long] = Array.iterate(1L, 19)(_ * 10)

  private def slowUnscaled(buf: Array[Byte], from: Int, until: Int,
      precision: Int, scale: Int): Long =
    parseDecimalSlow(buf, from, until, precision, scale).toUnscaledLong

  /** The general decimal parse through `java.math.BigDecimal`: the fallback
    * of the fast paths and the only path above 18 digits of precision. */
  def parseDecimalSlow(buf: Array[Byte], from: Int, until: Int,
      precision: Int, scale: Int): org.apache.spark.sql.types.Decimal = {
    var s = from
    var e = until
    while (s < e && buf(s) == ' ') s += 1
    while (e > s && buf(e - 1) == ' ') e -= 1
    if (s >= e)
      throw new NumberFormatException("fixedwidth: empty decimal field (caller must isBlank-check)")
    val str = new String(buf, s, e - s, java.nio.charset.StandardCharsets.US_ASCII)
    val bd =
      try new java.math.BigDecimal(str)
      catch {
        case _: NumberFormatException =>
          throw new NumberFormatException(s"fixedwidth: bad decimal literal '$str'")
      }
    if (bd.scale > scale)
      throw new NumberFormatException(
        s"fixedwidth: decimal '$str' has scale ${bd.scale}, exceeds declared scale $scale")
    val d = org.apache.spark.sql.types.Decimal(bd)
    if (!d.changePrecision(precision, scale))
      throw new NumberFormatException(
        s"fixedwidth: decimal '$str' does not fit decimal($precision,$scale)")
    d
  }
}
