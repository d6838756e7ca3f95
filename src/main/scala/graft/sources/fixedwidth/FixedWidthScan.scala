package graft.sources.fixedwidth

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.hadoop.io.compress.{CodecPool, CompressionCodecFactory, SplittableCompressionCodec}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Column pruning (`SupportsPushDownRequiredColumns`): the reference always
  * materializes the whole record (SURVEY.md §4 table); here a projection that
  * only needs 2 of 16 fields decodes exactly those 2 byte ranges — the IO is
  * still one sequential pass (no indexes to skip with), but per-record CPU
  * drops with the projected width.
  *
  * Filter pushdown (`SupportsPushDownFilters`): supported comparison filters
  * are evaluated INSIDE the reader right after the predicate's own fields
  * decode, so non-matching records skip the remaining field decodes
  * entirely. They are fully accepted, not returned as post-scan filters
  * (see `pushFilters`). Inside a plain file the source cannot skip IO (no
  * indexes — same as the reference); the win there is decode CPU, which is
  * the per-record cost.
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

  private val files = new FixedWidthPlanFiles(opts, tableOptions, conf)

  // ---- Aggregate pushdown: COUNT(*), MIN and MAX answered from the file
  // view alone, with ZERO data IO. Every record is recordLength bytes, so a
  // count is file lengths over the (partition-pruned) listing, or footer
  // totals for framed .fwz files; on a 100 TB feed, `SELECT count(*) ...
  // WHERE date = X` becomes a driver-side directory listing. One planner
  // serves every shape: a global aggregate is the group of zero columns.
  // Preconditions (else Spark runs a normal scan):
  //  - COUNT(*), MIN and MAX only (no count(col): typed fields can be NULL
  //    via blank bytes, which lengths can't see);
  //  - every group column a partition column bound in every kept file;
  //  - no DROPMALFORMED (dropped records aren't visible in lengths; the
  //    PERMISSIVE trailing-fragment floor IS visible — floor(len/recLen));
  //  - pushed filters, if any, EXACTLY answered by directory pruning
  //    (PruneResult.exact) — a record-level residual would need real IO.
  // Groups merge by DECODED directory value (a foreign `k=01` directory
  // merges with `k=1`). Per group, COUNT(*) sums the files' exact counts
  // (FixedWidthPlanFiles.records); any unknowable count (a foreign
  // compressed file, a FAILFAST fragment, an unreadable footer) declines the
  // push. MIN/MAX of a field come from the directory values when the field
  // is bound in every file of the group and each file holds a record (the
  // distinct directory values ARE the distinct column values, by the writer
  // contract); otherwise from the group's fwz footer envelopes.

  /** The declared fields of a group-by, if each is one a directory value
    * can answer (doubles refused: Catalyst normalizes -0.0/NaN in group
    * keys — not worth replicating for a pathological partition type). */
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
    if (!fields.forall(opts.codec(_).listingAnswerable)) return None
    Some(fields)
  }

  /** A declared field a MIN/MAX aggregate may target (doubles refused:
    * Catalyst normalizes -0.0/NaN in ways not worth replicating). */
  private def minMaxFieldOf(
      e: org.apache.spark.sql.connector.expressions.Expression): Option[FieldSpec] = e match {
    case nr: org.apache.spark.sql.connector.expressions.NamedReference if nr.fieldNames.length == 1 =>
      opts.fields.find(f => f.name.equalsIgnoreCase(nr.fieldNames()(0))).filter(opts.codec(_).listingAnswerable)
    case _ => None
  }

  /** Extreme of a stats-covered field over ALL-FRAMED files, from their
    * footers' whole-file envelopes ([[FwzStats]]): `SELECT min(ts),
    * max(ts), count(*)` (the feed-freshness query) over a 100 TB compressed
    * feed is a footer walk. Sound because envelope extremes are the
    * decoded-value extremes of every record (tracked through the reader's
    * own parsers, type/slice/convention gated by usableEntry); NULLs never
    * participate (FlagHasValue); an unknown envelope, a foreign trailing
    * fragment or any plain/foreign member declines. None = not answerable;
    * Some(None) = no non-null value (SQL NULL). */
  private def footerExtremeOver(
      sts: Seq[org.apache.hadoop.fs.FileStatus], f: FieldSpec, wantMax: Boolean): Option[Option[Array[Byte]]] = {
    val recLen = opts.recordLength.toLong
    var best: AnyRef = null
    var bestSlice: Array[Byte] = null
    sts.foreach { st =>
      if (!FwzFormat.isFramed(st.getPath)) return None
      val footer = files.footer(st).getOrElse(return None)
      if (footer.totalDLen % recLen != 0) return None // foreign trailing fragment
      val block = footer.stats.getOrElse(return None)
      val (codec, entry) = FwzStats.usableEntry(opts, block.envelope, f.name).getOrElse(return None)
      val flags = entry.flags(0)
      if ((flags & FwzFormat.FlagUnknown) != 0) return None
      if ((flags & FwzFormat.FlagHasValue) != 0) {
        val slice = if (wantMax) entry.maxs(0) else entry.mins(0)
        val v = try codec.extreme(slice) catch { case _: Exception => return None }
        val better = best == null || {
          val c = codec.compare(v, best)
          if (wantMax) c > 0 else c < 0
        }
        if (better) { best = v; bestSlice = slice }
      }
    }
    Some(Option(bestSlice))
  }

  /** Extreme of a field over a group's directory values: None when the
    * field is not bound in every file, when a file holds no record (a
    * directory value backed only by record-less files — a tolerant
    * trailing-fragment file, an empty framed write — must not surface), or
    * when a value does not decode. Values compare through their DECODED
    * Catalyst forms (all listing-answerable types are Comparable with
    * Catalyst-identical order). Some(None) = no non-null value (SQL NULL). */
  private def dirExtremeOver(
      pfs: Seq[FixedWidthTable.PartitionedFile], counts: Seq[Long],
      f: FieldSpec, wantMax: Boolean): Option[Option[String]] = {
    val lower = f.name.toLowerCase
    if (counts.contains(0L) || !pfs.forall(_.partValues.contains(lower))) return None
    try {
      val candidates = pfs.map(_.partValues(lower)).distinct
        .map(raw => raw -> FixedWidthTable.decodeDirValue(opts, f, raw))
        .filter(_._2 != null) // blank = SQL NULL: min/max ignore it
      Some(if (candidates.isEmpty) None else Some(candidates.reduceLeft { (a, b) =>
        val c = a._2.asInstanceOf[Comparable[Any]].compareTo(b._2)
        if ((c >= 0) == wantMax) a else b
      }._1))
    } catch { case _: NumberFormatException => None }
  }

  /** The answer of a fully pushed aggregate: its group columns and one
    * (raw group values, result columns) row per group. */
  private def aggAnswerOf(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Option[(Seq[FieldSpec], Seq[(Seq[String], Seq[FixedWidthListingCol])])] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    // the shape, before any IO: group columns, and the MIN/MAX target of
    // each position
    val aggs = agg.aggregateExpressions.toSeq
    if (aggs.isEmpty || opts.dropMalformed) return None
    val fields = groupColsOf(agg).getOrElse(return None)
    val targets: Seq[Option[FieldSpec]] = aggs.map {
      case _: CountStar => None
      case m: Min => Some(minMaxFieldOf(m.column()).getOrElse(return None))
      case m: Max => Some(minMaxFieldOf(m.column()).getOrElse(return None))
      case _ => return None
    }
    val res = files.pruned(pushed)
    if (!res.exact) return None
    val lowerNames = fields.map(_.name.toLowerCase)
    if (res.keptFiles.exists(pf => !lowerNames.forall(pf.partValues.contains))) return None
    // group by decoded key, keeping the first raw representative; zero
    // group columns make exactly one group, even one holding no file
    val grouped = scala.collection.mutable.LinkedHashMap
      .empty[Seq[Any], (Seq[String], scala.collection.mutable.ArrayBuffer[FixedWidthTable.PartitionedFile])]
    if (fields.isEmpty) grouped(Nil) = (Nil, scala.collection.mutable.ArrayBuffer.empty)
    try res.keptFiles.foreach { pf =>
      val raws = lowerNames.map(pf.partValues)
      val key = fields.zip(raws).map { case (f, r) => FixedWidthTable.decodeDirValue(opts, f, r) }
      grouped.getOrElseUpdate(key, (raws, scala.collection.mutable.ArrayBuffer.empty))._2 += pf
    } catch { case _: NumberFormatException => return None }
    val rows = grouped.values.toSeq.map { case (raws, members) =>
      val pfs = members.toSeq
      val counts = pfs.map(pf => files.records(pf.status).getOrElse(return None))
      val cols = aggs.zip(targets).map {
        case (_, None) => FixedWidthCountCol(counts.sum): FixedWidthListingCol
        case (m, Some(f)) =>
          val wantMax = m.isInstanceOf[Max]
          dirExtremeOver(pfs, counts, f, wantMax)
            .map(raw => FixedWidthValueCol(f, raw): FixedWidthListingCol)
            .orElse(footerExtremeOver(pfs.map(_.status), f, wantMax)
              .map(s => FixedWidthSliceCol(f, s): FixedWidthListingCol))
            .getOrElse(return None)
      }
      (raws, cols)
    }
    Some((fields, rows))
  }

  /** Output schema of a fully pushed aggregate, one field per aggregate
    * expression in order: `count(*)` (`count(*)_i` past position 0),
    * `min(f)`, `max(f)`. */
  private def aggSchemaOf(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): StructType = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Max, Min}
    def extreme(kind: String, e: org.apache.spark.sql.connector.expressions.Expression) = {
      val f = minMaxFieldOf(e).get
      StructField(s"$kind(${f.name})", f.dataType, nullable = true)
    }
    StructType(agg.aggregateExpressions.toSeq.zipWithIndex.map {
      case (m: Min, _) => extreme("min", m.column())
      case (m: Max, _) => extreme("max", m.column())
      case (_, i) => StructField(s"count(*)${if (i == 0) "" else s"_$i"}", LongType, nullable = false)
    })
  }

  private var aggScan: Option[FixedWidthCountScan] = None

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    aggAnswerOf(agg).isDefined

  // Never accept a PARTIAL pushdown (complete-unsupported cases): the
  // answer is the FINAL aggregate, not a per-partition partial.
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    aggScan = aggAnswerOf(agg).map { case (fields, rows) =>
      new FixedWidthCountScan(opts, fields, rows, aggSchemaOf(agg))
    }
    aggScan.isDefined
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
      !files.listed.exists(pf => FixedWidthTable.isCompressed(pf.status.getPath))

  override def pushLimit(limit: Int): Boolean =
    if (canTruncate) { limitN = limit.toLong; true } else false

  // The planned range is exact, so Spark can drop its own Limit operator.
  override def isPartiallyPushed(): Boolean = false

  override def pushOffset(offset: Int): Boolean =
    if (canTruncate) { offsetN = offset.toLong; true } else false

  override def build(): Scan =
    aggScan.getOrElse(new FixedWidthScan(opts, tableOptions, requiredSchema, conf, files, pushed,
      recordRange = if (limitN >= 0 || offsetN > 0)
        Some((offsetN, if (limitN >= 0) limitN else Long.MaxValue)) else None))
}

/** One result column of a fully pushed aggregate, for one group. */
sealed trait FixedWidthListingCol extends Serializable
final case class FixedWidthCountCol(n: Long) extends FixedWidthListingCol
/** min/max of a partition column: the winning directory value travels raw
  * and decodes on the executor (None = SQL NULL — no non-null value). */
final case class FixedWidthValueCol(field: FieldSpec, raw: Option[String])
    extends FixedWidthListingCol
/** min/max answered from fwz footer statistics: the winning record's raw
  * field SLICE travels and decodes on the executor through the same
  * parsers a record read uses (None = SQL NULL — no non-null value). */
final case class FixedWidthSliceCol(field: FieldSpec, slice: Option[Array[Byte]])
    extends FixedWidthListingCol

/** The whole scan when an aggregate is fully pushed down: one partition,
  * one row per group, zero data IO. A global aggregate is the case of zero
  * group columns and exactly one group. Every group is answered by the same
  * rule from the query's [[FixedWidthPlanFiles]]: COUNT(*) from per-file
  * exact counts; MIN/MAX from the group's partition directory values, or
  * from fwz-stats-covered fields' footer envelopes. Group
  * values and directory extremes travel as raw directory strings and
  * decode on the executor through FixedWidthTable.decodeDirValue, the
  * decode that grouped them at plan time; footer extremes travel as the
  * winning records' raw field slices and decode through
  * FixedWidthTable.decodeField. */
class FixedWidthCountScan(
    opts: FixedWidthOptions,
    groupFields: Seq[FieldSpec],
    groups: Seq[(Seq[String], Seq[FixedWidthListingCol])],
    aggSchema: StructType) extends Scan with Batch {

  override def readSchema(): StructType = StructType(
    groupFields.map(f => StructField(f.name, f.dataType, nullable = true)) ++ aggSchema.fields)

  override def toBatch: Batch = this
  override def description(): String = {
    val aggs = aggSchema.fieldNames.zipWithIndex.map { case (n, j) =>
      (if (n.startsWith("count(*)")) "COUNT(*)" else n.toUpperCase) +
        (if (groups.exists(_._2(j).isInstanceOf[FixedWidthSliceCol])) " (fwz stats)" else "")
    }
    s"FixedWidthCountScan(groups=${groups.length}) [PushedAggregates: ${aggs.mkString(", ")}" +
      (if (groupFields.nonEmpty) s", GroupBy: ${groupFields.map(_.name).mkString(",")}" else "") + "]"
  }

  override def planInputPartitions(): Array[InputPartition] =
    Array(FixedWidthCountPartition(opts, groupFields, groups, readSchema()))

  override def createReaderFactory(): PartitionReaderFactory = new PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] =
      new FixedWidthCountReader(p.asInstanceOf[FixedWidthCountPartition])
  }
}

final case class FixedWidthCountPartition(
    opts: FixedWidthOptions,
    groupFields: Seq[FieldSpec],
    groups: Seq[(Seq[String], Seq[FixedWidthListingCol])],
    schema: StructType) extends InputPartition

class FixedWidthCountReader(p: FixedWidthCountPartition) extends PartitionReader[InternalRow] {
  private val nGroup = p.groupFields.length
  private val row = new GenericInternalRow(p.schema.length)
  private val proj = UnsafeProjection.create(p.schema)
  private var idx = -1

  override def next(): Boolean = { idx += 1; idx < p.groups.length }

  override def get(): InternalRow = {
    val (raws, cols) = p.groups(idx)
    p.groupFields.zip(raws).zipWithIndex.foreach { case ((f, raw), i) =>
      row.update(i, FixedWidthTable.decodeDirValue(p.opts, f, raw))
    }
    cols.zipWithIndex.foreach {
      case (FixedWidthCountCol(n), j) => row.setLong(nGroup + j, n)
      case (FixedWidthValueCol(f, raw), j) =>
        row.update(nGroup + j, raw.map(FixedWidthTable.decodeDirValue(p.opts, f, _)).orNull)
      case (FixedWidthSliceCol(f, slice), j) =>
        row.update(nGroup + j, slice.map(FixedWidthTable.decodeField(p.opts, f, _)).orNull)
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
    files: FixedWidthPlanFiles,
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

  /** Directory-pruned file listing, from the query's file view (plan time,
    * on the driver): pushed filters fully covered by a file's `col=value`
    * path segments skip the file's IO entirely — see
    * FixedWidthTable.pruneFiles. Statistics and split planning both read the
    * pruned list, so Catalyst's size estimates (broadcast decisions) shrink
    * with the pruning too. */
  private def pruneResult: FixedWidthTable.PruneResult = files.pruned(pushedFilters)
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
      // per-file exact counts (length arithmetic / framed footer totals);
      // None if ANY file is unknowable (a foreign compressed member)
      private lazy val counts: Option[Long] = {
        val cs = pruneResult.kept.map(files.records)
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
      val kept = pruneResult.keptFiles
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
  override def planInputPartitions(): Array[InputPartition] = synchronized {
    // Spark asks a batch scan for its partitions more than once; frame
    // skipping and the block-location lookups run once per runtime-filter set
    val key = runtimeFilters.toSeq
    if (planned == null || planned._1 != key) planned = (key, planPartitions())
    planned._2
  }
  private var planned: (Seq[org.apache.spark.sql.sources.Filter], Array[InputPartition]) = null

  private def planPartitions(): Array[InputPartition] = {
    // Frame skipping sees pushed AND runtime filters: a join-derived In on a
    // stats-covered key can skip compressed frames too (always sound — Spark
    // re-evaluates the join itself).
    val allFilters = pushedFilters ++ runtimeFilters
    val res = files.pruned(allFilters)
    filesPruned = res.pruned
    val pm = new FwzStats.PlanMetrics
    def plan(kept: Seq[org.apache.hadoop.fs.FileStatus], range: Option[(Long, Long)]) =
      FixedWidthScan.alignedPartitions(kept, opts, conf, range, allFilters, pm, files.footer(_).get)
    val parts: Array[InputPartition] = keyedGroups match {
      case Some((_, groups)) =>
        // runtime filters may drop members of the statically pruned groups
        val keptNow = res.keptFiles.toSet
        groups.toArray.flatMap { case (key, pfs) =>
          plan(pfs.filter(keptNow).map(_.status), None).map { p =>
            FixedWidthKeyedInputPartition(p.asInstanceOf[FixedWidthInputPartition], key)
          }
        }
      case None => plan(res.kept, recordRange)
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

  // one conf broadcast per scan, not one conf per task
  private lazy val readerFactory = new FixedWidthReaderFactory(opts, requiredSchema,
    SerializableHadoopConf.broadcast(conf), pushedFilters)
  override def createReaderFactory(): PartitionReaderFactory = readerFactory

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
      conf: Configuration,
      recordRange: Option[(Long, Long)],
      pushedFilters: Array[org.apache.spark.sql.sources.Filter],
      planMetrics: FwzStats.PlanMetrics,
      footer: org.apache.hadoop.fs.FileStatus => FwzFormat.FwzFooter): Array[InputPartition] = {
    val byPath = files.map(st => st.getPath.toString -> st).toMap
    val parts = alignedPartitionsOf(
      files.map(st => st.getPath.toString -> st.getLen), opts, recordRange,
      pushedFilters, planMetrics, p => footer(byPath(p)))
    // HDFS block hosts for executor data locality (the same plan-time
    // NameNode lookups Spark's own file sources do): the three hosts
    // holding the most of a partition's on-disk bytes
    parts.map { p =>
      val fwp = p.asInstanceOf[FixedWidthInputPartition]
      val bytesOnHost = fwp.chunks.flatMap { c =>
        val st = byPath(c.filePath)
        try st.getPath.getFileSystem(conf).getFileBlockLocations(st, c.start, math.max(c.length, 1L))
          .toSeq.flatMap(_.getHosts).distinct.filterNot(_ == "localhost").map(_ -> c.length)
        catch { case _: Exception => Nil }
      }
      fwp.copy(hosts = bytesOnHost.groupMapReduce(_._1)(_._2)(_ + _)
        .toSeq.sortBy(-_._2).take(3).map(_._1))
    }
  }

  /** Plan from bare (path, length) pairs — used by the streaming source to
    * plan strictly from offset-recorded state rather than a live listing.
    * `footerOf`, when given, supplies each framed file's footer (a batch
    * scan passes its file view's); otherwise each footer is read through
    * the footer cache after one stat for its mtime.
    *
    * `recordRange = Some((start, end))` restricts planning to the half-open
    * GLOBAL record index range [start, end) in listing order — the pushed
    * LIMIT/OFFSET truncation (the builder guarantees callers only pass it
    * when raw records map 1:1 to output rows and no compressed files exist).
    *
    * The steps every kind shares live here: validation, the record clip,
    * the [[FwzStats]] frame skipper and the packing; each kind's own
    * planner ([[PlainRange]], [[WholeFile]], [[Bz2Split]], [[FwzRun]])
    * turns one file into chunks under its clip.
    */
  def alignedPartitionsOf(
      files: Seq[(String, Long)],
      opts: FixedWidthOptions,
      recordRange: Option[(Long, Long)] = None,
      pushedFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
      planMetrics: FwzStats.PlanMetrics = null,
      footerOf: String => FwzFormat.FwzFooter = null): Array[InputPartition] = {
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

    lazy val conf = session.sessionState.newHadoopConf()
    // footer per framed file, taken ONCE here and shared by the record-range
    // clipping and the chunker below: from the caller's file view, or read
    // in parallel through the footer cache with the mtime resolved by a
    // stat (a failure rethrows for the first failing file in listing order)
    val fwzFooters: Map[String, FwzFormat.FwzFooter] =
      if (footerOf != null) framedFiles.map { case (p, _) => p -> footerOf(p) }.toMap
      else framedFiles.map(_._1).zip(FwzFormat.footersInParallel(framedFiles) { case (p, len) =>
        FwzFormat.readFooterCachedStat(new org.apache.hadoop.fs.Path(p), len, conf)
      }.map(_.get)).toMap

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
    val plainChunks = plain.flatMap { case (p, _) => PlainRange.plan(p, clipOf(p), recLen, aligned) }
    // Compressed: the reference rejects codecs outright
    // (FixedLengthRecordReader.java:147-152); under the opt-in escape,
    // gzip (no block structure) stays one whole-file chunk while bzip2 —
    // Hadoop's SplittableCompressionCodec — is SPLIT on block boundaries
    // via the phase-1 decompressed-offset index (Bz2SplitIndex), so a
    // 100 TB compressed feed doesn't serialize into per-file readers.
    // Compressed range granularity: the plain-file target scaled by a
    // conservative 1:4 compression guess (granularity only — ownership
    // and grid math are exact), floored at 128 KiB (~1.5 bzip2 blocks). A
    // bz2 file no wider than one range is read whole: no phase-1 cost for
    // small files.
    val bz2RangeBytes = math.max(128L * 1024, target / 4)
    val (bz2Files, otherCompressed) = compressed.partition(_._1.toLowerCase.endsWith(".bz2"))
    val splitBz2 = bz2Files.filter(_._2 > bz2RangeBytes)
    // ONE phase-1 job for the whole file set — per-file jobs would run
    // serially at plan time and underutilize the cluster on each
    val bz2Ranges =
      if (splitBz2.isEmpty) Map.empty[String, Seq[Bz2Range]]
      else Bz2SplitIndex.rangesOfAll(splitBz2, bz2RangeBytes, conf, opts.bz2IndexDir)
    val compressedChunks = (bz2Files ++ otherCompressed).flatMap { case (p, len) =>
      bz2Ranges.get(p).fold[Seq[FileChunk]](Seq(WholeFile(p, len)))(Bz2Split.plan(p, _))
    }
    val fwzChunks = framedFiles.flatMap { case (p, _) =>
      val footer = fwzFooters(p)
      val fileDLen = footer.totalDLen
      if (fileDLen % recLen != 0 && !opts.tolerant)
        throw new IllegalArgumentException(
          s"fixedwidth: fwz decompressed length $fileDLen of $p is not a multiple of " +
            s"recordLength=$recLen (wrong recordLength, or truncated write; " +
            "mode=PERMISSIVE/DROPMALFORMED drops the trailing partial record)")
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
        val keep: Option[Int => Boolean] =
          if (!statsUsable) None
          else footer.stats.flatMap(FwzStats.compileSkipper(pushedFilters, opts, _))
        FwzRun.plan(p, footer, clipOf(p), recLen, aligned) { i =>
          val skip = keep.exists(k => !k(i))
          if (skip && planMetrics != null) planMetrics.framesSkipped += 1
          skip
        }
      }
    }

    // Pack chunks into partitions up to the target size (greedy, listing
    // order, by each kind's weight) — a million small files must NOT become
    // a million partitions. Each chunk stays independently record-aligned,
    // so packing never risks a record straddling two files (the multi-file
    // coalescing hazard SURVEY.md §7.4 flags in Spark's own FilePartition
    // packing). A chunk joins the open partition when it fits, else opens
    // the next; `packed` holds (chunks, weight) per partition, newest first.
    val packed = (plainChunks ++ compressedChunks ++ fwzChunks).foldLeft(List.empty[(List[FileChunk], Long)]) {
      case ((open, bytes) :: full, c) if bytes + c.weight <= target => (c :: open, bytes + c.weight) :: full
      case (all, c) => (List(c), c.weight) :: all
    }
    packed.reverseIterator.map(p => FixedWidthInputPartition(p._1.reverse): InputPartition).toArray
  }
}

/** A packed set of independently record-aligned chunks (serialized driver →
  * executor; the Spark analog of a packed `FilePartition`). `hosts` are the
  * HDFS block hosts holding the most of its bytes, for locality-aware
  * scheduling on a real cluster (empty on non-located filesystems). */
final case class FixedWidthInputPartition(chunks: Seq[FileChunk], hosts: Seq[String] = Nil)
    extends InputPartition {
  override def preferredLocations(): Array[String] = hosts.toArray
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

/** Columnar-only: every partition reads through [[FixedWidthColumnarReader]],
  * batch and streaming alike. Spark asks for a row reader only when a scan
  * has no input partitions (it derives `supportsColumnar` from them), and
  * then never opens one. */
class FixedWidthReaderFactory(
    opts: FixedWidthOptions,
    requiredSchema: StructType,
    conf: Broadcast[SerializableConfiguration],
    pushedFilters: Array[org.apache.spark.sql.sources.Filter])
    extends PartitionReaderFactory {

  /** A factory for in-process callers holding a bare conf (single-thread
    * harnesses and tests); it broadcasts the conf as a scan does. */
  def this(opts: FixedWidthOptions, requiredSchema: StructType, conf: SerializableHadoopConf) =
    this(opts, requiredSchema,
      SerializableHadoopConf.broadcast(conf.value), Array.empty)

  private def unwrap(partition: InputPartition): FixedWidthInputPartition = partition match {
    case k: FixedWidthKeyedInputPartition => k.inner
    case p: FixedWidthInputPartition => p
    case other => throw new IllegalStateException(s"fixedwidth: unexpected partition $other")
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException(
      "fixedwidth: the reader factory is columnar-only; use createColumnarReader")

  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createColumnarReader(partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new FixedWidthColumnarReader(unwrap(partition), opts, requiredSchema, conf.value.value, pushedFilters)
}

/** Chunk-walking record reader of [[FixedWidthColumnarReader]]: opens one
  * chunk at a time across a partition's packed chunks, each through the
  * cursor of its kind. `fetchBlock` fills the caller's buffer with up to
  * `max` whole records of ONE chunk (so of one file) and sets `blockOffset`
  * to the first one's byte offset in its file, the reference's default key.
  * A [[PlainRange]] fills the block with one bulk read. An [[FwzRun]]
  * decodes its frames one at a time into a reused buffer and copies whole
  * records out of it. A [[WholeFile]] or [[Bz2Split]] reads record by
  * record from a Hadoop codec stream, keeping every EOF, stall and
  * trailing-fragment check.
  */
final class ChunkedRecordStream(
    part: FixedWidthInputPartition,
    opts: FixedWidthOptions,
    conf: Configuration) {

  private val recLen = opts.recordLength
  private val chunks = part.chunks.iterator
  // the open chunk's file, its raw stream, and its kind's cursor over it
  private var curPath = ""
  private var raw: FSDataInputStream = null
  private var cursor: Cursor = null

  // Frame buffers and the zstd context, shared by every FwzRun cursor of
  // the reader.
  private var cBuf = Array.emptyByteArray
  private var dBuf = Array.emptyByteArray
  private var zstd: com.github.luben.zstd.ZstdDecompressCtx = null

  var recordsRead = 0L

  // Current file path as UTF-8 bytes, converted ONCE per chunk — the
  // `_source_file` metadata column must not pay a per-record String→UTF8
  // encode. Empty until the first chunk opens (the reader only consults it
  // after a successful fetchBlock).
  private var curPathUtf8: Array[Byte] = Array.emptyByteArray

  /** UTF-8 bytes of the file the LAST fetched record came from. */
  def currentPathUtf8: Array[Byte] = curPathUtf8

  /** Byte offset in its file of the first record of the last block. */
  var blockOffset = -1L

  def close(): Unit = {
    closeChunk()
    if (zstd != null) { zstd.close(); zstd = null }
  }

  private def closeChunk(): Unit = {
    if (cursor != null) { cursor.close(); cursor = null }
    if (raw != null) { raw.close(); raw = null }
  }

  /** Fill `dst` with up to `max` whole records of one chunk; returns how
    * many (0 when all chunks are drained) and sets `blockOffset`. */
  def fetchBlock(dst: Array[Byte], max: Int): Int = {
    while (true) {
      if (cursor != null) {
        blockOffset = cursor.pos
        val n = cursor.fetch(dst, max)
        if (n > 0) { recordsRead += n; return n }
      }
      closeChunk()
      if (!chunks.hasNext) return 0
      val c = chunks.next()
      val p = new Path(c.filePath)
      raw = p.getFileSystem(conf).open(p)
      curPath = c.filePath
      curPathUtf8 = c.filePath.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      cursor = c match {
        case r: PlainRange => new PlainCursor(r)
        case w: WholeFile => new WholeFileCursor(w)
        case b: Bz2Split => new Bz2Cursor(b)
        case f: FwzRun => new FwzCursor(f)
      }
    }
    0 // unreachable
  }

  private def truncated(at: Long): Nothing =
    // Parity with the reference's truncated-record detection
    // (FixedLengthRecordReader.java:225-235).
    throw new java.io.IOException(
      s"fixedwidth: EOF mid-record at offset $at of $curPath: " +
        s"file is not a multiple of recordLength=$recLen")

  /** The decoded bytes of the current file ended at logical offset `at`,
    * short of what its split index or footer promised: fail loudly instead
    * of silently dropping records. */
  private def unexpectedEof(at: Long): Nothing =
    throw new java.io.IOException(
      s"fixedwidth: unexpected EOF at logical offset $at of $curPath — " +
        "split index/footer is stale or inconsistent with the compressed " +
        "payload; refusing to silently drop records")

  /** The open chunk, read through `raw`. `pos` is the file offset
    * (decompressed, for a compressed file) of its next record; `fetch`
    * moves up to `max` whole records into the start of `dst` and returns
    * how many, 0 at the chunk's end. */
  private abstract class Cursor {
    var pos = 0L
    def fetch(dst: Array[Byte], max: Int): Int
    def close(): Unit = ()
  }

  private final class PlainCursor(c: PlainRange) extends Cursor {
    private val end = c.start + c.length
    raw.seek(c.start)
    pos = c.start

    def fetch(dst: Array[Byte], max: Int): Int = {
      if (pos >= end) return 0
      // every record STARTING before `end` belongs to the chunk
      val n = math.min(max.toLong, (end - pos + recLen - 1) / recLen).toInt
      var got = 0
      while (got < n * recLen) {
        val r = raw.read(dst, got, n * recLen - got)
        if (r < 0) truncated(pos + got / recLen * recLen)
        got += r
      }
      pos += got
      n
    }
  }

  /** Record-by-record reads from a Hadoop codec stream `in`, over the
    * records starting before `end` and at most to the stream's EOF. */
  private abstract class CodecCursor extends Cursor {
    protected val in: java.io.InputStream
    protected var end = Long.MaxValue
    /** The stream ended `n` bytes into the record at `pos`. */
    protected def atEof(n: Int): Unit = ()

    def fetch(dst: Array[Byte], max: Int): Int = {
      var k = 0
      while (k < max && pos < end) {
        var n = 0
        while (n < recLen) {
          val r = in.read(dst, k * recLen + n, recLen - n)
          if (r <= 0) {
            // r == 0 breaks the blocking-stream contract of a Hadoop codec
            // stream. Treating it as progress would spin this loop forever
            // inside a task; fail loudly like any other corruption.
            if (r == 0)
              throw new java.io.IOException(
                s"fixedwidth: decompressor stalled (read 0 bytes) at logical " +
                  s"offset ${pos + n} of $curPath — corrupt compressed chunk")
            atEof(n)
            if (n > 0 && !opts.tolerant) truncated(pos) // tolerant: drop the trailing partial record
            end = pos // drained: later calls must not read past this EOF again
            return k
          }
          n += r
        }
        pos += recLen
        k += 1
      }
      k
    }

    override def close(): Unit = in.close()
  }

  /** A whole compressed file, bounded by its stream's EOF alone. */
  private final class WholeFileCursor(c: WholeFile) extends CodecCursor {
    protected val in: java.io.InputStream =
      Option(new CompressionCodecFactory(conf).getCodec(new Path(c.filePath))).getOrElse(
        throw new IllegalArgumentException(s"fixedwidth: no Hadoop codec for ${c.filePath}")
      ).createInputStream(raw)
  }

  /** A split bzip2 range: a BYBLOCK stream aligned to the range's first
    * block; the record grid comes from the phase-1 index (see
    * [[Bz2SplitIndex]]). It skips to the first record start ≥ dStart and
    * owns every record STARTING before dStart + dLen; the stream reads past
    * the range's blocks transparently, which is exactly what completes a
    * tail record spanning into the next range's blocks. */
  private final class Bz2Cursor(c: Bz2Split) extends CodecCursor {
    private val codec = new CompressionCodecFactory(conf).getCodec(new Path(c.filePath)) match {
      case sp: SplittableCompressionCodec => sp
      case _ => throw new IllegalArgumentException(
        s"fixedwidth: ${c.filePath} planned as a split codec but no splittable Hadoop codec resolves")
    }
    private val decompressor = CodecPool.getDecompressor(codec)
    end = c.dStart + c.dLen
    pos = c.dStart + (recLen - c.dStart % recLen) % recLen
    protected val in: java.io.InputStream =
      try {
        val s = codec.createInputStream(raw, decompressor, c.cStart, c.cStart + c.cLen,
          SplittableCompressionCodec.READ_MODE.BYBLOCK)
        // InputStream.skip reads the head fragment and stops at EOF; EOF
        // inside it leaves pos past the file's end, so the range owns nothing
        s.skip(pos - c.dStart)
        s
      } catch { case e: Throwable => CodecPool.returnDecompressor(decompressor); throw e }

    // The ONLY legitimate mid-record EOF is the file's genuine trailing
    // fragment (the BYBLOCK stream reads past its range bound to file EOF,
    // so a spanning tail record always completes); anything else means the
    // phase-1 index is stale or BYBLOCK semantics changed (phase 1 has the
    // same guard as a require on block-boundary reads).
    override protected def atEof(n: Int): Unit = {
      val tailFragment = (c.fileDLen % recLen).toInt
      if (pos != c.fileDLen - tailFragment || n != tailFragment) unexpectedEof(pos + n)
    }

    override def close(): Unit = try in.close() finally CodecPool.returnDecompressor(decompressor)
  }

  /** A `.fwz` frame run, decoded one frame at a time from the footer
    * lengths the chunk carries. A pushed limit/offset may clip the owned
    * range inside the run: the head [dOrigin, dStart) is skipped in the
    * decoded frames, and frames past the owned range are never read. No
    * spanning tail: frame boundaries are record boundaries. */
  private final class FwzCursor(c: FwzRun) extends Cursor {
    private val end = c.dStart + c.dLen
    // the run index of the next frame to decode, and the decoded frame in
    // dBuf[fOff, fLen)
    private var nextFrame = 0
    private var fOff = 0
    private var fLen = 0
    raw.seek(c.cStart)
    if (c.codec == FwzFormat.CodecZstd && zstd == null)
      zstd = new com.github.luben.zstd.ZstdDecompressCtx
    pos = c.dStart
    take(null, c.dStart - c.dOrigin)

    def fetch(dst: Array[Byte], max: Int): Int = {
      val n = math.min(max.toLong, (end - pos) / recLen).toInt
      take(dst, n.toLong * recLen)
      pos += n.toLong * recLen
      n
    }

    /** Decode the run's next frame into `dBuf`: one sequential read of its
      * cLen bytes, one decompress call, and a hard check that it holds
      * exactly the dLen bytes its footer records. */
    private def decodeFrame(): Unit = {
      val lens = c.frameLens
      if (2 * nextFrame >= lens.length) unexpectedEof(pos)
      val cLen = lens(2 * nextFrame)
      val dLen = lens(2 * nextFrame + 1)
      def fail(why: String): Nothing = throw new java.io.IOException(
        s"fixedwidth fwz: frame ${c.firstFrame + nextFrame} of $curPath $why " +
          "— corrupt frame or frame table")
      if (cLen > Int.MaxValue - 8 || dLen > Int.MaxValue - 8)
        fail(s"is too large to decode in one buffer ($cLen, $dLen bytes)")
      if (cBuf.length < cLen) cBuf = new Array[Byte](cLen.toInt)
      if (dBuf.length < dLen) dBuf = new Array[Byte](dLen.toInt)
      val n =
        try {
          raw.readFully(cBuf, 0, cLen.toInt)
          FwzFormat.decompressFrame(c.codec, zstd, cBuf, cLen.toInt, dBuf, dLen.toInt)
        } catch {
          case e @ (_: java.io.IOException | _: com.github.luben.zstd.ZstdException) =>
            fail(s"does not decode to the $dLen bytes its footer records: ${e.getMessage}")
        }
      if (n != dLen) fail(s"decompressed to $n bytes, not the $dLen its footer records")
      nextFrame += 1
      fOff = 0
      fLen = n
    }

    /** Move the run's next `n` decoded bytes to the start of `dst` (`dst`
      * null: skip them), decoding a frame whenever the current one is used
      * up; a record that straddles two frames is assembled here. */
    private def take(dst: Array[Byte], n: Long): Unit = {
      var done = 0L
      while (done < n) {
        if (fOff == fLen) decodeFrame()
        val m = math.min(n - done, (fLen - fOff).toLong).toInt
        if (dst != null) System.arraycopy(dBuf, fOff, dst, done.toInt, m)
        fOff += m
        done += m
      }
    }
  }
}

/** The corrupt-record payload of [[FixedWidthColumnarReader]]. Whether a
  * field is malformed is its codec's attempt-parse probe
  * ([[FieldCodec.probe]]), which throws `NumberFormatException` iff the
  * field's bytes would not decode; strings have none, since any bytes
  * decode to a string.
  */
object FixedWidthMalformed {

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
  * are the ONE parse definitions: the field codecs ([[FieldCodec]]) call
  * them, and every reader, filter, stats and directory-value path decodes
  * through a codec.
  *
  * Decimals of precision ≤ 18 and doubles take fast paths over plain
  * `[sign]digits[.digits]` that build no String, BigDecimal or boxed value.
  * The fallback rule: any input a fast path does not cover exactly goes to
  * the general `BigDecimal` / `Double.parseDouble` parse, so every value
  * and every `NumberFormatException` message is the general path's. */
object AsciiParse {

  /** Configurable space-trim of a byte range, packed as (start << 32) | end —
    * one primitive return, no tuple allocation on the per-record path. The
    * one trim loop of every string decode site, so they cannot drift. */
  def trimRange(buf: Array[Byte], from: Int, until: Int,
      trimLeft: Boolean, trimRight: Boolean): Long = {
    var s = from
    var e = until
    if (trimRight) while (e > s && buf(e - 1) == ' ') e -= 1
    if (trimLeft) while (s < e && buf(s) == ' ') s += 1
    (s.toLong << 32) | e
  }

  /** Trimmed, charset-decoded string field value — the ONE definition of
    * what a fixedwidth string field decodes to, called by the string codec
    * ([[FieldCodec.Str]]) so pushed predicates, stats and directory values
    * match Catalyst's post-scan semantics bit-exactly. UTF-8 zero-copies: the returned
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
