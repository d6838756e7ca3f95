package graft.sources.fixedwidth

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `spark.read.format("fixedwidth")` / `df.write.format("fixedwidth")`.
  *
  * Spark-native re-expression of the reference's
  * `FixedLengthInputFormat`/`FixedLengthRecordReader` (reference
  * FixedLengthInputFormat.java:79-80, FixedLengthRecordReader.java:59-267):
  * files hold undelimited records of exactly `recordLength` bytes; the scan
  * emits `(offset, [key,] value)` in raw mode or typed columns via the
  * `fields` layout option. See FixedWidthOptions for the option surface.
  */
class FixedWidthTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "fixedwidth"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FixedWidthOptions(options).schema

  /** External metadata = the writer's `partitionBy(...)` transforms reach
    * `getTable` (that is the only way DSv2 hands them to a path-based
    * provider). The byte layout remains the single source of truth for the
    * READ schema: the table always reports the option-derived schema; a
    * user-passed read schema that differs from it fails fast in
    * `newScanBuilder` rather than being silently ignored. */
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new FixedWidthTable(FixedWidthOptions(opts), opts, partitioning, Option(schema))
  }
}

object FixedWidthTable {

  /** The `_source_file` DSv2 metadata column (per-record file provenance). */
  object SourceFileColumn extends org.apache.spark.sql.connector.catalog.MetadataColumn {
    override def name(): String = FixedWidthOptions.SourceFileCol
    override def dataType(): org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.StringType
    override def isNullable: Boolean = false
    override def comment(): String =
      "path of the file this record was read from"
  }

  /** Extensions the reference treats as compressed → unsupported
    * (reference FixedLengthRecordReader.java:147-152 throws; the format marks
    * them merely non-splittable at FixedLengthInputFormat.java:371-380 — the
    * effective behavior is "compressed = rejected", which we keep).
    */
  private val CompressedExts = Seq(".gz", ".gzip", ".bz2", ".deflate", ".snappy", ".zst", ".lz4", ".lzo", ".zip")

  def isCompressed(p: Path): Boolean = {
    val n = p.getName.toLowerCase
    CompressedExts.exists(n.endsWith)
  }

  def isDataFile(s: FileStatus): Boolean = {
    val n = s.getPath.getName
    s.isFile && s.getLen > 0 && !n.startsWith("_") && !n.startsWith(".")
  }

  /** A data file plus the Hive-style `col=value` assignments collected from
    * its directory path (keys lowercased, values unescaped; files outside a
    * partitioned layout carry an empty map). */
  final case class PartitionedFile(status: FileStatus, partValues: Map[String, String])

  /** Split a directory name into a `col=value` partition assignment, or None
    * for plain directories. The first '=' splits (values may contain escaped
    * '=' as %3D, but never a raw one — the writer escapes it). */
  private def partSegment(dirName: String): Option[(String, String)] = {
    val i = dirName.indexOf('=')
    if (i <= 0) None
    else Some(dirName.substring(0, i).toLowerCase ->
      FixedWidthEncoder.unescapePartitionValue(dirName.substring(i + 1)))
  }

  /** Recursive data-file listing under a directory: partitioned layouts
    * (`col=value/` subdirectories) nest files arbitrarily deep; `_`/`.`
    * prefixed names are skipped at every level. Accumulates the `col=value`
    * assignments seen on the way down. */
  private def listRecursive(
      fs: org.apache.hadoop.fs.FileSystem,
      st: FileStatus,
      parts: Map[String, String]): Seq[PartitionedFile] = {
    val n = st.getPath.getName
    if (n.startsWith("_") || n.startsWith(".")) Nil
    else if (st.isDirectory) {
      val nested = partSegment(n).fold(parts)(parts + _)
      fs.listStatus(st.getPath).toSeq.flatMap(listRecursive(fs, _, nested))
    } else Seq(st).filter(isDataFile).map(PartitionedFile(_, parts))
  }

  /** Resolve the `path`/`paths` options to concrete data files. Runs on the
    * driver at plan time (analog of FileInputFormat listing inside
    * `getSplits`, reference FixedLengthInputFormat.java:364).
    */
  def listPartitionedFiles(opts: CaseInsensitiveStringMap, conf: Configuration): Seq[PartitionedFile] = {
    val raw = Option(opts.get("paths")) match {
      case Some(js) =>
        // `load(p1, p2, ...)` passes a JSON-encoded string array. Parse it
        // with a real JSON parser (Jackson ships on Spark's classpath) —
        // naive split-on-comma mis-splits any path containing ',' or '"'.
        try {
          val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
          mapper.readValue(js, classOf[Array[String]]).toIndexedSeq.filter(_.nonEmpty)
        } catch {
          case e: Exception =>
            throw new IllegalArgumentException(
              s"fixedwidth: option 'paths' is not a JSON string array: $js", e)
        }
      case None =>
        Option(opts.get("path")).toSeq
    }
    if (raw.isEmpty)
      throw new IllegalArgumentException("fixedwidth: no input path specified")
    raw.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      val globbed = Option(fs.globStatus(path)).map(_.toSeq).getOrElse(Seq.empty)
      if (globbed.isEmpty)
        throw new IllegalArgumentException(s"fixedwidth: path does not exist: $p")
      // A LITERAL root's own name never contributes a partition value (a
      // user pointing at `.../date=2024-01-01` directly has fixed that value
      // for every file — Spark's own sources behave the same). A GLOB root
      // (`load("/data/date=*")`, `/data/date=*/hour=3`) is different: the
      // expanded directories carry DIFFERENT values, so every `col=value`
      // segment from the first glob segment onward binds (segment-aligned —
      // Hadoop globs never span '/'; on an alignment miss, fall back to the
      // matched root's own name). The value text also lives in the record
      // bytes (partitionRenderers), so this only enables pruning, it never
      // changes query output.
      def hasGlobChar(s: String): Boolean = s.exists(c => "*?[]{}".indexOf(c.toInt) >= 0)
      val patSegs = p.split('/').filter(_.nonEmpty)
      val firstGlobSeg = patSegs.indexWhere(hasGlobChar)
      // col=value bindings carried by a matched path's segments from the
      // first glob segment on; `dirSegments` = how many leading segments of
      // the matched path are directories (a matched FILE's own name never
      // binds — only its parents). Alignment miss (exotic glob): for a
      // directory fall back to its own name, for a file bind nothing.
      def globBindings(matched: Path, isDir: Boolean): Map[String, String] = {
        if (firstGlobSeg < 0) return Map.empty
        val gotSegs = matched.toUri.getPath.split('/').filter(_.nonEmpty)
        val dirSegs = if (isDir) gotSegs else gotSegs.dropRight(1)
        if (gotSegs.length == patSegs.length)
          dirSegs.drop(firstGlobSeg).flatMap(partSegment).toMap
        else if (isDir) partSegment(matched.getName).toMap
        else Map.empty
      }
      globbed.flatMap { st =>
        if (st.isDirectory) {
          val seed = globBindings(st.getPath, isDir = true)
          fs.listStatus(st.getPath).toSeq.flatMap(listRecursive(fs, _, seed))
        } else Seq(st).filter(isDataFile)
          .map(f => PartitionedFile(f, globBindings(f.getPath, isDir = false)))
      }
    }
  }

  /** Driver-side memo for directory-value decodes: callers run per FILE
    * (grouped counts, keyed groups, partition rows) but a listing has only
    * as many distinct (field, raw) pairs as leaf directories — without the
    * cache a 1M-file planning walk decoded the same value once per file per
    * partition column. Failures (over-width values) are not cached and
    * rethrow on every call, preserving the NumberFormatException contract.
    * Decoded values are immutable (decodeField copies strings), so sharing
    * across callers is safe. */
  private val dirValueCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, FieldSpec, String), Any]()

  /** Decode a directory value string to its Catalyst value through
    * [[decodeField]] (so "1"/"01" merge, trim applies, blank = NULL).
    * Throws NumberFormatException on foreign garbage. */
  def decodeDirValue(opts: FixedWidthOptions, f: FieldSpec, raw: String): Any =
    dirValueCache.computeIfAbsent(
      (opts.charset.name, opts.trim, f, raw),
      _ => decodeDirValueUncached(opts, f, raw))

  private def decodeDirValueUncached(opts: FixedWidthOptions, f: FieldSpec, raw: String): Any =
    decodeField(opts, f, opts.codec(f).textBytes(raw, f.len).getOrElse(
      throw new NumberFormatException(s"over-width directory value '$raw'")))

  /** Decode ONE declared field from its raw bytes, space-padded or cut to
    * the field width, with the parsers a record read uses: NULL for a blank
    * typed field, a copied `UTF8String` for strings. Throws
    * NumberFormatException on bytes the typed parse rejects. An fwz stats
    * extreme decodes through here, so a footer-answered min/max is
    * bit-identical to what scanning the winning record would return. */
  def decodeField(opts: FixedWidthOptions, f: FieldSpec, bytes: Array[Byte]): Any = {
    val n = f.len
    val buf = Array.fill[Byte](n)(' ')
    System.arraycopy(bytes, 0, buf, 0, math.min(bytes.length, n))
    opts.codec(f).decode(buf, 0, n)
  }

  /** The files a pushed filter set keeps, with their directory assignments
    * (`kept` is their statuses, in listing order). `exact = true` ⇔ the kept
    * files contain EXACTLY the records satisfying the pushed filters (every
    * filter was fully covered by every kept file's partition path and every
    * directory value evaluated cleanly) — the precondition for answering
    * COUNT(*) from file lengths alone. */
  final case class PruneResult(keptFiles: Seq[PartitionedFile], pruned: Long, exact: Boolean) {
    lazy val kept: Seq[FileStatus] = keptFiles.map(_.status)
  }

  /** Directory pruning — the read half of `partitionBy` (the analog of the
    * reference's split-enumeration hook, FixedLengthInputFormat.java:318-365:
    * the only IO skip an indexless format has). A pushed filter whose
    * referenced columns are ALL bound by a file's `col=value` path prunes
    * that file when it cannot match.
    *
    * The verdict reuses the reader's own compiled predicates on a synthetic
    * record buffer: the writer guarantees the directory value text is the
    * SAME text the field encoder placed in the record bytes
    * (FixedWidthEncoder.partitionRenderers), so encoding the unescaped value
    * into a blank record and running the pushed predicate yields exactly the
    * record-level verdict — NULL (blank) semantics, trim, charset, -0.0 and
    * decimal scale handling all included, with zero duplicated compare logic.
    *
    * Conservative by construction: only filters fully covered by the path
    * participate; any anomaly (undeclared column, over-width or unparseable
    * directory value — possible only for directories our writer did not
    * produce) keeps the file and lets the in-record predicates decide.
    */
  def pruneFiles(
      files: Seq[PartitionedFile],
      fwOpts: FixedWidthOptions,
      pushed: Array[org.apache.spark.sql.sources.Filter]): PruneResult = {
    if (pushed.isEmpty)
      return PruneResult(files, 0L, exact = true)
    if (!fwOpts.typed || files.forall(_.partValues.isEmpty))
      return PruneResult(files, 0L, exact = false)

    // Catalyst splits conjunctions before pushdown, but an And can still
    // arrive atomically (e.g. pushed programmatically); its partition-only
    // conjuncts prune independently of the record-level ones.
    def conjuncts(f: org.apache.spark.sql.sources.Filter): Seq[org.apache.spark.sql.sources.Filter] =
      f match {
        case org.apache.spark.sql.sources.And(l, r) => conjuncts(l) ++ conjuncts(r)
        case other => Seq(other)
      }
    val flattened = pushed.flatMap(conjuncts)
    val allRefs = flattened.flatMap(_.references.map(_.toLowerCase)).distinct

    // directory assignment -> (keep, clean) verdict, memoized (a 10k-file
    // layout has only as many distinct assignments as leaf directories).
    // `clean` = every filter was covered and evaluated without anomaly, so a
    // KEPT file holds only matching records.
    val verdictCache = scala.collection.mutable.HashMap.empty[Map[String, String], (Boolean, Boolean)]

    def verdict(parts: Map[String, String]): (Boolean, Boolean) = verdictCache.getOrElseUpdate(parts, {
      val bound = parts.keySet.filter(k => fwOpts.fields.exists(_.name.equalsIgnoreCase(k)))
      val coversAll = allRefs.forall(bound.contains)
      val prunable = flattened.filter { f =>
        val refs = f.references
        refs.nonEmpty && refs.forall(r => bound.contains(r.toLowerCase))
      }
      if (prunable.isEmpty) (true, false)
      else {
        val buf = new Array[Byte](fwOpts.recordLength)
        java.util.Arrays.fill(buf, ' '.toByte)
        val ok = parts.forall { case (k, v) =>
          fwOpts.fields.find(_.name.equalsIgnoreCase(k)) match {
            case None => true // undeclared col=value dir: not bound, ignore
            case Some(f) =>
              fwOpts.codec(f).textBytes(v, f.len).exists { bytes => // None: a foreign dir
                // strings beyond the width were truncated in the record too
                System.arraycopy(bytes, 0, buf, f.start, math.min(bytes.length, f.len))
                true
              }
          }
        }
        if (!ok) (true, false) // not our writer's layout: keep, record filters decide
        else
          try {
            val compiled = prunable.map(f =>
              FixedWidthFilters.compileOnBuffer(f, fwOpts, buf, () => 0L))
            val keep = compiled.forall(_.forall(_.apply()))
            // an uncompilable filter was never evaluated here: keeping the
            // file is conservative and correct, but claiming `clean` would
            // let downstream skip the record-level check it still needs
            (keep, coversAll && compiled.forall(_.isDefined))
          } catch { case _: NumberFormatException => (true, false) } // unparseable value: keep
      }
    })

    var exact = true
    val kept = files.filter { pf =>
      if (pf.partValues.isEmpty) { exact = false; true }
      else {
        val (keep, clean) = verdict(pf.partValues)
        // a file PRUNED by a clean partial verdict is exact regardless of
        // uncovered conjuncts (one false conjunct ⇒ no record matches); only
        // a KEPT-but-unclean file can leak non-matching records into a count
        if (keep && !clean) exact = false
        keep
      }
    }
    PruneResult(kept, (files.size - kept.size).toLong, exact)
  }
}

class FixedWidthTable(
    val fwOptions: FixedWidthOptions,
    tableOptions: CaseInsensitiveStringMap,
    partitionTransforms: Array[Transform] = Array.empty,
    providedSchema: Option[StructType] = None)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** `_source_file` surfaces per-record file provenance on demand (DSv2
    * metadata column — absent from schema(), materialized only when a query
    * references it). Suppressed if a declared field claims the name: data
    * columns win, per the SupportsMetadataColumns conflict contract. */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    if (fwOptions.fields.exists(_.name.equalsIgnoreCase(FixedWidthOptions.SourceFileCol)))
      Array.empty
    else Array(FixedWidthTable.SourceFileColumn)

  /** Column names of the writer's `partitionBy(...)` — identity transforms
    * only (bucket/days/etc. have no meaning for a directory-indexed flat
    * format), each naming a declared typed field. */
  val partitionCols: Seq[String] = partitionTransforms.toSeq.map { t =>
    // Public-API identity detection: IdentityTransform itself is private[sql]
    // in Spark 4, but Transform.name()/references() are stable connector API.
    if (t.name() == "identity" && t.references().length == 1) {
      val name = t.references()(0).fieldNames.mkString(".")
      if (!fwOptions.fields.exists(_.name.equalsIgnoreCase(name)))
        throw new IllegalArgumentException(
          s"fixedwidth: partition column '$name' is not a declared field " +
            "(partitionBy requires a 'fields' layout naming each partition column)")
      name
    } else {
      throw new IllegalArgumentException(
        s"fixedwidth: unsupported partition transform '$t' (only identity columns)")
    }
  }

  override def partitioning(): Array[Transform] = partitionTransforms

  override def name(): String =
    s"fixedwidth(${Option(tableOptions.get("path")).getOrElse(Option(tableOptions.get("paths")).getOrElse("?"))})"

  override def schema(): StructType = fwOptions.schema

  override def capabilities(): util.Set[TableCapability] =
    Set(
      TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE,
      // Write schema is validated by the writer itself against the `fields`
      // layout (or the single `value` column in raw mode); the table read
      // schema intentionally differs (adds `offset`).
      TableCapability.ACCEPT_ANY_SCHEMA).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // ACCEPT_ANY_SCHEMA + external metadata means a `.schema(...)` the user
    // passes on the READ path reaches getTable but cannot change the decode
    // (the byte layout fixes it). Silently ignoring a differing schema would
    // hand back columns the user did not ask for — fail fast instead. The
    // write path never comes through here; the writer validates the query
    // schema against the layout itself. Names + types must match (nullability
    // and metadata are not load-bearing for the decode).
    providedSchema.foreach { s =>
      val expect = fwOptions.schema
      val same = s.length == expect.length &&
        s.fields.zip(expect.fields).forall { case (a, b) =>
          a.name.equalsIgnoreCase(b.name) && a.dataType == b.dataType }
      if (!same)
        throw new IllegalArgumentException(
          s"fixedwidth: user-specified read schema ${s.simpleString} does not match the " +
            s"layout-derived schema ${expect.simpleString}; the 'fields'/'recordLength' " +
            "options are the source of truth — drop .schema(...) or make it identical")
    }
    val conf = SparkSession.active.sessionState.newHadoopConf()
    new FixedWidthScanBuilder(fwOptions, tableOptions, conf)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    new FixedWidthWriteBuilder(fwOptions, tableOptions, info, conf, partitionCols)
  }
}
