package graft.sources.fixedwidth

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** One query's view of its input files, made by the scan builder and handed
  * to the scan it builds — the reference plans a job from one listing too
  * (FixedLengthInputFormat.java:318-365). The table is listed once and
  * pruned once per filter set, and each framed file's footer is consulted
  * once, through the footer cache with the listing's own length and mtime
  * (no second stat). Aggregate pushdown, statistics and split planning all
  * read it, so they plan with the same files and footers: none is older or
  * newer than the listing. */
final class FixedWidthPlanFiles(
    opts: FixedWidthOptions,
    tableOptions: CaseInsensitiveStringMap,
    conf: Configuration) {

  lazy val listed: Seq[FixedWidthTable.PartitionedFile] =
    FixedWidthTable.listPartitionedFiles(tableOptions, conf)

  private val prunes =
    scala.collection.mutable.HashMap.empty[Seq[Filter], FixedWidthTable.PruneResult]
  private val footers =
    scala.collection.mutable.HashMap.empty[String, Try[FwzFormat.FwzFooter]]

  /** The listing under directory pruning by `filters` (see
    * [[FixedWidthTable.pruneFiles]]). */
  def pruned(filters: Array[Filter]): FixedWidthTable.PruneResult = synchronized {
    prunes.getOrElseUpdate(filters.toSeq, FixedWidthTable.pruneFiles(listed, opts, filters))
  }

  /** The footer of a framed file of the listing. A failure stays a value:
    * push decisions read it as "not answerable", split planning rethrows
    * it. */
  def footer(st: FileStatus): Try[FwzFormat.FwzFooter] = synchronized {
    footers.getOrElseUpdate(st.getPath.toString,
      Try(FwzFormat.readFooterCached(st.getPath, st.getLen, st.getModificationTime, conf)))
  }

  /** Exact record count of a file WITHOUT scanning its data: plain files
    * by length arithmetic, framed .fwz by footer (frames carry content
    * sizes, so `count(*)` over a compressed feed never decompresses a
    * byte); None for foreign compressed files (unknowable without
    * decompression) and for files the scan would reject anyway (let the
    * scan surface the real error). Floors per file: a trailing fragment
    * under PERMISSIVE yields no record. */
  def records(st: FileStatus): Option[Long] = {
    val recLen = opts.recordLength.toLong
    val len =
      if (FwzFormat.isFramed(st.getPath)) footer(st).map(_.totalDLen).getOrElse(return None)
      else if (FixedWidthTable.isCompressed(st.getPath)) return None
      else st.getLen
    if (!opts.tolerant && len % recLen != 0) None else Some(len / recLen)
  }
}
