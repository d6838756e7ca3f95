package perfbench

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.lib.input.{FileSplit, FixedLengthRecordReader}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.fixedwidth._

/** Direct single-thread calls into the source layer's public classes, so a
  * layer's cost is read without Spark's scheduler around it. */
final class Direct(conf: Configuration) {
  private val threads =
    java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]

  def options(m: Map[String, String]): FixedWidthOptions =
    FixedWidthOptions(new CaseInsensitiveStringMap(m.asJava))

  val typed: FixedWidthOptions = options(Map("fields" -> Data.Layout))
  val raw: FixedWidthOptions = options(Map("recordLength" -> Data.RecordLength.toString))

  /** Plan record-aligned partitions; returns them and the frames skipped. */
  def plan(files: Seq[(String, Long)], o: FixedWidthOptions,
      filters: Array[Filter]): (Array[InputPartition], Long) = {
    val pm = new FwzStats.PlanMetrics
    val parts = FixedWidthScan.alignedPartitionsOf(files, o, None, filters, pm)
    (parts, pm.framesSkipped)
  }

  /** Read every `.fwz` footer of `files`, through the cache or around it;
    * returns the number of frames they describe. */
  def footers(files: Seq[(String, Long)], cached: Boolean): Long =
    files.filter { case (p, _) => p.endsWith(".fwz") }.map { case (p, len) =>
      val path = new Path(p)
      val f =
        if (cached) FwzFormat.readFooterCached(path, len, new java.io.File(p).lastModified(), conf)
        else FwzFormat.readFooter(path, len, conf)
      f.frames.length.toLong
    }.sum

  /** Drive partitions through the columnar reader on this thread.
    * Returns (records, nanoseconds, bytes allocated by this thread). */
  def scan(parts: Seq[InputPartition], o: FixedWidthOptions): (Long, Long, Long) = {
    val factory = new FixedWidthReaderFactory(o, o.schema, new SerializableHadoopConf(conf))
    val tid = Thread.currentThread().getId
    val a0 = threads.getThreadAllocatedBytes(tid)
    val t0 = System.nanoTime()
    var rows = 0L
    parts.foreach { p =>
      val r = factory.createColumnarReader(p)
      try while (r.next()) rows += r.get().numRows()
      finally r.close()
    }
    (rows, System.nanoTime() - t0, threads.getThreadAllocatedBytes(tid) - a0)
  }

  /** Hadoop's own FixedLengthRecordReader over one raw file, as a control
    * that moves with the host and never with this repository's code.
    * Returns (records, nanoseconds). */
  def hadoopControl(file: String): (Long, Long) = {
    val c = new Configuration(conf)
    val len = new java.io.File(file).length()
    val rr = new FixedLengthRecordReader(Data.RecordLength)
    val t0 = System.nanoTime()
    var n = 0L
    try {
      rr.initialize(new FileSplit(new Path(file), 0L, len, Array.empty[String]),
        new TaskAttemptContextImpl(c, new TaskAttemptID()))
      while (rr.nextKeyValue()) n += 1
    } finally rr.close()
    (n, System.nanoTime() - t0)
  }
}
