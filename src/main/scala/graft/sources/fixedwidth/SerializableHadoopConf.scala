package graft.sources.fixedwidth

import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** A bare Hadoop conf handed to [[FixedWidthReaderFactory]]'s in-process
  * constructor, which `perfbench`'s `Direct` harness calls. The name is
  * kept for those callers: nothing ships this class to a task. */
final class SerializableHadoopConf(val value: Configuration)

object SerializableHadoopConf {
  /** How scans, streams and writes ship their conf: one broadcast, as
    * Spark's own `FileScan` does, so a task deserializes a broadcast handle
    * instead of every property of the conf. */
  def broadcast(conf: Configuration): Broadcast[SerializableConfiguration] =
    SparkSession.active.sparkContext.broadcast(new SerializableConfiguration(conf))
}
