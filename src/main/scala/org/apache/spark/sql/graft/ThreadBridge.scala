package org.apache.spark.sql.graft

/** Spark keeps `ThreadUtils` `private[spark]`. Like [[PlanBridge]], this
  * re-exports the ONE helper a library needs from it: `parmap`, the
  * throwaway bounded pool Spark's own Parquet footer reads fan out on
  * (`ParquetFileFormat.readParquetFootersInParallel`). The pool lives for
  * one call and is shut down before it returns. */
object ThreadBridge {
  def parmap[I, O](in: Seq[I], prefix: String, maxThreads: Int)(f: I => O): Seq[O] =
    org.apache.spark.util.ThreadUtils.parmap(in, prefix, maxThreads)(f)
}
