package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A workload is one stored form of the generated records; every workload
  * runs the same operations, so each end-to-end metric has a reading on
  * each workload and an optimisation of one form shows as a change on that
  * workload only.
  *
  *  - `fw_scan`: raw uncompressed fixed-width bytes, one file per core, keys
  *    unordered. Nothing can be skipped; the reader and decoder do the work.
  *  - `fwz_selective`: zstd `.fwz` with per-frame min/max of `k` and `qty`,
  *    256 hash-partitioned files each sorted by `k`. A key range skips most
  *    frames, MIN/MAX/COUNT come from the footers, a `qty` filter skips
  *    nothing and pays decompression.
  *
  * `fw_scan` holds 1,000,000 records of 100 bytes (100 MB of source),
  * `fwz_selective` 500,000 (50 MB), so that its costlier set-up and
  * operations still give each run enough samples.
  */
final case class Workload(
    name: String,
    records: Long,
    files: Int,
    writeOptions: Map[String, String],
    sortedByKey: Boolean) {

  private val typedColumns = Seq("k", "qty", "amount", "day", "price", "s1", "s2", "s3")

  /** Store the generator's records in this workload's layout at `dir`:
    * the data every read operation runs on. */
  def store(gen: DataFrame, dir: String): Unit = {
    val rows = gen.select(typedColumns.map(col): _*)
    write(if (sortedByKey) rows.repartition(files, col("k")).sortWithinPartitions("k") else rows, dir)
  }

  /** Write rows in this workload's format, as they come: the write
    * operation, which measures the writer without a shuffle or sort. */
  def write(rows: DataFrame, dir: String): Unit =
    rows.select(typedColumns.map(col): _*).write.format("fixedwidth")
      .option("fields", Data.Layout).options(writeOptions).mode("overwrite").save(dir)

  def typed(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("fixedwidth").option("fields", Data.Layout).load(dir)

  def raw(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("fixedwidth").option("recordLength", Data.RecordLength.toString).load(dir)
}

object Workload {
  def apply(name: String, cores: Int): Workload = name match {
    case "fw_scan" =>
      Workload(name, records = 1000000L, files = cores, Map.empty, sortedByKey = false)
    case "fwz_selective" =>
      Workload(name, records = 500000L, files = 256,
        Map("compression" -> "zstd", "frameBytes" -> "16384", "frameStats" -> "k,qty"),
        sortedByKey = true)
    case other =>
      throw new IllegalArgumentException(s"unknown workload '$other' (fw_scan, fwz_selective)")
  }
}

/** One timed operation. `timed` is the measured action; `answer` turns its
  * result into the values compared with the expected answer `expect`,
  * untimed (the write's answer is a read-back of what it wrote). */
final case class Op(
    name: String,
    expect: String,
    timed: String => Seq[Any],
    answer: Seq[Any] => Seq[Any] = identity) {
  def isWrite: Boolean = name == "write"
}

object Op {
  /** The operation mix of every workload, in the order one cycle runs it.
    * `scratch` names a fresh directory for the write's output. */
  def all(spark: SparkSession, w: Workload, spec: Data.Spec, gen: DataFrame,
      scratch: () => String): Seq[Op] = {
    def typed(dir: String) = w.typed(spark, dir)
    def rawAgg(dir: String) =
      w.raw(spark, dir).agg(count(lit(1)), sum(Data.valueHash)).head().toSeq
    Seq(
      Op("typed_agg", "typed_agg", dir => typed(dir).agg(
        count(lit(1)), sum("k"), sum("qty"), sum("amount"), min("day"), max("day"),
        sum("price"), sum(Data.strHash)).head().toSeq),
      Op("raw_agg", "raw_agg", rawAgg),
      Op("filter_1pct", "filter_1pct", dir => typed(dir)
        .filter(col("k") >= spec.lo && col("k") < spec.hi)
        .agg(count(lit(1)), sum("qty")).head().toSeq),
      Op("filter_50pct", "filter_50pct", dir => typed(dir)
        .filter(col("qty") < spec.qtyHalf)
        .agg(count(lit(1)), sum("amount")).head().toSeq),
      Op("minmax_count", "minmax_count", dir => typed(dir)
        .agg(min("k"), max("k"), count(lit(1))).head().toSeq),
      Op("write", "raw_agg",
        _ => { val out = scratch(); w.write(gen, out); Seq(out) },
        r => {
          val out = r.head.toString
          try rawAgg(out) finally Files.delete(out)
        }))
  }
}

object Files {
  def delete(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(path))
  }

  /** The data files of a stored dataset: (path, length), listing order. */
  def dataFiles(dir: String): Seq[(String, Long)] =
    Option(new java.io.File(dir).listFiles).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .sortBy(_.getName)
      .map(f => f.getPath -> f.length())
}
