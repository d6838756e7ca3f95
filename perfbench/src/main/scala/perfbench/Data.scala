package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The seeded record generator, the 100-byte layout the workloads store it
  * in, and the expected answers computed from the generator alone (never
  * through the `fixedwidth` source). */
object Data {
  val RecordLength = 100

  /** name:type:start:len, 8 fields filling the 100-byte record. */
  val Layout: String = Seq(
    "k:long:0:12", "qty:int:12:8", "amount:decimal(15,2):20:18", "day:date:38:8",
    "price:double:46:14", "s1:string:60:10", "s2:string:70:16", "s3:string:86:14"
  ).mkString(",")

  /** Field widths of [[Layout]], in order, for building the raw record. */
  private val Widths = Seq(12, 8, 18, 8, 14, 10, 16, 14)

  /** Multiplier of the key permutation; coprime with every record count
    * used here, so `k` is a bijection of the row index onto [0, n). */
  private val KeyStride = 1000003L

  final case class Spec(n: Long, seed: Long) {
    def bytes: Long = n * RecordLength
    /** The 1%-selective key range [lo, hi). */
    val lo: Long = Math.floorMod(seed * 104729L, n - n / 100)
    val hi: Long = lo + n / 100
    /** `qty` is uniform on [0, 100000): this threshold keeps half. */
    val qtyHalf: Int = 50000
  }

  private def h(i: Int, seed: Long): Column = xxhash64(col("id"), lit(seed), lit(i))

  /** Typed generator columns plus `value`: the exact 100 bytes the sink
    * writes for them (numbers and strings left-aligned, space-padded). */
  def generator(spark: SparkSession, spec: Spec, partitions: Int): DataFrame = {
    val base = spark.range(0L, spec.n, 1L, partitions)
      .select(
        pmod(col("id") * KeyStride + Math.floorMod(spec.seed * 7919L, spec.n), lit(spec.n)).as("k"),
        pmod(h(1, spec.seed), lit(100000L)).cast("int").as("qty"),
        // x / 100.0 for x < 1e11 is within 1e-6 of x cents; the cast rounds back to them
        (pmod(h(2, spec.seed), lit(100000000000L)) / 100.0).cast(DecimalType(15, 2)).as("amount"),
        (pmod(h(3, spec.seed), lit(3000L)) + 18000).cast("int").as("day_n"),
        pmod(h(4, spec.seed), lit(400000L)).as("price_q"),
        substring(lower(hex(h(5, spec.seed))), 1, 10).as("s1"),
        lower(hex(h(6, spec.seed))).as("s2"),
        substring(lower(hex(h(7, spec.seed))), 1, 14).as("s3"))
    // Double.toString of a quarter-multiple below 1e7: "<int>.0|.25|.5|.75"
    val priceText = concat(
      (col("price_q") / 4).cast("long").cast("string"), lit("."),
      element_at(array(lit("0"), lit("25"), lit("5"), lit("75")),
        (pmod(col("price_q"), lit(4L)) + 1).cast("int")))
    val texts = Seq(col("k").cast("string"), col("qty").cast("string"),
      col("amount").cast("string"), col("day_n").cast("string"), priceText,
      col("s1"), col("s2"), col("s3"))
    base.select(
      col("k"), col("qty"), col("amount"),
      date_from_unix_date(col("day_n")).as("day"),
      (col("price_q") / 4.0).as("price"),
      col("s1"), col("s2"), col("s3"),
      concat(texts.zip(Widths).map { case (t, w) => rpad(t, w, " ") }: _*)
        .cast("binary").as("value"))
  }

  /** Hash folds that sum without overflow under ANSI arithmetic. */
  def strHash: Column = shiftrightunsigned(xxhash64(col("s1"), col("s2"), col("s3")), 24)
  def valueHash: Column = shiftrightunsigned(xxhash64(col("value")), 24)

  /** The answers every operation must reproduce, in one pass over the
    * generator. Keys match the operations' result names. */
  def expected(gen: DataFrame, spec: Spec): Map[String, Seq[Any]] = {
    val inRange = col("k") >= spec.lo && col("k") < spec.hi
    val half = col("qty") < spec.qtyHalf
    val r = gen.agg(
      count(lit(1)), sum("k"), sum("qty"), sum("amount"), min("day"), max("day"),
      sum("price"), sum(strHash),
      sum(valueHash),
      count(when(inRange, 1)), sum(when(inRange, col("qty"))),
      count(when(half, 1)), sum(when(half, col("amount"))),
      min("k"), max("k")).head()
    val v = r.toSeq
    Map(
      "typed_agg" -> v.slice(0, 8),
      "raw_agg" -> Seq(v(0), v(8)),
      "filter_1pct" -> Seq(v(9), v(10)),
      "filter_50pct" -> Seq(v(11), v(12)),
      "minmax_count" -> Seq(v(13), v(14), v(0)))
  }
}
