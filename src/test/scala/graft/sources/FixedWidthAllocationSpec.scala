package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.sources.fixedwidth._

/** The reference reader allocates nothing per record: it reuses its key and
  * value buffers (FixedLengthRecordReader.java:198-206). The columnar
  * reader must keep that bar for a typed scan — block reads into a reused
  * buffer, column-at-a-time decode into reused vectors, and parsers that
  * build no String, BigDecimal or boxed Double. Measured with the
  * `ThreadMXBean`'s allocated bytes of this thread, the reader being
  * driven on this thread exactly as a Spark task drives it. */
class FixedWidthAllocationSpec extends AnyFunSuite with Matchers {

  private val layout = Seq(
    "k:long:0:12", "qty:int:12:8", "amount:decimal(15,2):20:18", "day:date:38:8",
    "price:double:46:14", "s1:string:60:10", "s2:string:70:16", "s3:string:86:14").mkString(",")
  private val widths = Seq(12, 8, 18, 8, 14, 10, 16, 14)

  /** n 100-byte records of seeded values in the numeral forms the sink writes. */
  private def writeRecords(n: Int): java.nio.file.Path = {
    val rng = new scala.util.Random(7)
    val sb = new java.lang.StringBuilder(n * 100)
    (0 until n).foreach { i =>
      val vals = Seq(
        i.toString, rng.nextInt(100000).toString,
        java.math.BigDecimal.valueOf(rng.nextLong(100000000000L), 2).toPlainString,
        (18000 + rng.nextInt(3000)).toString, (rng.nextInt(400000) / 4.0).toString,
        rng.alphanumeric.take(10).mkString, rng.alphanumeric.take(16).mkString,
        rng.alphanumeric.take(rng.nextInt(15)).mkString)
      vals.zip(widths).foreach { case (v, w) => sb.append(v).append(" " * (w - v.length)) }
    }
    val dir = Files.createTempDirectory("graft-alloc")
    Files.write(dir.resolve("data.fwb"), sb.toString.getBytes("US-ASCII"))
  }

  test("typed columnar scan allocates under 32 bytes per record (8-field layout)") {
    val n = 200000
    val file = writeRecords(n)
    val opts = FixedWidthOptions(new CaseInsensitiveStringMap(Map("fields" -> layout).asJava))
    val factory = new FixedWidthReaderFactory(opts, opts.schema,
      new SerializableHadoopConf(new Configuration()))
    val part = FixedWidthInputPartition(Seq(
      FileChunk(file.toString, 0L, Files.size(file), compressed = false)))
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId

    val kIdx = opts.schema.fieldIndex("k")

    /** One full scan: (records, sum of k, bytes allocated by this thread). */
    def scan(): (Long, Long, Long) = {
      val a0 = threads.getThreadAllocatedBytes(tid)
      var rows = 0L
      var sumK = 0L
      val r = factory.createColumnarReader(part)
      try while (r.next()) {
        val b = r.get()
        val k = b.column(kIdx)
        var i = 0
        while (i < b.numRows()) { sumK += k.getLong(i); i += 1 }
        rows += b.numRows()
      } finally r.close()
      (rows, sumK, threads.getThreadAllocatedBytes(tid) - a0)
    }

    val runs = (1 to 4).map(_ => scan())
    all(runs.map(_._1)) shouldBe n.toLong
    all(runs.map(_._2)) shouldBe n.toLong * (n - 1) / 2
    // the first run also pays class loading; the steady state is the bar
    val perRecord = runs.tail.map(_._3).min.toDouble / n
    withClue(s"allocated bytes per record: $perRecord: ") {
      perRecord should be < 32.0
    }
    Files.delete(file)
  }
}
