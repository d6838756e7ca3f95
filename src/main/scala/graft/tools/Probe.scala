package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.fixedwidth.FwzFormat

/** Edge-case probe for the fixedwidth format, driven through the public
  * `spark.read/write.format("fixedwidth")` surface. Run with
  * `sbt "runMain graft.tools.Probe"`. Prints one PROBE line per case.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def expectError(tag: String)(body: => Unit): Unit =
      try { body; println(s"PROBE $tag: NO-ERROR (unexpected)") }
      catch { case e: Throwable =>
        val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
        println(s"PROBE $tag: ${root.getClass.getSimpleName}: ${root.getMessage.linesIterator.next()}")
      }

    val base = Files.createTempDirectory("graft-probe").toString

    // happy path: raw round trip with custom key
    val df = (0 until 100).map(i => f"rec$i%06d").toDF("value")
    df.write.format("fixedwidth").option("recordLength", 10).mode("overwrite").save(s"$base/raw")
    val back = spark.read.format("fixedwidth")
      .option("recordLength", 10).option("keyStartAt", 3).option("keyEndAt", 8)
      .load(s"$base/raw")
    val n = back.count()
    val keyed = back.select($"offset", $"key".cast("string").as("k")).orderBy($"offset").head(2).toSeq
    println(s"PROBE roundtrip: n=$n first=$keyed")

    expectError("missing-recordLength") {
      spark.read.format("fixedwidth").load(s"$base/raw").count()
    }
    expectError("key-start-without-end") {
      spark.read.format("fixedwidth").option("recordLength", 10)
        .option("keyStartAt", 2).load(s"$base/raw").count()
    }
    expectError("key-end-lt-start") {
      spark.read.format("fixedwidth").option("recordLength", 10)
        .option("keyStartAt", 5).option("keyEndAt", 2).load(s"$base/raw").count()
    }
    expectError("key-end-past-record") {
      spark.read.format("fixedwidth").option("recordLength", 10)
        .option("keyStartAt", 5).option("keyEndAt", 10).load(s"$base/raw").count()
    }
    expectError("truncated-file") {
      Files.write(Paths.get(s"$base/trunc"), new Array[Byte](25))
      spark.read.format("fixedwidth").option("recordLength", 10).load(s"$base/trunc").count()
    }
    expectError("compressed-file") {
      Files.write(Paths.get(s"$base/comp.gz"), new Array[Byte](20))
      spark.read.format("fixedwidth").option("recordLength", 10).load(s"$base/comp.gz").count()
    }
    expectError("compressed-file-bz2") {
      // the splittable codec is gated by the SAME opt-in as gzip — a .bz2
      // without allowCompressed must reject (reference parity), never
      // silently enter the split path
      Files.write(Paths.get(s"$base/comp.bz2"), new Array[Byte](20))
      spark.read.format("fixedwidth").option("recordLength", 10).load(s"$base/comp.bz2").count()
    }
    expectError("nonexistent-path") {
      spark.read.format("fixedwidth").option("recordLength", 10).load(s"$base/nope").count()
    }
    expectError("write-missing-layout-col") {
      df.write.format("fixedwidth").option("fields", "a:long:0:10")
        .mode("overwrite").save(s"$base/badw")
    }
    expectError("oversize-raw-value") {
      Seq("12345678901").toDF("value").write.format("fixedwidth")
        .option("recordLength", 10).mode("overwrite").save(s"$base/over")
    }

    expectError("key-options-with-fields") {
      spark.read.format("fixedwidth").option("fields", "a:string:0:10")
        .option("keyStartAt", 0).option("keyEndAt", 3).load(s"$base/raw").count()
    }
    expectError("unknown-charset") {
      spark.read.format("fixedwidth").option("recordLength", 10)
        .option("charset", "NOPE-8").load(s"$base/raw").count()
    }
    expectError("long-field-overflow") {
      // 20-digit value must error, not wrap to an in-range long.
      Seq("99999999999999999999").toDF("v")
        .write.format("fixedwidth").option("fields", "v:string:0:20")
        .mode("overwrite").save(s"$base/ovf")
      spark.read.format("fixedwidth").option("fields", "v:long:0:20")
        .load(s"$base/ovf").collect()
    }
    expectError("int-field-out-of-range") {
      Seq("3000000000").toDF("v")
        .write.format("fixedwidth").option("fields", "v:string:0:10")
        .mode("overwrite").save(s"$base/bigint")
      spark.read.format("fixedwidth").option("fields", "v:int:0:10")
        .load(s"$base/bigint").collect()
    }
    expectError("decimal-over-scale") {
      // the stored literal has 3 fraction digits; a (15,2) field must error,
      // not silently round money
      Seq("1.999").toDF("v")
        .write.format("fixedwidth").option("fields", "v:string:0:10")
        .mode("overwrite").save(s"$base/decscale")
      spark.read.format("fixedwidth").option("fields", "v:decimal(15,2):0:10")
        .load(s"$base/decscale").collect()
    }
    expectError("decimal-bad-literal") {
      Seq("12x.45").toDF("v")
        .write.format("fixedwidth").option("fields", "v:string:0:10")
        .mode("overwrite").save(s"$base/decbad")
      spark.read.format("fixedwidth").option("fields", "v:decimal(15,2):0:10")
        .load(s"$base/decbad").collect()
    }
    expectError("decimal-bad-spec") {
      spark.read.format("fixedwidth").option("fields", "v:decimal(40,2):0:10")
        .load(s"$base/decbad").collect()
    }

    // Long.MinValue must round-trip exactly (it is 20 ASCII bytes).
    Seq(Long.MinValue, -1L, 0L, Long.MaxValue).toDF("v")
      .write.format("fixedwidth").option("fields", "v:long:0:20")
      .mode("overwrite").save(s"$base/minmax")
    val mm = spark.read.format("fixedwidth").option("fields", "v:long:0:20")
      .load(s"$base/minmax").select(min($"v"), max($"v")).head()
    println(s"PROBE long-roundtrip: min=${mm.getLong(0)} max=${mm.getLong(1)}")

    // Non-UTF-8 charset round trip (ISO-8859-1 'é' is byte 0xE9).
    Seq("café").toDF("s")
      .write.format("fixedwidth").option("fields", "s:string:0:8").option("charset", "ISO-8859-1")
      .mode("overwrite").save(s"$base/latin1")
    val latin = spark.read.format("fixedwidth")
      .option("fields", "s:string:0:8").option("charset", "ISO-8859-1")
      .load(s"$base/latin1").select($"s").head().getString(0)
    val latinBytes = Files.readAllBytes(
      Files.list(Paths.get(s"$base/latin1")).filter(p => p.getFileName.toString.startsWith("part-")).findFirst.get)
    println(s"PROBE charset-latin1: back='$latin' ok=${latin == "café"} " +
      s"byte3=0x${(latinBytes(3) & 0xff).toHexString} success=${Files.exists(Paths.get(s"$base/latin1/_SUCCESS"))}")

    // Commit protocol: no _temporary-* residue after a successful write.
    val resid = Files.list(Paths.get(s"$base/latin1")).filter(_.getFileName.toString.startsWith("_temporary")).count()
    println(s"PROBE commit-protocol: tempResidue=$resid")

    // Multi-path load (two dirs through the JSON 'paths' option).
    df.write.format("fixedwidth").option("recordLength", 10).mode("overwrite").save(s"$base/raw2")
    val multi = spark.read.format("fixedwidth").option("recordLength", 10).load(s"$base/raw", s"$base/raw2")
    println(s"PROBE multi-path: n=${multi.count()}")

    // split-smaller-than-record analog: tiny maxPartitionBytes must still
    // produce whole records (reference test :235-238 forces split < record).
    spark.conf.set("spark.sql.files.maxPartitionBytes", "3")
    val tiny = spark.read.format("fixedwidth").option("recordLength", 10).load(s"$base/raw")
    println(s"PROBE tiny-splits: n=${tiny.count()} parts=${tiny.rdd.getNumPartitions} " +
      s"allLen10=${tiny.select(min(length($"value")) === 10 && max(length($"value")) === 10).head().getBoolean(0)}")
    spark.conf.unset("spark.sql.files.maxPartitionBytes")

    // Hadoop config-key aliases (reference FixedLengthInputFormat.java:97-149):
    // the reference's job-conf property names work as reader options.
    val viaAlias = spark.read.format("fixedwidth")
      .option("mapreduce.input.fixedlengthinputformat.record.length", 10)
      .option("mapreduce.input.fixedlengthinputformat.recordkey.startat", 3)
      .option("mapreduce.input.fixedlengthinputformat.recordkey.endat", 8)
      .load(s"$base/raw")
    println(s"PROBE hadoop-alias: n=${viaAlias.count()} " +
      s"hasKey=${viaAlias.columns.contains("key")}")
    expectError("hadoop-alias-conflict") {
      spark.read.format("fixedwidth")
        .option("recordLength", 10)
        .option("mapreduce.input.fixedlengthinputformat.record.length", 12)
        .load(s"$base/raw").count()
    }

    // Writer compression stance: explicit rejection, not silent ignore
    // (reference parity: FixedLengthRecordReader.java:147-152 rejects
    // compressed INPUT; a compressed fixed-width file can't split).
    // gzip/zstd now write the framed .fwz layout (r14); a NON-framed codec
    // still probes the explicit rejection (raw compressed fixed-width
    // bytes can't record-split — reference parity)
    expectError("write-compression") {
      df.write.format("fixedwidth").option("recordLength", 10)
        .option("compression", "snappy").mode("overwrite").save(s"$base/comp-out")
    }

    // strictWidth: over-width string values error instead of the default
    // silent pad/truncate contract.
    expectError("strict-width-overflow") {
      import spark.implicits._
      Seq(("toolongvalue")).toDF("v")
        .write.format("fixedwidth").option("fields", "v:string:0:4")
        .option("strictWidth", "true").mode("overwrite").save(s"$base/strict-out")
    }

    // A .fwz frame table that lies about one frame's decompressed length
    // (first and last dLen swapped: totals and tiling still plan) must
    // fail the read, naming the file and frame, not return shifted rows.
    expectError("fwz-frame-mismatch") {
      val dir = s"$base/fwz-lying"
      (0 until 5500).map(i => (i.toLong, s"p$i")).toDF("id", "payload").coalesce(1)
        .write.format("fixedwidth").option("fields", "id:long:0:8,payload:string:8:24")
        .option("recordLength", 32).option("compression", "zstd")
        .option("frameBytes", 1000 * 32).mode("overwrite").save(dir)
      new java.io.File(dir).listFiles.filter(_.getName.endsWith(".fwz"))
        .foreach(f => swapFrameLens(f.getPath, field = 1))
      spark.read.format("fixedwidth").option("fields", "id:long:0:8,payload:string:8:24")
        .option("recordLength", 32).load(dir).collect()
    }

    spark.stop()
  }

  /** Swap the first and last frames' cLen (`field` 0) or dLen (`field` 1)
    * entries in the frame table of the `.fwz` file at `path`, in place, and
    * drop its Hadoop checksum sidecar so the rewrite reads as written data. */
  def swapFrameLens(path: String, field: Int): Unit = {
    val f = new java.io.RandomAccessFile(path, "rw")
    try {
      f.seek(f.length - FwzFormat.TrailerLen)
      val nFrames = f.readInt()
      f.readByte() // codec
      val trailerLen = f.readByte() match {
        case FwzFormat.VersionStatsV3 => FwzFormat.TrailerLenV3
        case FwzFormat.VersionStats => FwzFormat.TrailerLenV2
        case _ => FwzFormat.TrailerLen
      }
      val first = f.length - trailerLen - 16L * nFrames + 8 * field
      val last = first + 16L * (nFrames - 1)
      f.seek(first); val a = f.readLong()
      f.seek(last); val b = f.readLong()
      f.seek(first); f.writeLong(b)
      f.seek(last); f.writeLong(a)
    } finally f.close()
    val p = Paths.get(path)
    Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
  }
}
