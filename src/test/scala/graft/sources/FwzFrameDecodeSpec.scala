package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.sources.fixedwidth._

/** The `.fwz` chunk reader decodes a frame run one frame at a time from the
  * footer lengths the chunk carries. A frame must decompress to exactly the
  * dLen its footer records or the read fails, naming the file and frame; a
  * clipped head may cross frames; both codecs take the same path. */
class FwzFrameDecodeSpec extends SparkSpec with Matchers {

  private val fieldsOpt = "id:long:0:8,payload:string:8:24"
  private val recLen = 32
  private val perFrame = 1000

  /** One file of `n` records in write order, `perFrame` records a frame. */
  private def writeOne(codec: String, n: Int): String = {
    val dir = Files.createTempDirectory(s"graft-fwz-frames-$codec").toString
    import spark.implicits._
    (0 until n).map(i => (i.toLong, f"p$i%019d")).toDF("id", "payload")
      .coalesce(1)
      .write.format("fixedwidth").option("fields", fieldsOpt)
      .option("recordLength", recLen).option("compression", codec)
      .option("frameBytes", (perFrame * recLen).toString)
      .mode("overwrite").save(dir)
    dir
  }

  private def fwzFile(dir: String): java.io.File =
    new java.io.File(dir).listFiles.filter(_.getName.endsWith(".fwz")).head

  private def read(dir: String) = spark.read.format("fixedwidth")
    .option("fields", fieldsOpt).option("recordLength", recLen).load(dir)

  private val opts = FixedWidthOptions(new CaseInsensitiveStringMap(
    Map("fields" -> fieldsOpt, "recordLength" -> recLen.toString).asJava))

  /** The columnar reader over one hand-built chunk. */
  private def reader(chunk: FileChunk) =
    new FixedWidthReaderFactory(opts, opts.schema, new SerializableHadoopConf(new Configuration()))
      .createColumnarReader(FixedWidthInputPartition(Seq(chunk)))

  test("offset/limit whose skip crosses several frames returns exact rows, zstd and gzip") {
    for (codec <- Seq("zstd", "gzip")) {
      val dir = writeOne(codec, 20000)
      // offset skips 5 whole frames and lands mid-frame; the limit spans
      // three frame boundaries and ends mid-frame
      for ((offset, limit) <- Seq((5123, 3500), (999, 2), (19000, 1000))) {
        val got = read(dir).offset(offset).limit(limit).select(col("id"))
          .collect().map(_.getLong(0)).sorted
        withClue(s"$codec offset=$offset limit=$limit: ") {
          got.toSeq shouldBe (offset.toLong until (offset + limit).toLong)
        }
      }
    }
  }

  test("a chunk whose clipped head crosses frames of its run skips them in the decoder") {
    for (codec <- Seq("zstd", "gzip")) {
      val f = fwzFile(writeOne(codec, 5500))
      val conf = new Configuration()
      val footer = FwzFormat.readFooter(new org.apache.hadoop.fs.Path(f.getPath), f.length(), conf)
      val frames = footer.frames
      // one hand-built chunk over the whole run, owning records [3210, 5100):
      // its head skip crosses frames 0-2 and ends inside frame 3
      val chunk = FwzRun(f.getPath, 0L, footer.codec,
        dOrigin = 0L, dStart = 3210L * recLen, dLen = 1890L * recLen,
        frameLens = scala.collection.immutable.ArraySeq.from(
          frames.flatMap(fr => Seq(fr.cLen, fr.dLen))), firstFrame = 0)
      val r = reader(chunk)
      val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
      val offsets = scala.collection.mutable.ArrayBuffer.empty[Long]
      val idIdx = opts.schema.fieldIndex("id")
      val offIdx = opts.schema.fieldIndex("offset")
      try while (r.next()) {
        val b = r.get()
        (0 until b.numRows()).foreach { i =>
          ids += b.column(idIdx).getLong(i)
          offsets += b.column(offIdx).getLong(i)
        }
      } finally r.close()
      withClue(s"$codec: ") {
        ids.toSeq shouldBe (3210L until 5100L)
        offsets.toSeq shouldBe (3210L until 5100L).map(_ * recLen)
      }
    }
  }

  test("a frame table that lies about dLen or cLen fails the scan, naming file and frame") {
    for (codec <- Seq("zstd", "gzip"); (field, what) <- Seq((1, "dLen"), (0, "cLen"))) {
      val dir = writeOne(codec, 5500) // 5 full frames and a half one
      val f = fwzFile(dir)
      val conf = new Configuration()
      val before = FwzFormat.readFooter(new org.apache.hadoop.fs.Path(f.getPath), f.length(), conf)
      graft.tools.Probe.swapFrameLens(f.getPath, field)
      // the swap keeps the totals and the tiling, so planning accepts it
      val after = FwzFormat.readFooter(new org.apache.hadoop.fs.Path(f.getPath), f.length(), conf)
      after.totalDLen shouldBe before.totalDLen
      after.frames.map(_.cLen).sum shouldBe before.frames.map(_.cLen).sum
      withClue(s"$codec $what swapped: ") {
        after.frames should not be before.frames
      }
      // a full scan fails, naming the file and a frame
      val e = intercept[Exception](read(dir).select(col("id")).collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toSeq
      withClue(s"$codec $what: ${msgs.mkString(" | ")}: ") {
        msgs.exists(m => m.contains(f.getName) &&
          "fwz: frame \\d+ of ".r.findFirstIn(m).isDefined) shouldBe true
      }
      if (field == 1) { // the last frame alone now claims more than it holds
        val i = after.frames.length - 1
        val last = after.frames(i)
        val r = reader(FwzRun(f.getPath, last.cOff, after.codec, dOrigin = last.dOff,
          dStart = last.dOff, dLen = last.dLen,
          frameLens = scala.collection.immutable.ArraySeq(last.cLen, last.dLen), firstFrame = i))
        val short = intercept[java.io.IOException](try r.next() finally r.close())
        short.getMessage should include(s"frame $i of")
        short.getMessage should include("decompressed to")
      }
    }
  }
}
