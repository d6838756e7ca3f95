package graft.sources

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Splittable bzip2 reads (Bz2SplitIndex + the reader's BYBLOCK branch):
  * identical records AND identical decompressed offsets vs the plain file
  * at several split granularities — including granularities that force
  * records to span bzip2 block and range boundaries — plus the truncation
  * semantics at a partial tail. The reference rejects codecs outright
  * (FixedLengthRecordReader.java:147-152); allowCompressed=true is the
  * opt-in escape, and .bz2 is the splittable member.
  */
class Bz2SplitSpec extends SparkSpec with Matchers {

  private val recLen = 17 // deliberately odd so record starts drift across block boundaries

  /** Deterministic pseudo-random records (entropy keeps bzip2's ratio low
    * enough that one file holds many compressed blocks). */
  private def record(i: Int): Array[Byte] = {
    val rnd = new java.util.Random(i * 2654435761L)
    val b = new Array[Byte](recLen)
    var j = 0
    while (j < recLen) { b(j) = ('a' + rnd.nextInt(26)).toByte; j += 1 }
    System.arraycopy(f"$i%08d".getBytes("US-ASCII"), 0, b, 0, 8)
    b
  }

  /** Writes n records plain AND bz2-compressed; returns (plainDir, bz2Dir). */
  private def fixture(n: Int, extraTailBytes: Int = 0): (String, String) = {
    val conf = new Configuration()
    val plainDir = Files.createTempDirectory("graft-bz2-plain").toString
    val bz2Dir = Files.createTempDirectory("graft-bz2-comp").toString
    val plain = new java.io.FileOutputStream(s"$plainDir/data.fwb")
    val codec = new org.apache.hadoop.io.compress.BZip2Codec()
    codec.setConf(conf)
    val fs = new Path(bz2Dir).getFileSystem(conf)
    val comp = codec.createOutputStream(fs.create(new Path(bz2Dir, "data.fwb.bz2")))
    (0 until n).foreach { i => val b = record(i); plain.write(b); comp.write(b) }
    if (extraTailBytes > 0) {
      val tail = new Array[Byte](extraTailBytes)
      java.util.Arrays.fill(tail, 'x'.toByte)
      plain.write(tail); comp.write(tail)
    }
    plain.close(); comp.close()
    (plainDir, bz2Dir)
  }

  private def readAll(dir: String, compressed: Boolean): Array[(Long, String)] = {
    val r = spark.read.format("fixedwidth").option("recordLength", recLen)
    val df = (if (compressed) r.option("allowCompressed", "true") else r).load(dir)
    df.select(col("offset"), col("value").cast("string"))
      .collect().map(x => (x.getLong(0), x.getString(1))).sortBy(_._1)
  }

  test("bz2 read equals plain read (records AND offsets) at 3 split granularities") {
    // 300k records x 17B = 5.1 MB decompressed -> several ~900 KB bzip2
    // blocks; pseudo-random payload keeps the compressed file ~2+ MB so
    // small maxPartitionBytes yields many ranges
    val (plainDir, bz2Dir) = fixture(300000)
    val expected = readAll(plainDir, compressed = false)
    expected.length shouldBe 300000
    val partCounts = Seq("134217728", "2097152", "524288").map { mpb =>
      spark.conf.set("spark.sql.files.maxPartitionBytes", mpb)
      try {
        val df = spark.read.format("fixedwidth").option("recordLength", recLen)
          .option("allowCompressed", "true").load(bz2Dir)
        val got = df.select(col("offset"), col("value").cast("string"))
          .collect().map(x => (x.getLong(0), x.getString(1))).sortBy(_._1)
        got should contain theSameElementsInOrderAs expected
        df.rdd.getNumPartitions
      } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    }
    withClue(s"partition counts per granularity: $partCounts") {
      // coarse -> few partitions, fine -> strictly more: proves the file
      // was actually SPLIT, not re-read whole-file
      partCounts.last should be > partCounts.head
      partCounts.last should be > 1
    }
  }

  test("partial tail record: PERMISSIVE drops it, FAILFAST errors (split path)") {
    val (_, bz2Dir) = fixture(150000, extraTailBytes = recLen - 5)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "524288")
    try {
      val tolerant = spark.read.format("fixedwidth").option("recordLength", recLen)
        .option("allowCompressed", "true").option("mode", "PERMISSIVE").load(bz2Dir)
      tolerant.count() shouldBe 150000
      val strict = spark.read.format("fixedwidth").option("recordLength", recLen)
        .option("allowCompressed", "true").load(bz2Dir)
      val e = intercept[org.apache.spark.SparkException] { strict.count() }
      e.getMessage should (include("mid-record") or include("not a multiple"))
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("mixed directory: plain and bz2 files read together equal the all-plain read") {
    // the shape a migrating feed actually has — some files compressed,
    // some not, one directory; plain chunks split on the record grid,
    // bz2 chunks on block boundaries, packed into shared partitions
    val n1 = 40000; val n2 = 120000
    val dir = Files.createTempDirectory("graft-bz2-mixed").toString
    val plain = new java.io.FileOutputStream(s"$dir/a.fwb")
    (0 until n1).foreach(i => plain.write(record(i)))
    plain.close()
    val conf = new Configuration()
    val codec = new org.apache.hadoop.io.compress.BZip2Codec()
    codec.setConf(conf)
    val fs = new Path(dir).getFileSystem(conf)
    val comp = codec.createOutputStream(fs.create(new Path(dir, "b.fwb.bz2")))
    (n1 until n1 + n2).foreach(i => comp.write(record(i)))
    comp.close()
    val got = spark.read.format("fixedwidth").option("recordLength", recLen)
      .option("allowCompressed", "true").load(dir)
      .select(col("value").cast("string"))
      .collect().map(_.getString(0)).sorted
    val expected = (0 until n1 + n2).map(i => new String(record(i), "US-ASCII")).sorted
    got should contain theSameElementsInOrderAs expected
  }

  test("same-length same-mtime rewrite busts the index memo (tail-CRC fingerprint)") {
    // The memo key is (path, len, mtime, rangeBytes, tail fingerprint);
    // a rewrite with identical length AND identical mtime — possible
    // inside coarse filesystem mtime granularity — must still invalidate,
    // because bzip2's footer carries the combined CRC of every block.
    val n = 150000
    val conf = new Configuration()
    val dir = Files.createTempDirectory("graft-bz2-rewrite").toString
    val p = new Path(dir, "data.fwb.bz2")
    val fs = p.getFileSystem(conf)
    def write(seed: Int): Unit = {
      val codec = new org.apache.hadoop.io.compress.BZip2Codec()
      codec.setConf(conf)
      val out = codec.createOutputStream(fs.create(p, true))
      (0 until n).foreach(i => out.write(record(i + seed)))
      out.close()
    }
    write(0)
    val len1 = fs.getFileStatus(p).getLen
    val r1 = graft.sources.fixedwidth.Bz2SplitIndex.rangesOf(p.toString, len1, 256 * 1024, conf)
    // rewrite with different content; equalize observable (len, mtime) as
    // far as the fixture allows — pad to the same length is not possible
    // for bz2, so only assert when the rewrite happens to match; mtime IS
    // forced equal, which alone would have served the stale index before
    val mtime1 = fs.getFileStatus(p).getModificationTime
    write(7)
    fs.setTimes(p, mtime1, -1)
    val len2 = fs.getFileStatus(p).getLen
    val r2 = graft.sources.fixedwidth.Bz2SplitIndex.rangesOf(p.toString, len2, 256 * 1024, conf)
    if (len2 == len1) {
      // same key except the fingerprint: a fresh index must have been built
      r2.map(_.dLen).sum shouldBe n.toLong * recLen
      r2 should not be theSameInstanceAs(r1)
    }
    // whatever the lengths, the reload must see the NEW records
    val got = spark.read.format("fixedwidth").option("recordLength", recLen)
      .option("allowCompressed", "true").load(dir)
      .select(col("value").cast("string")).collect().map(_.getString(0)).sorted
    val expected = (0 until n).map(i => new String(record(i + 7), "US-ASCII")).sorted
    got should contain theSameElementsInOrderAs expected
  }

  test("sidecar: a fresh JVM (cleared memo) plans from the persisted index with ZERO phase-1 jobs") {
    import graft.sources.fixedwidth.Bz2SplitIndex
    val (plainDir, bz2Dir) = fixture(150000)
    val idxDir = Files.createTempDirectory("graft-bz2-idx").toString
    val conf = new Configuration()
    val p = s"$bz2Dir/data.fwb.bz2"
    val cLen = new java.io.File(p).length()
    val sc = spark.sparkContext
    def jobsIn(group: String)(body: => Seq[graft.sources.fixedwidth.Bz2Range]): (Seq[graft.sources.fixedwidth.Bz2Range], Int) = {
      sc.setJobGroup(group, group, interruptOnCancel = false)
      val r = try body finally sc.clearJobGroup()
      Thread.sleep(500) // status store is async; lag can only undercount — see control below
      (r, sc.statusTracker.getJobIdsForGroup(group).length)
    }

    // control: the counting mechanism sees the phase-1 job of a cold build
    Bz2SplitIndex.clearMemoForTest()
    val (built, buildJobs) = jobsIn("bz2-idx-build")(
      Bz2SplitIndex.rangesOfAll(Seq(p -> cLen), 256 * 1024, conf, Some(idxDir))(p))
    buildJobs should be > 0
    built.length should be > 1
    new java.io.File(idxDir).listFiles.count(_.getName.startsWith("bz2idx-")) shouldBe 1

    // the headline: cleared memo (= fresh driver JVM) + sidecar present
    // ⇒ the plan-time full-corpus decompress is GONE, ranges identical
    Bz2SplitIndex.clearMemoForTest()
    val (cached, cachedJobs) = jobsIn("bz2-idx-cached")(
      Bz2SplitIndex.rangesOfAll(Seq(p -> cLen), 256 * 1024, conf, Some(idxDir))(p))
    cachedJobs shouldBe 0
    cached should contain theSameElementsInOrderAs built

    // a CORRUPT sidecar is a miss, not an error: phase 1 rebuilds
    new java.io.File(idxDir).listFiles.filter(_.getName.startsWith("bz2idx-")).foreach { f =>
      val w = new java.io.FileOutputStream(f); w.write("not json".getBytes); w.close()
    }
    Bz2SplitIndex.clearMemoForTest()
    val (rebuilt, rebuildJobs) = jobsIn("bz2-idx-corrupt")(
      Bz2SplitIndex.rangesOfAll(Seq(p -> cLen), 256 * 1024, conf, Some(idxDir))(p))
    rebuildJobs should be > 0
    rebuilt should contain theSameElementsInOrderAs built

    // end-to-end through the reader option: records equal the plain file
    Bz2SplitIndex.clearMemoForTest()
    val expected = readAll(plainDir, compressed = false)
    val got = spark.read.format("fixedwidth").option("recordLength", recLen)
      .option("allowCompressed", "true").option("bz2IndexDir", idxDir).load(bz2Dir)
      .select(col("offset"), col("value").cast("string"))
      .collect().map(x => (x.getLong(0), x.getString(1))).sortBy(_._1)
    got should contain theSameElementsInOrderAs expected

    // stale fingerprint: rewrite with different content → different tail
    // CRC → the old sidecar cannot be served; the rebuilt index reads the
    // NEW records
    val fs = new Path(bz2Dir).getFileSystem(conf)
    val codec = new org.apache.hadoop.io.compress.BZip2Codec()
    codec.setConf(conf)
    val out = codec.createOutputStream(fs.create(new Path(p), true))
    (0 until 150000).foreach(i => out.write(record(i + 13)))
    out.close()
    Bz2SplitIndex.clearMemoForTest()
    val got2 = spark.read.format("fixedwidth").option("recordLength", recLen)
      .option("allowCompressed", "true").option("bz2IndexDir", idxDir).load(bz2Dir)
      .select(col("value").cast("string")).collect().map(_.getString(0)).sorted
    val expected2 = (0 until 150000).map(i => new String(record(i + 13), "US-ASCII")).sorted
    got2 should contain theSameElementsInOrderAs expected2

    // option gate: the cache dir only makes sense with compressed reads on
    an[IllegalArgumentException] should be thrownBy
      spark.read.format("fixedwidth").option("recordLength", recLen)
        .option("bz2IndexDir", idxDir).load(bz2Dir).collect()
  }

  test("phase-1 index tiles the decompressed stream exactly (no gap, no overlap)") {
    val (plainDir, bz2Dir) = fixture(300000)
    val plainLen = new java.io.File(s"$plainDir/data.fwb").length()
    val p = s"$bz2Dir/data.fwb.bz2"
    val cLen = new java.io.File(p).length()
    val ranges = graft.sources.fixedwidth.Bz2SplitIndex.rangesOf(
      p, cLen, 256 * 1024, new Configuration())
    ranges.length should be > 2
    // contiguous decompressed coverage summing to the plain length
    ranges.map(_.dLen).sum shouldBe plainLen
    ranges.foldLeft(0L) { (expectStart, r) =>
      r.dStart shouldBe expectStart
      r.dStart + r.dLen
    }
  }

  test("a bz2 file no wider than one range is planned and read whole") {
    val n = 20000
    val (plainDir, bz2Dir) = fixture(n)
    val p = s"$bz2Dir/data.fwb.bz2"
    val cLen = new java.io.File(p).length()
    val opts = graft.sources.fixedwidth.FixedWidthOptions(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of(
        "recordLength", recLen.toString, "allowCompressed", "true")))
    // the default split target gives ranges of at least 1 MiB
    cLen should be < 1024L * 1024
    graft.sources.fixedwidth.FixedWidthScan.alignedPartitionsOf(Seq(p -> cLen), opts)
      .toSeq.flatMap(_.asInstanceOf[graft.sources.fixedwidth.FixedWidthInputPartition].chunks) shouldBe
      Seq(graft.sources.fixedwidth.WholeFile(p, cLen))
    readAll(bz2Dir, compressed = true) should contain theSameElementsInOrderAs
      readAll(plainDir, compressed = false)

    val (_, tailDir) = fixture(n, extraTailBytes = recLen - 5)
    val tolerant = spark.read.format("fixedwidth").option("recordLength", recLen)
      .option("allowCompressed", "true").option("mode", "PERMISSIVE").load(tailDir)
    tolerant.select(col("offset")).collect().map(_.getLong(0)).sorted shouldBe
      (0 until n).map(_.toLong * recLen)
    val strict = spark.read.format("fixedwidth").option("recordLength", recLen)
      .option("allowCompressed", "true").load(tailDir)
    val e = intercept[org.apache.spark.SparkException] { strict.count() }
    e.getMessage should include(s"fixedwidth: EOF mid-record at offset ${n.toLong * recLen} of ")
    e.getMessage should include(s"data.fwb.bz2: file is not a multiple of recordLength=$recLen")
  }
}
