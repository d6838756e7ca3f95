package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, LessThan}

/** Per-layer metrics of a traced run: what the listener saw of each traced
  * operation, plus direct single-thread calls into the source layer after
  * the window. Spans go to `--trace-out` when it is done. */
final class Layers(spark: SparkSession, w: Workload, spec: Data.Spec, gen: DataFrame,
    a: Main.Args, tracer: Tracer) {

  private val direct = new Direct(spark.sparkContext.hadoopConfiguration)
  private val rangeFilters: Array[Filter] =
    Array(GreaterThanOrEqual("k", spec.lo), LessThan("k", spec.hi))

  private var calls = 0

  /** Time `body` in milliseconds and record it as a span under `direct`. */
  private def span[T](name: String)(body: => T): (Double, T) = {
    val s = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = body
    val ms = (System.nanoTime() - t0) / 1e6
    calls += 1
    tracer.addSpan(Span(s"direct-$calls", "direct", name, s, System.currentTimeMillis()))
    (ms, r)
  }

  private def medianOf(reps: Int)(body: => Double): Double =
    Stats.median((1 to reps).map(_ => body))

  def metrics(dataDir: String, traces: Seq[(Int, OpTrace)],
      samples: collection.Map[String, mutable.ArrayBuffer[(Double, Boolean)]],
      windowGcMs: Long, windowCpuS: Double, stealShare: Double,
      startMs: Long): Seq[(String, Double, String)] = {
    val directMs = System.currentTimeMillis()
    val reads = traces.filter(_._2.name != "write")
    val writes = traces.map(_._2).filter(_.name == "write")
    val ranges = traces.map(_._2).filter(_.name == "filter_1pct")
    def med(xs: Iterable[Double]) = Stats.median(xs.toSeq)
    def phase(p: String) = med(reads.map(_._2.phasesMs.getOrElse(p, 0.0)))
    /** Per traced cycle, the sum over its read operations; median of cycles. */
    def perCycle(f: OpTrace => Double) =
      med(reads.groupMapReduce(_._1)(t => f(t._2))(_ + _).values)
    def scan(t: OpTrace, m: String) = t.scanMetrics.getOrElse(m, 0L).toDouble

    // Planning, directly: cold is the first plan of freshly stored files.
    val files = Files.dataFiles(dataDir)
    val fresh = s"${a.runDir}/direct-store"
    w.store(gen, fresh)
    val (coldMs, _) = span("plan.aligned_partitions.cold")(
      direct.plan(Files.dataFiles(fresh), direct.typed, rangeFilters))
    Files.delete(fresh)
    val warmMs = medianOf(5)(span("plan.aligned_partitions")(
      direct.plan(files, direct.typed, rangeFilters))._1)
    val footerMs = medianOf(3)(span("plan.footer_read")(direct.footers(files, cached = false))._1)
    direct.footers(files, cached = true)
    val footerCachedMs = medianOf(5)(span("plan.footer_read.cached")(
      direct.footers(files, cached = true))._1)
    val framesTotal = direct.footers(files, cached = false).toDouble

    // The write path, from the output of one write operation.
    val written = s"${a.runDir}/direct-write"
    w.write(gen, written)
    val writtenFiles = Files.dataFiles(written)
    val bytesWritten = writtenFiles.map(_._2).sum.toDouble
    val framesWritten = direct.footers(writtenFiles, cached = false).toDouble
    Files.delete(written)
    val baselineS = medianOf(3)(span("write.gen_baseline")(
      gen.drop("value").write.format("noop").mode("overwrite").save())._1 / 1e3)

    // The read path on one thread: at least 250k records of the stored data.
    val some = files.take(math.max(1, (250000L * files.size + spec.n - 1) / spec.n).toInt)
    def perRecord(o: graft.sources.fixedwidth.FixedWidthOptions) = {
      val (parts, _) = direct.plan(some, o, Array.empty)
      val runs = (1 to 3).map(_ => span("read.1t")(direct.scan(parts.toSeq, o))._2)
      val (rows, _, _) = runs.head
      (Stats.median(runs.map(_._2.toDouble)) / rows, Stats.median(runs.map(_._3.toDouble)) / rows)
    }
    val (typedNs, allocB) = perRecord(direct.typed)
    val (rawNs, _) = perRecord(direct.raw)
    val control = s"${a.runDir}/control.bin"
    writeControl(control, 250000)
    val flifNs = medianOf(3) {
      val (n, ns) = span("read.hadoop_flif")(direct.hadoopControl(control))._2
      ns.toDouble / n
    }

    // Tracing overhead: traced over untraced median, per operation.
    val overhead = med(samples.values.flatMap { xs =>
      val (on, off) = xs.partition(_._2)
      if (on.isEmpty || off.isEmpty) None
      else Some(Stats.median(on.map(_._1).toSeq) / Stats.median(off.map(_._1).toSeq) - 1)
    })

    val endMs = System.currentTimeMillis()
    tracer.addSpan(Span("direct", "workload", "direct layer calls", directMs, endMs))
    tracer.addSpan(Span("workload", "", a.workload, startMs, endMs))
    writeSpans()
    val skipped = med(ranges.map(scan(_, "fwFramesSkipped")))
    Seq(
      ("plan.analysis_ms", phase("analysis"), "ms"),
      ("plan.optimizer_ms", phase("optimization"), "ms"),
      ("plan.physical_ms", phase("planning"), "ms"),
      ("plan.input_partitions", med(ranges.map(_.inputPartitions.toDouble)), "count"),
      ("plan.files_pruned", med(ranges.map(scan(_, "fwFilesPruned"))), "count"),
      ("plan.aligned_partitions_ms", warmMs, "ms"),
      ("plan.aligned_partitions_cold_ms", coldMs, "ms"),
      ("plan.footer_read_ms", footerMs, "ms"),
      ("plan.footer_read_cached_ms", footerCachedMs, "ms"),
      ("fwz.frames_total", framesTotal, "count"),
      ("fwz.frames_skipped", skipped, "count"),
      ("fwz.frame_skip_ratio", if (framesTotal > 0) skipped / framesTotal else 0.0, "ratio"),
      ("read.records", perCycle(scan(_, "fwRecordsRead")), "count"),
      ("read.bytes", perCycle(scan(_, "fwBytesRead")), "bytes"),
      ("read.records_skipped", perCycle(scan(_, "fwRecordsSkipped")), "count"),
      ("read.rows_out_per_record_read", med(ranges.map { t =>
        val r = scan(t, "fwRecordsRead")
        if (r > 0) (r - scan(t, "fwRecordsSkipped")) / r else 0.0
      }), "ratio"),
      ("read.task_run_ms", perCycle(_.runMs.toDouble), "ms"),
      ("read.task_cpu_ms", perCycle(_.cpuMs), "ms"),
      ("read.gc_ms", perCycle(_.gcMs.toDouble), "ms"),
      ("read.typed_ns_per_record_1t", typedNs, "ns"),
      ("read.raw_ns_per_record_1t", rawNs, "ns"),
      ("read.alloc_bytes_per_record_1t", allocB, "bytes"),
      ("read.hadoop_flif_ns_per_record_1t", flifNs, "ns"),
      ("write.task_run_ms", med(writes.map(_.runMs.toDouble)), "ms"),
      ("write.task_cpu_ms", med(writes.map(_.cpuMs)), "ms"),
      ("write.commit_ms", med(writes.map(_.afterJobsMs)), "ms"),
      ("write.bytes_written", bytesWritten, "bytes"),
      ("write.files", writtenFiles.size.toDouble, "count"),
      ("write.frames", framesWritten, "count"),
      ("write.stored_per_user_byte", bytesWritten / spec.bytes, "ratio"),
      ("write.gen_baseline_s", baselineS, "s"),
      ("jvm.gc_ms", windowGcMs.toDouble, "ms"),
      ("jvm.process_cpu_s", windowCpuS, "s"),
      ("host.steal_share", stealShare, "ratio"),
      ("trace.overhead_share", overhead, "ratio"))
  }

  /** Seeded bytes for the Hadoop control: `n` records of arbitrary content. */
  private def writeControl(path: String, n: Int): Unit = {
    val bytes = new Array[Byte](n * Data.RecordLength)
    new scala.util.Random(a.seed).nextBytes(bytes)
    java.nio.file.Files.write(java.nio.file.Paths.get(path), bytes)
  }

  private def clean(s: String) = s.map(c => if (c == '"' || c == '\\' || c < ' ') '\'' else c)

  private def writeSpans(): Unit = {
    val json = tracer.allSpans.map { s =>
      s"""{"id": "${s.id}", "parent": "${s.parent}", "name": "${clean(s.name)}", """ +
        s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    val out = new java.io.File(a.traceOut)
    out.getParentFile.mkdirs()
    java.nio.file.Files.write(out.toPath, json.getBytes("UTF-8"))
  }
}
