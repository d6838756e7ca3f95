package perfbench

import java.util.concurrent.{Callable, ExecutionException, ExecutorService, Executors, TimeUnit, TimeoutException}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. run.py builds it and starts it with
  *
  *   --workload <fw_scan|fwz_selective> --seed <n> --seconds <s> --trace <0|1>
  *   --cores <n> --run-dir <scratch dir> --trace-out <spans file>
  *
  * It generates the workload's records from the seed, stores them three
  * times (set-up), then runs the operation mix in a closed loop, one
  * operation at a time, for the given seconds, checking every answer. With
  * `--trace 0` it prints the end-to-end metrics; with `--trace 1` it
  * alternates traced and untraced cycles and prints the per-layer metrics.
  * The last stdout line is the one-line JSON result.
  */
object Main {
  val SetupRounds = 3
  val OpTimeoutSeconds = 60L

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      cores: Int, runDir: String, traceOut: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("cores").toInt, need("run-dir"), need("trace-out"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = Workload(a.workload, a.cores)
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.runDir}/local")
      .config("spark.sql.warehouse.dir", s"${a.runDir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ok = try new Run(spark, w, a).apply() finally spark.stop()
    System.out.flush()
    // Wrong answers and failed operations fail the command.
    sys.exit(if (ok) 0 else 1)
  }
}

final class Run(spark: SparkSession, w: Workload, a: Main.Args) {
  import Main._

  private val sc = spark.sparkContext
  private val spec = Data.Spec(w.records, a.seed)
  private val mb = spec.bytes / 1e6
  private val gen = Data.generator(spark, spec, a.cores)
  private var writes = 0
  private def scratch(): String = { writes += 1; s"${a.runDir}/write-$writes" }
  private val ops = Op.all(spark, w, spec, gen, () => scratch())

  private var attempted = 0
  private var failed = 0
  private var seq = 0
  /** op name → (seconds, traced) of each correct timed run in the window */
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Double, Boolean)]]
  private val traces = mutable.ArrayBuffer.empty[(Int, OpTrace)]
  private val tracer = new Tracer
  private var expected: Map[String, Seq[Any]] = Map.empty

  private var pool: ExecutorService = newPool()
  private def newPool(): ExecutorService = Executors.newSingleThreadExecutor { r =>
    val t = new Thread(r, "perfbench-op"); t.setDaemon(true); t
  }

  /** Run `body` on the operation thread under a job group; a hang past the
    * timeout cancels the group and comes back as Left. */
  private def guarded[T](group: String)(body: => T): Either[String, T] = {
    val f = pool.submit(new Callable[T] {
      def call(): T = {
        sc.setJobGroup(group, group, interruptOnCancel = true)
        sc.setLocalProperty(Tracer.OpKey, group)
        body
      }
    })
    try Right(f.get(OpTimeoutSeconds, TimeUnit.SECONDS))
    catch {
      case _: TimeoutException =>
        sc.cancelJobGroup(group)
        f.cancel(true)
        pool.shutdownNow()
        pool = newPool()
        Left(s"timed out after $OpTimeoutSeconds s")
      case e: ExecutionException => Left(String.valueOf(e.getCause))
    }
  }

  private def same(got: Seq[Any], want: Seq[Any]): Boolean =
    got.size == want.size && got.zip(want).forall {
      case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y) == 0
      case (x, y) => x == y
    }

  private def fail(what: String, why: String): Unit = {
    failed += 1
    System.err.println(s"[perfbench] ${a.workload} $what FAILED: $why")
  }

  /** Attempt one operation: time it, check its answer, record the sample. */
  private def attempt(op: Op, dir: String, cycle: Int, traced: Boolean, timed: Boolean): Unit = {
    attempted += 1
    seq += 1
    val id = s"op-$seq"
    val startMs = System.currentTimeMillis()
    guarded(id) {
      val t0 = System.nanoTime()
      val r = op.timed(dir)
      ((System.nanoTime() - t0) / 1e9, r)
    } match {
      case Left(err) => fail(op.name, err)
      case Right((dt, r)) =>
        val endMs = System.currentTimeMillis()
        if (traced) {
          org.apache.spark.perfbench.Bus.drain(sc)
          traces += cycle -> tracer.take(id, op.name, endMs)
          tracer.addSpan(Span(id, s"cycle-$cycle", op.name, startMs, endMs))
        }
        guarded(s"$id-check")(op.answer(r)) match {
          case Left(err) => fail(op.name, s"answer check: $err")
          case Right(got) if !same(got, expected(op.expect)) =>
            fail(op.name, s"got ${got.mkString(",")} want ${expected(op.expect).mkString(",")}")
          case Right(_) =>
            if (timed) samples.getOrElseUpdate(op.name, mutable.ArrayBuffer.empty) += dt -> traced
        }
        if (traced) { org.apache.spark.perfbench.Bus.drain(sc); tracer.discard() }
    }
  }

  private def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime).sum
  private def cpuNs: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private val born = System.nanoTime()
  private val bornMs = System.currentTimeMillis()
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%.1f s: $msg")

  def apply(): Boolean = {
    expected = Data.expected(gen, spec)
    log("expected answers computed")

    // Set-up: store the records and warm every read, three times over into
    // fresh directories (so footer caches start cold each round).
    var dataDir = ""
    val setup = (1 to SetupRounds).map { round =>
      if (dataDir.nonEmpty) Files.delete(dataDir)
      dataDir = s"${a.runDir}/data-$round"
      val dir = dataDir
      val t0 = System.nanoTime()
      attempted += 1
      guarded(s"setup-$round")(w.store(gen, dir)).left.foreach(fail("setup write", _))
      ops.filterNot(_.isWrite).foreach(attempt(_, dir, 0, traced = false, timed = false))
      (System.nanoTime() - t0) / 1e9
    }

    log(s"set-up done, ${setup.map(t => f"$t%.2f").mkString(" ")} s")

    // Measurement window: whole cycles of the mix until the time is up;
    // traced runs alternate traced and untraced cycles.
    val minCycles = if (a.trace) 4 else 3
    val gc0 = gcMs
    val cpu0 = cpuNs
    val host0 = Stats.hostTicks()
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    var cycle = 0
    while (cycle < minCycles || System.nanoTime() < deadline) {
      val traced = a.trace && cycle % 2 == 0
      if (traced) { sc.addSparkListener(tracer); spark.listenerManager.register(tracer) }
      val c0 = System.currentTimeMillis()
      ops.foreach(attempt(_, dataDir, cycle, traced, timed = true))
      if (traced) {
        org.apache.spark.perfbench.Bus.drain(sc)
        sc.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
        tracer.addSpan(Span(s"cycle-$cycle", "workload", "cycle", c0, System.currentTimeMillis()))
      }
      cycle += 1
    }
    val windowGcMs = gcMs - gc0
    val windowCpuS = (cpuNs - cpu0) / 1e9
    val host1 = Stats.hostTicks()
    val stealShare = (host1._1 - host0._1).toDouble / math.max(1L, host1._2 - host0._2)
    log(s"window done, $cycle cycles")

    val metrics =
      if (a.trace) new Layers(spark, w, spec, gen, a, tracer).metrics(
        dataDir, traces.toSeq, samples, windowGcMs, windowCpuS, stealShare, bornMs)
      else endToEnd(setup, windowGcMs, windowCpuS, stealShare)
    log("metrics done")
    val correct = failed == 0
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (k, v, u) => s""""$k": {"value": ${Stats.num(v)}, "unit": "$u"}""" }
        .mkString(", ") + "}}")
    correct
  }

  /** End-to-end metrics, each a median over the window's correct runs. The
    * detail line before the result gives every timing's sample count and
    * the highest percentile with at least ten samples beyond it. */
  private def endToEnd(setup: Seq[Double], gcMs: Long, cpuS: Double,
      stealShare: Double): Seq[(String, Double, String)] = {
    def secs(op: String) = samples.get(op).map(_.map(_._1).toSeq).getOrElse(Nil)
    def rate(op: String) = { val m = Stats.median(secs(op)); if (m > 0) mb / m else -1.0 }
    val timings = Seq("setup" -> setup) ++ ops.map(o => o.name -> secs(o.name))
    println("""{"detail": {""" + timings.map { case (name, xs) =>
      val tail = Stats.tail(xs).map { case (p, v) =>
        s""", "p${Stats.num(p)}_s": ${Stats.num(v)}""" }.getOrElse("")
      s""""$name": {"n": ${xs.size}, "median_s": ${Stats.num(Stats.median(xs))}$tail, """ +
        s""""samples_s": [${xs.map(Stats.num).mkString(", ")}]}"""
    }.mkString(", ") + s""", "window": {"jvm_gc_ms": $gcMs, "process_cpu_s": ${Stats.num(cpuS)}, """ +
      s""""host_steal_share": ${Stats.num(stealShare)}}}}""")
    Seq(
      ("setup_s", Stats.median(setup), "s"),
      ("scan_typed_mb_s", rate("typed_agg"), "MB/s"),
      ("scan_raw_mb_s", rate("raw_agg"), "MB/s"),
      ("filter_1pct_s", Stats.median(secs("filter_1pct")), "s"),
      ("filter_50pct_mb_s", rate("filter_50pct"), "MB/s"),
      ("minmax_count_s", Stats.median(secs("minmax_count")), "s"),
      ("write_mb_s", rate("write"), "MB/s"),
      ("peak_rss_mb", Stats.peakRssMb(), "MB"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) -1.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Highest percentile with at least ten samples above it, and its value. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val s = xs.sorted
    val k = s.size - 11
    if (k < 0) None else Some((100.0 * (k + 1) / s.size, s(k)))
  }

  /** (steal, total) CPU ticks of the host from /proc/stat: the share of
    * time the hypervisor ran something else, to tell host drift from code. */
  def hostTicks(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val t = f.getLines().next().split("\\s+").drop(1).take(8).map(_.toLong)
      (t(7), t.sum)
    } finally f.close()
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "-1" else java.lang.Double.toString(d)
}
