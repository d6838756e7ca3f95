package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Dedup
import QueryRegistry.table

/** Structured Streaming over the `events` table and the fixedwidth source
  * (the reference is batch-only MapReduce — SURVEY.md §2.9 [EXT]).
  *
  * Driver-contract note: each query RUNS a real stream (readStream →
  * windowed agg → memory sink, Trigger.AvailableNow) to completion and
  * returns the materialized result, so the DuckDB oracle can check the
  * streaming computation against its batch-SQL equivalent — the strongest
  * cross-engine statement one can make about a stream.
  */
object StreamingQueries {

  /** Build a stream under an ISOLATED child session, run it to a memory sink
    * until AvailableNow drains, return the result table.
    *
    * State partitioning: a stateful stream creates state-store instances per
    * shuffle partition PER stateful operator side — at the session default of
    * 32 that is up to 128 store inits/commits for a stream-stream join,
    * pure fixed overhead when the key domain is small (150 users here). The
    * stream starts under `statePartitions` (pinned into the query's
    * checkpoint at first start, as Spark does for any stateful query). The
    * knob is scoped via `spark.newSession()` — own SQLConf, shared
    * SparkContext — so a concurrent query on the shared session can never
    * observe it (the previous set/restore on the shared conf raced). On a
    * real cluster this knob is sized to key cardinality × executor count. */
  private[graft] def runToMemory(spark: SparkSession, name: String, mode: String,
      statePartitions: Int = 8, requireSingleBatch: Boolean = false)(
      build: SparkSession => DataFrame): DataFrame = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
    val ckpt = freshCkpt(name)
    val q = build(ss).writeStream
      .format("memory").queryName(name).outputMode(mode)
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination()
      if (requireSingleBatch) {
        // The drained-stream == batch-oracle claim for watermarked
        // append-mode queries relies on all input landing in ONE
        // micro-batch: if the file source ever split the files such that
        // event time regresses past the watermark across batches, state
        // eviction would drop matches and the oracle would diverge
        // silently. Fail loudly instead.
        val dataBatches = q.recentProgress.count(_.numInputRows > 0)
        require(dataBatches <= 1,
          s"$name: expected one data micro-batch under AvailableNow, saw $dataBatches")
      }
    } finally dropCkpt(ckpt) // drained or failed: only the memory-sink table is needed
    ss.table(name)
  }

  /** Checkpoint scratch pool (SURVEY §7.5 fixed-cost item): a streaming
    * lane's residual ~1 s is dominated by checkpoint-log + state-store IO —
    * offset/commit logs and per-partition state deltas are dozens of small
    * fsync'd files, real disk latency when java.io.tmpdir is disk-backed.
    * Test streams drain to completion and are never restarted, so their
    * checkpoints need NO durability: place them on tmpfs when available
    * (/dev/shm) and delete each lane's dir the moment its stream drains, so
    * a 200-lane sweep pays RAM-speed IO and accumulates no scratch. A
    * production deployment points checkpointLocation at durable shared
    * storage — this pool is harness scratch placement, not a semantics
    * change (`StreamStateRecoverySpec` keeps pinning real recovery on
    * durable dirs). */
  private lazy val ckptRoot: java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val base =
      if (Files.isDirectory(shm) && Files.isWritable(shm)) shm
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    Files.createTempDirectory(base, "graft-ckpt-pool")
  }

  private def freshCkpt(name: String): java.nio.file.Path =
    Files.createTempDirectory(ckptRoot, name)

  private def dropCkpt(p: java.nio.file.Path): Unit =
    // best-effort scratch cleanup: traversal failures surface as
    // UncheckedIOException (a RuntimeException, not IOException), so catch
    // NonFatal; the walk stream holds directory handles — close it.
    try {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Stream the events parquet as a file stream — same ts normalization as
    * the batch QueryRegistry.events helper (long nanos / TIMESTAMP_NTZ /
    * TIMESTAMP, keyed on the observed batch-read schema). */
  private def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, dir, "events").schema
    QueryRegistry.normalizeTs(
      spark.readStream
        .schema(raw)
        .option("pathGlobFilter", "events.parquet") // the file stream source wants a directory
        .parquet(dir))
  }

  /** Tumbling 1-hour windows with a watermark: count + exact value sum per
    * (window, event_type). Complete output mode → every window emitted once
    * the stream drains, which is exactly the batch answer. */
  def tumbling(spark: SparkSession, dir: String): DataFrame = {
    runToMemory(spark, "stream_tumbling", "complete") { ss =>
      eventsStream(ss, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          CoreQueries.dsum(col("value")).as("sum_value"))
    }
      .select(col("w.start").as("window_start"), col("event_type"), col("n_events"), col("sum_value"))
      .orderBy(col("window_start"), col("event_type"))
  }

  val tumblingOracle: String =
    s"""SELECT date_trunc('hour', ts) AS window_start, event_type,
       |  count(*) AS n_events, ${CoreQueries.dsumSql("value")} AS sum_value
       |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  /** Sliding windows (1 hour, sliding every 30 minutes): each event lands in
    * two windows. The oracle replicates the window assignment by unioning
    * the two half-hour-aligned window starts per event. */
  def sliding(spark: SparkSession, dir: String): DataFrame = {
    runToMemory(spark, "stream_sliding", "complete") { ss =>
      eventsStream(ss, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
    }
      .select(col("w.start").as("window_start"), col("event_type"), col("n_events"))
      .orderBy(col("window_start"), col("event_type"))
  }

  val slidingOracle: String =
    """WITH assigned AS (
      |  SELECT ts, event_type,
      |    date_trunc('hour', ts) + (CASE WHEN extract(minute FROM ts) >= 30
      |      THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END) - (o * INTERVAL 30 MINUTE) AS window_start
      |  FROM events, (SELECT unnest([0, 1]) AS o)
      |)
      |SELECT window_start, event_type, count(*) AS n_events
      |FROM assigned GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  /** Session windows (30-minute inactivity gap) per user: Spark's built-in
    * session_window in a streaming agg; the oracle reconstructs identical
    * sessions with the classic lag/cumsum gap-split. */
  def sessions(spark: SparkSession, dir: String): DataFrame = {
    runToMemory(spark, "stream_sessions", "complete") { ss =>
      eventsStream(ss, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
    }
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
      .orderBy(col("user_id"))
  }

  // NB: Spark's session_window is half-open [start, start+gap): an event
  // exactly `gap` after the previous one starts a NEW session, so the
  // gap-split uses >= (a `>` here diverges whenever a timestamp lands
  // exactly on the boundary).
  val sessionsOracle: String =
    """WITH marked AS (
      |  SELECT user_id, ts,
      |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
      |      OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |), sessioned AS (
      |  SELECT user_id, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM marked
      |)
      |SELECT user_id, cast(count(DISTINCT session_id) AS bigint) AS n_sessions,
      |  count(*) AS n_events
      |FROM sessioned GROUP BY user_id ORDER BY user_id""".stripMargin

  /** The fixedwidth format as a STREAMING source: stream the fixed-width
    * lineitem encoding (same files as q01) through a windowless agg and
    * check it against DuckDB over the original parquet — proves the
    * MicroBatchStream delivers exactly the batch bytes. */
  def fwStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    CoreQueries.lineitemViaFixedWidth(spark, dir) // ensure encoded files exist
    val fieldsOpt = graft.sources.fixedwidth.FixedWidthOptions.renderFields(CoreQueries.lineitemLayout)
    runToMemory(spark, "stream_fw", "complete") { ss =>
      ss.readStream.format("fixedwidth")
        .option("fields", fieldsOpt)
        .load(QueryRegistry.scratch(dir, "lineitem_fw"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_lines"), CoreQueries.dsum(col("l_quantity")).as("sum_qty"))
    }
      .orderBy(col("l_returnflag"))
  }

  val fwStreamOracle: String =
    s"""SELECT l_returnflag, count(*) AS n_lines, ${CoreQueries.dsumSql("l_quantity")} AS sum_qty
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Custom state via mapGroupsWithState: per-user running (count, exact
    * decimal sum) carried in explicit GroupState. The sum is accumulated as
    * BigDecimal(scale 10) — order-insensitive exact arithmetic, identical to
    * the dsum decimal-cast pattern — so the final state matches the batch
    * oracle bit-for-bit however Spark orders the per-group iterator. */
  def statefulTotals(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    runToMemory(spark, "stream_stateful", "update") { ss =>
      eventsStream(ss, dir)
        .select(col("user_id"), col("value")).as[(Long, Double)]
        .groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
          (user: Long, rows: Iterator[(Long, Double)], state: GroupState[(Long, java.math.BigDecimal)]) =>
            var (c, s) = state.getOption.getOrElse((0L, java.math.BigDecimal.ZERO))
            rows.foreach { case (_, v) =>
              c += 1
              s = s.add(java.math.BigDecimal.valueOf(v).setScale(10, java.math.RoundingMode.HALF_UP))
            }
            state.update((c, s))
            (user, c, s)
        }
        .toDF("user_id", "n_events", "dec_sum")
    }
      // several micro-batches re-emit a user's row; the running count is
      // monotone, so max/max_by select each user's final state.
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"),
        round(max_by(col("dec_sum"), col("n_events")).cast("double"), 4).as("sum_value"))
      .orderBy(col("user_id"))
  }

  val statefulTotalsOracle: String =
    s"""SELECT user_id, count(*) AS n_events, ${CoreQueries.dsumSql("value")} AS sum_value
       |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Multi-row custom state via flatMapGroupsWithState: per-user
    * SESSIONIZATION in explicit state — the open session (start, count,
    * last-seen) is carried in GroupState; each batch sorts its events,
    * extends or closes sessions by the 30-minute gap rule (>= gap starts a
    * new one, matching session_window's half-open convention), and emits
    * one row PER SESSION — the multi-row-per-group shape
    * mapGroupsWithState cannot express. Re-emissions of a still-open
    * session (later batches) carry monotone counts, so the max-per
    * (user, session_start) post-aggregation selects each session's final
    * extent; the batch oracle rebuilds identical sessions with the
    * lag/cumsum gap-split. */
  def sessionEmit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapMicros = 30L * 60 * 1000 * 1000
    runToMemory(spark, "stream_session_emit", "update") { ss =>
      eventsStream(ss, dir)
        .select(col("user_id"), col("ts")).as[(Long, java.time.Instant)]
        .groupByKey(_._1)
        .flatMapGroupsWithState[(Long, Long, Long), (Long, Long, Long)](
          OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, java.time.Instant)],
            state: GroupState[(Long, Long, Long)]) =>
          val times = rows.map { case (_, i) =>
            i.getEpochSecond * 1000000L + i.getNano / 1000L
          }.toArray.sorted
          val sessions = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
          state.getOption.foreach(sessions += _) // the open session, if any
          times.foreach { t =>
            if (sessions.nonEmpty && t - sessions.last._3 < gapMicros) {
              val (s0, c, last) = sessions.last
              sessions(sessions.length - 1) = (s0, c + 1, math.max(last, t))
            } else sessions += ((t, 1L, t))
          }
          if (sessions.nonEmpty) state.update(sessions.last)
          sessions.iterator.map { case (s0, c, _) => (user, s0, c) }
        }
        .toDF("user_id", "start_micros", "n_events")
    }
      .groupBy(col("user_id"), timestamp_micros(col("start_micros")).as("session_start"))
      .agg(max(col("n_events")).as("n_events"))
      .orderBy(col("user_id"), col("session_start"))
  }

  val sessionEmitOracle: String =
    """WITH marked AS (
      |  SELECT user_id, ts,
      |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
      |      OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |), sessioned AS (
      |  SELECT user_id, ts, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM marked
      |)
      |SELECT user_id, min(ts) AS session_start, count(*) AS n_events
      |FROM sessioned GROUP BY user_id, session_id
      |ORDER BY user_id, session_start""".stripMargin

  /** Streaming exact dedup: `dropDuplicates` on (user_id, event_type) with
    * cross-micro-batch state — the streaming twin of the batch exact-dedup
    * operator (q50). Only the KEYS are emitted: which physical row wins per
    * key is stream-order-dependent, the surviving key set is not — so the
    * query asserts exactly the deterministic part. Unwatermarked by intent
    * (the key domain is bounded); production feeds with unbounded keys
    * should use `dropDuplicatesWithinWatermark` to cap the state store. */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    runToMemory(spark, "stream_dedup", "append") { ss =>
      eventsStream(ss, dir)
        .select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type")
    }
      .orderBy(col("user_id"), col("event_type"))
  }

  val streamDedupOracle: String =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin

  /** State-CAPPED streaming dedup: `dropDuplicatesWithinWatermark` — the
    * production twin of q76 for unbounded key domains. The watermark lets
    * Spark expire each key's dedup state once event time passes it, so state
    * is O(keys per watermark window), not O(all keys ever); q76's plain
    * `dropDuplicates` state grows forever. Under AvailableNow (single
    * batch, asserted) nothing expires mid-run, so the emitted key set equals
    * the batch DISTINCT — which is exactly what the oracle checks; the
    * operator's value is the state bound, the oracle pins its correctness. */
  def streamDedupWatermark(spark: SparkSession, dir: String): DataFrame = {
    runToMemory(spark, "stream_dedup_wm", "append", requireSingleBatch = true) { ss =>
      eventsStream(ss, dir)
        .withWatermark("ts", "1 hour")
        .select(col("user_id"), col("event_type"), col("ts"))
        .dropDuplicatesWithinWatermark("user_id", "event_type")
    }
      .select(col("user_id"), col("event_type"))
      .orderBy(col("user_id"), col("event_type"))
  }

  val streamDedupWatermarkOracle: String =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin

  /** Stream-static join: the event stream enriched against the static
    * `customer` dimension (micro-batch side of the join re-plans per batch;
    * the static side broadcasts off its size stats — no shuffle touches the
    * stream). Proves the third join lane (batch-batch q10-q15, SPJ q36,
    * stream-static here). */
  def streamStaticJoin(spark: SparkSession, dir: String): DataFrame = {
    runToMemory(spark, "stream_static_join", "complete") { ss =>
      val cust = table(ss, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      eventsStream(ss, dir)
        .join(cust, col("user_id") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_events"), CoreQueries.dsum(col("value")).as("sum_value"))
    }
      .orderBy(col("c_nationkey"))
  }

  val streamStaticJoinOracle: String =
    s"""SELECT c_nationkey, count(*) AS n_events, ${CoreQueries.dsumSql("value")} AS sum_value
       |FROM events JOIN customer ON user_id = c_custkey
       |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  /** Stream-stream inner join: each event joined to the SAME user's events
    * of another type within the following 30 minutes — two watermarked
    * streams, equi-key + event-time range condition (the state-bounding
    * shape Spark requires of stream-stream joins). Under AvailableNow the
    * drained result equals the batch join, which is exactly what the oracle
    * asserts. Aggregated per user afterwards to keep the checked output
    * compact. */
  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    runToMemory(spark, "stream_stream_join", "append", requireSingleBatch = true) { ss =>
      val clicks = eventsStream(ss, dir)
        .filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val buys = eventsStream(ss, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("b_user"), col("ts").as("b_ts"))
        .withWatermark("b_ts", "1 hour")
      clicks.join(buys,
        col("c_user") === col("b_user") &&
          col("b_ts") >= col("c_ts") &&
          col("b_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"))
    }
      .groupBy(col("c_user").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("user_id"))
  }

  val streamStreamJoinOracle: String =
    """SELECT c.user_id AS user_id, count(*) AS n_pairs
      |FROM events c JOIN events b
      |  ON c.user_id = b.user_id AND c.event_type = 'click' AND b.event_type = 'purchase'
      | AND b.ts >= c.ts AND b.ts <= c.ts + INTERVAL 30 MINUTE
      |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin

  /** Streaming sketch composition: HLL distinct users per hour window. The
    * streaming state is the REGISTER table — groupBy(window, bucket).max(rho)
    * keeps at most 2^p rows per window however many events arrive, the
    * bounded-state answer to "distinct per window over an unbounded stream"
    * (exact streaming distinct state grows with the key count). The register
    * maxes drain to the memory sink; the harmonic fold runs batch-side on
    * the drained registers. Same deterministic hash family as batch q48, so
    * the ESTIMATES hash-match the DuckDB replay bit-for-bit. */
  def streamHll(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Cardinality
    val p = 10
    val m = 1 << p
    val drained = runToMemory(spark, "stream_hll", "complete") { ss =>
      val (bucket, rho) = Cardinality.bucketAndRho(col("user_id").cast("string"), p)
      eventsStream(ss, dir)
        .withWatermark("ts", "1 hour")
        .select(window(col("ts"), "1 hour").as("w"), bucket.as("_bucket"), rho.as("_rho"))
        .groupBy(col("w"), col("_bucket"))
        .agg(max(col("_rho")).as("_rho"))
    }
    drained
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n_used"),
        sort_array(collect_list(struct(col("_bucket"), col("_rho")))).as("_regs"))
      .withColumn("hll_est",
        round(lit(Cardinality.alphaM2(p)) /
          aggregate(col("_regs"), (lit(m) - col("n_used")).cast("double"),
            (acc, r) => acc + pow(lit(2.0), -r.getField("_rho"))), 4))
      .select(col("w.start").as("window_start"), col("n_used"), col("hll_est"))
      .orderBy(col("window_start"))
  }

  val streamHllOracle: String = {
    val p = 10
    val m = 1 << p
    val bucket = s"(h // ${1L << (64 - p)})"
    val w = s"((h * $m) % 18446744073709551616::HUGEINT)"
    val rho = s"least(CASE WHEN $w = 0 THEN 64 ELSE 64 - length(bin($w)) END, ${64 - p}) + 1"
    s"""WITH uh AS (
       |  SELECT DISTINCT date_trunc('hour', ts) AS window_start, user_id FROM events
       |), hh AS (
       |  SELECT user_id, ${DuckHashSql.hash64Sql("user_id::VARCHAR")} AS h
       |  FROM (SELECT DISTINCT user_id FROM events)
       |), rows_ AS (
       |  SELECT window_start, cast($bucket AS BIGINT) AS bucket, cast($rho AS BIGINT) AS rho
       |  FROM uh JOIN hh USING (user_id)
       |), regs AS (
       |  SELECT window_start, bucket, max(rho) AS rho FROM rows_ GROUP BY 1, 2
       |), sk AS (
       |  SELECT window_start, count(*) AS n_used,
       |    list_reduce(
       |      list_prepend(($m - count(*))::DOUBLE, list(pow(2.0, -rho) ORDER BY bucket)),
       |      (a, b) -> a + b) AS denom
       |  FROM regs GROUP BY 1
       |)
       |SELECT window_start, n_used,
       |  round(${graft.operators.Cardinality.alphaM2(p)} / denom, 4) AS hll_est
       |FROM sk ORDER BY window_start""".stripMargin
  }

  /** Streaming SINK into the fixedwidth format: the stream drains through
    * `foreachBatch` into `df.write.format("fixedwidth")` in append mode —
    * each micro-batch lands job-tagged files (the writer's append-safe
    * naming), so the result is batching-independent by construction: the
    * read-back aggregate equals the batch answer no matter how AvailableNow
    * split the input. Completes the streaming story: q73 streams FROM the
    * format, this streams INTO it. A fresh temp dir per invocation — append
    * across reruns would double-count. */
  def streamToFixedWidth(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.fixedwidth.{FieldSpec, FixedWidthOptions}
    val layout = Seq(
      FieldSpec("event_id", "long", 0, 12),
      FieldSpec("user_id", "long", 12, 8),
      FieldSpec("value", "double", 20, 25))
    val fieldsOpt = FixedWidthOptions.renderFields(layout)
    val out = Files.createTempDirectory("graft-fw-sink").toString
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    val writeBatch: (DataFrame, Long) => Unit = (batch, _) =>
      batch.write.format("fixedwidth").option("fields", fieldsOpt)
        .mode("append").save(out)
    val ckpt = freshCkpt("fwsink")
    val q = eventsStream(ss, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("value"))
      .writeStream
      .foreachBatch(writeBatch)
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    dropCkpt(ckpt)
    spark.read.format("fixedwidth").option("fields", fieldsOpt).load(out)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"), CoreQueries.dsum(col("value")).as("sum_value"))
      .orderBy(col("user_id"))
  }

  val streamToFixedWidthOracle: String =
    s"""SELECT user_id, count(*) AS n_purchases, ${CoreQueries.dsumSql("value")} AS sum_value
       |FROM events WHERE event_type = 'purchase'
       |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q234 — the q119 sink lane over the FRAMED COMPRESSED layout (r14):
    * each micro-batch appends .fwz files (zstd record-group frames +
    * content-size footer, FwzFormat) through the sink, and the drained
    * directory is read back SPLIT on the frame grid for the same rollup.
    * Batching-independent for the q119 reason (append-only, row-pure), and
    * the oracle is the same batch aggregate — so hash equality proves the
    * compressed write path composes with foreachBatch streaming: every
    * rolled micro-batch file carries its own valid footer. This is the
    * shape a 100 TB compressed feed's INGEST actually runs: arrivals land
    * compressed and splittable, no recompression pass. */
  def streamToFwz(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.fixedwidth.{FieldSpec, FixedWidthOptions}
    val layout = Seq(
      FieldSpec("event_id", "long", 0, 12),
      FieldSpec("user_id", "long", 12, 8),
      FieldSpec("value", "double", 20, 25))
    val fieldsOpt = FixedWidthOptions.renderFields(layout)
    val out = Files.createTempDirectory("graft-fwz-sink").toString
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    val writeBatch: (DataFrame, Long) => Unit = (batch, _) =>
      batch.write.format("fixedwidth").option("fields", fieldsOpt)
        .option("compression", "zstd").option("frameBytes", (64 * 1024).toString)
        .mode("append").save(out)
    val ckpt = freshCkpt("fwzsink")
    val q = eventsStream(ss, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("value"))
      .writeStream
      .foreachBatch(writeBatch)
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination()
    finally {
      try { if (q.isActive) q.stop() }
      finally dropCkpt(ckpt)
    }
    spark.read.format("fixedwidth").option("fields", fieldsOpt).load(out)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"), CoreQueries.dsum(col("value")).as("sum_value"))
      .orderBy(col("user_id"))
  }

  /** q236 — the fixedwidth STREAMING SOURCE over the framed compressed
    * layout (r15): q73 streams FROM plain fixed-width and q234 streams INTO
    * .fwz; this closes the square by streaming FROM .fwz. Each micro-batch
    * plans record-aligned chunks from the files' footers exactly like the
    * batch path (no phase-1 pass), the pushed l_orderkey range reaches the
    * stream's planner so per-frame statistics skip compressed frames per
    * micro-batch, and footer-INCOMPLETE files in the watched directory are
    * excluded at admission until their trailer lands (the partial-file
    * rule, pinned in FixedWidthStreamingSpec). Oracle: the identical
    * aggregate from the original parquet — drained stream ≡ batch read. */
  def fwzStream(spark: SparkSession, dir: String): DataFrame = {
    val src = CoreQueries.lineitemFwzStatsPath(spark, dir)
    val fieldsOpt = graft.sources.fixedwidth.FixedWidthOptions
      .renderFields(CoreQueries.lineitemLayout)
    runToMemory(spark, "stream_fwz_src", "complete") { ss =>
      ss.readStream.format("fixedwidth")
        .option("fields", fieldsOpt)
        .load(src)
        .filter(col("l_orderkey") <= 1000L)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_lines"), CoreQueries.dsum(col("l_quantity")).as("sum_qty"))
    }
      .orderBy(col("l_returnflag"))
  }

  val fwzStreamOracle: String =
    s"""SELECT l_returnflag, count(*) AS n_lines, ${CoreQueries.dsumSql("l_quantity")} AS sum_qty
       |FROM lineitem WHERE l_orderkey <= 1000
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Streaming AS-OF enrichment (feature-store lookup on a stream): each
    * streamed purchase picks up the user's latest prior view — per
    * micro-batch, a batch-mode as-of against the STATIC deduped view table
    * inside `foreachBatch`. Because the right side is static and as-of is a
    * per-left-row function, the result is batching-independent by
    * construction (same argument as q119's sink); enriched batches land in
    * a parquet spool and are aggregated after the drain. The oracle is the
    * same DuckDB ASOF LEFT JOIN as q135 aggregated identically — stream
    * drain == batch as-of, the q77 stream-static claim extended to the
    * as-of operator. */
  def streamAsofEnrich(spark: SparkSession, dir: String): DataFrame = {
    val out = Files.createTempDirectory("graft-asof-spool").toString
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    val views = QueryRegistry.events(ss, dir) // ts nanos→timestamp, like the stream side
      .filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("view_value"))
    val enrich: (DataFrame, Long) => Unit = (batch, _) =>
      graft.operators.AsOfJoin.asOf(batch, views, "user_id", "ts", Seq("view_value"))
        .write.mode("append").parquet(out)
    val ckpt = freshCkpt("asof")
    val q = eventsStream(ss, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .writeStream
      .foreachBatch(enrich)
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    dropCkpt(ckpt)
    spark.read.parquet(out)
      .groupBy((col("user_id") % 10).as("user_decile"))
      .agg(count(lit(1)).as("n_purchases"),
        count(col("asof_view_value")).as("n_matched"),
        CoreQueries.dsum(col("asof_view_value")).as("sum_matched_value"))
      .orderBy(col("user_decile"))
  }

  val streamAsofEnrichOracle: String =
    s"""WITH v AS (
       |  SELECT user_id, ts, max(value) AS view_value
       |  FROM events WHERE event_type = 'view' GROUP BY 1, 2
       |), e AS (
       |  SELECT p.user_id, v.view_value AS asof_view_value
       |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
       |  ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
       |)
       |SELECT user_id % 10 AS user_decile, count(*) AS n_purchases,
       |  count(asof_view_value) AS n_matched,
       |  ${CoreQueries.dsumSql("asof_view_value")} AS sum_matched_value
       |FROM e GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q161
  /** Streaming token-id encoding under a FROZEN vocabulary — the
    * ingest/inference shape of q158: a corpus stream is encoded
    * continuously against a vocab trained earlier, so documents admitted
    * tomorrow get yesterday's token ids. The vocab is built batch-side
    * (the q158/q46 rule), pulled to the driver (bounded: ≤ maxVocab rows —
    * the IVF-centroid argument) and enters the stream as a MAP LITERAL, so
    * the per-row encode is a pure codegen'd expression chain: tokenize →
    * `element_at(vocabMap, tok)` → OOV 0 — STATELESS, no watermark, no
    * state store, unbounded-throughput streaming. The oracle is exactly
    * the batch q158 SQL: the drained stream must equal the batch encoding
    * byte-for-byte, md5s included. */
  def streamEncode(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    // the SHARED q158 vocab definition (PipelineQueries.vocabOf) — the
    // stream must encode under the very same ids as the batch lane
    val vocabRows = PipelineQueries.vocabOf(
      PipelineQueries.posTokens(
        table(spark, dir, "documents").select(col("doc_id"), col("text"))), 20)
      .collect()
    val vocabMap = map(vocabRows.flatMap(r =>
      Seq(lit(r.getString(0)), lit(r.getInt(1)))).toIndexedSeq: _*)
    runToMemory(spark, "stream_encode", "append") { ss =>
      val schema = table(ss, dir, "documents").schema
      ss.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .select(col("doc_id"),
          filter(TextFunctions.tokens(lower(col("text"))), t => length(t) > 0).as("toks"))
        // batch q158 explodes-then-groups, so a zero-token doc produces no
        // group and no row; drop it here too or the drained stream gains a
        // row the shared oracle doesn't have
        .filter(size(col("toks")) > 0)
        .select(col("doc_id"),
          transform(col("toks"), t => coalesce(element_at(vocabMap, t), lit(0))).as("ids"))
        .select(
          col("doc_id"),
          size(col("ids")).cast("long").as("n_tokens"),
          size(filter(col("ids"), x => x === 0)).cast("long").as("n_oov"),
          md5(concat_ws(",", transform(col("ids"), _.cast("string"))).cast("binary"))
            .as("ids_md5"))
    }
      .orderBy(col("doc_id"))
  }

  /** Streaming SimHash near-dup detection — the streaming twin of batch
    * q54: each arriving document is flagged as a near-duplicate iff some
    * LOWER-id document has simhash Hamming distance ≤ 3. Stream state is
    * keyed by (band, 16-bit band value) via `flatMapGroupsWithState`: a
    * doc only compares against the docs sharing one of its 4 bands, and
    * the pigeonhole argument makes that EXACT, not approximate — ≤ 3
    * differing bits can touch at most 3 of the 4 bands, so every
    * qualifying pair shares at least one band key; pairs meeting in a
    * band but beyond the radius are rejected by the in-group Hamming
    * check. So the banded stream equals the all-pairs definition, which
    * is exactly what the (band-free) pairwise oracle asserts.
    *
    * Scale shape: state per band key is its bucket's (id, sig) list —
    * 64-bit sigs, so ~16 B per doc per band; buckets are capped by the
    * 2^16 key domain spreading the corpus, and a production feed bounds
    * them further with wider band values (more/wider bands shrink buckets
    * while keeping the pigeonhole radius) plus state TTL. An identical-
    * spam feed defeats the key-domain spreading (every spam doc lands in
    * the SAME 4 buckets — the batch banding's adversary, aimed at stream
    * state instead of an aggregation buffer), so `stateCap` bounds a
    * single bucket's list the way `bucketCap` bounds the batch form; the
    * default keeps the exactness guarantee, the knob is for skewed feeds. The verdict is
    * "vs lower doc_id", not arrival order, so the answer is deterministic
    * under any micro-batch split or state-shard interleaving. Per-band
    * verdicts drain to the sink and the 4-row-per-doc OR runs batch-side
    * on the drained table (the q75 post-aggregation pattern). */
  /** The band-keyed stateful core of [[streamNearDup]], factored out so
    * tests can drive it with a forced multi-batch stream (the lane's
    * AvailableNow run drains in one batch): per-(band, value) verdict rows
    * (doc_id, band_no, band_dup) from a streaming (doc_id, sig) Dataset —
    * OR the 4 band rows per doc downstream. */
  private[graft] def nearDupVerdicts(
      sigs: org.apache.spark.sql.Dataset[(Long, Long)],
      stateCap: Int = Int.MaxValue): DataFrame = {
    require(stateCap > 0, s"stateCap must be positive, got $stateCap")
    import sigs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val bandBits = 16
    val nBands = 4
    val maxHamming = 3
    sigs.toDF("doc_id", "sig")
      // a NULL id/sig (unsigned doc, simhash of NULL text) has no verdict
      // and would NPE the primitive tuple encoder below
      .filter(col("doc_id").isNotNull && col("sig").isNotNull)
      .select(col("doc_id"), col("sig"),
        explode(array((0 until nBands).map(b =>
          struct(lit(b).as("band_no"),
            shiftrightunsigned(col("sig"), b * bandBits)
              .bitwiseAND(lit((1L << bandBits) - 1)).as("band_val"))): _*)).as("bv"))
      .select(col("bv.band_no"), col("bv.band_val"), col("doc_id"), col("sig"))
      .as[(Int, Long, Long, Long)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[List[(Long, Long)], (Long, Int, Int)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (key: (Int, Long), rows: Iterator[(Int, Long, Long, Long)],
            state: GroupState[List[(Long, Long)]]) =>
          // process the batch in id order so within-batch pairs resolve
          // identically to cross-batch ones; prior state may hold HIGHER
          // ids than an incoming row (late file), hence the pid < id guard
          val seen = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long)] ++= state.getOption.getOrElse(Nil)
          val out = rows.map(r => (r._3, r._4)).toArray.sortBy(_._1).map {
            case (id, sig) =>
              val dup = seen.exists { case (pid, psig) =>
                pid < id && java.lang.Long.bitCount(psig ^ sig) <= maxHamming
              }
              // a saturated bucket stops ACCUMULATING but keeps issuing
              // verdicts against its lowest-`stateCap` prefix (rows process
              // in ascending id, so the retained set is deterministic) —
              // the streaming analog of simhashNearDupsBanded's finite
              // bucketCap: pairs whose lower member lies beyond the prefix
              // are lost, and exact duplicates are the exact-dedup pass's
              // job. The default keeps the exactness guarantee (unbounded).
              if (seen.size < stateCap) seen += ((id, sig))
              (id, key._1, if (dup) 1 else 0)
          }
          state.update(seen.toList)
          out.iterator
      }
      .toDF("doc_id", "band_no", "band_dup")
  }

  def streamNearDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    runToMemory(spark, "stream_neardup", "update") { ss =>
      val schema = table(ss, dir, "documents").schema
      nearDupVerdicts(
        ss.readStream.schema(schema)
          .option("pathGlobFilter", "documents.parquet").parquet(dir)
          .select(col("doc_id"), graft.functions.Hashing.simhash(col("text")).as("sig"))
          .as[(Long, Long)])
    }
      .groupBy(col("doc_id"))
      .agg(max(col("band_dup")).as("is_dup"))
      .orderBy(col("doc_id"))
  }

  val streamNearDupOracle: String =
    s"""${graft.queries.DuckHashSql.simhashSigsCte("")}
       |SELECT s.doc_id,
       |  coalesce(max(CASE WHEN bit_count(xor(s.sig, p.sig)) <= 3 THEN 1 ELSE 0 END), 0) AS is_dup
       |FROM sigs s LEFT JOIN sigs p ON p.doc_id < s.doc_id
       |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin

  /** Streaming histogram-sketch quantiles: per-hour p50/p90 of `value`
    * where the stream STATE is the q115 sketch itself — a
    * groupBy(window, bucket) count holds ≤ 50 tiny rows per window however
    * many events arrive (the q102-HLL bounded-state argument applied to
    * quantiles; exact streaming percentiles would buffer whole windows).
    * The drained registers go straight to the shared
    * [[graft.operators.HistQuantile.estimateFromCounts]] interpolation
    * batch-side, so the streaming estimate is definitionally the batch
    * sketch estimate — which is what the oracle replays. */
  def streamHistQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lo = 0.0; val hi = 500.0; val buckets = 50
    val w = (hi - lo) / buckets
    val drained = runToMemory(spark, "stream_histq", "complete") { ss =>
      val bucket = least(greatest(floor((col("value") - lo) / w), lit(0.0)),
        lit((buckets - 1).toDouble)).cast("long")
      eventsStream(ss, dir)
        .filter(col("value").isNotNull)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour").as("wnd"), bucket.as("_b"))
        .agg(count(lit(1)).as("_c"))
    }
    graft.operators.HistQuantile.estimateFromCounts(
        drained.select(col("wnd.start").as("window_start"), col("_b"), col("_c")),
        Seq("window_start"), lo, w, qs = Seq(0.5, 0.9))
      .orderBy(col("window_start"), col("q"))
  }

  val streamHistQuantilesOracle: String = {
    val w = 500.0 / 50
    s"""WITH b AS (
       |  SELECT date_trunc('hour', ts) AS window_start,
       |    least(greatest(floor(value / $w), 0), 49)::BIGINT AS b
       |  FROM events WHERE value IS NOT NULL
       |), c AS (
       |  SELECT window_start, b, count(*) AS c FROM b GROUP BY 1, 2
       |), cum AS (
       |  SELECT window_start, b, c,
       |    sum(c) OVER (PARTITION BY window_start ORDER BY b) AS cum,
       |    sum(c) OVER (PARTITION BY window_start) AS n
       |  FROM c
       |), qs(q) AS (VALUES (0.5::DOUBLE), (0.9::DOUBLE))
       |SELECT window_start, q, n::BIGINT AS n_rows,
       |  round(0.0 + $w * (b::DOUBLE + (q * n::DOUBLE - (cum - c)::DOUBLE) / c::DOUBLE), 6) AS est
       |FROM cum CROSS JOIN qs
       |WHERE (cum - c)::DOUBLE < q * n::DOUBLE AND cum::DOUBLE >= q * n::DOUBLE
       |ORDER BY window_start, q""".stripMargin
  }

  // ---------------------------------------------------------------- q195
  /** Streaming Count-Min frequency per window — the FREQUENCY member of
    * the streaming-sketch family (q102 keeps distinct-count registers,
    * q180 keeps quantile buckets, this keeps CMS cells): the stream state
    * is the per-(window, d, bucket) count table — ≤ depth × occupied
    * buckets rows per window regardless of event volume, the mergeable-
    * register argument verbatim. After the drain, the global top-5 users
    * (plus an impossible probe) are point-queried against each window's
    * cells batch-side: est = min over the d cells, absent cell = 0. Same
    * hash family as batch q49 (hash64 → mix64 rows), so the oracle
    * replays cells AND estimates exactly. */
  def streamCms(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val depth = 4
    val wBits = 12
    def keyCells(item: org.apache.spark.sql.Column) = {
      val h = graft.functions.Hashing.hash64Col(item)
      explode(array((0 until depth).map { j =>
        struct(lit(j).as("d"),
          pmod(graft.functions.Hashing.mix64At(h, lit(j)), lit(1L << wBits)).as("bucket"))
      }: _*))
    }
    val drained = runToMemory(spark, "stream_cms", "complete") { ss =>
      eventsStream(ss, dir)
        .filter(col("user_id").isNotNull)
        .withWatermark("ts", "1 day")
        .select(col("ts"), keyCells(col("user_id").cast("string")).as("_c"))
        .groupBy(window(col("ts"), "1 day").as("wnd"),
          col("_c.d").as("d"), col("_c.bucket").as("bucket"))
        .agg(count(lit(1)).as("n"))
    }
    val cells = drained.select(col("wnd.start").as("window_start"),
      col("d"), col("bucket"), col("n"))

    val events = QueryRegistry.events(spark, dir).filter($"user_id".isNotNull)
    val probes = events.groupBy($"user_id").agg(count(lit(1)).as("total"))
      .orderBy($"total".desc, $"user_id").limit(5)
      .select($"user_id".cast("string").as("user"))
      .unionByName(Seq("unseen probe").toDF("user"))
    val probeKeyed = probes.select($"user", keyCells($"user").as("_c"))
      .select($"user", $"_c.d".as("d"), $"_c.bucket".as("bucket"))
    val windows = cells.select($"window_start").distinct()
    val est = windows.crossJoin(broadcast(probeKeyed)) // ≤ 6 users × depth rows
      .join(cells, Seq("window_start", "d", "bucket"), "left")
      .groupBy($"window_start", $"user")
      .agg(min(coalesce($"n", lit(0L))).as("cms_est"))
    val exact = events
      .select(date_trunc("day", $"ts").as("window_start"),
        $"user_id".cast("string").as("user"))
      .groupBy($"window_start", $"user").agg(count(lit(1)).as("n_exact"))
    est.join(exact, Seq("window_start", "user"), "left")
      .select($"window_start", $"user", coalesce($"n_exact", lit(0L)).as("n_exact"),
        $"cms_est")
      .orderBy($"window_start", $"user")
  }

  val streamCmsOracle: String = {
    val m = DuckHashSql.mix64Sql("h", "d")
    s"""WITH ev AS (
       |  SELECT date_trunc('day', ts) AS window_start, cast(user_id AS VARCHAR) AS u
       |  FROM events WHERE user_id IS NOT NULL
       |), uh AS (
       |  SELECT u, ${DuckHashSql.hash64Sql("u")} AS h FROM (SELECT DISTINCT u FROM ev)
       |), cells AS (
       |  SELECT window_start, d.d, cast(($m % 4096) AS BIGINT) AS bucket, count(*) AS n
       |  FROM ev JOIN uh USING (u)
       |  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS d) d
       |  GROUP BY 1, 2, 3
       |), probes AS (
       |  SELECT cast(user_id AS VARCHAR) AS user FROM (
       |    SELECT user_id, count(*) AS total FROM events WHERE user_id IS NOT NULL
       |    GROUP BY user_id ORDER BY total DESC, user_id LIMIT 5
       |  )
       |  UNION ALL SELECT 'unseen probe'
       |), ph AS (
       |  SELECT "user", ${DuckHashSql.hash64Sql(""""user"""")} AS h
       |  FROM (SELECT DISTINCT "user" FROM probes)
       |), pk AS (
       |  SELECT "user", d.d, cast(($m % 4096) AS BIGINT) AS bucket
       |  FROM ph CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS d) d
       |), est AS (
       |  SELECT w.window_start, pk."user", min(coalesce(c.n, 0)) AS cms_est
       |  FROM (SELECT DISTINCT window_start FROM cells) w
       |  CROSS JOIN pk
       |  LEFT JOIN cells c ON c.window_start = w.window_start
       |    AND c.d = pk.d AND c.bucket = pk.bucket
       |  GROUP BY 1, 2
       |), exact AS (
       |  SELECT window_start, u AS "user", count(*) AS n_exact FROM ev GROUP BY 1, 2
       |)
       |SELECT e.window_start, e."user",
       |  cast(coalesce(x.n_exact, 0) AS BIGINT) AS n_exact,
       |  cast(e.cms_est AS BIGINT) AS cms_est
       |FROM est e LEFT JOIN exact x USING (window_start, "user")
       |ORDER BY e.window_start, e."user"""".stripMargin
  }

  // ---------------------------------------------------------------- q212
  /** Train-offline / serve-online: the PERSISTED q207 weight artifact
    * (fixedwidth file, not the in-process memo) is loaded once — a 65-
    * double driver pull, exactly what a serving process does at startup —
    * and a document STREAM is scored entirely map-side: per doc one
    * decimal(30,10) fold over token-occurrence weights plus the bias.
    * No shuffle, no state store, append mode — the classifier-serving
    * shape at any corpus size. The decimal fold is ORDER-FREE-exact
    * (round(·,8) weights, the LogReg determinism argument), so the
    * drained stream hash-matches the oracle's batch re-derivation of the
    * same per-token sum under the replayed training trajectory. */
  def streamArtifactScore(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val w = PipelineQueries.persistedWeightVector(spark, dir)
    runToMemory(spark, "stream_artifact_score", "append") { ss =>
      val schema = table(ss, dir, "documents").schema
      ss.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .select(col("doc_id"),
          graft.operators.LogReg.marginExpr(
            TextFunctions.tokens(col("text")), w.toIndexedSeq, logBuckets = 6).as("m"))
        .select(col("doc_id"),
          round(col("m").cast("double"), 6).as("margin"),
          (col("m") > lit(0).cast("decimal(30,10)")).as("pred_en"))
    }
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- q213
  /** Streaming centroid ASSIGNMENT from the persisted artifact — the
    * embedding-side twin of q212 and the last link of the k-means chain
    * (q147 trains → q209 persists → q213 serves): the deployed coarse
    * model is loaded once (k × dim doubles, exactly the file's round(·,8)
    * values), and an embedding STREAM is assigned entirely map-side —
    * centroids ride as plan literals into k codegen'd squared-L2 folds +
    * an argmin, append mode, no shuffle, no state. The oracle replays the
    * assignment under the SAME rounded artifact values (`cr`), so the
    * drained stream hash-matches what batch scoring of the deployed model
    * produces. */
  def streamCentroidAssign(spark: SparkSession, dir: String): DataFrame = {
    val cents = SimilarityQueries.persistedCentroidVectors(spark, dir)
    runToMemory(spark, "stream_centroid_assign", "append") { ss =>
      val schema = table(ss, dir, "embeddings").schema
      graft.operators.KMeans.assignWith(
          ss.readStream.schema(schema)
            .option("pathGlobFilter", "embeddings.parquet").parquet(dir),
          "vec_id", "embedding", cents)
        .select(col("id").as("vec_id"), col("cluster"),
          round(col("dist"), 6).as("dist"))
    }
      .orderBy(col("vec_id"))
  }

  // ---------------------------------------------------------------- q218
  /** Streaming rare-token gating from the persisted CMS artifact — the
    * sketch-algebra member of the serving family (q212 weights, q213
    * centroids, q218 the merged Count-Min sketch): the reloaded
    * sum-merged cell tables are loaded ONCE as d dense 2^wBits count
    * arrays (the bounded in-memory form of the deployed sketch —
    * `PipelineQueries.persistedCmsLookup`), ride into the plan as d array
    * LITERALS, and a document stream is gated entirely map-side: per doc,
    * count token occurrences whose min-over-depth cell count falls below
    * the rarity threshold — all inside higher-order `filter`/`size` over
    * the token array, so there is NO explode, NO shuffle, NO state store,
    * append mode. CMS estimates are deterministic integer math on the
    * shared splitmix hashes, so the drained stream hash-matches the
    * oracle's batch replay of sketch build + estimates. */
  def streamCmsGate(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{Hashing, TextFunctions}
    val lookup = PipelineQueries.persistedCmsLookup(spark, dir)
    val wMask = lit((1L << PipelineQueries.CmsWBits))
    def est(t: Column): Column = {
      val h = Hashing.hash64Col(t)
      (0 until PipelineQueries.CmsDepth).map { j =>
        element_at(typedlit(lookup(j).toSeq),
          (pmod(Hashing.mix64At(h, lit(j)), wMask) + 1).cast("int"))
      }.reduce(least(_, _))
    }
    runToMemory(spark, "stream_cms_gate", "append") { ss =>
      val schema = table(ss, dir, "documents").schema
      ss.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        // NULL text null-propagates through tokens() and size() would then
        // emit -1/NULL where the oracle's LEFT JOIN emits 0 — coalesce to
        // the empty token array so a NULL-text doc counts (0, 0)
        .select(col("doc_id"),
          coalesce(filter(TextFunctions.tokens(col("text")), t => length(t) > 0),
            array().cast("array<string>")).as("toks"))
        .select(col("doc_id"),
          size(col("toks")).as("n_tok"),
          size(filter(col("toks"),
            t => est(t) < lit(PipelineQueries.CmsRareThreshold.toLong))).as("n_rare"))
    }
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- q220
  /** Streaming PQ ENCODE from the persisted codebook — the quantizer
    * member of the serving family (q212 weights, q213 centroids, q218 the
    * merged CMS; q220 the product quantizer): the deployed codebook is
    * loaded once (m·ksub·dsub doubles, exactly the file's round(·,8)
    * values — `SimilarityQueries.persistedPqCodebook`), its per-subspace
    * centroids ride as plan literals into m·ksub codegen'd squared-L2
    * folds over `slice`d chunks, and an embedding STREAM is encoded
    * entirely map-side: per subspace an argmin (array_sort on struct(d, j)
    * — ties to the smallest j, the q111 rule), append mode, no shuffle, no
    * state store. This is the vector-compression deploy loop a 100 TB
    * pipeline runs continuously: 4·dim bytes in, m codes out, the file
    * bounds the model. The oracle replays the argmin under the SAME
    * rounded artifact values, so the drained stream hash-matches batch
    * encoding of the deployed model. */
  def streamPqEncode(spark: SparkSession, dir: String): DataFrame = {
    val cb = SimilarityQueries.persistedPqCodebook(spark, dir)
    runToMemory(spark, "stream_pq_encode", "append") { ss =>
      val schema = table(ss, dir, "embeddings").schema
      val codes = cb.indices.map { s =>
        val dsub = cb(s).head.length
        val chunk = slice(col("embedding"), s * dsub + 1, dsub)
        val scored = cb(s).indices.map { j =>
          struct(
            graft.functions.VectorOps.sqDist(chunk, typedlit(cb(s)(j).toSeq)).as("d"),
            lit(j).as("j"))
        }
        array_sort(array(scored: _*)).getItem(0).getField("j")
      }
      ss.readStream.schema(schema)
        .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
        .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
        .select(col("vec_id"), posexplode(array(codes: _*)).as(Seq("s", "code")))
    }
      .orderBy(col("vec_id"), col("s"))
  }

  // ---------------------------------------------------------------- q223
  /** Streaming Bloom ADMISSION GATE from the persisted filter — the
    * exact-dedup member of the serving family (q212 weights, q213
    * centroids, q218 the merged CMS, q220 the PQ codebook; q223 the
    * membership sketch): the q222 bit file is loaded once as a dense 2^14
    * boolean array (memoized, trainer-registered), rides the plan as ONE
    * array literal, and a document stream is gated entirely map-side —
    * per doc, `maybe_seen` iff all 4 probe bits of its rolling fingerprint
    * are set. No explode, no shuffle, no state, append mode. This is the
    * ingest front door at 100 TB: the even-half corpus is indexed, a
    * "false" here is PROOF the document is new (Bloom filters have no
    * false negatives), and only the "true" residue pays q99's exact
    * anti-join. Deterministic splitmix integer math → the drained stream
    * hash-matches the oracle's batch replay of build + probes. */
  def streamBloomGate(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing
    val bits = DedupQueries.persistedBloomLookup(spark, dir)
    runToMemory(spark, "stream_bloom_gate", "append") { ss =>
      val schema = table(ss, dir, "documents").schema
      ss.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .filter(col("text").isNotNull) // the family's non-NULL-text rule
        .select(col("doc_id"), Hashing.rollingHash(col("text")).as("fp"))
        .select(col("doc_id"),
          DedupQueries.bloomProbes(col("fp")).map(p =>
            element_at(typedlit(bits.toSeq), (p + 1).cast("int")))
            .reduce(_ && _).as("maybe_seen"))
    }
      .orderBy(col("doc_id"))
  }

  val streamBloomGateOracle: String = {
    val m = DedupQueries.BloomBits
    s"""WITH fp AS (
       |  SELECT doc_id, ${DuckHashSql.rollingHashSql("text")} AS fp
       |  FROM documents WHERE text IS NOT NULL
       |), bits AS (
       |  SELECT DISTINCT cast((${DuckHashSql.mix64Sql("fp", "k")}) % $m AS BIGINT) AS bit_idx
       |  FROM fp CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) ks
       |  WHERE doc_id % 2 = 0
       |), probe AS (
       |  SELECT doc_id, cast((${DuckHashSql.mix64Sql("fp", "k")}) % $m AS BIGINT) AS bit_idx
       |  FROM fp CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) ks
       |)
       |SELECT p.doc_id, bool_and(b.bit_idx IS NOT NULL) AS maybe_seen
       |FROM probe p LEFT JOIN bits b USING (bit_idx)
       |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q225
  /** Streaming NEAR-DUP SERVING against the persisted q224 band index —
    * the deployed incremental-dedup loop: arrivals (the odd-doc_id half)
    * compute their MinHash band hashes MAP-SIDE in the stream (the q52
    * primitive-loop sketch), probe the storage-resident index via a
    * stream-static equi-join on (band_idx, band_hash), and the drained
    * candidate hits are confirmed batch-side with exact Jaccard over the
    * gram sets (the q52 verification kernel) — candidates only, never
    * corpus × arrivals. Per arrival: n_cand indexed docs sharing ≥ 1 band,
    * n_dup of them at Jaccard ≥ 0.5. At 100 TB the index is a bucketed
    * table joined on its band key (broadcast when a batch's band set is
    * small); arrivals never see each other — only the index — so the
    * answer is independent of micro-batch split, which is what lets the
    * oracle replay it as one batch join. */
  /** The arrival half's (doc_id, band_idx, band_hash) rows as a STREAM —
    * map-side primitive-loop sketches (the q52 kernel), shared by the
    * serving probe (q225) and the index-append maintenance lane (q227) so
    * the two cannot drift from the persisted index's own band math. */
  private def arrivalBandRows(
      ss: SparkSession, dir: String): DataFrame = {
    import ss.implicits._
    val (sl, nh, nb) =
      (DedupQueries.IdxShingle, DedupQueries.IdxHashes, DedupQueries.IdxBands)
    val schema = table(ss, dir, "documents").schema
    ss.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
      .filter(col("doc_id") % 2 === 1 && col("text").isNotNull)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val (gh, _, bh) = Dedup.sketchOf(text, sl, nh, nb)
        if (gh.isEmpty) Iterator.empty
        else bh.iterator.zipWithIndex.map { case (h, b) => (id, b, h) }
      })
      .toDF("doc_id", "band_idx", "band_hash")
  }

  def streamNearDupServe(spark: SparkSession, dir: String): DataFrame = {
    val idxPath = DedupQueries.persistedMinhashIndexPath(spark, dir)
    val (sl, nh, nb) =
      (DedupQueries.IdxShingle, DedupQueries.IdxHashes, DedupQueries.IdxBands)
    val drained = runToMemory(spark, "stream_neardup_serve", "append") { ss =>
      val idx = ss.read.format("fixedwidth")
        .option("fields", DedupQueries.idxFields).load(idxPath)
        .select(col("doc_id").as("idx_id"), col("band_idx"), col("band_hash"))
      arrivalBandRows(ss, dir).join(idx, Seq("band_idx", "band_hash"))
        .select(col("doc_id"), col("idx_id"))
    }
    // Batch-side confirmation on the drained candidate hits (the q75/q178
    // post-aggregation pattern): distinct pairs, exact Jaccard over the
    // sorted gram sets, per-arrival rollup, zeros for arrivals with no hit.
    // Gram sets are computed ONLY for docs that appear in a candidate pair
    // (left-semi against the drained ids) — at 100 TB the confirmation
    // stage touches candidates, never the corpus; a production index would
    // additionally persist the indexed side's gram sets next to the band
    // rows so even this recompute is arrivals-only.
    val docs = table(spark, dir, "documents")
    val pairIds = drained.select(col("doc_id"))
      .union(drained.select(col("idx_id").as("doc_id"))).distinct()
    val sk = Dedup.minhashSketches(
      docs.join(pairIds, Seq("doc_id"), "left_semi"),
      "doc_id", "text", sl, nh, nb)
    val scored = drained.distinct()
      .join(sk.select(col("id").as("doc_id"), col("gh").as("g_p"))
        .hint("shuffle_hash"), "doc_id")
      .join(sk.select(col("id").as("idx_id"), col("gh").as("g_i"))
        .hint("shuffle_hash"), "idx_id")
      .select(col("doc_id"),
        graft.functions.SetOps.sortedJaccard(col("g_p"), col("g_i")).as("jac"))
    val per = scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_cand"),
        count(when(col("jac") >= 0.5, 1)).as("n_dup"))
    docs.filter(col("doc_id") % 2 === 1).select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"))
      .orderBy(col("doc_id"))
  }

  val streamNearDupServeOracle: String =
    s"""WITH ${DuckHashSql.minhashPairsCtes(
            DedupQueries.IdxShingle, DedupQueries.IdxHashes,
            DedupQueries.IdxBands, 0.5)},
       |idx AS (
       |  SELECT doc_id, band_idx, band_hash FROM banded WHERE doc_id % 2 = 0
       |), prb AS (
       |  SELECT doc_id, band_idx, band_hash FROM banded WHERE doc_id % 2 = 1
       |), cpairs AS (
       |  SELECT DISTINCT p.doc_id, i.doc_id AS idx_id
       |  FROM prb p JOIN idx i
       |    ON p.band_idx = i.band_idx AND p.band_hash = i.band_hash
       |), scored AS (
       |  SELECT c.doc_id,
       |    round(cast(len(list_intersect(sp.gh, si.gh)) AS DOUBLE) /
       |      (len(sp.gh) + len(si.gh) - len(list_intersect(sp.gh, si.gh))), 6) AS jac
       |  FROM cpairs c
       |  JOIN sk sp ON sp.doc_id = c.doc_id
       |  JOIN sk si ON si.doc_id = c.idx_id
       |), per AS (
       |  SELECT doc_id, count(*) AS n_cand,
       |    count(CASE WHEN jac >= 0.5 THEN 1 END) AS n_dup
       |  FROM scored GROUP BY doc_id
       |)
       |SELECT d.doc_id, coalesce(p.n_cand, 0) AS n_cand,
       |  coalesce(p.n_dup, 0) AS n_dup
       |FROM documents d LEFT JOIN per p USING (doc_id)
       |WHERE d.doc_id % 2 = 1
       |ORDER BY d.doc_id""".stripMargin

  /** Shared delta-ingestion scaffold for the streaming index-maintenance
    * lanes (q227 band rows, q229 IVF assignments): wipe the per-sf scratch
    * delta, drive the arrival stream through the fixedwidth sink with one
    * OVERWRITTEN batchId-named subdir per micro-batch, and return the
    * delta path for the prior ∪ delta reload. One home for the
    * exactly-once contract: a retried micro-batch REPLACES its own subdir
    * instead of appending duplicates (foreachBatch is at-least-once), the
    * reader recurses into the subdirs (no `col=value` name → no partition
    * binding), and the invocation-start wipe keeps bench reps reusing one
    * directory instead of leaking a corpus-scale temp tree per run. */
  private def appendDeltaThroughSink(
      spark: SparkSession, dir: String, deltaTag: String, ckptTag: String,
      fieldsOpt: String)(arrivals: SparkSession => DataFrame): String = {
    val delta = QueryRegistry.scratch(dir, deltaTag)
    val deltaPath = new org.apache.hadoop.fs.Path(delta)
    val fs = deltaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(deltaPath, true)
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    val writeBatch: (DataFrame, Long) => Unit = (batch, batchId) =>
      batch.write.format("fixedwidth").option("fields", fieldsOpt)
        .option("strictWidth", "true").mode("overwrite")
        .save(s"$delta/batch-$batchId")
    val ckpt = freshCkpt(ckptTag)
    val q = arrivals(ss)
      .writeStream.foreachBatch(writeBatch)
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    // A failing stream must still release its checkpoint dir and stop the
    // extra session's query — bench reps retry, and each leaked ckpt is a
    // directory tree plus a registered streaming query on the shared JVM.
    try q.awaitTermination()
    finally {
      try { if (q.isActive) q.stop() }
      finally dropCkpt(ckpt)
    }
    delta
  }

  // ---------------------------------------------------------------- q227
  /** STREAMING index maintenance — q226's deployed form: the arrival
    * stream's band rows land in a DELTA directory through the repo's own
    * fixedwidth sink (the q119 foreachBatch append pattern), and the
    * lane's answer is prior index ∪ reloaded delta, which the oracle pins
    * equal to a from-scratch full-corpus rebuild. Batching-independent by
    * construction: each band row is a pure function of its own document,
    * so the delta's CONTENT is identical however AvailableNow splits the
    * files — only file layout varies, and the union reads it back order-
    * free. This is the ingestion loop a 100 TB near-dup service actually
    * runs: sketch arrivals once, append their rows beside the index,
    * never re-touch the corpus. Exactly-once and rep-safe via the shared
    * [[appendDeltaThroughSink]] scaffold. */
  def streamIndexAppend(spark: SparkSession, dir: String): DataFrame = {
    val idxPath = DedupQueries.persistedMinhashIndexPath(spark, dir)
    val fieldsOpt = DedupQueries.idxFields
    val delta = appendDeltaThroughSink(
      spark, dir, "minhash_idx_delta_fw", "idxappend", fieldsOpt)(
      ss => arrivalBandRows(ss, dir))
    val prior = spark.read.format("fixedwidth").option("fields", fieldsOpt)
      .load(idxPath).select(col("doc_id"), col("band_idx"), col("band_hash"))
    val appended = spark.read.format("fixedwidth").option("fields", fieldsOpt)
      .load(delta).select(col("doc_id"), col("band_idx"), col("band_hash"))
    prior.unionByName(appended)
      .orderBy(col("doc_id"), col("band_idx"))
  }

  // ---------------------------------------------------------------- q229
  /** STREAMING IVF index maintenance — q228's deployed form, and the
    * vector twin of q227: the arrival stream's (vec_id, cluster)
    * assignment rows are computed MAP-SIDE against the persisted centroid
    * artifact (the q213 serving convention: the model is the file's
    * round(·,8) values, loaded once as plan literals — no shuffle, no
    * state) and land in a DELTA directory through the repo's own
    * fixedwidth sink; the lane's answer is prior index ∪ reloaded delta,
    * which the oracle pins equal to a from-scratch full-corpus
    * re-assignment. Exactly-once and rep-safe via the shared
    * [[appendDeltaThroughSink]] scaffold. Batching-independent by
    * construction: each assignment is a pure function of its own vector
    * under a FIXED model generation. */
  def streamIvfAssignAppend(spark: SparkSession, dir: String): DataFrame = {
    val idxPath = SimilarityQueries.persistedIvfIndexPath(spark, dir)
    val cents = SimilarityQueries.persistedCentroidVectors(spark, dir)
    val fieldsOpt = SimilarityQueries.ivfIdxFields
    val delta = appendDeltaThroughSink(
      spark, dir, "ivf_idx_delta_fw", "ivfappend", fieldsOpt) { ss =>
      val schema = table(ss, dir, "embeddings").schema
      graft.operators.KMeans.assignWith(
          ss.readStream.schema(schema)
            .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
            .filter(col("vec_id") % 2 === 1),
          "vec_id", "embedding", cents)
        .select(col("id").as("vec_id"), col("cluster"))
    }
    val prior = spark.read.format("fixedwidth").option("fields", fieldsOpt)
      .load(idxPath).select(col("vec_id"), col("cluster"))
    val appended = spark.read.format("fixedwidth").option("fields", fieldsOpt)
      .load(delta).select(col("vec_id"), col("cluster"))
    prior.unionByName(appended).orderBy(col("vec_id"))
  }

  // ---------------------------------------------------------------- q243
  /** STREAMING index maintenance THROUGH THE COMMIT LOG — q227 with the
    * delta publication routed via [[graft.operators.ManifestLog.append]],
    * so streaming ingestion and the maintenance fold (q240/q242) share ONE
    * exactly-once story on an object store. q227's batchId-subdir
    * overwrite is idempotent under foreachBatch's at-least-once
    * redelivery, but it lives OUTSIDE the commit log: a compactor folding
    * the log cannot see (or race correctly against) deltas that only exist
    * as directory listings. Here each micro-batch writes its rows to an
    * immutable batchId-named generation dir (the retry overwrites the same
    * dir with the same content — band rows are a pure function of each
    * document) and then APPENDS that dir to the log; the redelivered
    * append is a duplicate of an ever-appended dir and stays INERT under
    * the fold. Pinned by injecting a full redelivery (data rewrite +
    * second append) of the first delivered batch: the oracle's
    * from-scratch rebuild hash-matches only if the duplicate publication
    * contributed nothing. */
  def streamIndexAppendLogged(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.ManifestLog
    val idxPath = DedupQueries.persistedMinhashIndexPath(spark, dir)
    val fieldsOpt = DedupQueries.idxFields
    val scratch = QueryRegistry.scratch(dir, "minhash_idx_mlog_stream_fw")
    val scratchPath = new org.apache.hadoop.fs.Path(scratch)
    val fs = scratchPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(scratchPath, true) // invocation-start wipe (bench reps reuse the dir)
    val logRoot = new org.apache.hadoop.fs.Path(s"$scratch/_log")
    ManifestLog.append(fs, logRoot, idxPath) // the prior index is generation 0
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    @volatile var injectedRetry = false
    val writeBatch: (DataFrame, Long) => Unit = (batch, batchId) => {
      def deliver(): Unit = {
        val gen = s"$scratch/batch-$batchId"
        batch.write.format("fixedwidth").option("fields", fieldsOpt)
          .option("strictWidth", "true").mode("overwrite").save(gen)
        ManifestLog.append(fs, logRoot, gen)
        ()
      }
      deliver()
      if (!injectedRetry) { injectedRetry = true; deliver() }
    }
    val ckpt = freshCkpt("idxappendlog")
    val q = arrivalBandRows(ss, dir)
      .writeStream.foreachBatch(writeBatch)
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination()
    finally {
      try { if (q.isActive) q.stop() }
      finally dropCkpt(ckpt)
    }
    val live = ManifestLog.read(fs, logRoot).dirs
    require(live.contains(idxPath), "q243: the prior index generation must stay live")
    require(live.distinct.size == live.size,
      s"q243: duplicate publication leaked into the live set: $live")
    live.map(g => spark.read.format("fixedwidth").option("fields", fieldsOpt).load(g)
        .select(col("doc_id"), col("band_idx"), col("band_hash")))
      .reduce(_ unionByName _)
      .orderBy(col("doc_id"), col("band_idx"))
  }

  // ---------------------------------------------------------------- q244
  /** STREAMING IVF ingestion → commit-log COMPACTION → serve: the vector
    * family's full lifecycle under ONE log, composing q229's map-side
    * assignment stream, q243's logged publication, and q240's compaction
    * fold. Each micro-batch's (vec_id, cluster) rows land in an immutable
    * batchId-named generation dir and are PUBLISHED via
    * [[graft.operators.ManifestLog.append]] — an injected FULL redelivery
    * of the first delivered batch (data rewrite + second append,
    * foreachBatch is at-least-once) stays inert under the ever-appended
    * guard. After the stream drains, the maintenance cycle folds the live
    * set — prior base + streamed generations — into ONE new base through
    * [[graft.operators.ManifestLog.compact]], and the lane serves from the
    * post-compact live set (asserted to be exactly the new base). The
    * oracle re-derives the full-corpus assignment from scratch, so
    * equality certifies the chain end-to-end exactly-once: stream → log →
    * fold neither duplicates nor drops a vector. This is what q232's
    * multi-generation fold looks like when the generations arrived over a
    * commit log instead of bare directory listings — the compactor folds
    * exactly the set the log says is live, never a racing delta it cannot
    * see. */
  def streamIvfLoggedCompact(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.ManifestLog
    val idxPath = SimilarityQueries.persistedIvfIndexPath(spark, dir)
    val cents = SimilarityQueries.persistedCentroidVectors(spark, dir)
    val fieldsOpt = SimilarityQueries.ivfIdxFields
    val scratch = QueryRegistry.scratch(dir, "ivf_idx_mlog_stream_fw")
    val scratchPath = new org.apache.hadoop.fs.Path(scratch)
    val fs = scratchPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(scratchPath, true) // invocation-start wipe (bench reps reuse the dir)
    val logRoot = new org.apache.hadoop.fs.Path(s"$scratch/_log")
    ManifestLog.append(fs, logRoot, idxPath) // the prior index is generation 0
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    @volatile var injectedRetry = false
    val writeBatch: (DataFrame, Long) => Unit = (batch, batchId) => {
      def deliver(): Unit = {
        val gen = s"$scratch/batch-$batchId"
        batch.write.format("fixedwidth").option("fields", fieldsOpt)
          .option("strictWidth", "true").mode("overwrite").save(gen)
        ManifestLog.append(fs, logRoot, gen)
        ()
      }
      deliver()
      if (!injectedRetry) { injectedRetry = true; deliver() }
    }
    val ckpt = freshCkpt("ivfloggedcompact")
    val schema = table(ss, dir, "embeddings").schema
    val q = graft.operators.KMeans.assignWith(
        ss.readStream.schema(schema)
          .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
          .filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding", cents)
      .select(col("id").as("vec_id"), col("cluster"))
      .writeStream.foreachBatch(writeBatch)
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination()
    finally {
      try { if (q.isActive) q.stop() }
      finally dropCkpt(ckpt)
    }
    def load(p: String) =
      spark.read.format("fixedwidth").option("fields", fieldsOpt).load(p)
        .select(col("vec_id"), col("cluster"))
    val compacted = s"$scratch/base-1"
    val (st, applied) = ManifestLog.compact(fs, logRoot, compacted, { dirs =>
      require(dirs.contains(idxPath),
        s"q244: the prior index generation must be live at fold time, got $dirs")
      require(dirs.distinct.size == dirs.size,
        s"q244: duplicate publication leaked into the folded set: $dirs")
      dirs.map(load).reduce(_ unionByName _)
        .write.format("fixedwidth").option("fields", fieldsOpt)
        .option("strictWidth", "true").mode("overwrite").save(compacted)
    })
    require(applied, "q244: the single-maintainer compact must apply")
    require(st.dirs == Seq(compacted),
      s"q244: post-compact live set must be exactly the new base, got ${st.dirs}")
    load(compacted).orderBy(col("vec_id"))
  }

  def all: Seq[Q] = Seq(
    Q("q244_stream_ivf_logged_compact", streamIvfLoggedCompact,
      Some(SimilarityQueries.ivfIndexRefreshOracle)),
    Q("q243_stream_index_append_logged", streamIndexAppendLogged,
      Some(DedupQueries.minhashIndexRefreshOracle)),
    Q("q223_stream_bloom_gate", streamBloomGate, Some(streamBloomGateOracle)),
    Q("q225_stream_neardup_serve", streamNearDupServe,
      Some(streamNearDupServeOracle)),
    Q("q227_stream_index_append", streamIndexAppend,
      Some(DedupQueries.minhashIndexRefreshOracle)),
    Q("q229_stream_ivf_append", streamIvfAssignAppend,
      Some(SimilarityQueries.ivfIndexRefreshOracle)),
    Q("q213_stream_centroid_assign", streamCentroidAssign,
      Some(SimilarityQueries.streamCentroidAssignOracle)),
    Q("q220_stream_pq_encode", streamPqEncode,
      Some(SimilarityQueries.streamPqEncodeOracle)),
    Q("q212_stream_artifact_score", streamArtifactScore,
      Some(PipelineQueries.streamArtifactScoreOracle)),
    Q("q218_stream_cms_gate", streamCmsGate,
      Some(PipelineQueries.streamCmsGateOracle)),
    Q("q195_stream_cms", streamCms, Some(streamCmsOracle)),
    Q("q180_stream_hist_quantiles", streamHistQuantiles, Some(streamHistQuantilesOracle)),
    Q("q178_stream_neardup", streamNearDup, Some(streamNearDupOracle)),
    Q("q161_stream_encode", streamEncode, Some(PipelineQueries.tokenIdEncodeOracle)),
    Q("q70_stream_tumbling", tumbling, Some(tumblingOracle)),
    Q("q71_stream_sliding", sliding, Some(slidingOracle)),
    Q("q72_stream_sessions", sessions, Some(sessionsOracle)),
    Q("q73_stream_fixedwidth", fwStream, Some(fwStreamOracle)),
    Q("q74_stream_stateful", statefulTotals, Some(statefulTotalsOracle)),
    Q("q75_stream_session_emit", sessionEmit, Some(sessionEmitOracle)),
    Q("q76_stream_dedup", streamDedup, Some(streamDedupOracle)),
    Q("q77_stream_static_join", streamStaticJoin, Some(streamStaticJoinOracle)),
    Q("q78_stream_stream_join", streamStreamJoin, Some(streamStreamJoinOracle)),
    Q("q79_stream_dedup_watermark", streamDedupWatermark, Some(streamDedupWatermarkOracle)),
    Q("q102_stream_hll", streamHll, Some(streamHllOracle)),
    Q("q119_stream_fw_sink", streamToFixedWidth, Some(streamToFixedWidthOracle)),
    Q("q234_stream_fwz_sink", streamToFwz, Some(streamToFixedWidthOracle)),
    Q("q236_stream_fwz_source", fwzStream, Some(fwzStreamOracle)),
    Q("q136_stream_asof_enrich", streamAsofEnrich, Some(streamAsofEnrichOracle)))
}
