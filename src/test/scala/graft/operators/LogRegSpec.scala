package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.functions.Hashing

/** Logistic-regression GD training: the learned weights actually separate
  * a separable corpus, training is deterministic, and edges validate. */
class LogRegSpec extends SparkSpec with Matchers {
  import spark.implicits._

  // two perfectly separable token classes
  private def corpus() = (0 until 20).map { i =>
    if (i % 2 == 0) (i.toLong, "alpha alpha alpha", 1) else (i.toLong, "beta beta beta", 0)
  }.toDF("doc_id", "text", "y")

  private def weightOf(w: Map[Int, Double], tok: String, logBuckets: Int): Double =
    w((Hashing.hash64(tok) >>> (64 - logBuckets)).toInt)

  test("weights move toward the separating direction and sharpen with rounds") {
    def weights(rounds: Int): Map[Int, Double] =
      LogReg.trainWeights(corpus(), "doc_id", "text", col("y") === 1,
          logBuckets = 6, rounds = rounds, lr = 0.5)
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val w1 = weights(1)
    val w3 = weights(3)
    // the positive-class token gets positive weight, the negative-class
    // token negative; more rounds push them further apart
    weightOf(w1, "alpha", 6) should be > 0.0
    weightOf(w1, "beta", 6) should be < 0.0
    weightOf(w3, "alpha", 6) should be > weightOf(w1, "alpha", 6)
    weightOf(w3, "beta", 6) should be < weightOf(w1, "beta", 6)
  }

  test("bias follows class imbalance from zero init") {
    val skewed = (0 until 10).map(i => (i.toLong, "tok", if (i < 2) 1 else 0))
      .toDF("doc_id", "text", "y")
    val w = LogReg.trainWeights(skewed, "doc_id", "text", col("y") === 1,
        logBuckets = 6, rounds = 1, lr = 0.1)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // round 1 sees p = 0.5 everywhere; with 2/10 positives the mean error
    // is positive, so the bias (bucket 64) steps negative
    w(64) should be < 0.0
  }

  test("deterministic across runs; untouched buckets stay exactly zero") {
    val a = LogReg.trainWeights(corpus(), "doc_id", "text", col("y") === 1,
      logBuckets = 6, rounds = 2, lr = 0.1).collect().toSeq
    val b = LogReg.trainWeights(corpus(), "doc_id", "text", col("y") === 1,
      logBuckets = 6, rounds = 2, lr = 0.1).collect().toSeq
    a shouldBe b
    val touched = Set("alpha", "beta").map(t => (Hashing.hash64(t) >>> 58).toInt) + 64
    a.filterNot(r => touched(r.getInt(0))).foreach(r => r.getDouble(1) shouldBe 0.0)
  }

  test("GD == driver-side reference on randomized corpora (fuzz)") {
    val rng = new scala.util.Random(53)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg")
    for (trial <- 1 to 5) {
      val n = 8 + rng.nextInt(20)
      val rounds = 1 + rng.nextInt(3)
      val lr = Seq(0.1, 0.5)(rng.nextInt(2))
      val logB = 4
      val rows = (0 until n).map { i =>
        val text = Seq.fill(1 + rng.nextInt(6))(vocab(rng.nextInt(vocab.length))).mkString(" ")
        (i.toLong, text, rng.nextInt(2))
      }
      val got = LogReg.trainWeights(rows.toDF("doc_id", "text", "y"),
          "doc_id", "text", col("y") === 1, logB, rounds, lr)
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap

      // independent reference: plain-Scala full-batch GD with the same
      // 8-decimal rounding convention (half-up); sums are exact rationals
      // via BigDecimal so partial-agg order cannot matter
      def r8(x: Double): Double =
        BigDecimal(x).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
      val buckets = 1 << logB
      val feats = rows.map { case (_, text, y) =>
        val counts = text.split("\\s+").filter(_.nonEmpty)
          .map(t => (Hashing.hash64(t) >>> (64 - logB)).toInt)
          .groupBy(identity).map { case (b, xs) => b -> xs.length.toLong }
        (y, counts + (buckets -> 1L))
      }
      var w = Array.fill(buckets + 1)(0.0)
      for (_ <- 1 to rounds) {
        val errs = feats.map { case (y, cs) =>
          val m = cs.map { case (b, c) => BigDecimal.valueOf(w(b)) * BigDecimal(c) }
            .sum.toDouble
          (r8(1.0 / (1.0 + math.exp(-m))) - y, cs)
        }
        val grads = Array.fill(buckets + 1)(BigDecimal(0))
        errs.foreach { case (err, cs) =>
          cs.foreach { case (b, c) =>
            grads(b) += BigDecimal.valueOf(err * c).setScale(10, BigDecimal.RoundingMode.HALF_UP)
          }
        }
        w = w.indices.map(b => r8(w(b) - lr * (grads(b).toDouble / n))).toArray
      }
      w.indices.foreach { b =>
        withClue(s"trial $trial bucket $b") {
          math.abs(got(b) - w(b)) should be <= 1e-6
        }
      }
    }
  }

  test("marginExpr equals the training-side bucket-count margin, and plans map-side") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = corpus()
    val wdf = LogReg.trainWeights(docs, "doc_id", "text", col("y") === 1, 6, 2, 0.1)
      .collect()
    val w = Array.fill(65)(0.0)
    wdf.foreach(r => w(r.getInt(0)) = r.getDouble(1))
    // training-side margin: per-(doc,bucket) counts × weights, decimal sum
    val feats = docs
      .select($"doc_id", explode(graft.functions.TextFunctions.tokens($"text")).as("tok"))
      .select($"doc_id",
        shiftrightunsigned(graft.functions.Hashing.hash64Col($"tok"), 58).as("b"))
      .groupBy($"doc_id", $"b").agg(count(lit(1)).as("c"))
      .unionByName(docs.select($"doc_id", lit(64L).as("b"), lit(1L).as("c")))
    val trainSide = feats
      .join(broadcast(wdf.toSeq.map(r => (r.getInt(0).toLong, r.getDouble(1)))
        .toDF("b", "w")), "b")
      .groupBy($"doc_id")
      .agg(sum(($"w" * $"c").cast("decimal(30,10)")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    // serving-side: one map-side fold per doc, no explode, no shuffle
    val serve = docs.select($"doc_id",
      LogReg.marginExpr(graft.functions.TextFunctions.tokens($"text"), w.toIndexedSeq, 6).as("m"))
    val serveRows = serve.collect().map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    serveRows.keySet shouldBe trainSide.keySet
    serveRows.foreach { case (id, m) =>
      withClue(s"doc $id") { m.compareTo(trainSide(id)) shouldBe 0 }
    }
    // plan pin: the serving projection is one map-side pass — no Exchange
    val plan = serve.queryExecution.executedPlan.toString
    plan.contains("Exchange") shouldBe false
  }

  test("parameter validation") {
    an[IllegalArgumentException] should be thrownBy
      LogReg.trainWeights(corpus(), "doc_id", "text", col("y") === 1, 6, 0, 0.1)
    an[IllegalArgumentException] should be thrownBy
      LogReg.trainWeights(corpus(), "doc_id", "text", col("y") === 1, 0, 1, 0.1)
    an[IllegalArgumentException] should be thrownBy
      LogReg.trainWeights(spark.emptyDataset[(Long, String, Int)]
        .toDF("doc_id", "text", "y"), "doc_id", "text", col("y") === 1, 6, 1, 0.1)
  }

  test("round8 is total: NaN and +/-Infinity pass through, finite values match Spark's round") {
    LogReg.round8(Double.NaN).isNaN shouldBe true
    LogReg.round8(Double.PositiveInfinity) shouldBe Double.PositiveInfinity
    LogReg.round8(Double.NegativeInfinity) shouldBe Double.NegativeInfinity
    val xs = Seq(0.0, -0.0, 0.123456785, -0.123456785, 1e-9, 12345.678901234, Double.MaxValue)
    val viaSpark = xs.toDF("x").select(round(col("x"), 8)).collect().map(_.getDouble(0)).toSeq
    xs.map(LogReg.round8) shouldBe viaSpark
  }

  test("only round 1's gradient aggregate sums the counts (n is read in round 1 only)") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.{Seconds, Span}
    // the output columns of every gradient aggregate the loop itself runs
    val grads = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.analyzed.foreach {
          case a: Aggregate if a.aggregateExpressions.map(_.name).take(2) == Seq("b", "g") =>
            grads.add(a.aggregateExpressions.map(_.name).toSeq)
          case _ =>
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      LogReg.trainWeights(corpus(), "doc_id", "text", col("y") === 1,
        logBuckets = 6, rounds = 3, lr = 0.5).collect()
      eventually(timeout(Span(30, Seconds))) { grads.size shouldBe 3 }
    } finally spark.listenerManager.unregister(listener)
    grads.toArray.toSeq shouldBe Seq(Seq("b", "g", "cnt"), Seq("b", "g"), Seq("b", "g"))
  }
}
