package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Hashing, TextFunctions}

/** Full-batch gradient-descent training of a binary logistic classifier
  * over hashed bag-of-words features — the training half of the q165
  * fastText-shape scoring lane (which consumes a FIXED weight table; this
  * operator produces one). The whole optimization trajectory is
  * deterministic and cross-engine replayable, so the final weight table
  * can be hash-compared against a SQL replay of every round.
  *
  * Scale shape (the [[KMeans]] pattern applied to GD):
  *  - ONE corpus pass builds the (doc, bucket, count) feature table —
  *    tokens hashed into 2^logBuckets buckets map-side plus a bias
  *    pseudo-bucket — persisted for the training loop and released
  *    eagerly (the output is bucket-table-sized by construction);
  *  - each round is: margins via a BROADCAST join of the ≤ (buckets+1)-row
  *    weight table (one skinny (doc, p) aggregate), gradients via one
  *    (bucket)-keyed aggregate, and the weight update over bucket rows —
  *    per-round driver traffic is the weight table itself, the bounded
  *    centroid-pull pattern;
  *  - nothing corpus-sized ever reaches the driver, and the only
  *    corpus-sized shuffles are the two per-round skinny aggregates.
  *
  * Determinism (the part that makes the oracle possible): weights are
  * rounded to 8 decimals after every update and probabilities after every
  * sigmoid, margins and gradients accumulate through the decimal-cast
  * order-free sum (8-decimal factors × integer counts are EXACT in
  * decimal(30,10) — partial-agg order cannot drift them), and every
  * arithmetic step is written with the same association in both engines.
  * exp() is the one transcendental: both libms are correctly rounded to
  * ~1 ulp on these inputs and the post-sigmoid round(…, 8) absorbs it
  * (the BM25/Zipf precedent).
  */
object LogReg {

  /** The hashed bag-of-words feature table: (doc_id, carryCols…, b, c)
    * bucket counts plus the bias pseudo-bucket (b = 2^logBuckets, c = 1)
    * for every doc — the SINGLE feature definition shared by training and
    * scoring (a transcribed copy could silently drift the hash or the
    * bias convention between them). `carryCols` are doc-level columns
    * (label, lang) to thread through the aggregation. */
  private[graft] def features(
      base: DataFrame,
      idCol: String,
      textCol: String,
      logBuckets: Int,
      carryCols: Seq[String]): DataFrame = {
    val buckets = 1 << logBuckets
    val carry = carryCols.map(col)
    val counts = base
      .select(col(idCol).as("doc_id") +: carry :+
        explode(TextFunctions.tokens(col(textCol))).as("tok"): _*)
      .select(col("doc_id") +: carry :+
        shiftrightunsigned(Hashing.hash64Col(col("tok")), 64 - logBuckets).as("b"): _*)
      .groupBy(col("doc_id") +: carry :+ col("b"): _*)
      .agg(count(lit(1)).as("c"))
    val bias = base.select(col(idCol).as("doc_id") +: carry :+
      lit(buckets.toLong).as("b") :+ lit(1L).as("c"): _*)
    counts.unionByName(bias)
  }

  /** Train `rounds` full-batch GD rounds from zero weights; returns the
    * final weight table (bucket, weight) with bucket 2^logBuckets = the
    * bias. `label` must evaluate to 0/1. */
  def trainWeights(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      label: Column,
      logBuckets: Int,
      rounds: Int,
      lr: Double): DataFrame = {
    require(logBuckets >= 1 && logBuckets <= 20, s"logreg: logBuckets out of range: $logBuckets")
    require(rounds >= 1, s"logreg: rounds must be >= 1, got $rounds")
    val spark = docs.sparkSession
    import spark.implicits._
    val buckets = 1 << logBuckets
    val base = docs.select(col(idCol).as("doc_id"), label.cast("int").as("y"), col(textCol).as("text"))
    // r18 optimization (guide §2.3/§2.4 — shuffle fewer bytes, remove
    // shuffles outright): the round loop used to join the (doc, b, c)
    // feature table against a broadcast weight table, aggregate margins by
    // doc, and JOIN the per-doc error back onto the feature table — two
    // corpus-wide exchanges (+ sorts) per round. Instead, fold each doc's
    // feature rows into ONE bounded array column up front (≤ 2^logBuckets
    // + 1 entries — min(distinct buckets, 2^logBuckets) plus the bias
    // element; 65 at the callers' logBuckets = 6): margins then evaluate
    // MAP-SIDE per doc against the weight vector as a plan literal (the
    // [[marginExpr]] equivalence this module already proves for serving),
    // the error is a map-side expression, and a round's only shuffle is
    // the skinny (bucket, partial-decimal-sum) gradient aggregate — zero
    // joins, zero doc-keyed exchanges, per round.
    // Values are IDENTICAL: each per-term product is the same
    // double-multiply-then-decimal(30,10)-cast, and decimal sums are
    // order-free, so fold order / partitioning cannot drift a result.
    val db = features(base, "doc_id", "text", logBuckets, Seq("y"))
      .groupBy($"doc_id", $"y")
      .agg(collect_list(struct($"b", $"c")).as("fs"))
      .persist()
    try {
      // n (the gradient divisor) stays the RAW base row count — and that
      // count equals the number of bias ELEMENTS across db's arrays, one
      // per base row by construction (features emits one bias pseudo-row
      // per input row; the per-doc collect keeps every one). Round 1's
      // gradient pull therefore carries n as the bias bucket's sum(c) and
      // the former dedicated base.count() corpus scan is gone (r19, guide
      // §1.2: don't pay a full pass for a scalar another pass already
      // computes).
      var n = 0L
      // weight state crosses rounds as collected (bucket, weight) pairs —
      // values are EXACTLY the doubles Spark's round() produced, so each
      // literal vector replays bit-identically in the oracle. The weight
      // update itself runs DRIVER-side over the ≤ buckets+1 pulled
      // gradient rows (the VectorOps r19 pattern — a per-round local-
      // relation join plan costs an analysis+codegen cycle that dwarfs its
      // 65-row compute) with the identical arithmetic: w − lr·(g/n) in the
      // same association, null/absent gradients as 0.0 (the old left-join
      // coalesce), and HALF_UP rounding through `round8`.
      var w: Seq[(Long, Double)] = (0L to buckets.toLong).map(_ -> 0.0)
      for (r <- 1 to rounds) {
        val wLit = typedlit(w.sortBy(_._1).map(_._2).toIndexedSeq)
        // margin = Σ decimal(w_b · c) over the doc's array (bias element
        // included) — textually the same per-term arithmetic as the old
        // sum(), evaluated map-side against the literal weight vector
        val m = aggregate($"fs", lit(0.0).cast("decimal(30,10)"),
          (acc, f) => (acc + (element_at(wLit, (f.getField("b") + lit(1L)).cast("int")) *
            f.getField("c")).cast("decimal(30,10)")).cast("decimal(30,10)"))
          .cast("double")
        val perDoc = db.select($"fs",
          (round(lit(1.0) / (lit(1.0) + exp(-m)), 8) - $"y").as("err"))
        // n is read in round 1 only, so only round 1 carries the cnt sum
        val g = sum(($"err" * $"f.c").cast("decimal(30,10)")).cast("double").as("g")
        val grads = perDoc
          .select(explode($"fs").as("f"), $"err")
          .groupBy($"f.b".as("b"))
          .agg(g, (if (r == 1) Seq(sum($"f.c").as("cnt")) else Nil): _*)
        val gRows = BoundedPull.rows(grads, buckets + 1,
          s"logreg gradients (<= 2^$logBuckets + 1 rows)")
        if (r == 1) {
          n = gRows.collectFirst {
            case row if row.getLong(0) == buckets.toLong => row.getLong(2)
          }.getOrElse(0L)
          require(n > 0, "logreg: empty corpus")
        }
        val gMap = gRows.map(row =>
          row.getLong(0) -> (if (row.isNullAt(1)) 0.0 else row.getDouble(1))).toMap
        w = w.map { case (b, wv) =>
          b -> round8(wv - lr * (gMap.getOrElse(b, 0.0) / n.toDouble))
        }.sortBy(_._1)
      }
      w.toDF("b", "weight").select($"b".cast("int").as("bucket"), $"weight")
    } finally db.unpersist(blocking = false)
  }

  /** HALF_UP rounding to 8 decimals, bit for bit what Spark's
    * round(double, 8) evaluates; NaN and ±Infinity come back unchanged. */
  private[operators] def round8(v: Double): Double =
    if (v.isNaN || v.isInfinite) v
    else java.math.BigDecimal.valueOf(v).setScale(8, java.math.RoundingMode.HALF_UP).doubleValue()

  /** SERVING-side margin of a raw token array under a bucket-indexed
    * weight vector (index 2^logBuckets = bias): one decimal(30,10) fold
    * over token-occurrence weights plus the bias — a pure map-side
    * projection (the weights enter the plan as one array literal), no
    * explode, no shuffle, usable identically over a batch frame or a
    * stream (q212). Exactly equal to the training-side
    * Σ_b (w_b · c_b) decimal margin: weights are round(·,8) doubles, so
    * per-occurrence decimal terms sum to the same exact value in any
    * order or grouping (the LogReg determinism argument). */
  def marginExpr(toks: Column, w: IndexedSeq[Double], logBuckets: Int): Column = {
    require(w.length == (1 << logBuckets) + 1,
      s"logreg: weight vector must have 2^$logBuckets + 1 entries, got ${w.length}")
    val wLit = typedlit(w)
    aggregate(toks,
      lit(w(1 << logBuckets)).cast("decimal(30,10)"),
      (acc, t) => (acc + element_at(wLit,
        (shiftrightunsigned(Hashing.hash64Col(t), 64 - logBuckets) + lit(1L)).cast("int"))
        .cast("decimal(30,10)")).cast("decimal(30,10)"))
  }
}
