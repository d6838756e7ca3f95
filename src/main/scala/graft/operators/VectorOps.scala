package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Hashing

/** Corpus-sum convention for the vector-moment operators: how a per-group
  * floating-point reduction is computed.
  *
  *  - [[SumMode.ExactFold]] — ordered left-to-right IEEE double fold over a
  *    `sort_array(collect_list(...))` of the group. Bit-exact in Spark AND
  *    DuckDB by construction (the q103 float convention), which is what
  *    lets the verify oracle hash-match arbitrary-float moments. The
  *    per-group collect is UNBOUNDED — this mode exists for the oracle SF
  *    and must not run against a 100 TB corpus.
  *  - [[SumMode.PlaneSums]] — plain `sum(...)` double aggregation:
  *    partial-agg map-side combine, bounded state per group, whole-stage
  *    codegen. Summation order is partition-dependent, so results carry
  *    last-ulp drift vs the fold (≈1e-15 relative) — the documented,
  *    accepted trade at scale. This is the 100 TB mode.
  *
  * There is deliberately NO default: the r10 API defaulted to ExactFold,
  * which contradicted its own scaladoc — a caller reaching for the operator
  * bare at corpus scale silently got the unbounded per-group collect. Every
  * caller now states which contract it wants.
  *
  * `SumModePlanSpec` pins both halves of the contract: PlaneSums plans
  * contain no `collect_list`/`sort_array`, and the two modes agree within
  * the operators' 6-dp output granularity at the verify SF.
  */
sealed trait SumMode
object SumMode {
  case object ExactFold extends SumMode
  case object PlaneSums extends SumMode
}

/** Whole-corpus vector feature engineering: per-dimension standardization
  * (z-scores under corpus moments) and Johnson–Lindenstrauss random
  * projection with a ±1 sign matrix (Achlioptas 2003 — database-friendly
  * random projections: E[y·y'] preserves inner products at k ≪ d with
  * nothing heavier than sign flips and adds).
  *
  * Cross-engine float conventions (the q103 lesson, see [[labelMeans]]):
  * arbitrary float inputs cannot ride the decimal-sum trick, so under the
  * default [[SumMode.ExactFold]] every corpus sum here is an ORDERED
  * left-to-right IEEE double fold — exact in both engines by
  * construction — and derived quantities are computed with textually
  * identical expressions. At corpus scale pass [[SumMode.PlaneSums]]
  * instead: plain partial-agg sums, no per-group collect, last-ulp order
  * drift accepted. The JL sign matrix is [[Hashing.mix64]] of
  * (dimension, output column), which the DuckDB oracle replays bit-for-bit
  * via its hugeint twin.
  */
object VectorOps {

  /** Bound for the per-round direction pull: d rows — no real embedding
    * family approaches this, and [[BoundedPull]] turns a violation into a
    * loud error instead of a driver OOM. */
  private val MaxPulledDims = 1 << 16

  /** Group-sum of `t` under `mode`: ordered fold by `ord` (exact, q103
    * convention) or plain partial-agg double sum (scale). Usable wherever
    * an aggregate expression is (groupBy.agg or global agg). */
  private def foldSum(mode: SumMode, ord: Column, t: Column): Column = mode match {
    case SumMode.ExactFold =>
      aggregate(sort_array(collect_list(struct(ord.as("o"), t.as("t")))),
        lit(0.0), (a, s) => a + s.getField("t"))
    case SumMode.PlaneSums => sum(t)
  }

  /** Per-label embedding centroids (the q103 operator): explode to
    * (label, dim, x), reduce each (label, dim) group under `mode`, return
    * (label, dim, mean, n). One shuffle of labels × d groups; the d×labels
    * stats frame is always tiny. ExactFold is the verify convention
    * (DuckDB replays the vec_id-ordered fold bit-for-bit); PlaneSums is
    * the corpus-scale shape — bounded state, map-side combine. */
  def labelMeans(
      embs: DataFrame, idCol: String, labelCol: String, vecCol: String,
      sumMode: SumMode): DataFrame = {
    val ex = embs
      .select(col(idCol), col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("dim", "x")))
      .withColumn("x", col("x").cast("double"))
    ex.groupBy(col("label"), col("dim"))
      .agg(foldSum(sumMode, col(idCol), col("x")).as("sx"),
        count(lit(1)).as("n"))
      .select(col("label"), col("dim"), (col("sx") / col("n")).as("mean"), col("n"))
  }

  /** Per-dimension corpus z-scores: (idCol, dim, z) with
    * z = (x − mean_dim) / sd_dim rounded to 6 dp; sd is the population
    * standard deviation, and zero-variance dimensions yield NULL z (the
    * nullif guard — ANSI division would abort on the degenerate constant
    * column, and NULL states "no information" the same way the quality
    * ratios do).
    *
    * Scale shape: one explode to (dim, x) and ONE shuffle into d groups.
    * Under ExactFold the moments collect each dimension's column —
    * unbounded per group, verify-SF only; under PlaneSums they are plain
    * double sums (partial-agg map-side, last-ulp order drift accepted)
    * exactly as the q103 caveat prescribes. The d-row stats frame
    * broadcasts back onto the exploded corpus, so the transform itself is
    * map-side in both modes. */
  def standardize(
      embs: DataFrame, idCol: String, vecCol: String,
      sumMode: SumMode): DataFrame = {
    val ex = embs
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol), posexplode(col(vecCol)).as(Seq("dim", "x")))
      .withColumn("x", col("x").cast("double"))
    val stats = (sumMode match {
      case SumMode.ExactFold =>
        // one collect per group, folded twice (sx, sxx) — collecting twice
        // would double the per-group state for no exactness gain
        ex.groupBy(col("dim"))
          .agg(
            sort_array(collect_list(struct(col(idCol), col("x")))).as("xs"),
            count(lit(1)).cast("double").as("n"))
          .select(col("dim"),
            aggregate(col("xs"), lit(0.0), (a, s) => a + s.getField("x")).as("sx"),
            aggregate(col("xs"), lit(0.0),
              (a, s) => a + s.getField("x") * s.getField("x")).as("sxx"),
            col("n"))
      case SumMode.PlaneSums =>
        ex.groupBy(col("dim"))
          .agg(sum(col("x")).as("sx"),
            sum(col("x") * col("x")).as("sxx"),
            count(lit(1)).cast("double").as("n"))
    })
      .select(col("dim"), (col("sx") / col("n")).as("mean"),
        sqrt(greatest(
          col("sxx") / col("n") - (col("sx") / col("n")) * (col("sx") / col("n")),
          lit(0.0))).as("sd"))
    ex.join(broadcast(stats), Seq("dim")) // d rows — always broadcastable
      .select(col(idCol), col("dim"),
        round((col("x") - col("mean")) / nullif(col("sd"), lit(0.0)), 6).as("z"))
  }

  /** Top principal direction of the mean-centered corpus by POWER
    * ITERATION (the PCA workhorse at matrix sizes where covariance
    * materialization — d² folds — is the wrong shape): iterate
    * v ← X'ᵀ(X'v) / ‖X'ᵀ(X'v)‖ from the exact all-⅛ start vector,
    * without ever materializing d×d. Returns (dim, loading, lambda) —
    * the unit loading vector after `iters` rounds and ‖u‖ of the final
    * un-normalized step (the Rayleigh-style estimate of the top scatter
    * eigenvalue).
    *
    * Under ExactFold every corpus reduction (per-dim mean, per-row score
    * x'·v, per-dim re-projection Σᵢ sᵢx'ᵢ, the norm) is an ORDERED
    * left-to-right fold (the q103 float convention), and the start vector
    * and normalization are exact/textually-identical expressions — so a
    * 3-iteration TRAJECTORY hash-matches the oracle, not just a converged
    * direction. Under PlaneSums the same reductions are plain partial-agg
    * sums — the corpus-scale shape. Scale shape: centering is a map-side
    * transform against the pulled means literal ([[centeredVectors]]);
    * each iteration of the materialized path is one corpus pass ending in
    * a single skinny (dim)-keyed exchange (see [[leadingDirection]]). */
  def powerIteration(
      embs: DataFrame, idCol: String, vecCol: String, iters: Int = 3,
      sumMode: SumMode): DataFrame = {
    // the lazy path never reaches leadingDirection's materializing guard,
    // so probe the input here — a limit-1 job (first valid row short-
    // circuits the scan), loud on zero rows / all-empty vectors
    require(!embs.filter(col(idCol).isNotNull && col(vecCol).isNotNull &&
        size(col(vecCol)) > 0).isEmpty,
      "power iteration over empty input: zero embedding rows (or empty " +
        "vectors) — nothing to decompose")
    // r18 restructure (see leadingDirection): rounds are map-side scores
    // over per-id CENTERED ARRAYS plus one skinny (dim)-keyed aggregate.
    // The single-component run stays fully LAZY (one action at the end) —
    // r18 re-measured the trade with the array rounds and lazy still wins
    // at bench scale (warm 2.6-3.0 s lazy vs 4.0-4.5 s with per-round
    // pulls: four driver actions cost more than the duplicated map-side
    // subtrees). At corpus scale the 2^iters re-execution of the centering
    // scan is the known cost of this mode; callers with a big corpus use
    // topTwoComponents' per-round-materialized shape.
    val (exv, maxDim) = centeredVectors(embs, idCol, vecCol, sumMode)
    // NOT persisted (r18 measured): centering is map-side, so a round's
    // re-derivation is scan + transform — cheaper per round than encoding
    // the array column into the block store once (persist cost ~2 s at
    // sf0.1 vs ~0.2 s per cache-free round)
    val (v, lambda, _) = leadingDirection(exv, idCol,
      startVector(maxDim, alternate = false), iters, None,
      materializeEachRound = false, sumMode)
    v.crossJoin(broadcast(lambda))
      .select(col("dim"), round(col("v"), 6).as("loading"), round(col("nrm"), 6).as("lambda"))
      .orderBy(col("dim"))
  }

  /** Top TWO principal directions: PC1 as [[powerIteration]], then PC2 by
    * ORTHOGONAL DEFLATION — the same iteration with each un-normalized
    * step re-projected off PC1 (u ← u − (u·v₁)v₁) before normalizing, so
    * the iterate converges in the orthogonal complement without ever
    * materializing a deflated matrix. PC2 starts from the exact
    * alternating ±⅛ vector (the all-⅛ start lives mostly inside PC1's
    * span). Returns (pc, dim, loading, lambda) — under ExactFold the same
    * fold-exactness contract as [[powerIteration]]: the whole
    * two-component trajectory hash-matches the oracle's unrolled replay. */
  def topTwoComponents(
      embs: DataFrame, idCol: String, vecCol: String, iters: Int = 3,
      sumMode: SumMode): DataFrame = {
    val (exv0, maxDim) = centeredVectors(embs, idCol, vecCol, sumMode)
    // PERSISTED for the call's 2·iters materialized rounds, released below
    // (the dsirSelect no-leak pattern). r18 shipped this un-persisted on a
    // warm same-JVM A/B ("cache encode ~+2 s"); the cold 32-core ground
    // truth said otherwise — every round's BoundedPull re-scanned parquet
    // and re-centered, and the driver bench read 6.5 s → 13.6 s (r18
    // verdict item 1). Cold fresh-JVM A/B this round: 9.9/5.7/5.8 s
    // before → see OPTIMIZATION_r19.md for the after numbers.
    val exv = exv0.persist()
    try {
      val (v1, l1, v1Arr) = leadingDirection(exv, idCol,
        startVector(maxDim, alternate = false), iters, None,
        materializeEachRound = true, sumMode)
      val (v2, l2, _) = leadingDirection(exv, idCol,
        startVector(maxDim, alternate = true), iters, Some(v1Arr),
        materializeEachRound = true, sumMode)
      def out(pc: Int, v: DataFrame, l: DataFrame) =
        v.crossJoin(broadcast(l)).select(lit(pc).as("pc"), col("dim"),
          round(col("v"), 6).as("loading"), round(col("nrm"), 6).as("lambda"))
      // eager: both components' rounds have already pulled their d-row
      // results, so the output is built from LOCAL relations — safe to
      // release the cache before returning the lazy frame
      out(1, v1, l1).unionByName(out(2, v2, l2)).orderBy(col("pc"), col("dim"))
    } finally exv.unpersist(blocking = false)
  }

  /** Mean-centered vectors kept as per-id ARRAYS (idCol, xcv) plus the max
    * dimension index: the per-dim means are computed exactly as before
    * (explode + per-dim reduction under `mode`), pulled through the loud
    * d-row [[BoundedPull]], and re-enter the plan as one literal array —
    * centering is then a map-side `transform`, and the corpus never
    * materializes as (id, dim, x) rows outside the means pass. Each
    * centered element is the same `x − mean_dim` double subtraction the
    * old exploded form computed, so values are bit-identical. (Dims are
    * contiguous 0..maxDim by construction — posexplode indexes every
    * vector 0..len−1. A null vector ELEMENT, which the old form carried as
    * a null xc, becomes NaN here — no oracle input contains one; null
    * rows/vectors are filtered identically in both forms.) */
  private def centeredVectors(
      embs: DataFrame, idCol: String, vecCol: String,
      sumMode: SumMode): (DataFrame, Int) = {
    val valid = embs.filter(col(idCol).isNotNull && col(vecCol).isNotNull)
    val ex0 = valid
      .select(col(idCol), posexplode(col(vecCol)).as(Seq("dim", "x")))
      .withColumn("x", col("x").cast("double"))
    val means = ex0.groupBy(col("dim"))
      .agg(foldSum(sumMode, col(idCol), col("x")).as("sx"),
        count(lit(1)).cast("double").as("n"))
      .select(col("dim"), (col("sx") / col("n")).as("mean"))
    val mRows = BoundedPull(means, MaxPulledDims, "per-dim means (d rows)").collect()
    val maxDim = if (mRows.isEmpty) -1 else mRows.map(_.getInt(0)).max
    val mArr = Array.fill(maxDim + 1)(Double.NaN)
    mRows.foreach(r => mArr(r.getInt(0)) = if (r.isNullAt(1)) Double.NaN else r.getDouble(1))
    val mLit = typedLit(mArr.toIndexedSeq)
    val exv = valid.select(col(idCol),
      transform(col(vecCol).cast("array<double>"),
        (x, i) => x - element_at(mLit, (i + lit(1)).cast("int"))).as("xcv"))
    (exv, maxDim)
  }

  /** Exact start vector over dims 0..maxDim: all ⅛, or alternating ±⅛. */
  private def startVector(maxDim: Int, alternate: Boolean): IndexedSeq[Double] =
    IndexedSeq.tabulate(maxDim + 1)(d =>
      if (alternate && d % 2 != 0) -0.125 else 0.125)

  /** `iters` power-iteration rounds from the `v0` direction vector; when
    * `orthoTo` is given, every un-normalized step is re-projected off that
    * unit direction before normalizing. Returns the UNROUNDED (dim, v)
    * direction, the single-row (nrm) of the final step, and the direction
    * as a dim-indexed vector (for the caller's deflation pass).
    *
    * r18 round shape (the guide §8 proxy rule applied to GD-style
    * iteration, same as LogReg.trainWeights): the current direction enters
    * the plan as ONE literal d-array, so the per-row score
    * s = Σ_d xcv_d·v_d is a MAP-SIDE array fold over the persisted
    * centered vectors — no broadcast join, no (id)-keyed aggregate, no
    * id-keyed join of the corpus-sized table. A round's only corpus
    * shuffle is the skinny (dim)-keyed re-projection aggregate, whose
    * d-row result is pulled through the loud [[BoundedPull]]; deflation,
    * the norm and the direction update then run in DRIVER Scala over those
    * ≤ d values (zero further corpus passes, zero further plans — r19
    * measured the former local-relation plans for this arithmetic at
    * 0.15-0.5 s each in analysis/codegen for ~nothing of compute, two per
    * round). Under ExactFold every value is
    * bit-identical: the array fold runs in dim order, exactly the order
    * the old sort_array(collect_list(struct(dim, …))) fold used, and the
    * re-projection/norm folds are textually unchanged. (Under PlaneSums
    * the score fold is now deterministic dim-order instead of
    * partial-agg-order — last-ulp drift either way, gated by
    * SumModePlanSpec's tolerance.) */
  private def leadingDirection(
      exv: DataFrame, idCol: String, v0: IndexedSeq[Double], iters: Int,
      orthoTo: Option[IndexedSeq[Double]], materializeEachRound: Boolean,
      sumMode: SumMode): (DataFrame, DataFrame, IndexedSeq[Double]) = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(materializeEachRound || orthoTo.isEmpty,
      "deflated (orthoTo) iteration requires per-round materialization")
    // the current direction, as whichever representation this round uses:
    // a driver-side vector (entering the plan as ONE literal array), or —
    // lazy mode — a 1-row single-column "varr" frame derived from the
    // previous round's u (cross-joined in as a broadcast; dims are
    // contiguous, so varr[d] IS v_d)
    if (!materializeEachRound) return leadingDirectionLazy(exv, idCol, v0, iters, sumMode)
    var vArr = v0
    var vPairs: Array[(Int, Double)] = null
    var nrm = 0.0
    for (_ <- 1 to iters) {
      val vLit = typedLit(vArr)
      // transform (not zip_with): iterates exactly the vector's own dims,
      // so a short vector contributes exactly its own (id, dim) terms —
      // the old join-on-dim semantics
      val s = aggregate(
        transform(col("xcv"), (x, i) => x * element_at(vLit, (i + lit(1)).cast("int"))),
        lit(0.0), (a, b) => a + b)
      val u = exv.select(col(idCol), s.as("s"), posexplode(col("xcv")).as(Seq("dim", "xc")))
        .groupBy(col("dim"))
        .agg(foldSum(sumMode, col(idCol), col("s") * col("xc")).as("u"))
      // the round's ONE corpus action: pull the d-row re-projection.
      // Deflation, the norm and the direction update then run on the
      // DRIVER over those ≤ d rows — r19 profiling showed the previous
      // local-relation plans for exactly this arithmetic cost 0.15-0.5 s
      // EACH in analysis/codegen and ~nothing in compute, two of them per
      // round. The driver folds below are bit-identical to what those
      // plans computed: ascending-dim left fold from 0.0 (exactly
      // foldSum's sort_array order over unique dims), the same per-term
      // double multiply/subtract/divide, java.lang.Math.sqrt (what
      // Spark's SQRT evaluates). A null u would previously have flowed
      // through as SQL null — fail loudly instead (ADVICE r18).
      val uRows = BoundedPull.rows(
        u, MaxPulledDims, "power-iteration re-projection (d rows)")
      require(uRows.nonEmpty,
        "power iteration over empty input: zero embedding rows (or empty " +
          "vectors) reached leadingDirection — nothing to decompose")
      uRows.foreach(r => require(!r.isNullAt(1),
        "power iteration: null re-projection value — a null vector element " +
          "reached the corpus fold"))
      var uPairs = uRows.map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1)
      orthoTo.foreach { v1Arr =>
        val dt = uPairs.foldLeft(0.0) { case (a, (d, uv)) => a + uv * v1Arr(d) }
        uPairs = uPairs.map { case (d, uv) => (d, uv - dt * v1Arr(d)) }
      }
      nrm = math.sqrt(uPairs.foldLeft(0.0) { case (a, (_, uv)) => a + uv * uv })
      vPairs = uPairs.map { case (d, uv) => (d, uv / nrm) }
      val next = Array.fill(vArr.length)(0.0)
      vPairs.foreach { case (d, vv) => next(d) = vv }
      vArr = next.toIndexedSeq
    }
    // re-enter Spark as local relations carrying the exact driver doubles —
    // same schema (non-null dim, nullable v/nrm) the pulled frames had
    val spark = exv.sparkSession
    val vLocal = spark.createDataFrame(
      java.util.Arrays.asList(vPairs.map(p => org.apache.spark.sql.Row(p._1, p._2)): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("dim",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.DoubleType, nullable = true))))
    val lambdaLocal = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(nrm)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("nrm",
          org.apache.spark.sql.types.DoubleType, nullable = true))))
    (vLocal, lambdaLocal, vArr)
  }

  /** The fully-LAZY single-component rounds (q193's measured-best shape at
    * bench scale: one action at the end, ~2.6-3.0 s warm at sf0.1 vs
    * 4.0-4.5 s with per-round pulls — four driver actions cost more than
    * the duplicated subtrees at this scale). Rounds are the classic
    * exploded form — broadcast-join the lazy d-row direction, (id)-keyed
    * score aggregate, id join, (dim)-keyed re-projection — over rows
    * exploded from the map-side-centered arrays, so values are identical
    * to the materialized path (same xc doubles, same ordered folds).
    * Returned vector slot is the (unused) start vector — deflation needs
    * the materialized path. */
  private def leadingDirectionLazy(
      exv: DataFrame, idCol: String, v0: IndexedSeq[Double], iters: Int,
      sumMode: SumMode): (DataFrame, DataFrame, IndexedSeq[Double]) = {
    val ex = exv.select(col(idCol), posexplode(col("xcv")).as(Seq("dim", "xc")))
    val spark = exv.sparkSession
    import spark.implicits._
    var v = v0.zipWithIndex.map { case (x, d) => (d, x) }.toDF("dim", "v")
    var lambda: DataFrame = null
    for (_ <- 1 to iters) {
      val s = ex.join(broadcast(v), Seq("dim"))
        .groupBy(col(idCol))
        .agg(foldSum(sumMode, col("dim"), col("xc") * col("v")).as("s"))
      val u = ex.join(s, Seq(idCol))
        .groupBy(col("dim"))
        .agg(foldSum(sumMode, col(idCol), col("s") * col("xc")).as("u"))
      lambda = u
        .agg(sqrt(foldSum(sumMode, col("dim"), col("u") * col("u"))).as("nrm"))
      v = u.crossJoin(broadcast(lambda)).select(col("dim"), (col("u") / col("nrm")).as("v"))
    }
    (v, lambda, v0)
  }

  /** JL projection to `k` dimensions: (idCol, j, y) where
    * y_j = Σ_i x_i · sign(mix64(i, j)), folded in element order (exact
    * cross-engine — sign flips introduce no rounding), rounded to 6 dp.
    * The d×k sign matrix is derived on the driver from the deterministic
    * hash (bounded — it never touches the corpus) and enters the plan as
    * k literal arrays, so the whole projection is ONE codegen'd map-side
    * pass over the vectors: no shuffle, no join, no explode. */
  def jlProject(embs: DataFrame, idCol: String, vecCol: String, dim: Int, k: Int): DataFrame = {
    val signs: IndexedSeq[Array[Double]] = (0 until k).map { j =>
      Array.tabulate(dim)(i => if (Hashing.mix64(i.toLong, j) < 0) -1.0 else 1.0)
    }
    val ys = array((0 until k).map { j =>
      round(aggregate(
        zip_with(col(vecCol).cast("array<double>"), typedLit(signs(j)), (x, s) => x * s),
        lit(0.0), (a, b) => a + b), 6)
    }: _*)
    embs.filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .filter(size(col(vecCol)) === dim) // the sign matrix is dim-indexed
      .select(col(idCol), posexplode(ys).as(Seq("j", "y")))
  }
}
