package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Internal-consistency checks for the sketch-based dedup operators (no
  * cross-engine oracle exists for hash sketches — these are the invariants
  * the driver's ROWS_ONLY queries rely on). */
class DedupSpec extends SparkSpec with Matchers {

  private lazy val docs = {
    import spark.implicits._
    // Three near-dup clusters + distinct noise docs. Cluster members share
    // most 2-shingles; noise shares none.
    val base = Seq(
      "the quick brown fox jumps over the lazy dog near the river bank today",
      "pack my box with five dozen liquor jugs for the trip to the coast",
      "how vexingly quick daft zebras jump when the circus music starts up")
    val variants = base.zipWithIndex.flatMap { case (t, c) =>
      Seq(
        (c * 10 + 0, t),
        (c * 10 + 1, t), // exact dup
        (c * 10 + 2, t.replace("the", "a")), // near dup
        (c * 10 + 3, t + " extra trailing words appended here")) // near dup
    }
    val noise = (100 until 110).map(i => (i, s"unique document number $i with its own totally distinct vocabulary set $i"))
    (variants ++ noise).toDF("doc_id", "text")
  }

  test("exact dedup groups identical texts under min-id representative") {
    val out = Dedup.exact(docs, "doc_id", Seq("text")).collect()
    out.map(_.getAs[Long]("n_dups")).sum shouldBe docs.count()
    // each base text has one exact-dup pair → group of 2 with rep = c*10
    out.count(_.getAs[Long]("n_dups") == 2L) shouldBe 3
    out.filter(_.getAs[Long]("n_dups") == 2L).map(_.getAs[Int]("rep_id")).sorted shouldBe Array(0, 10, 20)
  }

  test("LSH candidates are a superset of truly-similar pairs (recall invariant)") {
    import spark.implicits._
    // ground truth: all pairs with exact 2-shingle jaccard >= 0.5
    val grams = docs.select($"doc_id", Dedup.shingles($"text", 2).as("g"))
      .filter(org.apache.spark.sql.functions.size($"g") > 0)
    val truth = Dedup.jaccardPairs(grams, "doc_id", "g", 0.5)
      .select($"id_a", $"id_b").collect()
      .map(r => (r.getInt(0).toLong, r.getInt(1).toLong)).toSet
    truth should not be empty

    // 64 hashes / 32 bands of 2 rows: P(candidate) = 1-(1-j^2)^32 → ≈1 for j≥0.5
    val found = Dedup.minhashNearDups(docs, "doc_id", "text",
        shingleLen = 2, numHashes = 64, bands = 32, threshold = 0.5)
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    truth -- found shouldBe empty
  }

  test("minhash verified jaccard equals exact jaccard for reported pairs") {
    import spark.implicits._
    val grams = docs.select($"doc_id", Dedup.shingles($"text", 2).as("g"))
    val exact = Dedup.jaccardPairs(grams, "doc_id", "g", 0.0)
      .collect().map(r => ((r.getInt(0).toLong, r.getInt(1).toLong), r.getDouble(2))).toMap
    val mh = Dedup.minhashNearDups(docs, "doc_id", "text",
        shingleLen = 2, numHashes = 64, bands = 32, threshold = 0.3).collect()
    mh should not be empty
    mh.foreach { r =>
      r.getDouble(2) shouldBe exact((r.getLong(0), r.getLong(1)))
    }
  }

  test("bucketCap drops degenerate buckets without affecting small ones") {
    // cap of 1 kills every bucket → no pairs at all
    Dedup.minhashNearDups(docs, "doc_id", "text",
      shingleLen = 2, numHashes = 64, bands = 32, threshold = 0.0, bucketCap = 1)
      .count() shouldBe 0L
  }

  test("all-identical adversary: hot bucket is count-dropped before any collect_list") {
    import spark.implicits._
    // The corpus bucketCap's own doc names as the adversary: every doc
    // identical, so every band puts ALL ids in ONE bucket. The cap must
    // drop that bucket via the count pre-filter — never by materializing
    // the full id array first (a single group's ObjectHashAggregate buffer
    // cannot spill; at 100 TB that's an OOM, not a slow task).
    val spam = (0L until 60L)
      .map(i => (i, "identical spam payload repeated verbatim in every document of this corpus"))
      .toDF("doc_id", "text")

    val capped = Dedup.minhashNearDups(spam, "doc_id", "text",
      shingleLen = 2, numHashes = 64, bands = 16, threshold = 0.0, bucketCap = 10)
    capped.count() shouldBe 0L

    // Plan shape (r19): collect_list's input is already cap-filtered — the
    // bucket count is a WINDOW over the bucket key (spillable buffer) that
    // sits BELOW the collect aggregate (later in the plan string), with the
    // cap filter between them, sharing the collect's own exchange. The
    // unguarded shape (filter(size ≤ cap) ABOVE collect_list, no count
    // below it) must not come back.
    val plan = capped.queryExecution.executedPlan.toString
    val collectAt = plan.indexOf("collect_list")
    val windowAt = plan.indexOf("Window")
    withClue(plan) {
      collectAt should be >= 0
      windowAt should be >= 0
      collectAt should be < windowAt // collect is a parent of the window count
      plan.indexOf("count(1)", collectAt) should be >= 0 // the windowed count feeds it
      // the fused guard must not pay a second exchange between the window
      // and the collect: both run inside one hash partitioning
      val betweenOps = plan.substring(collectAt, windowAt)
      betweenOps should not include "Exchange"
    }

    // Cap at the corpus size: the same pipeline emits every identical pair.
    Dedup.minhashNearDups(spam, "doc_id", "text",
      shingleLen = 2, numHashes = 64, bands = 16, threshold = 1.0, bucketCap = 60)
      .count() shouldBe 60L * 59 / 2

    // Same guarantee for the banded-simhash form of the shape.
    val sim = Dedup.simhashNearDupsBanded(spam, "doc_id", "text",
      maxHamming = 3, bands = 4, bucketCap = 10)
    sim.count() shouldBe 0L
    val simPlan = sim.queryExecution.executedPlan.toString
    withClue(simPlan) {
      simPlan.indexOf("collect_list") should be < simPlan.indexOf("Window")
    }
  }

  test("simhash: exact dups at hamming 0; unrelated docs far apart") {
    import spark.implicits._
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 64)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    // exact duplicates (id c*10 vs c*10+1) → identical signature
    pairs((0L, 1L)) shouldBe 0
    pairs((10L, 11L)) shouldBe 0
    pairs((20L, 21L)) shouldBe 0
    // unrelated noise docs: expect large distance (median ~32 for random)
    pairs((100L, 101L)) should be > 10
  }

  test("banded simhash finds ALL pairs within the guaranteed Hamming radius") {
    import spark.implicits._
    // ground truth: full pairwise at hamming <= 3 (the bands=4 guarantee)
    val truth = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    truth should not be empty // exact dups (hamming 0) exist by construction
    val banded = Dedup.simhashNearDupsBanded(docs, "doc_id", "text", maxHamming = 3, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    banded shouldBe truth // pigeonhole: no false negatives; verify step: no false positives
    an[IllegalArgumentException] should be thrownBy
      Dedup.simhashNearDupsBanded(docs, "doc_id", "text", maxHamming = 4, bands = 4)
  }

  test("connected components: verdicts keep exactly one doc per component (chains included)") {
    import spark.implicits._
    // component {1,5,7} whose ONLY edges are 1-7 and 5-7: the old star rule
    // kept 5 (its only match, 7, has a larger id) — transitively wrong.
    // Plus a long chain 10-11-...-16 (diameter stress for the star rounds),
    // an isolated pair {100,101}, and untouched singletons.
    val pairs = (Seq((1L, 7L), (5L, 7L), (100L, 101L)) ++
      (10L until 16L).map(i => (i, i + 1)))
      .toDF("id_a", "id_b")

    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    cc(7L) shouldBe 1L
    cc(5L) shouldBe 1L
    (10L to 16L).foreach(i => cc(i) shouldBe 10L)
    cc(101L) shouldBe 100L

    val drops = Dedup.dropVerdicts(pairs).collect().map(_.getLong(0)).toSet
    drops shouldBe Set(5L, 7L) ++ (11L to 16L) ++ Set(101L)
  }

  test("empty gram arrays: no ANSI 0/0 failure, empty-empty pairs are not duplicates") {
    import spark.implicits._
    val grams = Seq(
      (1L, Seq("x y", "y z")), (2L, Seq.empty[String]), (3L, Seq.empty[String]))
      .toDF("doc_id", "g")
    // two docs shorter than the shingle width both produce empty sets:
    // 0/0 has no value — the pair must be absent, not a job-killing error
    val pairs = Dedup.jaccardPairs(grams, "doc_id", "g", threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    pairs should not contain ((2L, 3L))
  }

  test("quadratic kernels enforce the bounded-input contract") {
    import spark.implicits._
    val grams = docs.select($"doc_id", Dedup.shingles($"text", 2).as("g"))
    an[IllegalArgumentException] should be thrownBy
      Dedup.jaccardPairs(grams, "doc_id", "g", 0.0, maxInput = 3)
    an[IllegalArgumentException] should be thrownBy
      Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3, maxInput = 3)
  }

  test("connected components FAIL LOUDLY when maxRounds is hit before the fixpoint") {
    import spark.implicits._
    // a 40-node chain cannot reach its star-forest fixpoint in one round —
    // the old behavior silently returned wrong labels from the non-fixpoint
    // edge set; now it must throw.
    val chain = (0L until 39L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException](
      Dedup.connectedComponents(chain, maxRounds = 1).collect())
    e.getMessage should include("did not converge")
    // and with enough rounds the same chain is one component rooted at 0
    val comps = Dedup.connectedComponents(chain)
      .select($"component").distinct().collect().map(_.getLong(0))
    comps shouldBe Array(0L)
  }

  test("reliable checkpointDir variant produces identical components") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs, checkpointDir = Some(dir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    got shouldBe Set((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
    // the reliable checkpoint actually wrote to the requested dir
    new java.io.File(dir).listFiles should not be empty
  }

  test("star rounds never collect a hub's neighborhood: min-agg + hash-join plan") {
    import spark.implicits._
    // A near-dup hub (spam clique center): node 0 adjacent to every other
    // node. The old collect_set(v) form built the hub's entire neighbor set
    // in ONE non-spillable aggregation buffer — the LSH-banding defect class,
    // but uncappable (correctness needs every edge). The rounds must plan a
    // combinable MIN aggregate with a join back, never a collected array,
    // and never sort-merge (the sort buffers are the memory the hash join
    // exists to avoid).
    val star = (1L to 2000L).map(i => (0L, i)).toDF("u", "v")
    for (stepped <- Seq(Dedup.ccLargeStar(star), Dedup.ccSmallStar(star))) {
      stepped.collect()
      val plan = stepped.queryExecution.executedPlan.toString
      withClue(plan) {
        plan should not include "collect_set"
        plan should not include "collect_list"
        plan should not include "SortMergeJoin"
        plan should include("min(")
      }
    }
    // end-to-end on the hub graph: one component rooted at the hub's min id
    val comps = Dedup.connectedComponents(star.select($"u".as("id_a"), $"v".as("id_b")))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    comps.length shouldBe 2001
    comps.foreach { case (_, c) => c shouldBe 0L }
  }

  test("star rounds emit exactly the old collected-array semantics") {
    import spark.implicits._
    // Differential pin against the pre-r18 collect_set formulation, on a
    // graph with chains, a clique, an isolated pair, and hub overlap.
    val edges = (Seq((1L, 7L), (5L, 7L), (2L, 9L), (2L, 4L), (4L, 9L),
      (100L, 101L)) ++ (10L until 16L).map(i => (i, i + 1)))
      .toDF("u", "v")
    def oldLargeStar(e: org.apache.spark.sql.DataFrame) = {
      val nbrs = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      nbrs.groupBy(col("u")).agg(collect_set(col("v")).as("nv"))
        .select(col("u"), least(col("u"), array_min(col("nv"))).as("m"), col("nv"))
        .select(col("m"), explode(filter(col("nv"), x => x > col("u"))).as("bigger"))
        .select(col("m").as("u"), col("bigger").as("v"))
        .distinct()
    }
    def oldSmallStar(e: org.apache.spark.sql.DataFrame) = {
      e.groupBy(col("v")).agg(collect_set(col("u")).as("nu"))
        .select(col("v"), array_min(col("nu")).as("m"), col("nu"))
        .select(col("m"),
          explode(concat(filter(col("nu"), x => x =!= col("m")), array(col("v")))).as("member"))
        .filter(col("m") =!= col("member"))
        .select(col("m").as("u"), col("member").as("v"))
        .distinct()
    }
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs(Dedup.ccLargeStar(edges)) shouldBe pairs(oldLargeStar(edges))
    pairs(Dedup.ccSmallStar(edges)) shouldBe pairs(oldSmallStar(edges))
    // and one full alternation agrees too
    pairs(Dedup.ccSmallStar(Dedup.ccLargeStar(edges))) shouldBe
      pairs(oldSmallStar(oldLargeStar(edges)))
  }

  test("connected components of an empty pair set is empty") {
    import spark.implicits._
    Dedup.connectedComponents(Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
      .count() shouldBe 0L
  }

  test("NULL text rows are ignored, not NPE'd, by the sketch operators") {
    import spark.implicits._
    val withNull = docs.unionByName(
      Seq((999, Option.empty[String])).toDF("doc_id", "text"))
    // same results as without the NULL row (NULL text matches nothing)
    Dedup.minhashNearDups(withNull, "doc_id", "text",
        shingleLen = 2, numHashes = 64, bands = 32, threshold = 0.5)
      .count() shouldBe
      Dedup.minhashNearDups(docs, "doc_id", "text",
        shingleLen = 2, numHashes = 64, bands = 32, threshold = 0.5).count()
    Dedup.simhashPairs(withNull, "doc_id", "text", maxHamming = 3)
      .filter(col("id_a") === 999L || col("id_b") === 999L).count() shouldBe 0L
  }

  test("shingles: short docs yield empty set, n-grams are distinct and ordered windows") {
    import spark.implicits._
    val out = Seq("a b", "a b c d", "x x x x")
      .toDF("t").select(Dedup.shingles($"t", 3).as("g"))
      .collect().map(_.getSeq[String](0))
    out(0) shouldBe Seq.empty
    out(1) shouldBe Seq("a b c", "b c d")
    out(2) shouldBe Seq("x x x") // distinct
  }

  test("prefixFilterPairs == brute-force Jaccard at the same threshold (completeness + exactness)") {
    val grams = docs.select(col("doc_id"), Dedup.shingles(col("text"), 2).as("grams"))
      .filter(org.apache.spark.sql.functions.size(col("grams")) > 0)
    def brute(tau: Double) =
      Dedup.jaccardPairs(grams, "doc_id", "grams", tau)
        .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    for ((tnum, tden) <- Seq((1, 2), (3, 4), (9, 10))) {
      val got = Dedup.prefixFilterPairs(grams, "doc_id", "grams", tnum, tden)
        .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(6))).toMap
      val want = brute(tnum.toDouble / tden)
      withClue(s"tau=$tnum/$tden got=${got.keySet} want=${want.keySet}") {
        // the prefix lemma guarantees COMPLETENESS; verification guarantees
        // no false positives — the output must be exactly the brute-force set
        got.keySet shouldBe want.keySet
        for ((k, j) <- got) j shouldBe (want(k) +- 1e-6)
      }
    }
  }

  test("prefixFilterPairs == brute force on randomized corpora across thresholds (fuzz)") {
    import spark.implicits._
    val rng = new scala.util.Random(41)
    val vocab = ('a' to 'p').map(_.toString)
    // random docs over a small vocab (forced gram collisions), with planted
    // mutated copies so thresholds bite at different levels
    val base = (0 until 40).map { i =>
      (i.toLong, Seq.fill(6 + rng.nextInt(20))(vocab(rng.nextInt(vocab.length))).mkString(" "))
    }
    val mutated = base.take(12).map { case (id, t) =>
      val toks = t.split(" ").toBuffer
      toks(rng.nextInt(toks.length)) = vocab(rng.nextInt(vocab.length))
      (id + 1000L, toks.mkString(" "))
    }
    val fuzzGrams = (base ++ mutated).toDF("doc_id", "text")
      .select($"doc_id", Dedup.shingles($"text", 2).as("grams"))
      .filter(org.apache.spark.sql.functions.size($"grams") > 0)
    for ((tnum, tden) <- Seq((1, 4), (1, 2), (2, 3), (4, 5))) {
      val got = Dedup.prefixFilterPairs(fuzzGrams, "doc_id", "grams", tnum, tden)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = Dedup.jaccardPairs(fuzzGrams, "doc_id", "grams", tnum.toDouble / tden)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      withClue(s"tau=$tnum/$tden missing=${want -- got} extra=${got -- want}") {
        got shouldBe want
      }
    }
  }

  test("prefixFilterPairs prefix really is shorter than the full set (it filters, not rescans)") {
    val grams = docs.select(col("doc_id"), Dedup.shingles(col("text"), 2).as("grams"))
      .filter(org.apache.spark.sql.functions.size(col("grams")) > 0)
    // at tau=9/10 the prefix is |g| - ceil(0.9|g|) + 1 ≈ |g|/10 + 1: candidate
    // generation must touch far fewer gram rows than the full explode
    val fullRows = grams.select(explode(col("grams"))).count()
    val out = Dedup.prefixFilterPairs(grams, "doc_id", "grams", 9, 10)
    out.collect() // force
    val plan = out.queryExecution.optimizedPlan.toString
    // structural: the prefix table is MATERIALIZED once (LogicalRDD from
    // truncateLineage) and both candidate sides read it, instead of each
    // side re-deriving the gram-frequency/sort-collect/slice chain
    plan should include("LogicalRDD")
    // the prefix-length formula itself: Σ_docs (n − ⌈τn⌉ + 1) must be a
    // small fraction of the full gram explode the prefix join avoids
    val prefixRows = grams
      .select(org.apache.spark.sql.functions.size(col("grams")).cast("long").as("n"))
      .select((col("n") - expr("(n * 9 + 9) div 10") + 1).as("p"))
      .agg(org.apache.spark.sql.functions.sum(col("p"))).head.getLong(0)
    fullRows should be > 0L
    prefixRows should be < fullRows / 2
  }

  test("keepBest selects the highest-priority row per key, tie to lowest id") {
    import spark.implicits._
    val docs = Seq(
      (1L, "g1", 10L), (2L, "g1", 30L), (3L, "g1", 30L), // 30-char tie -> id 2
      (4L, "g2", 5L)                                     // singleton survives
    ).toDF("id", "grp", "quality")
    val out = Dedup.keepBest(docs, col("grp"), col("quality"), col("id"))
      .collect().map(r => (r.getString(1), r.getLong(0))).sortBy(_._1)
    out shouldBe Array(("g1", 2L), ("g2", 4L))
    Dedup.keepBest(docs, col("grp"), col("quality"), col("id")).columns should
      not contain "_kb_rn"
  }

  test("connected components over spark.range edges: a hub plus div-built chains") {
    import spark.implicits._
    // Range-derived edges carry constraints a local Seq does not, and a
    // star round that self-unions its input trips Union's constraint
    // rewrite on them. Hub: node 0 adjacent to 1..hubDegree. Chains:
    // disjoint paths of chainLen nodes from base + c * chainLen, with the
    // chain index computed by `div` (Spark's `/` on longs is double
    // division).
    val (hubDegree, chains, chainLen, base) = (2000L, 3L, 1000L, 1000000000L)
    val hub = spark.range(1L, hubDegree + 1L).select(lit(0L).as("id_a"), $"id".as("id_b"))
    val off = expr(s"(id div ${chainLen - 1}) * $chainLen + (id % ${chainLen - 1}) + $base")
    val chainEdges = spark.range(chains * (chainLen - 1))
      .select(off.as("id_a"), (off + 1L).as("id_b"))
    val agg = Dedup.connectedComponents(hub.unionByName(chainEdges)).agg(
        count(lit(1)),
        count(when($"id" <= hubDegree && $"component" === 0L, 1)),
        count(when($"id" >= base &&
          $"component" === expr(s"((id - $base) div $chainLen) * $chainLen + $base"), 1)))
      .head()
    agg.getLong(0) shouldBe hubDegree + 1L + chains * chainLen
    agg.getLong(1) shouldBe hubDegree + 1L
    agg.getLong(2) shouldBe chains * chainLen
  }
}
