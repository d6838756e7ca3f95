package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, designed for the
  * 100 TB regime:
  *
  *  - exact: hash-groupBy on the dedup key — one shuffle on the key, no
  *    driver-side state;
  *  - n-gram Jaccard: exact pairwise similarity (quadratic — use only on a
  *    candidate set, e.g. LSH bucket output or a bounded id range);
  *  - MinHash + LSH: the scale path — per-row signatures are pure column
  *    expressions (map-side, codegen'd), candidate generation is a
  *    band-bucket self-join (shuffle on band hash, never all-pairs), then
  *    exact Jaccard verification on candidates only;
  *  - SimHash: 64-bit signature per row + Hamming-distance candidate pairs.
  *
  * All hashes are xxhash64 seeded per-function, so results are
  * deterministic across runs and cluster layouts.
  */
object Dedup {

  /** Word n-gram (shingle) set of a text column — distinct, first-occurrence
    * order. Codegen'd primitive loop ([[graft.functions.ShinglesOf]]): the
    * declarative `array_distinct(transform(...))` form ran interpreted per
    * element and dominated the decontamination scan (16 s of 16.5 s at
    * sf0.1); `ShinglingSpec` pins the two forms equal. */
  def shingles(text: Column, n: Int): Column =
    graft.functions.Shingling.shingles(text, n)

  /** Exact duplicate groups: representative (min id) + group size per
    * distinct key. Equivalent semantics to `dropDuplicates(keyCols)` but
    * with a deterministic representative. */
  def exact(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("n_dups"))

  /** Priority dedup: ONE representative per key, the row maximizing
    * (priority desc, tie asc) — "keep the BEST duplicate" (longest, highest
    * quality score, freshest crawl...), not the first one seen, which is what
    * a curation pipeline usually wants. One shuffle on the key; `tie` must be
    * unique within a key group for a deterministic pick. */
  def keepBest(df: DataFrame, key: Column, priority: Column, tie: Column): DataFrame = {
    val w = Window.partitionBy(key).orderBy(priority.desc, tie)
    df.withColumn("_kb_rn", row_number().over(w))
      .filter(col("_kb_rn") === 1).drop("_kb_rn")
  }

  /** Blocked edit-distance (Levenshtein) near-dup pairs — entity-resolution
    * for SHORT strings (titles, names, URLs) where token-set similarity is
    * too coarse: a one-character typo keeps Levenshtein distance 1 but can
    * shatter every shingle. All-pairs Levenshtein is O(N²·len²); standard
    * blocking restores scale: candidates are generated by an EQUI-join on a
    * deterministic block key (e.g. a prefix — near-dups with a divergent
    * block key are missed by that pass; at 100 TB run several cheap passes
    * with different keys and union), plus a length pre-filter
    * (|len(a)−len(b)| ≤ maxDist is a Levenshtein lower bound, so it drops
    * only true negatives). Verification uses Spark's banded
    * `levenshtein(l, r, threshold)`: the DP cost is O(len·maxDist), not
    * O(len²), and the returned distance is exact whenever it is ≤ maxDist —
    * so the emitted distances equal the unbanded oracle's.
    *
    * Output: (id_a, id_b, dist) with id_a < id_b, dist ≤ maxDist. Fan-out
    * is bounded by the block-key group sizes, never by the corpus.
    */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
      blockCol: Column, maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist must be non-negative, got $maxDist")
    val rows = df.filter(col(strCol).isNotNull)
      .select(col(idCol).as("_ed_id"), col(strCol).as("_ed_s"), blockCol.as("_ed_blk"))
    val a = rows.select(col("_ed_id").as("id_a"), col("_ed_s").as("_sa"), col("_ed_blk"))
    val b = rows.select(col("_ed_id").as("id_b"), col("_ed_s").as("_sb"), col("_ed_blk"))
    a.join(b, "_ed_blk")
      .where(col("id_a") < col("id_b") &&
        abs(length(col("_sa")) - length(col("_sb"))) <= maxDist)
      .withColumn("dist", levenshtein(col("_sa"), col("_sb"), maxDist))
      .where(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Jaccard similarity of two DISTINCT-element array columns. Computes only
    * the intersection and derives |A ∪ B| = |A| + |B| − |A ∩ B| — half the
    * hash-set work of an explicit array_union, identical value for
    * distinct-element inputs (which shingle sets are by construction).
    * Two EMPTY sets give NULL (0/0 has no value; under ANSI mode a bare
    * division would abort the job) — a threshold filter then treats the
    * pair as no-evidence, not as duplicates. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    round(inter / nullif(size(a) + size(b) - inter, lit(0)), 6)
  }

  /** Lineage truncation for iterative/multi-consumer plans. With no
    * `checkpointDir` this is a lazy LOCAL checkpoint: blocks live on
    * executors and are released by the context cleaner with the result
    * DataFrame — the right default for interactive use, but they die with
    * executor loss. On a real cluster, long jobs should pass a reliable
    * `checkpointDir` (HDFS/object store): blocks then survive executor churn
    * at the cost of a write to distributed storage per truncation. NOTE:
    * reliable checkpoint FILES are only auto-deleted when
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (default
    * false) — otherwise they accumulate under `checkpointDir` until the
    * caller cleans them up. */
  private[graft] def truncateLineage(df: DataFrame, checkpointDir: Option[String]): DataFrame =
    checkpointDir match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        // setCheckpointDir mutates global context state; skip the no-op call
        // (and its eager mkdirs) when the dir is already current.
        if (!sc.getCheckpointDir.contains(new org.apache.hadoop.fs.Path(dir).toString))
          sc.setCheckpointDir(dir)
        df.checkpoint()
      case None => df.localCheckpoint(false)
    }

  /** Raise a corpus frame's partition count to the session's shuffle
    * parallelism when the source scan produced fewer splits. The local
    * testdata is a single parquet file with one row group per table, so
    * every scan-stage map (shingle explode, sketch loops, per-doc gram
    * sorts) otherwise runs 1–2-way parallel REGARDLESS of cores — profiled
    * on q172 at sf1: ~9 s of a 14 s lane sat in 2-task stages. On a real
    * cluster inputs have many splits, the guard fails, and this is a no-op
    * — no gratuitous shuffle of corpus text. Round-robin repartition is
    * retry-deterministic (Spark sorts within partitions before
    * redistributing) and every consumer below is partition-order-free, so
    * results are unchanged. */
  private[graft] def ensureParallelism(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions * 2 >= target) return df
    // below ~4 MB of input the under-parallel map stages are cheaper than
    // the repartition round-trip itself (measured: q172 at sf0.1 lost
    // ~0.8 s to an unconditional repartition; sf1 gained ~6 s) — when the
    // source isn't file-backed the sizes are unknown and we keep the
    // repartition, the conservative choice for a corpus-sized frame
    val bytes = try {
      val files = df.inputFiles
      if (files.isEmpty) Long.MaxValue
      else files.map(f => new java.io.File(new java.net.URI(f).getPath).length).sum
    } catch { case _: Exception => Long.MaxValue }
    if (bytes >= 4L * 1024 * 1024) df.repartition(target) else df
  }

  /** Enforced bound for the quadratic verification kernels: the docs said
    * "feed candidates only", but nothing made that contract mechanical — one
    * misuse away from an O(N²) cartesian at cluster scale. The guard count
    * doubles as a materialization point: the input is local-checkpointed, so
    * both sides of the pairwise self-join reuse the computed rows instead of
    * re-deriving the upstream (e.g. shingle) pipeline per side. */
  private[graft] def requireBounded(df: DataFrame, maxInput: Long, op: String): DataFrame = {
    val cp = df.localCheckpoint(false)
    val n = cp.count()
    require(n <= maxInput,
      s"$op is a quadratic pairwise kernel: input has $n rows > maxInput=$maxInput. " +
        "Feed it a candidate set (LSH/banded buckets) or raise maxInput deliberately.")
    cp
  }

  /** Exact pairwise n-gram Jaccard over (id, grams) rows. Quadratic — feed
    * it candidates, not a raw corpus (enforced: inputs larger than
    * `maxInput` throw). Grams are hashed to 64-bit longs ONCE per row before
    * pairing: set intersection over longs is several times cheaper than over
    * strings, and |A ∩ B| is unchanged modulo xxhash64 collisions (~2^-64
    * per pair of distinct shingles — negligible). */
  def jaccardPairs(grams: DataFrame, idCol: String, gramsCol: String, threshold: Double,
      maxInput: Long = 10000): DataFrame = {
    // array_sort'd so the pairwise intersect can run as the codegen'd
    // two-pointer merge (SetOps) rather than a per-pair hash set — same
    // values (fuzzed bit-identical), a fraction of the quadratic kernel's
    // per-pair cost.
    val hashed = requireBounded(grams, maxInput, "jaccardPairs").select(
      col(idCol).as("_id"),
      array_sort(transform(col(gramsCol), g => xxhash64(g))).as("_gh"))
    val a = hashed.select(col("_id").as("id_a"), col("_gh").as("g_a"))
    val b = hashed.select(col("_id").as("id_b"), col("_gh").as("g_b"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.SetOps.sortedJaccard(col("g_a"), col("g_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** EXACT set-similarity join via PREFIX FILTERING (the PPJoin family,
    * Xiao et al. 2008 "Efficient similarity joins for near duplicate
    * detection") — the exact complement to MinHash+LSH: no probabilistic
    * recall, same never-all-pairs scale shape.
    *
    * Canonical order: every document sorts its gram set by (GLOBAL gram
    * frequency ascending, gram HASH) — one total order for the whole
    * corpus. Prefix lemma: two sets with Jaccard ≥ τ must share at least
    * one gram within each other's first |g| − ⌈τ·|g|⌉ + 1 grams under ANY
    * shared total order — so the equi-join on PREFIX grams alone yields a
    * guaranteed-complete candidate set. Because the canonical order puts
    * the RAREST grams first, prefix join fan-out is bounded by rare-gram
    * document frequency — precisely the opposite skew profile of joining
    * on all grams (where one stop-gram fans out to the whole corpus).
    *
    * Grams are xxhash64'd to longs AT ENTRY, not just for verification:
    * every downstream stage (frequency window, sort-collect, prefix
    * equi-join, verification intersect) then shuffles and compares 8-byte
    * longs instead of shingle strings, and ONE materialized (id, sorted
    * hashes) table serves both the prefix build and the verification —
    * measured at sf1, this plus the window-fused frequency took the warm
    * lane from ~7.2 s to ~4.5 s with identical output. |A ∩ B| is
    * unchanged modulo xxhash64 collisions (~2^-64 per distinct-gram pair),
    * the same convention the verification math already rested on.
    *
    * Threshold is the RATIONAL tnum/tden: prefix length and the final
    * Jaccard test are pure integer math (`⌈n·tnum/tden⌉ = (n·tnum+tden−1)
    * div tden`, `inter·tden ≥ tnum·union`), so both engines agree exactly
    * (a double τ·n product can land an ulp either side of an integer).
    *
    * Shuffles at scale: one gram-keyed window pass (frequency attach),
    * one per-doc sort-collect, the prefix candidate equi-join, and the
    * two verification joins on doc id — every one key-partitioned,
    * nothing quadratic, nothing driver-side. The verification joins are
    * deliberately UNHINTED: the candidate and doc tables are materialized
    * with exact stats, so AQE broadcasts the doc side while it fits (the
    * rehearsal scales) and falls back to a shuffled hash join when it
    * doesn't (the 100 TB shape) — a forced shuffle_hash cost ~0.6 s/rep
    * at sf1 for no scale benefit. */
  def prefixFilterPairs(
      grams: DataFrame, idCol: String, gramsCol: String,
      tnum: Int, tden: Int, checkpointDir: Option[String] = None): DataFrame = {
    require(tnum > 0 && tden > 0 && tnum <= tden,
      s"threshold must be a rational in (0,1]: got $tnum/$tden")
    // Materialized ONCE at entry, already hashed and sorted: both the
    // prefix chain and the two verification joins consume this single
    // table. Without the materialization each consumer re-runs the
    // caller's gram projection inside its own scan stage — column pruning
    // gives the consumers different schemas, so ReuseExchange cannot
    // collapse them (profiled: 3 × ~2.5 s 2-task scan+shingle stages at
    // sf1). Sorted so the per-pair verification intersect runs as the
    // codegen'd two-pointer merge (SetOps).
    val g = truncateLineage(ensureParallelism(grams).select(
      col(idCol).as("_fid"),
      array_sort(transform(col(gramsCol), x => xxhash64(x))).as("_g")),
      checkpointDir)
    val ge = g.select(col("_fid").as("_id"), explode(col("_g")).as("_gram"))
    // Global gram frequency attached via an UNBOUNDED window over the
    // gram key instead of a groupBy + join back: one gram-keyed shuffle
    // does both the count and the attach (the agg+join form paid the
    // aggregation shuffle AND a join pass over the full gram table).
    // Materialized ONCE (truncateLineage): both sides of the candidate
    // self-join consume this — without the materialization each side
    // re-derives the whole chain (gram explode, frequency window,
    // per-doc sort-collect, prefix posexplode), relying on ReuseExchange
    // to maybe deduplicate it. Same treatment as minhashNearDups' sigs;
    // pass `checkpointDir` on a real cluster.
    val prefixes = truncateLineage(ge
      .withColumn("_f", count(lit(1)).over(Window.partitionBy(col("_gram"))))
      .groupBy(col("_id"))
      .agg(
        array_sort(collect_list(struct(col("_f"), col("_gram")))).as("_sorted"),
        count(lit(1)).as("_n"))
      .withColumn("_p",
        expr(s"cast(_n - ((_n * $tnum + ${tden - 1}) div $tden) + 1 AS int)"))
      .select(col("_id"), col("_n"), posexplode(expr(
        "transform(slice(_sorted, 1, _p), s -> s._gram)")).as(Seq("_pos", "_gram"))),
      checkpointDir)
    // Two PPJoin prunes ride the candidate join, both pure integer math:
    //  - LENGTH filter: J ≥ τ forces τ·|A| ≤ |B| in both directions
    //    (J ≤ min/max), so size-incompatible pairs die on the join row;
    //  - POSITIONAL filter: a pair first co-occurring at (0-based) prefix
    //    positions (i, j) has overlap at most 1 + min(|A|−i, |B|−j) − 1
    //    ... = min(|A|−i, |B|−j) (everything before the shared gram, in
    //    either set, is disjoint under the canonical order), while J ≥ τ
    //    needs overlap ≥ τ/(1+τ)·(|A|+|B|) — i.e.
    //    min(n_a−i, n_b−j)·(tnum+tden) ≥ tnum·(n_a+n_b). Taking the MIN
    //    positions per pair before testing keeps the prune sound (the
    //    earliest co-occurrence gives the LARGEST upper bound).
    // Neither prune changes output — verification is exact — they only
    // shrink the candidate set the set math runs on.
    val cand = prefixes.select(
        col("_id").as("id_a"), col("_n").as("_na"), col("_pos").as("_ia"), col("_gram"))
      .join(prefixes.select(
        col("_id").as("id_b"), col("_n").as("_nb"), col("_pos").as("_ib"), col("_gram")), "_gram")
      .filter(col("id_a") < col("id_b") &&
        col("_na") * tnum <= col("_nb") * tden &&
        col("_nb") * tnum <= col("_na") * tden)
      .groupBy(col("id_a"), col("id_b"))
      .agg(
        min(col("_ia")).as("_ia"), min(col("_ib")).as("_ib"),
        first(col("_na")).as("_na"), first(col("_nb")).as("_nb"))
      .filter(
        least(col("_na") - col("_ia"), col("_nb") - col("_ib")) * (tnum + tden) >=
          (col("_na") + col("_nb")) * tnum)
      .select(col("id_a"), col("id_b"))
    // Verification reuses the entry table `g` directly — the sets were
    // hashed and sorted once at entry, so the per-pair intersect is the
    // codegen'd two-pointer merge (SetOps); |A ∪ B| = n_a + n_b − |A ∩ B|
    // exactly, since gram sets are distinct-element by construction.
    // Unhinted joins: see the Scaladoc — AQE broadcasts `g` while it
    // fits, shuffles when it doesn't.
    cand
      .join(g.select(col("_fid").as("id_a"), col("_g").as("_ga")), "id_a")
      .join(g.select(col("_fid").as("id_b"), col("_g").as("_gb")), "id_b")
      .select(
        col("id_a"), col("id_b"),
        size(col("_ga")).cast("long").as("n_a"),
        size(col("_gb")).cast("long").as("n_b"),
        graft.functions.SetOps.intersectSize(col("_ga"), col("_gb")).cast("long").as("n_inter"))
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))
      .filter(col("n_inter") * tden >= col("n_union") * tnum)
      .withColumn("jaccard",
        round(col("n_inter").cast("double") / col("n_union").cast("double"), 6))
  }

  /** MinHash signature over PRE-HASHED shingles: element i is the minimum of
    * `xxhash64(h, i)` over the shingle hashes `h`. Each shingle string is
    * hashed exactly once (string traversal is the expensive part); the
    * numHashes permutations are cheap long→long re-hashes. Built as ONE
    * nested `transform` so the expression tree stays small — round 1 inlined
    * 64 separate transforms, which blew codegen up to 20 MiB task binaries.
    * NOT signature-compatible with [[sketchOf]]'s mix64-based JVM sketches
    * (different permutation family) — compare signatures only within one
    * form. */
  def minhashSignature(shingleHashes: Column, numHashes: Int): Column =
    transform(
      sequence(lit(0), lit(numHashes - 1)),
      i => array_min(transform(shingleHashes, h => xxhash64(h, i))))

  /** LSH banding: split the signature into `bands` bands of `rowsPerBand`
    * and hash each band; docs sharing any band hash become candidates.
    * Compact nested-transform form (see minhashSignature). */
  def bandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => xxhash64(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)), b))

  /** LSH bucket collection with the cap enforced BEFORE any bucket is
    * materialized. The naive `collect_list(id) → filter(size ≤ cap)` shape
    * builds the full id array of a degenerate bucket inside one
    * aggregation task's buffer before the filter can drop it — and a single
    * group's ObjectHashAggregate buffer cannot spill, so an all-identical
    * spam corpus (the exact adversary `bucketCap` exists for) OOMs the task
    * at 100 TB even though the filter would have discarded the bucket.
    *
    * r19 shape (guide §2.4 — two operations keyed the same way share one
    * exchange): the bucket count is a WINDOW over the bucket key, computed
    * inside the same hash partitioning the collect aggregate needs, so the
    * whole guard costs ONE exchange of the narrow (k1, k2, id) rows — the
    * same single shuffle the unguarded collect paid. (The r18 shape was
    * count-aggregate → semi-join → collect: a second skinny exchange plus
    * a join per LSH collect, the measured q55/q231/q174 bench cost.)
    * Memory safety is unchanged: WindowExec buffers a degenerate bucket's
    * rows in a SPILLABLE buffer (ExternalAppendOnlyUnsafeRowArray), so the
    * spam bucket costs disk, never an un-spillable aggregation buffer, and
    * every collect_list group that survives the filter is ≤ `cap`.
    * Returns one row per surviving bucket: (k1, k2, ids). */
  private[graft] def cappedBuckets(
      rows: DataFrame, k1: String, k2: String, idCol: String, cap: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(k1), col(k2))
    rows
      .withColumn("_bucket_n", count(lit(1)).over(w))
      .filter(col("_bucket_n").between(2L, cap.toLong))
      .groupBy(col(k1), col(k2))
      .agg(collect_list(col(idCol)).as("ids"))
  }

  /** All ordered pairs (a < b) of a sorted id array, as an array of structs.
    * Used to expand an LSH bucket into candidate pairs without a self-join. */
  private[graft] def pairsOf(sortedIds: Column): Column =
    flatten(transform(sortedIds, (x, i) =>
      transform(slice(sortedIds, i + 2, greatest(size(sortedIds) - i - 1, lit(0))),
        y => struct(x.as("id_a"), y.as("id_b")))))

  /** Splitmix-style 64-bit string hash + per-permutation long mixer — the
    * JVM twin of the expression pipeline, used inside mapPartitions where
    * interpreted higher-order functions would dominate (measured: the
    * numHashes × |shingles| lambda evals of the expression form took 12 s of
    * q52's 15 s at sf0.1; the primitive-loop form takes well under 1 s).
    * Canonical implementation lives in [[graft.functions.Hashing]] (shared
    * with the codegen'd expressions and the DuckDB oracle renderer). */
  private[graft] def hash64(s: String): Long = graft.functions.Hashing.hash64(s)
  private[graft] def mix64(h: Long, i: Int): Long = graft.functions.Hashing.mix64(h, i)

  /** Per-doc MinHash state: distinct shingle hashes, signature, band hashes.
    * Pure function of (text, params) — deterministic everywhere. */
  private[graft] def sketchOf(text: String, shingleLen: Int, numHashes: Int,
      bands: Int): (Array[Long], Array[Long], Array[Long]) = {
    if (text == null) return (Array.empty, Array.empty, Array.empty)
    val toks = text.trim.split("\\s+")
    if (toks.length < shingleLen) return (Array.empty, Array.empty, Array.empty)
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= toks.length - shingleLen) {
      val sb = new java.lang.StringBuilder(toks(i))
      var k = 1
      while (k < shingleLen) { sb.append(' ').append(toks(i + k)); k += 1 }
      seen.add(sb.toString)
      i += 1
    }
    val gh = new Array[Long](seen.size)
    val it = seen.iterator()
    var g = 0
    while (it.hasNext) { gh(g) = hash64(it.next()); g += 1 }
    val sig = new Array[Long](numHashes)
    var p = 0
    while (p < numHashes) {
      var minV = Long.MaxValue
      var j = 0
      while (j < gh.length) { val v = mix64(gh(j), p); if (v < minV) minV = v; j += 1 }
      sig(p) = minV
      p += 1
    }
    val rowsPerBand = numHashes / bands
    val bh = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = 0x27D4EB2F165667C5L + b
      var r = 0
      while (r < rowsPerBand) { acc = mix64(acc ^ sig(b * rowsPerBand + r), r); r += 1 }
      bh(b) = acc
      b += 1
    }
    // gh is returned SORTED: the signature above is a min over the set
    // (order-independent), and sorted output lets the verification stage
    // intersect candidate pairs with the O(n+m) merge kernel
    // (functions.SetOps) instead of a per-pair hash set.
    java.util.Arrays.sort(gh)
    (gh, sig, bh)
  }

  /** Near-duplicate pairs via MinHash + LSH, verified with exact Jaccard.
    *
    * Plan shape at scale (the 100 TB path):
    *   1. map-side: shingle → hash → signature → band hashes, computed in
    *      primitive loops via mapPartitions (Spark's higher-order array
    *      functions are interpreted, not codegen'd — the expression form of
    *      this sketch was the dominant cost of the whole pipeline);
    *   2. ONE shuffle on (band_idx, band_hash) → buckets; pairs are expanded
    *      inside each bucket with an array expression — never a quadratic
    *      self-join of the exploded table (round 1's mistake: that self-join
    *      recomputed the whole signature pipeline on both sides and took
    *      646 s at sf0.1);
    *   3. `distinct` over candidate pairs, then a join back to the persisted
    *      hashed-shingle sets for exact-Jaccard verification of candidates
    *      only (set ops over longs — several times cheaper than strings,
    *      identical counts modulo ~2^-64 collisions).
    *
    * `bucketCap` bounds the blast radius of a degenerate bucket (all-identical
    * spam): a bucket with more than `bucketCap` docs is dropped from
    * candidate generation — at that size the docs are near-certain exact
    * duplicates, which the exact-dedup pass (cheaper, shuffle-on-key) already
    * handles. This is the standard skew guard for LSH at scale.
    */
  /** Per-doc MinHash sketch table `(id, gh, bands)` — the map-side stage of
    * [[minhashNearDups]], factored out so the index/serving operators (the
    * persisted band index and its batch gram-set verification) share the
    * exact signature pipeline. `gh` is the SORTED distinct shingle-hash set,
    * `bands` the band-hash array; docs with NULL text or fewer than
    * `shingleLen` tokens produce no row (they can never near-match).
    *
    * (id, gh, bands) computed in primitive loops, materialized ONCE for the
    * consumers via truncateLineage: unlike .persist(), whose CacheManager
    * entry would outlive the caller with no clean unpersist point,
    * checkpoint blocks/files are released by the context cleaner once the
    * result DataFrame is garbage-collected. Pass `checkpointDir` on a real
    * cluster so the materialization survives executor loss. NULL text never
    * matches anything (SQL semantics) — drop before the JVM sketch loop,
    * which (unlike the old expression form) is not null-propagating. */
  def minhashSketches(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int,
      numHashes: Int,
      bands: Int,
      checkpointDir: Option[String] = None): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands evenly")
    val spark = docs.sparkSession
    import spark.implicits._
    truncateLineage(ensureParallelism(docs
      .select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .filter(col("text").isNotNull))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val (gh, _, bh) = sketchOf(text, shingleLen, numHashes, bands)
        if (gh.isEmpty) None else Some((id, gh, bh))
      })
      .toDF("id", "gh", "bands"), checkpointDir)
  }

  def minhashNearDups(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      bucketCap: Int = 2000,
      checkpointDir: Option[String] = None): DataFrame = {
    val sigs = minhashSketches(docs, idCol, textCol, shingleLen, numHashes,
      bands, checkpointDir)

    val banded = sigs
      .select(col("id"), posexplode(col("bands")).as(Seq("band_idx", "band_hash")))

    val candidates = cappedBuckets(banded, "band_idx", "band_hash", "id", bucketCap)
      .select(explode(pairsOf(array_sort(col("ids")))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()

    // Verification: sigs carries a wide array column per row — hint
    // SHUFFLE_HASH so the join builds a hash map on the (small-row-count)
    // sigs side instead of sort-merging the array-laden rows; the Jaccard
    // itself runs on the SORTED gram sets via the codegen'd two-pointer
    // merge (SetOps.sortedJaccard — same arithmetic as `jaccard`, a
    // fraction of its per-pair cost).
    candidates
      .join(sigs.select(col("id").as("id_a"), col("gh").as("g_a")).hint("shuffle_hash"), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("gh").as("g_b")).hint("shuffle_hash"), "id_b")
      .select(col("id_a"), col("id_b"),
        graft.functions.SetOps.sortedJaccard(col("g_a"), col("g_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** 64-bit SimHash over the token multiset: bit b is set iff more than half
    * of the token hashes have bit b set. Pure expressions, map-side — kept
    * as the API/reference form; the operators below use the JVM form
    * [[simhashOf]] (interpreted HOF lambdas here cost 64×|tokens| evals per
    * doc — the same pitfall as the MinHash/SRP sketches). NOT a bit-twin:
    * this form hashes tokens with xxhash64, simhashOf with the splitmix
    * hash64 — same algorithm, different hash family, so signatures from the
    * two forms must never be Hamming-compared against each other. (The SRP
    * expression/JVM pair IS bit-identical; these are not.) */
  def simhash64(tokensCol: Column): Column = {
    val hashed = transform(tokensCol, t => xxhash64(t))
    val n = size(hashed)
    (0 until 64).map { b =>
      val ones = size(filter(hashed, h => shiftright(h, b).bitwiseAND(lit(1L)) === lit(1L)))
      when(ones * 2 > n, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
  }

  /** JVM SimHash over whitespace tokens (hash64-based — primitive loops).
    * Canonical implementation: [[graft.functions.Hashing.simhashOf]]. */
  private[graft] def simhashOf(text: String): Long = graft.functions.Hashing.simhashOf(text)

  /** Per-doc signatures via the codegen'd [[graft.functions.SimHash64]]
    * expression: the whole token-hash-fold is one static call inside
    * whole-stage codegen — no Dataset encoder round-trip, no interpreted
    * higher-order functions, stays map-side at full scan width. */
  private def simhashSigs(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    ensureParallelism(docs.filter(col(textCol).isNotNull)) // NULL text matches nothing
      .select(col(idCol).cast("long").as("id"),
        graft.functions.Hashing.simhash(col(textCol)).as("sig"))

  /** SimHash near-dup candidate pairs with Hamming distance <= maxHamming.
    * Pairwise over the supplied frame — bounded input enforced; use
    * [[simhashNearDupsBanded]] for small radii at scale. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String, maxHamming: Int,
      maxInput: Long = 10000): DataFrame = {
    val sigs = simhashSigs(requireBounded(docs, maxInput, "simhashPairs"), idCol, textCol)
    sigs.as("a").join(sigs.as("b"), col("a.id") < col("b.id"))
      .select(
        col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash near-dups at scale via band bucketing: split the 64-bit
    * signature into `bands` equal bit-slices; by pigeonhole, any pair with
    * Hamming distance < bands shares at least one identical slice, so
    * bucketing on (band, slice) finds ALL pairs with `maxHamming <=
    * bands - 1` with one shuffle — no pairwise scan. (The quadratic
    * `simhashPairs` remains for larger radii over bounded inputs, where no
    * sub-quadratic exact method exists.)
    *
    * `bucketCap` defaults to unbounded so the pigeonhole exactness guarantee
    * holds; set a finite cap on heavily skewed corpora to bound a degenerate
    * (band, slice) bucket, accepting that pairs inside dropped buckets are
    * lost (exact duplicates in such buckets are the exact-dedup pass's job).
    */
  def simhashNearDupsBanded(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int,
      bands: Int = 4,
      bucketCap: Int = Int.MaxValue): DataFrame = {
    require(maxHamming < bands,
      s"banded simhash guarantees recall only for maxHamming < bands (got $maxHamming >= $bands)")
    require(64 % bands == 0, "bands must divide 64")
    val bits = 64 / bands

    val sigs = simhashSigs(docs, idCol, textCol)

    val banded = sigs.select(col("id"), col("sig"),
      posexplode(array((0 until bands).map(b =>
        shiftrightunsigned(col("sig"), b * bits).bitwiseAND(lit((1L << bits) - 1))): _*))
        .as(Seq("band_idx", "slice")))

    val candidates = cappedBuckets(banded, "band_idx", "slice", "id", bucketCap)
      .select(explode(pairsOf(array_sort(col("ids")))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()

    candidates
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Connected components over near-dup pairs by alternating large-star /
    * small-star min-id propagation (the MapReduce-native CC algorithm —
    * Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14). Returns (id, component) for every node that appears in a
    * pair, where component = the minimum id of the node's component.
    *
    * Scale shape: each round is two min-aggregate + hash-join passes
    * (shuffle on node id, constant aggregation state per node — see
    * [[ccLargeStar]] for why a hub's neighborhood is never collected into
    * one buffer) over the current edge set; the edge set only shrinks toward
    * the final star forest and the round count is O(log n) — the algorithm
    * of choice at the billions-of-edges regime, unlike single-hop label
    * propagation whose round count is the graph DIAMETER (a duplicate
    * *chain* of length k needs k rounds). Lineage is truncated per round
    * with a local checkpoint, the standard Spark pattern for iterative
    * plans (swap for a reliable checkpoint dir on a real cluster).
    *
    * Convergence is detected by an order-insensitive edge-set checksum
    * (count + sum of pair hashes) — one tiny driver-side tuple per round,
    * never the edge data itself. Non-convergence within `maxRounds` THROWS:
    * extracting components from a non-fixpoint edge set would return
    * silently-wrong labels, and O(log n) rounds means the default 25 covers
    * ~2^33 nodes — hitting the cap signals something structurally wrong, not
    * a need for patience.
    */
  /** One large-star round: for every node, link its LARGER neighbors to the
    * minimum of its neighborhood (incl. itself) — shrinks tall chains fast.
    *
    * The neighborhood minimum is a plain combinable MIN aggregate joined
    * back to the neighbor rows — never a collected neighbor array. The
    * earlier `collect_set(v)` form built a hub node's ENTIRE neighborhood
    * in one aggregation task's buffer (a single group's ObjectHashAggregate
    * buffer cannot spill) — the same defect class as the pre-r18 LSH
    * banding shape, except no cap may drop the group here (correctness
    * needs every edge, and near-dup graphs produce exactly such hubs: a
    * spam cluster is a clique). MIN keeps constant state per group and the
    * hub's rows just stream through the hash join (build side = one
    * (node, min) row per key, so bucket skew cannot blow up the build). */
  private[graft] def ccLargeStar(e: DataFrame): DataFrame = {
    // symmetric closure via explode, not self-union: a union whose branch
    // reuses the input's attributes unaliased trips Union's constraint
    // rewrite (AttributeMap miss: "key not found") on constraint-rich
    // inputs such as spark.range-derived edges (DedupSpec's hub-and-chains
    // test)
    val nbrs = e.select(explode(array(
        struct(col("u").as("u"), col("v").as("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
    val mins = nbrs.groupBy(col("u")).agg(least(col("u"), min(col("v"))).as("m"))
    nbrs.join(mins.hint("shuffle_hash"), Seq("u"))
      .filter(col("v") > col("u"))
      .select(col("m").as("u"), col("v"))
      .distinct()
  }

  /** One small-star round: for every node, link its SMALLER neighbors (and
    * itself) to the minimum among them — flattens local stars. Same
    * min-agg + hash-join shape as [[ccLargeStar]], for the same hub-node
    * memory reason (edges are canonical u < v, so grouping by v sees every
    * smaller neighbor). */
  private[graft] def ccSmallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy(col("v")).agg(min(col("u")).as("m"))
    // members per group v are (nu \ {m}) ∪ {v}: every group has exactly one
    // u == m row (edges are distinct), so that row carries the {v} member
    // instead of being dropped — one join + one projection, no union (a
    // union branch here tripped Union's constraint rewrite on
    // constraint-rich inputs such as spark.range-derived edges)
    e.join(mins.hint("shuffle_hash"), Seq("v"))
      .select(col("m").as("u"),
        when(col("u") === col("m"), col("v")).otherwise(col("u")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  def connectedComponents(
      pairs: DataFrame,
      maxRounds: Int = 25,
      checkpointDir: Option[String] = None): DataFrame = {
    // canonical undirected edges u < v
    var edges = truncateLineage(pairs
      .select(least(col("id_a"), col("id_b")).as("u"), greatest(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull)
      .distinct(), checkpointDir)

    // decimal accumulator: a long sum of 64-bit hashes overflows (ANSI throws)
    def checksum(e: DataFrame): (Long, BigDecimal) = {
      val r = e.agg(count(lit(1)), sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).head()
      (r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
    }

    var prev = checksum(edges)
    var round = 0
    var converged = prev._1 == 0L
    while (!converged && round < maxRounds) {
      edges = truncateLineage(ccSmallStar(ccLargeStar(edges)), checkpointDir)
      val cur = checksum(edges)
      converged = cur == prev
      prev = cur
      round += 1
    }
    require(converged,
      s"connectedComponents did not converge in maxRounds=$maxRounds rounds " +
        "(the star-forest extraction from a non-fixpoint edge set would label components " +
        "wrongly; raise maxRounds — the round count is O(log n))")
    // Fixpoint is a star forest: u = component minimum for every edge.
    edges.select(col("v").as("id"), col("u").as("component"))
      .union(edges.select(col("u").as("id"), col("u").as("component")).distinct())
  }

  /** Deterministic keep/drop verdict from near-dup pairs: keep exactly the
    * smallest id of each CONNECTED COMPONENT of the pair graph (true
    * transitive closure via [[connectedComponents]] — a doc that matches
    * only larger-id docs is still dropped when some chain links it to a
    * smaller one). */
  def dropVerdicts(pairs: DataFrame, checkpointDir: Option[String] = None): DataFrame =
    connectedComponents(pairs, checkpointDir = checkpointDir)
      .filter(col("component") =!= col("id"))
      .select(col("id").as("drop_id"))
      .distinct()
}
