package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Hashing, TextFunctions}
import graft.operators.{Dedup, SegmentEm, Wordpiece}
import QueryRegistry.table

/** Corpus-curation lanes a training-data pipeline runs between raw ingest
  * and batch assembly: sliding-window document chunking, event
  * sessionization, character-distribution quality stats, asymmetric
  * containment near-dup, deterministic per-group sampling, a padding-waste
  * audit for length-bucketed batching, the BPE merge-learning pair count,
  * per-language calibrated quality admission, token-budget epoch planning,
  * and a fingerprint-based corpus snapshot diff. Every lane keeps the
  * repo's cross-engine conventions: log-free scores (exact integer ratios),
  * `round(x, 6)` before any filter on a double, explicit BIGINT casts over
  * DuckDB's HUGEINT `sum()`, and expressions textually identical in both
  * engines so values hash-match, not just row-count-match.
  */
object CurationQueries {

  /** q156's 80/10/10 split cutoffs over 1024 fingerprint-hash buckets —
    * the single source for the split policy (q159's export admission and
    * the q156 oracle both derive from these; transcribed copies drifted
    * silently before). */
  private[queries] val TrainCutoff = 819
  private[queries] val ValCutoff = 922

  // ---------------------------------------------------------------- q139
  /** Sliding-window document chunking (retrieval / context-window prep):
    * 40-token chunks at stride 30, trailing partial chunk kept. Purely
    * map-side — `sequence` + `explode` + `slice` per row, no shuffle at all
    * (the orderBy is presentation-only; at scale the chunks stream straight
    * to the sink partitioned as the scan read them). The md5 over the
    * joined chunk text proves chunk CONTENT is byte-identical cross-engine,
    * not merely counted. Empty docs still yield one (empty) chunk — the
    * explode_outer lesson (q131) applied at chunk granularity: a document
    * must never vanish from per-doc accounting because it is short. */
  def docChunks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    table(spark, dir, "documents")
      .select($"doc_id", TextFunctions.tokens($"text").as("t"))
      .select($"doc_id", $"t", explode(sequence(lit(1), size($"t"), lit(30))).as("s"))
      .select(
        $"doc_id",
        expr("cast((s - 1) div 30 AS INT)").as("chunk_idx"),
        size(slice($"t", $"s", lit(40))).cast("long").as("n_chunk_tokens"),
        md5(array_join(slice($"t", $"s", lit(40)), " ").cast("binary")).as("chunk_md5"))
      .orderBy($"doc_id", $"chunk_idx")
  }

  val docChunksOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
      |), c AS (
      |  SELECT doc_id, t, unnest(generate_series(1, len(t), 30)) AS s FROM toks
      |)
      |SELECT doc_id, cast((s - 1) // 30 AS INT) AS chunk_idx,
      |  cast(len(t[s:s+39]) AS BIGINT) AS n_chunk_tokens,
      |  md5(array_to_string(t[s:s+39], ' ')) AS chunk_md5
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  // ---------------------------------------------------------------- q140
  /** Batch sessionization: the classic gap-threshold reshape (new session
    * when > 30 min since the user's previous event) via lag + running sum —
    * the batch twin of the streaming session lanes (q72/q75), which use
    * state timeouts for the same semantics. ONE shuffle on user_id serves
    * both windows and the first aggregation (same partitioning); the
    * per-user summary keeps the checked output compact. At 100 TB this is
    * the shape that works: sessions never materialize as driver state, and
    * the window only ever sorts within a user's slice. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"t", $"event_id")
    val sess = QueryRegistry.events(spark, dir)
      .select($"user_id", $"event_id", unix_timestamp($"ts").as("t"))
      .withColumn("pt", lag($"t", 1).over(w))
      .withColumn("new_s", when($"pt".isNull || $"t" - $"pt" > 1800, 1).otherwise(0))
      .withColumn("session_id", sum($"new_s").over(w))
    sess.groupBy($"user_id", $"session_id")
      .agg(count(lit(1)).as("n_events"), (max($"t") - min($"t")).as("dur_s"))
      .groupBy($"user_id")
      .agg(
        count(lit(1)).as("n_sessions"),
        sum($"n_events").cast("long").as("n_events"),
        max($"n_events").as("max_session_events"),
        sum($"dur_s").cast("long").as("total_dur_s"),
        max($"dur_s").as("max_dur_s"))
      .orderBy($"user_id")
  }

  val sessionizeOracle: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch(date_trunc('second', ts))::BIGINT AS t FROM events
      |), f AS (
      |  SELECT user_id, event_id, t,
      |    CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 1800
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
      |), s AS (
      |  SELECT user_id, t,
      |    sum(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id) AS session_id
      |  FROM f
      |), g AS (
      |  SELECT user_id, session_id, count(*) AS n_events, max(t) - min(t) AS dur_s
      |  FROM s GROUP BY 1, 2
      |)
      |SELECT user_id, count(*) AS n_sessions,
      |  cast(sum(n_events) AS BIGINT) AS n_events,
      |  max(n_events) AS max_session_events,
      |  cast(sum(dur_s) AS BIGINT) AS total_dur_s,
      |  max(dur_s) AS max_dur_s
      |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q141
  /** Character-distribution quality stats: per-doc distinct character count
    * and collision probability Σ(cᵢ/m)² over the lowercased,
    * whitespace-stripped text — the log-free stand-in for character entropy
    * (collision probability is the exponential of −Rényi-2 entropy, monotone
    * against it, and an exact integer ratio, so it hash-matches where
    * `ln`-based Shannon entropy would drift an ulp between libm builds —
    * the q39/q124 argument). Gibberish and repeated-character spam score
    * high; natural text sits low.
    *
    * Plan shape: the whole computation is per-document, so it runs as ONE
    * codegen'd pass over each string ([[graft.functions.CharStatsFns]])
    * emitting one skinny struct per doc — no explode, no groupBy, no
    * shuffle except the presentation orderBy. The previous
    * `explode(split(s, "")) → groupBy(doc, ch) → groupBy(doc)` form turned
    * every corpus character into an aggregate-hash-map row (8+ s at sf0.1,
    * fatal at 100 TB); `CharStatsPlanSpec` pins the explode out of the
    * plan. The oracle keeps the relational restatement (per-position
    * unnest + two groupBys), proving the fused pass computes exactly the
    * same distribution. */
  def charStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Dedup.ensureParallelism(table(spark, dir, "documents"))
      .select($"doc_id", regexp_replace(lower($"text"), "\\s", "").as("s"))
      .filter(length($"s") > 0)
      .select($"doc_id", graft.functions.CharStatsFns.charStats($"s").as("st"))
      .select(
        $"doc_id",
        $"st.m".as("m"),
        $"st.distinct_chars".as("distinct_chars"),
        round(
          $"st.sum_c2".cast("double") /
            ($"st.m".cast("double") * $"st.m".cast("double")), 6).as("collision_p"))
      .orderBy($"doc_id")
  }

  val charStatsOracle: String =
    """WITH d AS (
      |  SELECT doc_id, regexp_replace(lower(text), '\s', '', 'g') AS s FROM documents
      |), pos AS (
      |  SELECT doc_id, s, unnest(generate_series(1, length(s))) AS i
      |  FROM d WHERE length(s) > 0
      |), ch AS (
      |  SELECT doc_id, substr(s, i, 1) AS ch FROM pos
      |), c AS (
      |  SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2
      |)
      |SELECT doc_id, cast(sum(c) AS BIGINT) AS m, count(*) AS distinct_chars,
      |  round(cast(sum(c * c) AS DOUBLE) /
      |    (cast(sum(c) AS DOUBLE) * cast(sum(c) AS DOUBLE)), 6) AS collision_p
      |FROM c GROUP BY 1 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q142
  /** Asymmetric shingle-containment near-dup: |A∩B| / |A| ≥ 0.3 — catches
    * SUBSET duplication (a document quoted inside a larger one) that
    * symmetric Jaccard (q51) dilutes below threshold. The Spark side is the
    * SCALE shape: explode distinct 3-grams, equi-join on the gram, count
    * per ordered pair — candidate generation is gram-bucketed, never
    * all-pairs, and at 100 TB the gram would be `xxhash64(gram)` to shrink
    * shuffle width (q47's note). The oracle restates it as pairwise
    * `list_intersect` over the same bounded id range, proving the join-
    * count form computes exactly the set intersection. */
  def shingleContainment(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val grams = table(spark, dir, "documents")
      .filter($"doc_id" < 200)
      .select($"doc_id", explode(Dedup.shingles($"text", 3)).as("gram"))
    val sizes = grams.groupBy($"doc_id").agg(count(lit(1)).as("n_a"))
    val inter = grams.select($"doc_id".as("id_a"), $"gram")
      .join(grams.select($"doc_id".as("id_b"), $"gram"), Seq("gram"))
      .filter($"id_a" =!= $"id_b")
      .groupBy($"id_a", $"id_b").agg(count(lit(1)).as("n_inter"))
    inter
      .join(broadcast(sizes.select($"doc_id".as("id_a"), $"n_a")), "id_a")
      .withColumn("containment", round($"n_inter".cast("double") / $"n_a", 6))
      .filter($"containment" >= 0.3)
      .select($"id_a", $"id_b", $"n_inter", $"n_a", $"containment")
      .orderBy($"containment".desc, $"id_a", $"id_b")
      .limit(100)
  }

  val shingleContainmentOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      |  FROM documents WHERE doc_id < 200
      |), grams AS (
      |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(t) - 2),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
      |  FROM toks WHERE len(t) >= 3
      |), pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    len(list_intersect(a.g, b.g)) AS n_inter, len(a.g) AS n_a
      |  FROM grams a, grams b
      |  WHERE a.doc_id != b.doc_id AND len(list_intersect(a.g, b.g)) > 0
      |)
      |SELECT id_a, id_b, cast(n_inter AS BIGINT) AS n_inter,
      |  cast(n_a AS BIGINT) AS n_a,
      |  round(cast(n_inter AS DOUBLE) / n_a, 6) AS containment
      |FROM pairs
      |WHERE round(cast(n_inter AS DOUBLE) / n_a, 6) >= 0.3
      |ORDER BY containment DESC, id_a, id_b LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- q143
  /** Deterministic k-per-group sample: rank by md5 of the id within each
    * source and keep the first 5 — a seeded reservoir sample that is (a)
    * reproducible across runs and engines (md5 is the shared determinism
    * primitive, q43), (b) uniform because md5 order is independent of
    * id order, and (c) one window shuffle on a key with bounded groups.
    * This is how an eval/holdout split gets carved from a 100 TB corpus
    * without a global sort: the rank prunes to k·|groups| rows before
    * anything wide happens. */
  def groupSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"source")
      .orderBy(md5($"doc_id".cast("string").cast("binary")), $"doc_id")
    table(spark, dir, "documents")
      .select($"source", $"doc_id")
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 5)
      .orderBy($"source", $"rk")
  }

  val groupSampleOracle: String =
    """SELECT source, doc_id, cast(rk AS INT) AS rk FROM (
      |  SELECT source, doc_id,
      |    row_number() OVER (
      |      PARTITION BY source
      |      ORDER BY md5(cast(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM documents
      |) WHERE rk <= 5 ORDER BY source, rk""".stripMargin

  /** Power-of-two length bucket, shared verbatim by both engines. */
  private val BucketCase =
    """CASE WHEN n_tokens <= 16 THEN 16 WHEN n_tokens <= 32 THEN 32
      | WHEN n_tokens <= 64 THEN 64 WHEN n_tokens <= 128 THEN 128
      | WHEN n_tokens <= 256 THEN 256 WHEN n_tokens <= 512 THEN 512
      | ELSE 1024 END""".stripMargin.replace("\n", "")

  // ---------------------------------------------------------------- q144
  /** Padding-waste audit for length-bucketed batching: assign each document
    * to the smallest power-of-two token bucket and measure what fraction of
    * every batch would be pad tokens — the number that decides bucket
    * boundaries before a packing run (q59 is the packer; this is its
    * planning query). Map-side bucket math + one tiny aggregation; the
    * CASE ladder is a shared string constant so the bucket boundaries
    * cannot drift between the Spark plan and the oracle. */
  def paddingWaste(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    table(spark, dir, "documents")
      .select(TextFunctions.tokenCount($"text").as("n_tokens"))
      .withColumn("bucket", expr(BucketCase))
      .groupBy($"bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tokens").cast("long").as("sum_tokens"),
        sum($"bucket" - $"n_tokens").cast("long").as("padding_waste"),
        round(
          sum($"bucket" - $"n_tokens").cast("double") /
            sum($"bucket").cast("double"), 6).as("waste_frac"))
      .orderBy($"bucket")
  }

  val paddingWasteOracle: String =
    s"""WITH t AS (
       |  SELECT cast(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
       |  FROM documents
       |), b AS (
       |  SELECT n_tokens, $BucketCase AS bucket FROM t
       |)
       |SELECT bucket, count(*) AS n_docs,
       |  cast(sum(n_tokens) AS BIGINT) AS sum_tokens,
       |  cast(sum(bucket - n_tokens) AS BIGINT) AS padding_waste,
       |  round(cast(sum(bucket - n_tokens) AS DOUBLE) /
       |    cast(sum(bucket) AS DOUBLE), 6) AS waste_frac
       |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q149
  /** BPE merge-learning step: the adjacent symbol-pair frequencies a
    * byte-pair-encoding trainer computes each round, here over the initial
    * (character-level) segmentation — pair counts weighted by word
    * frequency. The scale shape is the point: the corpus-sized work is ONE
    * token explode + word groupBy (exactly q46's vocabulary build); the
    * quadratic-looking pair explosion runs over the POST-AGG word-frequency
    * table, which is Zipf-bounded vocabulary, not corpus — at 100 TB the
    * vocab table is millions of rows where the corpus is trillions of
    * tokens, so each merge round costs one vocab-sized map + a skinny pair
    * aggregation. Single-char words carry no pair and are filtered at the
    * scan. */
  def bpePairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wordFreq = table(spark, dir, "documents")
      .select(explode(TextFunctions.tokens($"text")).as("word"))
      .filter(length($"word") >= 2)
      .groupBy($"word").agg(count(lit(1)).as("wc"))
    wordFreq
      .select($"word", $"wc",
        explode(sequence(lit(1), length($"word") - 1)).as("i"))
      .select(
        concat(expr("substr(word, i, 1)"), expr("substr(word, i + 1, 1)")).as("pair"),
        $"wc")
      .groupBy($"pair")
      .agg(sum($"wc").cast("long").as("n_merges"))
      .orderBy($"n_merges".desc, $"pair")
      .limit(50)
  }

  val bpePairsOracle: String =
    """WITH w AS (
      |  SELECT u.word FROM documents,
      |  LATERAL (SELECT unnest(string_split_regex(trim(text), '\s+')) AS word) u
      |), wf AS (
      |  SELECT word, count(*) AS wc FROM w WHERE length(word) >= 2 GROUP BY word
      |), p AS (
      |  SELECT substr(word, i, 1) || substr(word, i + 1, 1) AS pair, wc
      |  FROM wf, LATERAL (SELECT unnest(generate_series(1, length(word) - 1)) AS i) g
      |)
      |SELECT pair, cast(sum(wc) AS BIGINT) AS n_merges
      |FROM p GROUP BY pair ORDER BY n_merges DESC, pair LIMIT 50""".stripMargin

  // ---------------------------------------------------------------- q162
  /** Full BPE tokenizer TRAINING (q149 computes one round's pair counts;
    * this lane runs the whole merge loop). The scale split is the classic
    * one (Sennrich et al. 2016): the corpus-sized work is ONE token explode
    * + word groupBy (the q46 vocabulary plan); training then operates on
    * the word-frequency DICT, capped to the top `BpeMaxWords` by
    * (frequency, word) — a bounded driver pull BY CONSTRUCTION, same
    * contract as the IVF centroid and Bloom word pulls — and the merge
    * loop is a pure function (`operators/BpeTrain.train`). At 100 TB the
    * dict agg shuffles once and everything after is O(maxWords · wordLen)
    * on the driver; nothing re-reads the corpus. The oracle replays every
    * round in DuckDB: pair counts, (count DESC, lhs, rhs) argmax, and
    * greedy left-to-right application via a run-parity window trick
    * (consecutive candidate starts alternate take/skip), so the merge
    * table — ranks, pairs, and weighted support — is verified exactly,
    * not just counted. */
  private val BpeMaxWords = 300
  private val BpeMaxMerges = 8

  private def bpeDict(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    table(spark, dir, "documents")
      .select(explode(TextFunctions.tokens(lower($"text"))).as("word"))
      .filter(length($"word") > 0)
      .groupBy($"word").agg(count(lit(1)).as("wc"))
  }

  /** Train merges from a (word, wc) dict frame — ONE definition of the
    * top-dict pull + trainer call, shared by the q162 train lane and the
    * q163 encode lane (a transcribed copy could silently desync them). */
  private def bpeMergesOf(dict: DataFrame): Vector[graft.operators.BpeTrain.Merge] = {
    import dict.sparkSession.implicits._
    val top = dict.orderBy($"wc".desc, $"word").limit(BpeMaxWords)
      .as[(String, Long)].collect()
    graft.operators.BpeTrain.train(top.toSeq, BpeMaxMerges)
  }

  /** Train-once memo of the merge list (≤ [[BpeMaxMerges]] entries — see
    * [[graft.operators.ArtifactStore]]): q162/q163/q183/q208 all need the
    * same trained tokenizer; the first lane to run trains it, the rest
    * replay the cached vector. The `dict` thunk is only evaluated on a
    * miss, so memo hits skip the top-dict pull AND the dict aggregation
    * when the caller built the dict solely for training. */
  private def bpeMergesCached(
      dir: String, dict: => DataFrame): Vector[graft.operators.BpeTrain.Merge] =
    graft.operators.ArtifactStore.cached("bpe_merges_w300_m8", dir)(bpeMergesOf(dict))

  private def bpeMerges(spark: SparkSession, dir: String): Vector[graft.operators.BpeTrain.Merge] =
    bpeMergesCached(dir, bpeDict(spark, dir))

  def bpeTrainLane(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bpeMerges(spark, dir)
      .map(m => (m.rank, m.left, m.right, m.left + m.right, m.count))
      .toDF("rank", "lhs", "rhs", "merged", "pair_count")
      .orderBy($"rank")
  }

  // ---------------------------------------------------------------- q208
  /** Tokenizer-artifact PERSISTENCE round trip (the q207 pattern for the
    * BPE trainer): the q162 merge table written through the fixedwidth
    * sink and read back as the lane's answer, against the oracle's full
    * from-corpus merge-loop replay — certifying that a persisted
    * tokenizer reloads value-identically (ranks, pieces, AND weighted
    * support), which is what lets a 100 TB deployment train once and ship
    * the artifact to every encode consumer. Strings are space-padded by
    * the format and right-trimmed on read; pieces are whitespace-free by
    * construction (tokens split on \s+), so the trip is lossless. Widths:
    * a rank-k merge is ≤ k+1 chars, so 16/16/32 leaves ≥6× headroom and
    * strictWidth turns any future config change that breaks the bound
    * into a loud write error. */
  private val bpeArtifactLayout = Seq(
    graft.sources.fixedwidth.FieldSpec("rank", "int", 0, 4),
    graft.sources.fixedwidth.FieldSpec("lhs", "string", 4, 16),
    graft.sources.fixedwidth.FieldSpec("rhs", "string", 20, 16),
    graft.sources.fixedwidth.FieldSpec("merged", "string", 36, 32),
    graft.sources.fixedwidth.FieldSpec("pair_count", "long", 68, 12))

  def bpeArtifact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = QueryRegistry.scratch(dir, "bpe_merges_fw")
    val fieldsOpt =
      graft.sources.fixedwidth.FixedWidthOptions.renderFields(bpeArtifactLayout)
    bpeMerges(spark, dir)
      .map(m => (m.rank, m.left, m.right, m.left + m.right, m.count))
      .toDF("rank", "lhs", "rhs", "merged", "pair_count")
      .write.format("fixedwidth").option("fields", fieldsOpt)
      .option("strictWidth", "true")
      .mode("overwrite").save(out)
    spark.read.format("fixedwidth").option("fields", fieldsOpt).load(out)
      .select($"rank", $"lhs", $"rhs", $"merged", $"pair_count")
      .orderBy($"rank")
  }

  /** Oracle-side round generator. `pos` explodes a segmentation table into
    * (word, position, piece, next-piece); the apply block marks candidate
    * starts, groups consecutive runs, takes alternate starts (greedy
    * left-to-right), drops consumed successors, and reassembles the piece
    * list. MATERIALIZED pins each reused CTE to one evaluation — DuckDB
    * inlines by default, which re-ran the whole chain per reference
    * (measured 43 s → 0.2 s on the encode oracle at sf0.01). */
  private def bpePosCte(sfx: String, inSeg: String): String =
    s"""pos$sfx AS MATERIALIZED (
       |  SELECT word, wc, g.i, pieces[g.i] AS p, pieces[g.i + 1] AS pn
       |  FROM $inSeg, LATERAL (SELECT unnest(generate_series(1, len(pieces))) AS i) g
       |)""".stripMargin

  private def bpeApplyCtes(sfx: String, best: String): String =
    s"""cand$sfx AS (
       |  SELECT s.word, s.wc, s.i, s.p, s.pn,
       |    coalesce(s.p = x.a AND s.pn = x.b, false) AS is_cand
       |  FROM pos$sfx s LEFT JOIN $best x ON true
       |), runs$sfx AS (
       |  SELECT *, CASE WHEN is_cand
       |    THEN i - row_number() OVER (PARTITION BY word, is_cand ORDER BY i) END AS grp
       |  FROM cand$sfx
       |), take$sfx AS (
       |  SELECT *, is_cand AND
       |    (row_number() OVER (PARTITION BY word, grp ORDER BY i) % 2 = 1) AS take
       |  FROM runs$sfx
       |), cons$sfx AS (
       |  SELECT *, coalesce(lag(take) OVER (PARTITION BY word ORDER BY i), false) AS consumed
       |  FROM take$sfx
       |), seg$sfx AS MATERIALIZED (
       |  SELECT word, wc,
       |    list(CASE WHEN take THEN p || pn ELSE p END ORDER BY i) AS pieces
       |  FROM cons$sfx WHERE NOT consumed GROUP BY word, wc
       |)""".stripMargin

  private def bpeTrainRound(r: Int): String = {
    val in = if (r == 1) "seg0" else s"seg${r - 1}"
    s"""${bpePosCte(r.toString, in)}, pc$r AS (
       |  SELECT p AS a, pn AS b, sum(wc) AS n FROM pos$r WHERE pn IS NOT NULL GROUP BY 1, 2
       |), best$r AS MATERIALIZED (
       |  SELECT a, b, cast(n AS BIGINT) AS n FROM pc$r ORDER BY n DESC, a, b LIMIT 1
       |), ${bpeApplyCtes(r.toString, s"best$r")}""".stripMargin
  }

  private val bpeBaseCtes: String =
    s"""w AS (
       |  SELECT u.word FROM documents,
       |  LATERAL (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word) u
       |  WHERE length(u.word) > 0
       |), wf AS MATERIALIZED (
       |  SELECT word, count(*) AS wc FROM w GROUP BY word
       |), cap AS (
       |  SELECT word, wc FROM wf ORDER BY wc DESC, word LIMIT $BpeMaxWords
       |), seg0 AS MATERIALIZED (
       |  SELECT word, wc,
       |    list_transform(generate_series(1, length(word)), i -> substr(word, i, 1)) AS pieces
       |  FROM cap
       |)""".stripMargin

  val bpeTrainOracle: String = {
    val rounds = (1 to BpeMaxMerges).map(bpeTrainRound).mkString(", ")
    val union = (1 to BpeMaxMerges).map { r =>
      s"SELECT cast($r AS INT) AS rank, a AS lhs, b AS rhs, a || b AS merged, n AS pair_count FROM best$r"
    }.mkString("\n  UNION ALL ")
    s"WITH $bpeBaseCtes, $rounds\nSELECT * FROM (\n  $union\n) ORDER BY rank"
  }

  // ---------------------------------------------------------------- q163
  /** Encoding under the TRAINED merges — the lane q158 (encode under a
    * given vocab) could not provide: subword segmentation of the whole
    * corpus with merges learned by q162's loop, reported as the top-40
    * subword frequencies. The scale shape: encoding runs over the DISTINCT
    * word table (vocab-sized, Zipf-bounded — millions of rows at 100 TB
    * where the corpus is trillions of tokens), each word encoded once via
    * the broadcast 8-entry merge list; corpus weights arrive as the word
    * counts already aggregated by the one corpus shuffle. The per-word
    * encode is a Scala UDF deliberately: it runs O(vocab) times, not
    * O(corpus), so codegen pressure is irrelevant and the pure function is
    * shared verbatim with the trainer (spec-tested against the oracle's
    * SQL replay of the same greedy semantics). */
  def bpeEncodeLane(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // ONE corpus word-count aggregation serves both consumers — the bounded
    // top-dict pull that trains the merges AND the full-dict encode fan-out.
    // Persisted for the duration of THIS lane only: the encode result is
    // materialized eagerly (bounded — limit(40) by construction) so the
    // cache can be released in the same call, instead of leaking a cached
    // table per invocation for any caller that isn't the harness (which
    // clears caches between lanes anyway).
    val dict = bpeDict(spark, dir).persist()
    try {
      val merges = bpeMergesCached(dir, dict).map(m => (m.left, m.right))
      val bc = spark.sparkContext.broadcast(merges)
      val encodeWord = udf((w: String) => graft.operators.BpeTrain.encode(w, bc.value))
      val result = dict
        .select(explode(encodeWord($"word")).as("token"), $"wc")
        .groupBy($"token").agg(sum($"wc").cast("long").as("n_occ"))
        .orderBy($"n_occ".desc, $"token").limit(40)
      val rows = result.collect() // ≤ 40 rows — the limit above bounds it
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), result.schema)
    } finally dict.unpersist(blocking = false)
  }

  val bpeEncodeOracle: String = {
    val rounds = (1 to BpeMaxMerges).map(bpeTrainRound).mkString(", ")
    val enc0 =
      """sege0 AS MATERIALIZED (
        |  SELECT word, wc,
        |    list_transform(generate_series(1, length(word)), i -> substr(word, i, 1)) AS pieces
        |  FROM wf
        |)""".stripMargin
    val encRounds = (1 to BpeMaxMerges).map { r =>
      val in = if (r == 1) "sege0" else s"sege${r - 1}"
      s"${bpePosCte(s"e$r", in)}, ${bpeApplyCtes(s"e$r", s"best$r")}"
    }.mkString(", ")
    s"""WITH $bpeBaseCtes, $rounds, $enc0, $encRounds
       |SELECT piece AS token, cast(sum(wc) AS BIGINT) AS n_occ
       |FROM (SELECT unnest(pieces) AS piece, wc FROM sege$BpeMaxMerges)
       |GROUP BY 1 ORDER BY n_occ DESC, token LIMIT 40""".stripMargin
  }

  // ---------------------------------------------------------------- q183
  /** Tokenizer fertility per language — the tokenizer-EQUITY audit run on
    * every multilingual pretraining corpus: under the q162-trained BPE,
    * how many subword tokens does each language pay per word, and how many
    * characters ride in each token? A language with high fertility gets
    * fewer effective context tokens and more compute per character — the
    * standard argument for vocabulary rebalancing.
    *
    * Scale shape: ONE corpus pass builds per-(lang, word) counts
    * (persisted for the lane, released eagerly — the q163 pattern); the
    * corpus-wide dict folds from it, training pulls the bounded top dict,
    * and the encode fan-out runs over DISTINCT words (vocab-sized,
    * Zipf-bounded) exactly as q163 argues. The fertility aggregate is
    * integer sums and exact integer-ratio doubles — no transcendentals,
    * bit-identical cross-engine. */
  def bpeFertility(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Dedup.ensureParallelism(table(spark, dir, "documents"))
      .select($"lang", explode(TextFunctions.tokens(lower($"text"))).as("word"))
      .filter(length($"word") > 0)
      .groupBy($"lang", $"word").agg(count(lit(1)).as("c"))
      .persist()
    try {
      val dict = base.groupBy($"word").agg(sum($"c").as("wc"))
      val merges = bpeMergesCached(dir, dict).map(m => (m.left, m.right))
      val bc = spark.sparkContext.broadcast(merges)
      val encodeWord = udf((w: String) => graft.operators.BpeTrain.encode(w, bc.value))
      val ntok = dict.select($"word", size(encodeWord($"word")).as("ntok"))
      val result = base.join(ntok, "word")
        .groupBy($"lang")
        .agg(sum($"c").as("n_words"),
          sum($"c" * length($"word")).cast("long").as("n_chars"),
          sum($"c" * $"ntok").cast("long").as("n_subtokens"))
        .select($"lang", $"n_words", $"n_chars", $"n_subtokens",
          round($"n_subtokens".cast("double") / $"n_words".cast("double"), 6)
            .as("tokens_per_word"),
          round($"n_chars".cast("double") / $"n_subtokens".cast("double"), 6)
            .as("chars_per_token"))
        .orderBy($"lang")
      val rows = result.collect() // one row per language — bounded
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), result.schema)
    } finally base.unpersist(blocking = false)
  }

  val bpeFertilityOracle: String = {
    val rounds = (1 to BpeMaxMerges).map(bpeTrainRound).mkString(", ")
    val enc0 =
      """sege0 AS MATERIALIZED (
        |  SELECT word, wc,
        |    list_transform(generate_series(1, length(word)), i -> substr(word, i, 1)) AS pieces
        |  FROM wf
        |)""".stripMargin
    val encRounds = (1 to BpeMaxMerges).map { r =>
      val in = if (r == 1) "sege0" else s"sege${r - 1}"
      s"${bpePosCte(s"e$r", in)}, ${bpeApplyCtes(s"e$r", s"best$r")}"
    }.mkString(", ")
    s"""WITH $bpeBaseCtes, $rounds, $enc0, $encRounds, lw AS (
       |  SELECT lang, u.word, count(*) AS c
       |  FROM documents,
       |  LATERAL (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word) u
       |  WHERE length(u.word) > 0
       |  GROUP BY 1, 2
       |), nt AS (
       |  SELECT word, len(pieces) AS ntok FROM sege$BpeMaxMerges
       |)
       |SELECT lang, cast(sum(c) AS BIGINT) AS n_words,
       |  cast(sum(c * length(word)) AS BIGINT) AS n_chars,
       |  cast(sum(c * ntok) AS BIGINT) AS n_subtokens,
       |  round(sum(c * ntok)::DOUBLE / sum(c)::DOUBLE, 6) AS tokens_per_word,
       |  round(sum(c * length(word))::DOUBLE / sum(c * ntok)::DOUBLE, 6) AS chars_per_token
       |FROM lw JOIN nt USING (word)
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ---------------------------------------------------------------- q186
  /** WordPiece-style GREEDY MAXIMAL-MUNCH fertility per source — the same
    * audit as q183 but under the other published segmentation family
    * (longest-vocabulary-piece-first inference, BERT tokenizers) with a
    * frequency-derived top-24 gram vocabulary, so the two tokenizer
    * algorithms are comparable on one corpus. The oracle replays the
    * greedy scan as a recursive CTE advancing one munch per step; the
    * vocabulary cut is deterministic (count desc, gram asc — a total
    * order). Scale shape: one corpus word-count shuffle; gram ranking and
    * the encode run over the distinct-word table with the bounded top-24
    * vocab broadcast ([[graft.operators.Wordpiece]]). */
  def wordpieceFertility(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Wordpiece.fertilityByGroup(
      table(spark, dir, "documents").select($"source", $"text"), "source", "text")
      .orderBy($"source")
  }

  val wordpieceFertilityOracle: String =
    """WITH RECURSIVE toks AS (
      |  SELECT source, u.tok
      |  FROM documents,
      |  LATERAL (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok) u
      |), wf AS (
      |  SELECT tok AS word, count(*) AS wc FROM toks GROUP BY 1
      |), grams AS (
      |  SELECT g, cast(sum(wc) AS BIGINT) AS cnt FROM (
      |    SELECT substring(word, i.i, l.l) AS g, wc
      |    FROM wf
      |    CROSS JOIN (SELECT unnest([2, 3, 4]) AS l) l
      |    CROSS JOIN LATERAL (SELECT unnest(generate_series(1, length(word) - l.l + 1)) AS i) i
      |    WHERE length(word) >= l.l
      |  ) GROUP BY 1
      |), vocab AS (
      |  SELECT g FROM grams ORDER BY cnt DESC, g LIMIT 24
      |), seg AS (
      |  SELECT word, 1 AS pos, 0 AS ntok FROM wf
      |  UNION ALL
      |  SELECT word,
      |    pos + CASE WHEN pos + 3 <= length(word) AND substring(word, pos, 4) IN (SELECT g FROM vocab) THEN 4
      |               WHEN pos + 2 <= length(word) AND substring(word, pos, 3) IN (SELECT g FROM vocab) THEN 3
      |               WHEN pos + 1 <= length(word) AND substring(word, pos, 2) IN (SELECT g FROM vocab) THEN 2
      |               ELSE 1 END,
      |    ntok + 1
      |  FROM seg WHERE pos <= length(word)
      |), pieces AS (
      |  SELECT word, ntok FROM seg WHERE pos = length(word) + 1
      |), src_words AS (
      |  SELECT source, tok AS word, count(*) AS c FROM toks GROUP BY 1, 2
      |)
      |SELECT source, cast(sum(c) AS BIGINT) AS n_words,
      |  cast(sum(c * p.ntok) AS BIGINT) AS n_subtokens,
      |  round(sum(c * p.ntok)::DOUBLE / sum(c)::DOUBLE, 6) AS fertility
      |FROM src_words JOIN pieces p USING (word)
      |GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q189
  /** Subword vocabulary induction by hard-EM Viterbi segmentation
    * ([[graft.operators.SegmentEm]]) — the SentencePiece-family trainer
    * next to BPE (q162) and greedy maximal-munch (q186): two E/M rounds
    * over the distinct-word dict under the integer-exact MDL objective
    * (fewest pieces, then max count product, then lex path). The oracle
    * ENUMERATES every segmentation per word in a recursive CTE (paths ≤
    * 2^(len−1), bounded at oracle scale) and replays both rounds'
    * argmaxes with HUGEINT products, so the full EM trajectory — not
    * just the final counts — is what the hash certifies. The engine side
    * is the O(len·maxLen) DP, fuzz-proven equal to enumeration in
    * `SegmentEmSpec`.
    *
    * ORACLE SCALE BOUND, now DP-PRUNED (r11): unpruned, the
    * all-single-char path's HUGEINT product Π count(char) overflowed
    * INT128 at sf0.1 (measured). The oracle now computes each word's
    * minimal piece count first (`mseg`/`minp`, a product-free BFS) and
    * enumerates only paths that can finish at that optimum — the argmax
    * order (ntok ASC first) makes this value-preserving, and products
    * multiply at most minp factors of (mostly multi-char, smaller)
    * counts. Verified passing at sf0.1 (engine vs pruned oracle,
    * hash-exact); the remaining ceiling is a word whose MINIMAL
    * segmentation is many rare-substring-free chars with huge per-char
    * counts — loud DuckDB overflow again if ever hit, never a wrong
    * engine answer. The engine BigInt is unbounded. */
  def segmentEmTrain(spark: SparkSession, dir: String): DataFrame = {
    SegmentEm.train(table(spark, dir, "documents").select(col("text")), "text")
  }

  val segmentEmTrainOracle: String = {
    // DP-BOUND PRUNING (the r10 VERDICT item): enumerate ONLY paths that
    // can still finish within the word's minimal piece count. The argmax
    // order is (ntok ASC, prod DESC, path ASC), so non-minimal paths never
    // win — but unpruned they were still ENUMERATED, and the all-single-
    // char path's Π count(char) overflowed HUGEINT at sf0.1 (measured:
    // INT128 overflow after 0.4 s). `mseg` is a piece-count-only BFS with
    // UNION dedup (≤ len² distinct (pos, ntok) rows per word, no products),
    // `minp` is its per-word optimum, and the enumerating CTE extends a
    // prefix only while ntok stays below it — products now multiply at
    // most minp factors, which is what lifts the verify-scale ceiling.
    def minPieces(msegName: String, minpName: String, vocab: String): String =
      s"""$msegName AS (
         |  SELECT word, 1 AS pos, 0 AS ntok FROM wf
         |  UNION
         |  SELECT s.word, s.pos + length(v.p), s.ntok + 1
         |  FROM $msegName s JOIN $vocab v
         |    ON s.pos + length(v.p) - 1 <= length(s.word)
         |   AND v.p = substring(s.word, s.pos, length(v.p))
         |  WHERE s.pos <= length(s.word)
         |), $minpName AS (
         |  SELECT word, min(ntok) AS m FROM $msegName
         |  WHERE pos = length(word) + 1 GROUP BY word
         |)""".stripMargin
    def seg(name: String, vocab: String, minpName: String): String =
      s"""$name AS (
         |  SELECT word, 1 AS pos, 1::HUGEINT AS prod, 0 AS ntok, '' AS path FROM wf
         |  UNION ALL
         |  SELECT s.word, s.pos + length(v.p), s.prod * v.c, s.ntok + 1,
         |         s.path || chr(1) || v.p
         |  FROM $name s JOIN $vocab v
         |    ON s.pos + length(v.p) - 1 <= length(s.word)
         |   AND v.p = substring(s.word, s.pos, length(v.p))
         |  JOIN $minpName m ON m.word = s.word AND s.ntok < m.m
         |  WHERE s.pos <= length(s.word)
         |)""".stripMargin
    def best(name: String, segName: String): String =
      s"""$name AS (
         |  SELECT word, path FROM (
         |    SELECT word, path,
         |      row_number() OVER (PARTITION BY word
         |        ORDER BY ntok ASC, prod DESC, path ASC) AS rn
         |    FROM $segName WHERE pos = length(word) + 1
         |  ) WHERE rn = 1
         |)""".stripMargin
    def cnt(name: String, bestName: String, cType: String): String =
      s"""$name AS (
         |  SELECT piece AS p, cast(sum(wc) AS $cType) AS c FROM (
         |    SELECT b.word, unnest(string_split(substring(b.path, 2), chr(1))) AS piece
         |    FROM $bestName b
         |  ) JOIN wf USING (word) GROUP BY 1
         |)""".stripMargin
    s"""WITH RECURSIVE toks AS (
       |  SELECT u.tok FROM documents,
       |  LATERAL (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok) u
       |), wf AS (
       |  SELECT tok AS word, cast(count(*) AS HUGEINT) AS wc FROM toks
       |  WHERE length(tok) > 0 GROUP BY 1
       |), subs AS (
       |  SELECT p, cast(sum(wc) AS HUGEINT) AS c FROM (
       |    SELECT substring(word, i.i, l.l) AS p, wc
       |    FROM wf CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS l) l
       |    CROSS JOIN LATERAL (
       |      SELECT unnest(generate_series(1, length(word) - l.l + 1)) AS i) i
       |    WHERE length(word) >= l.l
       |  ) GROUP BY 1
       |), v0 AS (
       |  SELECT p, c FROM subs WHERE length(p) = 1 OR c >= 2
       |), ${minPieces("mseg1", "minp1", "v0")},
       |${seg("seg1", "v0", "minp1")}, ${best("best1", "seg1")}, ${cnt("c1", "best1", "HUGEINT")},
       |v1 AS (
       |  SELECT p, c FROM c1 WHERE length(p) > 1
       |  UNION ALL
       |  SELECT a.p, greatest(coalesce(c1.c, 0::HUGEINT), 1::HUGEINT) AS c
       |  FROM (SELECT DISTINCT substring(word, i.i, 1) AS p
       |        FROM wf CROSS JOIN LATERAL (
       |          SELECT unnest(generate_series(1, length(word))) AS i) i) a
       |  LEFT JOIN c1 ON a.p = c1.p AND length(c1.p) = 1
       |), ${minPieces("mseg2", "minp2", "v1")},
       |${seg("seg2", "v1", "minp2")}, ${best("best2", "seg2")}, c2 AS (
       |  SELECT piece, cast(sum(wc) AS BIGINT) AS cnt FROM (
       |    SELECT b.word, unnest(string_split(substring(b.path, 2), chr(1))) AS piece
       |    FROM best2 b
       |  ) JOIN wf USING (word) GROUP BY 1
       |)
       |SELECT cast(row_number() OVER (ORDER BY cnt DESC, piece) AS INT) AS rank, piece, cnt
       |FROM c2 ORDER BY cnt DESC, piece LIMIT 40""".stripMargin
  }

  // ---------------------------------------------------------------- q190
  /** k-anonymity audit over quasi-identifiers — the privacy-engineering
    * gate a corpus release runs before publication: group documents by the
    * QI tuple (lang, source, length-bucket), count groups smaller than
    * k = 5 (each such group's documents are re-identifiable by their QI
    * combination and must be suppressed or generalized), and report the
    * per-language suppression cost. All integer counts plus one
    * integer-ratio double — bit-identical cross-engine. Scale shape: two
    * skinny aggregations (QI-keyed, then language-keyed) with map-side
    * partials; nothing touches document text. */
  def kAnonymityAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val groups = table(spark, dir, "documents")
      .groupBy($"lang", $"source", expr("n_chars div 100").as("len_bucket"))
      .agg(count(lit(1)).as("gsize"))
    groups.groupBy($"lang")
      .agg(count(lit(1)).as("n_groups"),
        sum(when($"gsize" < 5, 1L).otherwise(0L)).cast("long").as("n_small_groups"),
        sum(when($"gsize" < 5, $"gsize").otherwise(0L)).cast("long").as("n_suppressed"),
        sum($"gsize").cast("long").as("n_docs"))
      .withColumn("suppression_rate",
        round($"n_suppressed".cast("double") / $"n_docs".cast("double"), 6))
      .orderBy($"lang")
  }

  val kAnonymityAuditOracle: String =
    """WITH g AS (
      |  SELECT lang, source, n_chars // 100 AS len_bucket, count(*) AS gsize
      |  FROM documents GROUP BY 1, 2, 3
      |), a AS (
      |  SELECT lang, count(*) AS n_groups,
      |    cast(sum(CASE WHEN gsize < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_small_groups,
      |    cast(sum(CASE WHEN gsize < 5 THEN gsize ELSE 0 END) AS BIGINT) AS n_suppressed,
      |    cast(sum(gsize) AS BIGINT) AS n_docs
      |  FROM g GROUP BY 1
      |)
      |SELECT lang, n_groups, n_small_groups, n_suppressed, n_docs,
      |  round(n_suppressed::DOUBLE / n_docs::DOUBLE, 6) AS suppression_rate
      |FROM a ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q194
  /** Pareto frontier (2-D skyline) over quality-vs-cost: the documents no
    * other document beats on BOTH axes — alphabetic-density score
    * (maximize; q150's exact integer-ratio formula) and length in chars
    * (minimize). Multi-criteria selection without a weighting knob: the
    * frontier is what admission curves get tuned against.
    *
    * Algorithm: the 2-D skyline is one prefix-min sweep, not an O(n²)
    * domination join — group docs by score (6-dp quantized → the group
    * table is far smaller than the corpus), take each group's min length,
    * running-min over strictly-better score groups (ROWS … 1 PRECEDING),
    * and a score group survives iff its min length beats that prefix min;
    * docs join back on (score, group-min length) so exact (score, len)
    * ties all stay on the frontier (neither dominates the other). The
    * single-partition window runs over the SCORE-GROUP table only; at
    * 100 TB the sweep is the classic two-level prefix scan
    * (per-range min + broadcast boundary prefix). All values integer or
    * integer-ratio — hash-exact. */
  def paretoFrontier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = table(spark, dir, "documents")
      .select($"doc_id",
        round(
          length(regexp_replace($"text", "[^A-Za-z]", "")).cast("double") /
            greatest(length($"text"), lit(1)).cast("double"), 6).as("score"),
        length($"text").cast("long").as("len"))
    val g = scored.groupBy($"score").agg(min($"len").as("gmin"))
    val sweep = Window.orderBy($"score".desc).rowsBetween(Window.unboundedPreceding, -1)
    val frontierScores = g
      .withColumn("spmin", min($"gmin").over(sweep))
      .filter($"spmin".isNull || $"gmin" < $"spmin")
      .select($"score".as("f_score"), $"gmin")
    scored.join(broadcast(frontierScores),
        $"score" === $"f_score" && $"len" === $"gmin")
      .select($"doc_id", $"score", $"len")
      .orderBy($"score".desc, $"doc_id")
  }

  val paretoFrontierOracle: String =
    """WITH scored AS (
      |  SELECT doc_id,
      |    round(cast(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) /
      |      cast(greatest(length(text), 1) AS DOUBLE), 6) AS score,
      |    cast(length(text) AS BIGINT) AS len
      |  FROM documents
      |), g AS (
      |  SELECT score, min(len) AS gmin FROM scored GROUP BY score
      |), o AS (
      |  SELECT score, gmin,
      |    min(gmin) OVER (ORDER BY score DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS spmin
      |  FROM g
      |), f AS (
      |  SELECT score, gmin FROM o WHERE spmin IS NULL OR gmin < spmin
      |)
      |SELECT d.doc_id, d.score, d.len
      |FROM scored d JOIN f ON d.score = f.score AND d.len = f.gmin
      |ORDER BY d.score DESC, d.doc_id""".stripMargin

  // ---------------------------------------------------------------- q150
  /** Per-language calibrated quality admission: rank documents within each
    * language by an exact alphabetic-density score and keep the top 75% —
    * the thresholding step that turns raw quality scores (q41) into an
    * admission decision with a PER-GROUP calibrated cutoff, so a uniformly
    * lower-scoring language is not wiped out by one global threshold.
    * Ranking DESC with `percent_rank <= 0.75` (rather than ASC `>= 0.25`)
    * keeps singleton groups: their percent_rank is 0, and a language with
    * one document must admit it. One window shuffle on lang; at 100 TB the
    * cutoff would come from a mergeable quantile sketch (q115) broadcast
    * back as a plain filter — the window form here is the oracle-checkable
    * exact twin. */
  /** Shared scoring projection of [[quantileAdmission]] and its approx
    * variant: exact alphabetic-density (integer-ratio double, rounded). */
  private def scoredDocs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    table(spark, dir, "documents")
      .select($"doc_id", $"lang",
        round(
          length(regexp_replace($"text", "[^A-Za-z]", "")).cast("double") /
            greatest(length($"text"), lit(1)).cast("double"), 6).as("score"))
  }

  def quantileAdmission(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = scoredDocs(spark, dir)
    val w = Window.partitionBy($"lang").orderBy($"score".desc, $"doc_id")
    scored.withColumn("pr", percent_rank().over(w))
      .filter($"pr" <= 0.75)
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_admitted"),
        round(min($"score"), 6).as("min_score"),
        sum($"doc_id").cast("long").as("sum_ids"))
      .orderBy($"lang")
  }

  val quantileAdmissionOracle: String =
    """WITH s AS (
      |  SELECT doc_id, lang,
      |    round(cast(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) /
      |      cast(greatest(length(text), 1) AS DOUBLE), 6) AS score
      |  FROM documents
      |), r AS (
      |  SELECT doc_id, lang, score,
      |    percent_rank() OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS pr
      |  FROM s
      |)
      |SELECT lang, count(*) AS n_admitted, round(min(score), 6) AS min_score,
      |  cast(sum(doc_id) AS BIGINT) AS sum_ids
      |FROM r WHERE pr <= 0.75 GROUP BY lang ORDER BY lang""".stripMargin

  /** The 100 TB mode of [[quantileAdmission]]: identical output shape, but
    * the per-language cutoff comes from `percentile_approx` (a mergeable
    * KLL-style sketch carried through a partial agg — fixed-size state per
    * lang, one skinny #langs-row result) broadcast back as a PLAIN FILTER,
    * instead of ranking every document through a per-lang Window. The exact
    * variant shuffles and sorts the full corpus once per admission run; this
    * one runs two pruned passes (cutoff build + filter), both map-side
    * except the #langs-row aggregate, and the boundary differs from exact
    * only at score ties / sketch error. Plan-pinned: no Window node, the
    * cutoff joins by broadcast, and both modes must agree per-lang within
    * 10% at sf0.01 (`QuantileAdmissionPlanSpec`). */
  def quantileAdmissionApprox(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = scoredDocs(spark, dir)
    val cuts = scored.groupBy($"lang")
      .agg(percentile_approx($"score", lit(0.25), lit(10000)).as("cut"))
    scored.join(broadcast(cuts), "lang")
      .filter($"score" >= $"cut")
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_admitted"),
        round(min($"score"), 6).as("min_score"),
        sum($"doc_id").cast("long").as("sum_ids"))
      .orderBy($"lang")
  }

  /** q215 — [[quantileAdmissionApprox]] under the driver gate (the q214
    * pattern): the exact admission columns plus the deterministic
    * agreement verdict — per-language admitted counts within 10% relative
    * (the `QuantileAdmissionPlanSpec` gate; the sketch boundary differs
    * from exact only at score ties / sketch error, and at accuracy 10000
    * the cutoff is effectively exact at any per-lang volume) — which the
    * oracle pins to literal TRUE. The absolute-1 slack keeps a one-doc
    * boundary language from failing on its only possible discretization
    * step. Any drift of the approx mode past tolerance flips the boolean
    * and fails the gate. LEFT join from exact with the approx count
    * coalesced to 0: if the approx mode ever admitted zero docs for a
    * language, the violation would surface as a FALSE boolean (the
    * documented failure shape) instead of a silently missing row the
    * abs-1 slack could never apply to. */
  def quantileAdmissionAgreement(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val exact = quantileAdmission(spark, dir)
    val approx = quantileAdmissionApprox(spark, dir)
      .select($"lang", $"n_admitted".as("a_admitted"))
    exact.join(approx, Seq("lang"), "left")
      .withColumn("a_admitted", coalesce($"a_admitted", lit(0L)))
      .select($"lang", $"n_admitted", $"min_score", $"sum_ids",
        (abs($"a_admitted" - $"n_admitted").cast("double") <=
          greatest($"n_admitted".cast("double") * 0.10, lit(1.0)))
          .as("admitted_within_10pct"))
      .orderBy($"lang")
  }

  val quantileAdmissionAgreementOracle: String =
    """WITH s AS (
      |  SELECT doc_id, lang,
      |    round(cast(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) /
      |      cast(greatest(length(text), 1) AS DOUBLE), 6) AS score
      |  FROM documents
      |), r AS (
      |  SELECT doc_id, lang, score,
      |    percent_rank() OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS pr
      |  FROM s
      |)
      |SELECT lang, count(*) AS n_admitted, round(min(score), 6) AS min_score,
      |  cast(sum(doc_id) AS BIGINT) AS sum_ids, TRUE AS admitted_within_10pct
      |FROM r WHERE pr <= 0.75 GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q151
  /** Token-budget epoch planning: given a total training-token budget and
    * per-source mixture weights, compute each source's repeat factor
    * (epochs = budget share / available tokens, capped at 4 passes) and the
    * effective token count it contributes — the planning table behind every
    * "source X is seen N times" pretraining mix. Distinct from q58/q137,
    * which SAMPLE rows; this lane sizes the mix from exact aggregates. The
    * corpus-sized work is one per-source token aggregation; everything
    * after runs on the #sources-row summary (the whole-frame window is over
    * that summary, not the corpus). Weights and the weight SUM stay exact
    * integers so the double math starts from identical operands in both
    * engines. */
  def mixtureEpochs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val budget = 500000.0
    val perSource = table(spark, dir, "documents")
      .select($"source", TextFunctions.tokenCount($"text").as("n_tok"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").cast("long").as("n_tokens"))
      .withColumn("w",
        lit(1) + (coalesce(
          expr("try_cast(regexp_extract(source, '([0-9]+)', 1) AS INT)"), lit(0)) % 3))
    perSource
      .withColumn("sum_w", sum($"w").over(Window.partitionBy()))
      .withColumn("mix_frac", round($"w".cast("double") / $"sum_w".cast("double"), 6))
      .withColumn("epochs",
        round(least(lit(4.0),
          lit(budget) * $"w".cast("double") /
            ($"sum_w".cast("double") * $"n_tokens".cast("double"))), 6))
      .withColumn("eff_tokens", floor($"epochs" * $"n_tokens".cast("double")).cast("long"))
      .select($"source", $"n_docs", $"n_tokens", $"mix_frac", $"epochs", $"eff_tokens")
      .orderBy($"source")
  }

  val mixtureEpochsOracle: String =
    """WITH t AS (
      |  SELECT source, cast(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
      |  FROM documents
      |), a AS (
      |  SELECT source, count(*) AS n_docs, cast(sum(n_tok) AS BIGINT) AS n_tokens
      |  FROM t GROUP BY source
      |), w AS (
      |  SELECT *, 1 + (coalesce(try_cast(regexp_extract(source, '([0-9]+)', 1) AS INT), 0) % 3) AS w
      |  FROM a
      |), n AS (
      |  SELECT *, cast(sum(w) OVER () AS BIGINT) AS sum_w FROM w
      |), e AS (
      |  SELECT *,
      |    round(least(4.0, 500000.0 * cast(w AS DOUBLE) /
      |      (cast(sum_w AS DOUBLE) * cast(n_tokens AS DOUBLE))), 6) AS epochs
      |  FROM n
      |)
      |SELECT source, n_docs, n_tokens,
      |  round(cast(w AS DOUBLE) / cast(sum_w AS DOUBLE), 6) AS mix_frac,
      |  epochs, cast(floor(epochs * cast(n_tokens AS DOUBLE)) AS BIGINT) AS eff_tokens
      |FROM e ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q152
  /** Corpus snapshot diff (CDC between crawl versions): classify every
    * document as added / removed / modified / unchanged between two
    * snapshot views, comparing md5 FINGERPRINTS rather than text — the
    * skinny-column shape that survives 100 TB: the full-outer join shuffles
    * (id, 32-byte fp) pairs, never document bodies, and the text column is
    * pruned from everything past the fingerprint projection. The two
    * snapshots are deterministic views of the documents table (old drops
    * ids ≡1 mod 10, new drops ≡2 mod 10 and rewrites ids ≡3 mod 7), so the
    * expected class of every id is computable by eye. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = table(spark, dir, "documents")
    val old = docs.filter($"doc_id" % 10 =!= 1)
      .select($"doc_id".as("old_id"), md5($"text".cast("binary")).as("old_fp"))
    val nw = docs.filter($"doc_id" % 10 =!= 2)
      .select($"doc_id".as("new_id"),
        md5(when($"doc_id" % 7 === 3, concat($"text", lit(" v2")))
          .otherwise($"text").cast("binary")).as("new_fp"))
    old.join(nw, $"old_id" === $"new_id", "full_outer")
      .select(
        when($"old_id".isNull, "added")
          .when($"new_id".isNull, "removed")
          .when($"old_fp" =!= $"new_fp", "modified")
          .otherwise("unchanged").as("status"),
        coalesce($"old_id", $"new_id").as("doc_id"))
      .groupBy($"status")
      .agg(count(lit(1)).as("n_docs"), sum($"doc_id").cast("long").as("sum_ids"))
      .orderBy($"status")
  }

  val snapshotDiffOracle: String =
    """WITH old AS (
      |  SELECT doc_id AS old_id, md5(text) AS old_fp
      |  FROM documents WHERE doc_id % 10 != 1
      |), new AS (
      |  SELECT doc_id AS new_id,
      |    md5(CASE WHEN doc_id % 7 = 3 THEN text || ' v2' ELSE text END) AS new_fp
      |  FROM documents WHERE doc_id % 10 != 2
      |), d AS (
      |  SELECT CASE WHEN old_id IS NULL THEN 'added'
      |              WHEN new_id IS NULL THEN 'removed'
      |              WHEN old_fp != new_fp THEN 'modified'
      |              ELSE 'unchanged' END AS status,
      |    coalesce(old_id, new_id) AS doc_id
      |  FROM old FULL OUTER JOIN new ON old_id = new_id
      |)
      |SELECT status, count(*) AS n_docs, cast(sum(doc_id) AS BIGINT) AS sum_ids
      |FROM d GROUP BY status ORDER BY status""".stripMargin

  // ---------------------------------------------------------------- q156
  /** Leakage-safe train/val/test split: assignment keyed on the CONTENT
    * fingerprint (md5 of normalized text), not the row id, so every copy of
    * a duplicated document lands in the same split — the classic
    * train/test-contamination bug is splitting by row id, which strews
    * near-identical rows across the boundary. The lane measures both
    * policies on the same corpus: `leaked_fps_naive` counts fingerprints
    * whose copies straddle splits under doc_id hashing (nonzero by
    * construction), while `leaked_fps_fp` is genuinely computed and lands
    * at 0 because the split is a pure function of the fingerprint. The
    * corpus has no exact duplicates, so every 7th document re-enters under
    * a shifted id (a pure function of doc_id, built identically in both
    * engines). Scale shape: fingerprint + both hash buckets are map-side
    * expressions; the per-split stats and the two leak audits are skinny
    * (fp, split) aggregations — nothing ever shuffles document text. For
    * NEAR-duplicate safety the same split-by-representative composes with
    * the q55 connected-components output: hash the cluster rep id instead
    * of the fingerprint. 80/10/10 via 1024 buckets (819/922 cutoffs). */
  def leakageSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = table(spark, dir, "documents").select($"doc_id", $"text")
    val corpus = base.union(
      base.filter($"doc_id" % 7 === 0).select(($"doc_id" + 10000L).as("doc_id"), $"text"))
    def splitOf(bucket: Column): Column =
      when(bucket < TrainCutoff, "train").when(bucket < ValCutoff, "val").otherwise("test")
    val assigned = corpus.select(
      $"doc_id",
      TextFunctions.fingerprint($"text").as("fp"))
      .select($"doc_id", $"fp",
        splitOf(pmod(Hashing.hash64Col($"fp"), lit(1024L))).as("split_fp"),
        splitOf(pmod(Hashing.mix64Col($"doc_id"), lit(1024L))).as("split_naive"))
    def leakCount(splitCol: String, as: String): DataFrame = assigned
      .groupBy($"fp").agg(countDistinct(col(splitCol)).as("ns"))
      .filter($"ns" > 1)
      .agg(count(lit(1)).as(as))
    assigned
      .groupBy($"split_fp".as("split"))
      .agg(count(lit(1)).as("n_docs"), countDistinct($"fp").as("n_fps"))
      .crossJoin(broadcast(leakCount("split_fp", "leaked_fps_fp")))
      .crossJoin(broadcast(leakCount("split_naive", "leaked_fps_naive")))
      .orderBy($"split")
  }

  val leakageSafeSplitOracle: String = {
    val fpBucket = s"(${DuckHashSql.hash64Sql("fp")} % 1024)"
    val idBucket = s"(${DuckHashSql.mix64Sql("doc_id::HUGEINT", "0")} % 1024)"
    def splitCase(b: String) =
      s"CASE WHEN $b < $TrainCutoff THEN 'train' WHEN $b < $ValCutoff THEN 'val' ELSE 'test' END"
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
       |), f AS (
       |  SELECT doc_id, md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp FROM corpus
       |), a AS (
       |  SELECT doc_id, fp,
       |    ${splitCase(fpBucket)} AS split_fp,
       |    ${splitCase(idBucket)} AS split_naive
       |  FROM f
       |), leak AS (
       |  SELECT
       |    (SELECT count(*) FROM (SELECT fp FROM a GROUP BY fp HAVING count(DISTINCT split_fp) > 1)) AS leaked_fps_fp,
       |    (SELECT count(*) FROM (SELECT fp FROM a GROUP BY fp HAVING count(DISTINCT split_naive) > 1)) AS leaked_fps_naive
       |)
       |SELECT split_fp AS split, count(*) AS n_docs, count(DISTINCT fp) AS n_fps,
       |  leaked_fps_fp, leaked_fps_naive
       |FROM a CROSS JOIN leak
       |GROUP BY 1, leaked_fps_fp, leaked_fps_naive
       |ORDER BY split""".stripMargin
  }

  // ---------------------------------------------------------------- q160
  /** Deterministic source-interleaved training order — the "shuffle
    * quality" op: consuming a corpus grouped by source trains on long
    * same-source runs (gradient correlation), so the order is defined as
    * (round, source) where round = each doc's row_number within its source
    * under the mix64 permutation. That interleaves sources round-robin
    * with NO randomness — retry/layout-invariant like every sampling lane
    * here (the q56 argument applied to ORDER). At scale the order is a
    * write: range-partition on (round, source) and sort within partitions
    * (the q153 shard argument); nothing global-sorts. The lane AUDITS the
    * property instead of dumping the permutation: max consecutive
    * same-source run under the interleave (small by construction — bounded
    * by consecutive rounds where other sources ran dry) vs under naive
    * (source, id) order (= the whole source, the worst case). Runs are
    * computed by the classic gaps-and-islands lag/cumsum; the audit
    * windows are single-partition but the AUDIT is a diagnostic pass, not
    * the operator. */
  def sourceInterleave(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = table(spark, dir, "documents")
      .select($"doc_id", $"source")
      .withColumn("h", Hashing.mix64Col($"doc_id"))
    val perSource = Window.partitionBy($"source").orderBy($"h", $"doc_id")
    val interleaved = docs.withColumn("rr", row_number().over(perSource))
    def maxRun(df: DataFrame, order: Seq[Column], as: String): DataFrame = {
      val w = Window.orderBy(order: _*)
      df.withColumn("chg", when(lag($"source", 1).over(w) <=> $"source", 0L).otherwise(1L))
        .withColumn("island", sum($"chg").over(w))
        .groupBy($"source", $"island").agg(count(lit(1)).as("run"))
        .groupBy($"source").agg(max($"run").as(as))
    }
    val inter = maxRun(interleaved, Seq($"rr", $"source", $"doc_id"), "max_run_interleaved")
    val naive = maxRun(docs, Seq($"source", $"doc_id"), "max_run_naive")
    docs.groupBy($"source").agg(count(lit(1)).as("n_docs"))
      .join(inter, "source").join(naive, "source")
      .select($"source", $"n_docs", $"max_run_interleaved", $"max_run_naive")
      .orderBy($"source")
  }

  val sourceInterleaveOracle: String = {
    val h = DuckHashSql.signedSql(DuckHashSql.mix64Sql("doc_id::HUGEINT", "0"))
    def runs(orderBy: String, as: String) =
      s"""(SELECT source, max(run) AS $as FROM (
         |    SELECT source, island, count(*) AS run FROM (
         |      SELECT source, sum(chg) OVER (ORDER BY $orderBy) AS island FROM (
         |        SELECT source, rr, doc_id,
         |          CASE WHEN lag(source) OVER (ORDER BY $orderBy)
         |               IS NOT DISTINCT FROM source THEN 0 ELSE 1 END AS chg
         |        FROM i)
         |      ) GROUP BY 1, 2
         |    ) GROUP BY 1)""".stripMargin
    s"""WITH d AS (
       |  SELECT doc_id, source, $h AS h FROM documents
       |), i AS (
       |  SELECT doc_id, source, h,
       |    row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rr
       |  FROM d
       |), mi AS ${runs("rr, source, doc_id", "max_run_interleaved")},
       |mn AS ${runs("source, doc_id", "max_run_naive")}
       |SELECT source, count(*) AS n_docs, max_run_interleaved, max_run_naive
       |FROM i JOIN mi USING (source) JOIN mn USING (source)
       |GROUP BY source, max_run_interleaved, max_run_naive
       |ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- q171
  /** Incremental aggregate refresh — maintaining a materialized per-group
    * summary when a delta batch lands, WITHOUT rescanning the base corpus:
    * summarize the delta alone, then merge summary⊕summary by key
    * (full-outer join, coalesced additive measures). This is the exact-agg
    * twin of the mergeable-sketch lanes (q109/q115): counts and sums are
    * additive, so refresh cost is O(delta + |summary|), not O(corpus) —
    * at 100 TB the difference between a minutes-long delta job and a full
    * recompute. The lane COMPUTES via the split+merge path (base slice
    * doc_id%7≠3, delta slice =3) while the oracle aggregates the whole
    * corpus directly — hash equality proves the merge is lossless, edge
    * groups included (a group born in the delta survives via the
    * full-outer side). */
  def incrementalAggRefresh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = table(spark, dir, "documents")
      .select($"doc_id", $"source", $"lang", TextFunctions.tokenCount($"text").as("n_tok"))
    def summary(df: DataFrame) = df.groupBy($"source", $"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").cast("long").as("n_tokens"))
    val base = summary(docs.filter($"doc_id" % 7 =!= 3))
      .select($"source", $"lang", $"n_docs".as("b_docs"), $"n_tokens".as("b_tokens"))
    val delta = summary(docs.filter($"doc_id" % 7 === 3))
      .select($"source", $"lang", $"n_docs".as("d_docs"), $"n_tokens".as("d_tokens"))
    base.join(delta, Seq("source", "lang"), "full_outer")
      .select(
        $"source", $"lang",
        (coalesce($"b_docs", lit(0L)) + coalesce($"d_docs", lit(0L))).as("n_docs"),
        (coalesce($"b_tokens", lit(0L)) + coalesce($"d_tokens", lit(0L))).as("n_tokens"),
        coalesce($"d_docs", lit(0L)).as("delta_docs"))
      .orderBy($"source", $"lang")
  }

  val incrementalAggRefreshOracle: String =
    """SELECT source, lang, count(*) AS n_docs,
      |  cast(sum(cast(len(string_split_regex(trim(text), '\s+')) AS BIGINT)) AS BIGINT)
      |    AS n_tokens,
      |  cast(count(CASE WHEN doc_id % 7 = 3 THEN 1 END) AS BIGINT) AS delta_docs
      |FROM documents GROUP BY source, lang ORDER BY source, lang""".stripMargin

  /** DSIR-style data selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document by
    * how target-like its hashed n-gram profile is — the importance
    * log-ratio between a smoothed target feature distribution (here the
    * 'en' slice) and the raw-corpus distribution — and keep the top 50.
    *
    * Scale shape: ONE corpus pass explodes unigrams+bigrams, hashes each
    * into 1024 buckets (top 10 bits of the library hash — the HLL bucket
    * convention) and shuffles skinny (doc, lang, bucket) counts; that
    * table is persisted because both the bucket statistics and the
    * per-doc weights fold from it (Catalyst does not reuse common
    * subtrees). Everything downstream is vocabulary-sized: the log-ratio
    * table is ≤ 1024 rows (broadcast back), totals are one tiny aggregate,
    * and the final selection is the bounded [[graft.functions.TopKByScore]]
    * aggregator — map-side ≤ 2k candidates per task, never a global sort.
    *
    * Determinism: bucket log-ratios are ln of identical double divisions
    * (rounded to 8), per-doc weights are the decimal-cast order-free
    * `dsum` of c·lr, and (weight desc, doc_id) is a total order. */
  def dsirSelect(spark: SparkSession, dir: String): DataFrame = {
    // persisted for THIS lane only: the top-50 result is materialized
    // eagerly (bounded by construction) so the cache is released in the
    // same call — the bpeEncodeLane no-leak pattern
    val db = dsirBucketCounts(spark, dir).persist()
    try {
      val result = dsirResultFrame(db, m = 1024)
      val rows = result.collect() // ≤ 50 rows — TopKByScore bounds it
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), result.schema)
    } finally db.unpersist(blocking = false)
  }

  /** The q179 corpus pass: (doc_id, lang, bucket, count) hashed n-gram
    * profile rows, the table `dsirSelect` persists and [[dsirResultFrame]]
    * folds twice. */
  private def dsirBucketCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Dedup.ensureParallelism(table(spark, dir, "documents"))
      .select($"doc_id", $"lang",
        explode(concat(TextFunctions.tokens($"text"),
          graft.functions.Spans.wordGrams($"text", 2))).as("f"))
      .select($"doc_id", $"lang",
        shiftrightunsigned(Hashing.hash64Col($"f"), 64 - 10).as("b"))
      .groupBy($"doc_id", $"lang", $"b").agg(count(lit(1)).as("c"))
  }

  /** Log-ratio scoring + top-50 selection over the (persisted) bucket
    * counts. r18: ONE (b)-keyed conditional-sum pass over the corpus table
    * instead of three (raw, en-filtered tgt, full-table tot) plus a
    * raw⋈tgt bucket join — the statistics are all exact integer sums, so
    * folding the en slice as sum(when(...)) and rolling the totals up from
    * the ≤1024-row bucket frame is value-identical (guide §1.2 step 1:
    * don't re-read what one pass can produce). tgt's old left-join +
    * na.fill(0) semantics are preserved by otherwise(0L). */
  private def dsirResultFrame(db: DataFrame, m: Int): DataFrame = {
    val spark = db.sparkSession
    import spark.implicits._
    val byB = db.groupBy($"b").agg(sum($"c").as("cr"),
      sum(when($"lang" === "en", $"c").otherwise(0L)).as("ct"))
    // corpus totals as a GLOBAL WINDOW over the ≤ m-row bucket frame (not a
    // separate aggregate + cross join, which re-derives byB from db a third
    // time — Catalyst does not reuse common subtrees): one single-partition
    // window over ≤ 1024 rows, bounded by construction, exact integer sums
    // either way
    val w = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    val lr = byB
      .select($"b", $"cr", $"ct",
        sum($"cr").over(w).as("nr"), sum($"ct").over(w).as("nt"))
      .select($"b",
        round(log(($"ct" + lit(1.0)) / ($"nt" + lit(m.toDouble))) -
              log(($"cr" + lit(1.0)) / ($"nr" + lit(m.toDouble))), 8).as("lr"))
    val weights = db.join(broadcast(lr), "b")
      .groupBy($"doc_id")
      .agg(CoreQueries.dsum($"c" * $"lr").as("weight"))
    val topk = udaf(new graft.functions.TopKByScore(50))
    weights.agg(topk($"weight", $"doc_id").as("tk"))
      .select(posexplode($"tk").as(Seq("pos", "p")))
      .select(($"pos" + 1).cast("int").as("sel_rank"),
        $"p._2".as("doc_id"), $"p._1".as("weight"))
      .orderBy($"sel_rank")
  }

  val dsirSelectOracle: String = {
    val bucket = s"(${DuckHashSql.hash64Sql("f")} // ${1L << 54})"
    s"""WITH toks AS (
       |  SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS t FROM documents
       |), uni AS (
       |  SELECT doc_id, lang, u.tok AS f, u.ord
       |  FROM toks, LATERAL (SELECT unnest(t) AS tok, generate_subscripts(t, 1) AS ord) u
       |), feats AS (
       |  SELECT doc_id, lang, f FROM uni
       |  UNION ALL
       |  SELECT a.doc_id, a.lang, a.f || ' ' || b.f AS f
       |  FROM uni a JOIN uni b ON a.doc_id = b.doc_id AND b.ord = a.ord + 1
       |), db AS (
       |  SELECT doc_id, lang, $bucket AS b, count(*) AS c FROM feats GROUP BY 1, 2, 3
       |), raw AS (
       |  SELECT b, cast(sum(c) AS BIGINT) AS cr FROM db GROUP BY 1
       |), tgt AS (
       |  SELECT b, cast(sum(c) AS BIGINT) AS ct FROM db WHERE lang = 'en' GROUP BY 1
       |), tot AS (
       |  SELECT cast(sum(c) AS BIGINT) AS nr,
       |    cast(sum(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS BIGINT) AS nt
       |  FROM db
       |), lr AS (
       |  SELECT raw.b,
       |    round(ln((coalesce(ct, 0) + 1.0) / (nt + 1024.0)) - ln((cr + 1.0) / (nr + 1024.0)), 8) AS lr
       |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN tot
       |), w AS (
       |  SELECT doc_id, ${CoreQueries.dsumSql("c * lr")} AS weight
       |  FROM db JOIN lr USING (b) GROUP BY doc_id
       |), ranked AS (
       |  SELECT doc_id, weight,
       |    row_number() OVER (ORDER BY weight DESC, doc_id) AS sel_rank
       |  FROM w
       |)
       |SELECT cast(sel_rank AS INT) AS sel_rank, doc_id, weight
       |FROM ranked WHERE sel_rank <= 50 ORDER BY sel_rank""".stripMargin
  }

  /** Bench hook (see [[graft.Bench]]): the shared trained artifact this
    * module memoizes, exposed so the bench can pay and RECORD its cold
    * training cost once, explicitly, instead of letting the memo hide it
    * inside whichever lane happens to run first. */
  val artifactTrainers: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "train_bpe_merges" -> ((s: SparkSession, d: String) => {
      bpeMerges(s, d); () }))

  def all: Seq[Q] = Seq(
    Q("q179_dsir_select", dsirSelect, Some(dsirSelectOracle)),
    Q("q139_doc_chunks", docChunks, Some(docChunksOracle)),
    Q("q140_sessionize", sessionize, Some(sessionizeOracle)),
    Q("q141_char_stats", charStats, Some(charStatsOracle)),
    Q("q142_shingle_containment", shingleContainment, Some(shingleContainmentOracle)),
    Q("q143_group_sample", groupSample, Some(groupSampleOracle)),
    Q("q144_padding_waste", paddingWaste, Some(paddingWasteOracle)),
    Q("q149_bpe_pairs", bpePairs, Some(bpePairsOracle)),
    Q("q150_quantile_admission", quantileAdmission, Some(quantileAdmissionOracle)),
    Q("q215_quantile_admission_agreement", quantileAdmissionAgreement,
      Some(quantileAdmissionAgreementOracle)),
    Q("q151_mixture_epochs", mixtureEpochs, Some(mixtureEpochsOracle)),
    Q("q152_snapshot_diff", snapshotDiff, Some(snapshotDiffOracle)),
    Q("q156_leakage_safe_split", leakageSafeSplit, Some(leakageSafeSplitOracle)),
    Q("q160_source_interleave", sourceInterleave, Some(sourceInterleaveOracle)),
    Q("q162_bpe_train", bpeTrainLane, Some(bpeTrainOracle)),
    Q("q208_bpe_artifact", bpeArtifact, Some(bpeTrainOracle)),
    Q("q163_bpe_encode", bpeEncodeLane, Some(bpeEncodeOracle)),
    Q("q171_incremental_agg", incrementalAggRefresh, Some(incrementalAggRefreshOracle)),
    Q("q183_bpe_fertility", bpeFertility, Some(bpeFertilityOracle)),
    Q("q186_wordpiece_fertility", wordpieceFertility, Some(wordpieceFertilityOracle)),
    Q("q189_segment_em_train", segmentEmTrain, Some(segmentEmTrainOracle)),
    Q("q190_k_anonymity", kAnonymityAudit, Some(kAnonymityAuditOracle)),
    Q("q194_pareto_frontier", paretoFrontier, Some(paretoFrontierOracle)))
}
