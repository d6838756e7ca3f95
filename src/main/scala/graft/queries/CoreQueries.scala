package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.fixedwidth.{FieldSpec, FixedWidthOptions}

/** Queries that exercise the fixedwidth format itself end-to-end: encode the
  * parquet table to fixed-width binary, read it back through the DSv2 scan,
  * then run a relational plan on top. The DuckDB oracle runs the same plan on
  * the original parquet, so a hash match proves byte-level encode/decode
  * fidelity as well as the query semantics (SURVEY.md §7.1 step 5).
  */
object CoreQueries {

  /** Deterministic double aggregation: cast each addend to a fixed-scale
    * decimal (exact, order-insensitive sum), then back to double, rounded.
    * Mirror SQL: `round(cast(sum(cast(x as decimal(30,10))) as double), 4)`.
    */
  def dsum(c: Column): Column = round(sum(c.cast("decimal(30,10)")).cast("double"), 4)
  def dsumSql(expr: String): String = s"round(cast(sum(cast($expr as decimal(30,10))) as double), 4)"

  val lineitemLayout: Seq[FieldSpec] = Seq(
    FieldSpec("l_orderkey", "long", 0, 14),
    FieldSpec("l_quantity", "double", 14, 25),
    FieldSpec("l_extendedprice", "double", 39, 25),
    FieldSpec("l_discount", "double", 64, 25),
    FieldSpec("l_tax", "double", 89, 25),
    FieldSpec("l_returnflag", "string", 114, 1),
    FieldSpec("l_linestatus", "string", 115, 1),
    FieldSpec("l_shipdate", "timestamp", 116, 20))

  /** Encode lineitem to fixed-width binary (once per scale dir), return the
    * DataFrame read back through the format. */
  def lineitemViaFixedWidth(spark: SparkSession, dir: String): DataFrame = {
    val fieldsOpt = FixedWidthOptions.renderFields(lineitemLayout)
    val out = QueryRegistry.scratch(dir, "lineitem_fw")
    val marker = new java.io.File(out, "_graft_done")
    if (!marker.exists()) {
      QueryRegistry.table(spark, dir, "lineitem")
        .select(lineitemLayout.map(f => col(f.name)): _*)
        .write.format("fixedwidth").option("fields", fieldsOpt)
        .mode("overwrite").save(out)
      marker.createNewFile()
    }
    spark.read.format("fixedwidth").option("fields", fieldsOpt).load(out)
  }

  /** Flagship: TPC-H Q1 pricing summary, computed over data that took a full
    * round trip through the fixed-width format. */
  def q01(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    lineitemViaFixedWidth(spark, dir)
      .filter($"l_shipdate" <= lit("1998-09-02 00:00:00").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        dsum($"l_quantity").as("sum_qty"),
        dsum($"l_extendedprice").as("sum_base_price"),
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("sum_disc_price"),
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax")).as("sum_charge"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val q01Oracle: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${dsumSql("l_quantity")} AS sum_qty,
       |  ${dsumSql("l_extendedprice")} AS sum_base_price,
       |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
       |  ${dsumSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
       |  count(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** q233: the framed COMPRESSED write path (FwzFormat) under the oracle —
    * lineitem encoded through the sink with compression=zstd (record-group
    * frames + content-size footer, .fwz), read back SPLIT on the frame
    * grid, and rolled up with the q01 pricing summary; the oracle computes
    * the same summary from the original parquet, so a single flipped byte
    * anywhere in the compress→frame→footer→plan→decompress chain flips the
    * hash. frameBytes=256 KiB keeps even sf0.01 multi-frame (the
    * FwzRoundTripSpec proves the split invariants at 3 granularities; this
    * lane proves end-to-end value fidelity at suite scale). */
  def q233(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fieldsOpt = FixedWidthOptions.renderFields(lineitemLayout)
    val out = QueryRegistry.scratch(dir, "lineitem_fwz")
    // format-versioned marker (like the stats fixtures): a scratch dir
    // persisted by an older round holds pre-v3 files without the contentCrc
    // the footer cache's honesty note wants — bump the marker, regenerate
    val marker = new java.io.File(out,
      s"_graft_done_v${graft.sources.fixedwidth.FwzFormat.VersionStatsV3}")
    if (!marker.exists()) {
      QueryRegistry.table(spark, dir, "lineitem")
        .select(lineitemLayout.map(f => col(f.name)): _*)
        .write.format("fixedwidth").option("fields", fieldsOpt)
        .option("compression", "zstd").option("frameBytes", (256 * 1024).toString)
        .mode("overwrite").save(out)
      marker.createNewFile()
    }
    spark.read.format("fixedwidth").option("fields", fieldsOpt).load(out)
      .filter($"l_shipdate" <= lit("1998-09-02 00:00:00").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        dsum($"l_quantity").as("sum_qty"),
        dsum($"l_extendedprice").as("sum_base_price"),
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("sum_disc_price"),
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax")).as("sum_charge"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** Raw-mode parity query: default offset key + custom key slice, straight
    * out of the (offset, key, value) schema the reference produces. Every
    * aggregate is a pure function of the record count and recordLength=136,
    * independent of how the writer laid records out across files — so DuckDB
    * can oracle it from the original `lineitem` parquet: n_records =
    * count(*), min_offset = 0 (every non-empty file starts with a record),
    * n_misaligned = 0 (every record offset is a recordLength multiple — the
    * Spark side genuinely measures this from the scan's offsets), and
    * total_bytes = count(*) * 136.
    */
  def q02(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fw = lineitemViaFixedWidth(spark, dir) // ensure encoded data exists
    fw.sparkSession.read.format("fixedwidth")
      .option("recordLength", 136)
      .option("keyStartAt", 0).option("keyEndAt", 13)
      .load(QueryRegistry.scratch(dir, "lineitem_fw"))
      .select($"offset", $"key", $"value")
      .agg(
        count(lit(1)).as("n_records"),
        min($"offset").as("min_offset"),
        sum(when(pmod($"offset", lit(136L)) =!= 0, 1L).otherwise(0L)).as("n_misaligned"),
        sum(length($"value").cast("long")).as("total_bytes"))
  }

  val q02Oracle: String =
    """SELECT count(*) AS n_records, 0::BIGINT AS min_offset,
      |  0::BIGINT AS n_misaligned, count(*) * 136 AS total_bytes
      |FROM lineitem""".stripMargin

  /** Money-column layout: the mainframe shape DecimalType fields exist for
    * (SURVEY.md §1.4). Doubles are cast to decimal(15,2) BEFORE the encode,
    * so what round-trips through the format is the exact fixed-point value. */
  val moneyLayout: Seq[FieldSpec] = Seq(
    FieldSpec("l_orderkey", "long", 0, 14),
    FieldSpec("l_extendedprice", "decimal(15,2)", 14, 18),
    FieldSpec("l_discount", "decimal(15,2)", 32, 18),
    FieldSpec("l_tax", "decimal(15,2)", 50, 18),
    FieldSpec("l_returnflag", "string", 68, 1))

  def moneyFixture(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    val out = QueryRegistry.scratch(dir, "lineitem_fw_money")
    val marker = new java.io.File(out, "_graft_done")
    if (!marker.exists()) {
      QueryRegistry.table(spark, dir, "lineitem")
        .select(
          $"l_orderkey",
          $"l_extendedprice".cast("decimal(15,2)").as("l_extendedprice"),
          $"l_discount".cast("decimal(15,2)").as("l_discount"),
          $"l_tax".cast("decimal(15,2)").as("l_tax"),
          $"l_returnflag")
        .write.format("fixedwidth").option("fields", FixedWidthOptions.renderFields(moneyLayout))
        .mode("overwrite").save(out)
      marker.createNewFile()
    }
    out
  }

  /** Materialize every per-scale-dir fixed-width scratch fixture (encode
    * side). Bench calls this untimed: the fixtures are the queries' INPUT
    * data — the oracle's input (the original parquet) pre-exists, so timing
    * input creation into whichever query alphabetically runs first would
    * measure fixture IO, not query execution. Idempotent via the markers. */
  def warmFixtures(spark: SparkSession, dir: String): Unit = {
    lineitemViaFixedWidth(spark, dir)
    moneyFixture(spark, dir)
    poisonFixture(spark, dir)
    partitionedFixture(spark, dir)
    bz2PartitionedFixture(spark, dir)
    supplierViaCsv(spark, dir)
    supplierViaJsonl(spark, dir)
    supplierViaOrc(spark, dir)
    supplierViaAvro(spark, dir)
    supplierGenerations(spark, dir)
    eventsPartitionedParquet(spark, dir)
    bucketedTables(spark, dir)
  }

  /** Supplier through a quoted-header CSV round trip (marker-guarded scratch
    * fixture, same pattern as the fixed-width encodes). An explicit read
    * schema — never inference, which costs an extra full scan of a 100 TB
    * feed and can mistype empty partitions. */
  def supplierViaCsv(spark: SparkSession, dir: String): DataFrame = {
    val pq = QueryRegistry.table(spark, dir, "supplier")
    val out = QueryRegistry.scratch(dir, "supplier_csv")
    val marker = new java.io.File(out, "_graft_done")
    if (!marker.exists()) {
      pq.write.option("header", "true").mode("overwrite").csv(out)
      marker.createNewFile()
    }
    spark.read.schema(pq.schema).option("header", "true").csv(out)
  }

  /** Supplier through a JSON-lines round trip — doubles survive because
    * Spark writes shortest-round-trip literals and the declared read schema
    * parses them straight back to the identical bit pattern. */
  def supplierViaJsonl(spark: SparkSession, dir: String): DataFrame = {
    val pq = QueryRegistry.table(spark, dir, "supplier")
    val out = QueryRegistry.scratch(dir, "supplier_jsonl")
    val marker = new java.io.File(out, "_graft_done")
    if (!marker.exists()) {
      pq.write.mode("overwrite").json(out)
      marker.createNewFile()
    }
    spark.read.schema(pq.schema).json(out)
  }

  /** CSV as a SOURCE lane (SURVEY §2.1 S10): aggregate over the CSV round
    * trip, oracle over the original parquet — equality proves the text
    * encode/decode is value-faithful, typed doubles included. */
  def q94(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    supplierViaCsv(spark, dir)
      .groupBy($"s_nationkey")
      .agg(count(lit(1)).as("n_suppliers"), dsum($"s_acctbal").as("sum_bal"),
        max(length($"s_name")).as("max_name_len"))
      .orderBy($"s_nationkey")
  }

  val q94Oracle: String =
    s"""SELECT s_nationkey, count(*) AS n_suppliers, ${dsumSql("s_acctbal")} AS sum_bal,
       |  max(length(s_name)) AS max_name_len
       |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  /** JSON-lines as a SOURCE lane — same oracle contract as q94. */
  def q95(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    supplierViaJsonl(spark, dir)
      .groupBy($"s_nationkey")
      .agg(count(lit(1)).as("n_suppliers"), dsum($"s_acctbal").as("sum_bal"),
        min($"s_suppkey").as("min_suppkey"))
      .orderBy($"s_nationkey")
  }

  val q95Oracle: String =
    s"""SELECT s_nationkey, count(*) AS n_suppliers, ${dsumSql("s_acctbal")} AS sum_bal,
       |  min(s_suppkey) AS min_suppkey
       |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  /** Supplier through an ORC round trip — the third columnar-format lane
    * next to parquet (native) and the text formats; binary column encoding,
    * so doubles survive bit-exactly by construction. */
  def supplierViaOrc(spark: SparkSession, dir: String): DataFrame = {
    val pq = QueryRegistry.table(spark, dir, "supplier")
    val out = QueryRegistry.scratch(dir, "supplier_orc")
    val marker = new java.io.File(out, "_graft_done")
    if (!marker.exists()) {
      pq.write.mode("overwrite").orc(out)
      marker.createNewFile()
    }
    spark.read.schema(pq.schema).orc(out)
  }

  /** ORC as a SOURCE lane — same oracle contract as q94/q95: aggregate over
    * the ORC round trip, oracle over the original parquet. */
  def q117(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    supplierViaOrc(spark, dir)
      .groupBy($"s_nationkey")
      .agg(count(lit(1)).as("n_suppliers"), dsum($"s_acctbal").as("sum_bal"),
        countDistinct($"s_suppkey").as("n_keys"))
      .orderBy($"s_nationkey")
  }

  val q117Oracle: String =
    s"""SELECT s_nationkey, count(*) AS n_suppliers, ${dsumSql("s_acctbal")} AS sum_bal,
       |  count(DISTINCT s_suppkey) AS n_keys
       |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  /** Supplier through an AVRO container-file round trip via the classpath's
    * avro-mapred ([[graft.sources.avro.AvroHadoop]] — Spark ships the Avro
    * runtime but not the spark-avro DataSource, so the bridge is the same
    * Hadoop-interop surface the reference input format lives on).
    * Marker-guarded like the ORC twin; a markerless partial dir from a
    * crashed run is deleted first because the Hadoop committer refuses an
    * existing output path. */
  def supplierViaAvro(spark: SparkSession, dir: String): DataFrame = {
    val pq = QueryRegistry.table(spark, dir, "supplier")
    val out = QueryRegistry.scratch(dir, "supplier_avro")
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(out, "_graft_done")
    if (!fs.exists(marker)) {
      fs.delete(new org.apache.hadoop.fs.Path(out), true)
      graft.sources.avro.AvroHadoop.write(pq, out)
      fs.create(marker, true).close()
    }
    graft.sources.avro.AvroHadoop.read(spark, out, pq.schema)
  }

  /** Avro as a SOURCE lane — same oracle contract as q94/q95/q117:
    * aggregate over the Avro round trip, oracle over the original parquet.
    * Doubles survive bit-exactly (binary encoding), so this lane's hash
    * proves the GenericRecord bridge loses nothing. */
  def q191(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    supplierViaAvro(spark, dir)
      .groupBy($"s_nationkey")
      .agg(count(lit(1)).as("n_suppliers"), dsum($"s_acctbal").as("sum_bal"),
        max($"s_suppkey").as("max_suppkey"))
      .orderBy($"s_nationkey")
  }

  val q191Oracle: String =
    s"""SELECT s_nationkey, count(*) AS n_suppliers, ${dsumSql("s_acctbal")} AS sum_bal,
       |  max(s_suppkey) AS max_suppkey
       |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  /** Schema EVOLUTION across parquet generations — the drift every
    * long-lived ingest hits: generation 1 wrote (suppkey, nationkey,
    * name); generation 2 added `s_acctbal`. `mergeSchema=true` unions the
    * file schemas at read time and fills the missing column with NULL for
    * old-generation rows; the aggregate counts and sums prove both the
    * union and the NULL-fill. The oracle reconstructs the identical
    * two-generation view from the original table (even suppkeys = gen 1).
    * Marker-guarded scratch like the ORC/Avro twins. */
  def supplierGenerations(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pq = QueryRegistry.table(spark, dir, "supplier")
    val out = QueryRegistry.scratch(dir, "supplier_gens")
    val marker = new java.io.File(out, "_graft_done")
    if (!marker.exists()) {
      pq.filter($"s_suppkey" % 2 === 0)
        .select($"s_suppkey", $"s_nationkey", $"s_name")
        .write.mode("overwrite").parquet(s"$out/gen=1")
      pq.filter($"s_suppkey" % 2 === 1)
        .select($"s_suppkey", $"s_nationkey", $"s_name", $"s_acctbal")
        .write.mode("overwrite").parquet(s"$out/gen=2")
      marker.createNewFile()
    }
    spark.read.option("mergeSchema", "true").parquet(out)
  }

  def q198(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    supplierGenerations(spark, dir)
      .groupBy($"s_nationkey")
      .agg(count(lit(1)).as("n_suppliers"),
        count($"s_acctbal").as("n_with_bal"),
        dsum($"s_acctbal").as("sum_bal"))
      .orderBy($"s_nationkey")
  }

  val q198Oracle: String =
    s"""SELECT s_nationkey, count(*) AS n_suppliers,
       |  count(CASE WHEN s_suppkey % 2 = 1 THEN 1 END) AS n_with_bal,
       |  ${dsumSql("CASE WHEN s_suppkey % 2 = 1 THEN s_acctbal END")} AS sum_bal
       |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  /** Events as a Hive-partitioned PARQUET layout (partitionBy(event_type)),
    * marker-guarded. The standard-format twin of the fixedwidth partitioned
    * lane (q06): directory layout as a queryable index. */
  def eventsPartitionedParquet(spark: SparkSession, dir: String): DataFrame = {
    val out = QueryRegistry.scratch(dir, "events_part_pq")
    val marker = new java.io.File(out, "_graft_done")
    if (!marker.exists()) {
      QueryRegistry.events(spark, dir)
        .write.partitionBy("event_type").mode("overwrite").parquet(out)
      marker.createNewFile()
    }
    spark.read.parquet(out)
  }

  /** Partition-pruned read over the partitioned parquet layout: the
    * `event_type` predicate prunes DIRECTORIES at plan time (`.explain`
    * shows it under PartitionFilters, not PushedFilters — no data IO for
    * non-matching types), which at 100 TB is the difference between reading
    * one event type and all of them. Oracle over the original flat table. */
  def q96(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    eventsPartitionedParquet(spark, dir)
      .filter($"event_type" === "click" || $"event_type" === "purchase")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"), dsum($"value").as("sum_value"))
      .orderBy($"event_type")
  }

  val q96Oracle: String =
    s"""SELECT event_type, count(*) AS n_events, ${dsumSql("value")} AS sum_value
       |FROM events WHERE event_type IN ('click', 'purchase')
       |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Bucketed co-located join: both sides pre-bucketed (and sorted) on the
    * join key into external bucketed tables — the SMJ reads bucket i against
    * bucket i with ZERO exchanges on either side, the layout investment that
    * removes the join shuffle from every downstream run against a 100 TB
    * fact. `hint("merge")` pins SMJ so the tiny sf customer side can't
    * broadcast away the demonstration; result is plan-independent. */
  def q97(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bucketedTables(spark, dir)
    spark.table("graft_orders_b").hint("merge")
      .join(spark.table("graft_customer_b"), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("sum_price"))
      .orderBy($"c_mktsegment")
  }

  /** External bucketed tables under the scratch dir (option("path") keeps
    * the warehouse out of the repo tree); catalog entries are per-session,
    * so a fresh JVM re-registers (and rewrites) them on first use. */
  def bucketedTables(spark: SparkSession, dir: String): Unit = {
    if (!spark.catalog.tableExists("graft_orders_b")) {
      QueryRegistry.table(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", QueryRegistry.scratch(dir, "orders_bucketed"))
        .mode("overwrite").saveAsTable("graft_orders_b")
    }
    if (!spark.catalog.tableExists("graft_customer_b")) {
      QueryRegistry.table(spark, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
        .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", QueryRegistry.scratch(dir, "customer_bucketed"))
        .mode("overwrite").saveAsTable("graft_customer_b")
    }
  }

  val q97Oracle: String =
    s"""SELECT c_mktsegment, count(*) AS n_orders, ${dsumSql("o_totalprice")} AS sum_price
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Decimal round-trip: encode TPC-H money columns as decimal(15,2) through
    * the fixed-width format, read them back, and aggregate with EXACT decimal
    * sums (no double-drift dsum workaround needed — fixed-point addition is
    * associative, the whole reason mainframe feeds use it). */
  def q03(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("fixedwidth")
      .option("fields", FixedWidthOptions.renderFields(moneyLayout))
      .load(moneyFixture(spark, dir))
      .groupBy($"l_returnflag")
      .agg(
        sum($"l_extendedprice").as("sum_price"),
        sum($"l_discount").as("sum_disc"),
        sum($"l_tax").as("sum_tax"),
        count(lit(1)).as("n"))
      .orderBy($"l_returnflag")
  }

  val q03Oracle: String =
    """SELECT l_returnflag,
      |  sum(cast(l_extendedprice AS DECIMAL(15,2))) AS sum_price,
      |  sum(cast(l_discount AS DECIMAL(15,2))) AS sum_disc,
      |  sum(cast(l_tax AS DECIMAL(15,2))) AS sum_tax,
      |  count(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Poisoned-feed fixture: lineitem encoded with the quantity as a STRING
    * field so bad digits can be planted (`9X<qty>` wherever
    * l_orderkey % 37 == 0), then read back with the field declared `long` —
    * the mainframe one-poison-record-in-100TB scenario. The plant is
    * value-deterministic (keyed on l_orderkey), so DuckDB reproduces it from
    * the original parquet regardless of file/partition layout. */
  val poisonWriteLayout: Seq[FieldSpec] = Seq(
    FieldSpec("l_orderkey", "long", 0, 14),
    FieldSpec("qty_str", "string", 14, 12),
    FieldSpec("l_returnflag", "string", 26, 1))

  val poisonReadFields = "l_orderkey:long:0:14,qty:long:14:12,l_returnflag:string:26:1"

  def poisonFixture(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    val out = QueryRegistry.scratch(dir, "lineitem_fw_poison")
    val marker = new java.io.File(out, "_graft_done")
    if (!marker.exists()) {
      val qty = $"l_quantity".cast("long")
      QueryRegistry.table(spark, dir, "lineitem")
        .select(
          $"l_orderkey",
          when($"l_orderkey" % 37 === 0, concat(lit("9X"), qty.cast("string")))
            .otherwise(qty.cast("string")).as("qty_str"),
          $"l_returnflag")
        .write.format("fixedwidth")
        .option("fields", FixedWidthOptions.renderFields(poisonWriteLayout))
        .mode("overwrite").save(out)
      marker.createNewFile()
    }
    out
  }

  /** The DuckDB twin of the raw poisoned record: writer layout = each value
    * left-aligned space-padded at its offset (FixedWidthEncoder.place). */
  private val poisonRawSql: String =
    "rpad(CAST(l_orderkey AS VARCHAR), 14, ' ') || " +
      "rpad('9X' || CAST(CAST(l_quantity AS BIGINT) AS VARCHAR), 12, ' ') || l_returnflag"

  /** mode=PERMISSIVE + columnNameOfCorruptRecord: every record survives, the
    * malformed qty nulls out, and the corrupt column carries the exact raw
    * record bytes (verified via max() over the payload strings). */
  def q04(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("fixedwidth")
      .option("fields", poisonReadFields)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .load(poisonFixture(spark, dir))
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        count($"qty").as("n_good"),
        sum($"qty").as("sum_qty"),
        count($"_bad").as("n_bad"),
        max($"_bad").as("max_bad"))
      .orderBy($"l_returnflag")
  }

  val q04Oracle: String =
    s"""SELECT l_returnflag,
       |  count(*) AS n_rows,
       |  CAST(count(CASE WHEN l_orderkey % 37 <> 0 THEN 1 END) AS BIGINT) AS n_good,
       |  CAST(sum(CASE WHEN l_orderkey % 37 <> 0 THEN CAST(l_quantity AS BIGINT) END) AS BIGINT) AS sum_qty,
       |  CAST(count(CASE WHEN l_orderkey % 37 = 0 THEN 1 END) AS BIGINT) AS n_bad,
       |  max(CASE WHEN l_orderkey % 37 = 0 THEN $poisonRawSql END) AS max_bad
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** mode=DROPMALFORMED: poisoned records vanish entirely; aggregates over
    * the survivors match the oracle computed with the planted keys excluded. */
  def q05(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("fixedwidth")
      .option("fields", poisonReadFields)
      .option("mode", "DROPMALFORMED")
      .load(poisonFixture(spark, dir))
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        sum($"qty").as("sum_qty"),
        min($"l_orderkey").as("min_key"),
        max($"l_orderkey").as("max_key"))
      .orderBy($"l_returnflag")
  }

  val q05Oracle: String =
    """SELECT l_returnflag,
      |  count(*) AS n_rows,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |  min(l_orderkey) AS min_key,
      |  max(l_orderkey) AS max_key
      |FROM lineitem WHERE l_orderkey % 37 <> 0
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Partitioned layout: the date-partitioned-feed shape `partitionBy`
    * exists for. The partition column stays IN the record bytes (this
    * format's documented divergence from parquet convention), so read-back
    * needs no directory parsing for the DATA — the directories are purely
    * the pruning index. */
  val partLayout: Seq[FieldSpec] = Seq(
    FieldSpec("l_orderkey", "long", 0, 14),
    FieldSpec("l_quantity", "double", 14, 25),
    FieldSpec("l_returnflag", "string", 39, 1),
    FieldSpec("l_linestatus", "string", 40, 1))

  def partitionedFixture(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    val out = QueryRegistry.scratch(dir, "lineitem_fw_part")
    val marker = new java.io.File(out, "_graft_done")
    if (!marker.exists()) {
      QueryRegistry.table(spark, dir, "lineitem")
        .select(partLayout.map(f => col(f.name)): _*)
        .write.format("fixedwidth")
        .option("fields", FixedWidthOptions.renderFields(partLayout))
        .partitionBy("l_returnflag")
        .mode("overwrite").save(out)
      marker.createNewFile()
    }
    out
  }

  /** Partitioned write + pruned read, under the oracle: the fixture goes
    * through the dynamic-partition writer (Hive-style l_returnflag=X/
    * directories), and the equality predicate reaches the scan as a pushed
    * filter whose directories are pruned at plan time — only the matching
    * partition's bytes are ever read (asserted mechanically in
    * FixedWidthPartitionSpec; here the oracle proves the lane's results). */
  def q06(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("fixedwidth")
      .option("fields", FixedWidthOptions.renderFields(partLayout))
      .load(partitionedFixture(spark, dir))
      .filter($"l_returnflag" === "R")
      .groupBy($"l_linestatus")
      .agg(
        dsum($"l_quantity").as("sum_qty"),
        min($"l_orderkey").as("min_key"),
        count(lit(1)).as("n"))
      .orderBy($"l_linestatus")
  }

  val q06Oracle: String =
    s"""SELECT l_linestatus,
       |  ${dsumSql("l_quantity")} AS sum_qty,
       |  min(l_orderkey) AS min_key,
       |  count(*) AS n
       |FROM lineitem WHERE l_returnflag = 'R'
       |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q230
  /** The q06 partitioned tree with every data file bzip2-compressed — the
    * marker-guarded compressed twin a 100 TB feed actually looks like
    * (compressed files inside a Hive-style directory layout). Built by
    * streaming each plain part file through Hadoop's BZip2Codec; directory
    * names (the partition bindings) and record bytes are unchanged. */
  def bz2PartitionedFixture(spark: SparkSession, dir: String): String = {
    val src = partitionedFixture(spark, dir)
    val out = QueryRegistry.scratch(dir, "lineitem_fw_part_bz2")
    val marker = new java.io.File(out, "_graft_done")
    if (!marker.exists()) {
      val conf = spark.sessionState.newHadoopConf()
      val codec = new org.apache.hadoop.io.compress.BZip2Codec()
      codec.setConf(conf)
      val srcRoot = new java.io.File(src)
      def walk(f: java.io.File): Unit =
        if (f.isDirectory) f.listFiles().foreach(walk)
        else if (!f.getName.startsWith("_") && !f.getName.startsWith(".")) {
          val rel = srcRoot.toPath.relativize(f.toPath).toString
          val dst = new java.io.File(out, rel + ".bz2")
          dst.getParentFile.mkdirs()
          val in = new java.io.FileInputStream(f)
          val os = codec.createOutputStream(new java.io.FileOutputStream(dst))
          val buf = new Array[Byte](64 * 1024)
          var n = in.read(buf)
          while (n >= 0) { os.write(buf, 0, n); n = in.read(buf) }
          in.close(); os.close()
        }
      walk(srcRoot)
      marker.createNewFile()
    }
    out
  }

  /** Splittable-compressed read under the oracle: the whole bz2 partitioned
    * tree (multiple `l_returnflag=X` directories, every file compressed)
    * aggregated per partition value — the reference rejects any codec
    * (FixedLengthRecordReader.java:147-152); here `allowCompressed=true`
    * reads .bz2 SPLIT on block boundaries through the phase-1
    * decompressed-offset index (`Bz2SplitIndex`), and the result must equal
    * DuckDB's replay from the uncompressed source rows. Directory pruning,
    * partition-value binding, and the record grid all compose with the
    * compressed reader because partition values live in both the path and
    * the record bytes. */
  def q230(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("fixedwidth")
      .option("fields", FixedWidthOptions.renderFields(partLayout))
      .option("allowCompressed", "true")
      .load(bz2PartitionedFixture(spark, dir))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        dsum($"l_quantity").as("sum_qty"),
        min($"l_orderkey").as("min_key"),
        count(lit(1)).as("n"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val q230Oracle: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${dsumSql("l_quantity")} AS sum_qty,
       |  min(l_orderkey) AS min_key,
       |  count(*) AS n
       |FROM lineitem
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Per-record file provenance under the oracle: the `_source_file` DSv2
    * METADATA column (SupportsMetadataColumns — absent from the schema,
    * materialized only when referenced) over the partitioned fixture. The
    * partition value is re-derived from the PATH and checked against the
    * same record's DECODED field in-query (`n_mismatched` — any record
    * attributed to the wrong file breaks the oracle's constant-0 column),
    * so provenance is proven per record against content, not just present.
    * At 100 TB this is the lineage query ("which feed file produced this
    * row?") paid for only by queries that ask. */
  def q169(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("fixedwidth")
      .option("fields", FixedWidthOptions.renderFields(partLayout))
      .load(partitionedFixture(spark, dir))
      .select($"l_returnflag", $"l_quantity",
        regexp_extract($"_source_file", "l_returnflag=([^/]+)", 1).as("path_flag"))
      .groupBy($"path_flag")
      .agg(
        count(lit(1)).as("n"),
        dsum($"l_quantity").as("sum_qty"),
        count(when($"l_returnflag" =!= $"path_flag", 1)).as("n_mismatched"))
      .orderBy($"path_flag")
  }

  val q169Oracle: String =
    s"""SELECT l_returnflag AS path_flag, count(*) AS n,
       |  ${dsumSql("l_quantity")} AS sum_qty,
       |  cast(0 AS BIGINT) AS n_mismatched
       |FROM lineitem GROUP BY l_returnflag ORDER BY path_flag""".stripMargin

  /** COUNT(*) pushdown: both counts are answered from the driver-side file
    * listing (the filtered one over the directory-pruned listing) with ZERO
    * data IO — the plan contains FixedWidthCountScan, no aggregate, no scan
    * (asserted mechanically in FixedWidthPushdownSpec; the oracle proves the
    * values). On a 100 TB feed this is the difference between a listing call
    * and a full pass. */
  def q07(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def fw = spark.read.format("fixedwidth")
      .option("fields", FixedWidthOptions.renderFields(partLayout))
      .load(partitionedFixture(spark, dir))
    fw.filter($"l_returnflag" === "R").agg(count(lit(1)).as("n_r"))
      .crossJoin(fw.agg(count(lit(1)).as("n_all")))
  }

  val q07Oracle: String =
    """SELECT (SELECT count(*) FROM lineitem WHERE l_returnflag = 'R') AS n_r,
      |  count(*) AS n_all
      |FROM lineitem""".stripMargin

  /** LIMIT/OFFSET pushdown: split planning is truncated to the record range
    * [offset, offset+limit) — the result SET is listing-order-dependent, so
    * the oracle checks the deterministic part (cardinality), while
    * FixedWidthPushdownSpec pins the plan truncation and exact range
    * semantics. */
  def q08(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("fixedwidth")
      .option("fields", FixedWidthOptions.renderFields(partLayout))
      .load(partitionedFixture(spark, dir))
      .offset(1000).limit(5000)
      .agg(count(lit(1)).as("n"))
  }

  val q08Oracle: String =
    """SELECT CAST(least(greatest(count(*) - 1000, 0), 5000) AS BIGINT) AS n
      |FROM lineitem""".stripMargin

  /** Grouped COUNT(*) pushdown: one row per partition directory, counts
    * from file lengths — `GROUP BY l_returnflag` never opens a data file
    * (FixedWidthPushdownSpec pins the plan; the oracle proves the values). */
  def q09(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("fixedwidth")
      .option("fields", FixedWidthOptions.renderFields(partLayout))
      .load(partitionedFixture(spark, dir))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"))
      .orderBy($"l_returnflag")
  }

  val q09Oracle: String =
    """SELECT l_returnflag, count(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Storage-partitioned join lane under the oracle: both sides read the
    * SAME partitioned fixture, aggregate clustered on the partition column,
    * and join on it — with Spark 4's v2 bucketing (default on) the whole
    * plan runs shuffle-free on the directory-derived KeyGroupedPartitioning
    * (plan shape pinned in FixedWidthStoragePartitionSpec; values proven
    * here). The even-keys side carries a record-level filter so it exercises
    * the REAL scan path (count pushdown correctly declines it). */
  def q36(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def fw = spark.read.format("fixedwidth")
      .option("fields", FixedWidthOptions.renderFields(partLayout))
      .load(partitionedFixture(spark, dir))
    val qty = fw.groupBy($"l_returnflag").agg(dsum($"l_quantity").as("qty"))
    val even = fw.filter($"l_orderkey" % 2 === 0)
      .groupBy($"l_returnflag").agg(count(lit(1)).as("n_even"))
    qty.join(even, "l_returnflag").orderBy($"l_returnflag")
  }

  val q36Oracle: String =
    s"""SELECT a.l_returnflag, a.qty, b.n_even
       |FROM (SELECT l_returnflag, ${dsumSql("l_quantity")} AS qty
       |      FROM lineitem GROUP BY l_returnflag) a
       |JOIN (SELECT l_returnflag, count(*) AS n_even
       |      FROM lineitem WHERE l_orderkey % 2 = 0 GROUP BY l_returnflag) b
       |  ON a.l_returnflag = b.l_returnflag
       |ORDER BY a.l_returnflag""".stripMargin

  /** MIN/MAX over a partition column pushed to the listing: "what range does
    * this feed cover?" answered from directory names with zero data IO
    * (plan shape pinned in FixedWidthPushdownSpec; values proven here). */
  def q37(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("fixedwidth")
      .option("fields", FixedWidthOptions.renderFields(partLayout))
      .load(partitionedFixture(spark, dir))
      .agg(
        min($"l_returnflag").as("rf_min"),
        max($"l_returnflag").as("rf_max"),
        count(lit(1)).as("n"))
  }

  val q37Oracle: String =
    """SELECT min(l_returnflag) AS rf_min, max(l_returnflag) AS rf_max,
      |  count(*) AS n
      |FROM lineitem""".stripMargin

  /** Shared .fwz-with-statistics encoding of lineitem (frameStats on the
    * selective columns), written once per scale dir — the input fixture for
    * q235 (batch stats-pruned scan) and q236 (streaming .fwz source).
    * Written ORDERED BY l_orderkey: frame statistics pay off on data
    * clustered by its write key (a real feed lands in ingest/time order —
    * the driver's synthetic lineitem is shuffled, which no feed is), and
    * with tight per-frame key ranges the q235 predicate demonstrably skips
    * ~99% of frames (the scan's `fwFramesSkipped` metric counts them).
    * frameBytes=64 KiB keeps sf0.01 at ~70 frames/file so there are real
    * frames to skip. */
  private[queries] def lineitemFwzStatsPath(spark: SparkSession, dir: String): String = {
    val fieldsOpt = FixedWidthOptions.renderFields(lineitemLayout)
    val out = QueryRegistry.scratch(dir, "lineitem_fwz_stats")
    // format-versioned marker: q241 REQUIRES the v3 ordered flag, so a
    // stale pre-v3 fixture must regenerate, not hard-fail the lane
    val marker = new java.io.File(out,
      s"_graft_done_v${graft.sources.fixedwidth.FwzFormat.VersionStatsV3}")
    if (!marker.exists()) {
      QueryRegistry.table(spark, dir, "lineitem")
        .select(lineitemLayout.map(f => col(f.name)): _*)
        .orderBy(col("l_orderkey"))
        .write.format("fixedwidth").option("fields", fieldsOpt)
        .option("compression", "zstd").option("frameBytes", (64 * 1024).toString)
        .option("frameStats", "l_orderkey,l_returnflag,l_shipdate")
        .mode("overwrite").save(out)
      marker.createNewFile()
    }
    out
  }

  /** q235: fwz per-frame STATISTICS under the oracle (r15, SURVEY §7.5) —
    * lineitem written framed+zstd with `frameStats`, then read back through
    * a selective conjunctive predicate (range on the clustered l_orderkey +
    * equality on l_returnflag). The planner skips every frame whose recorded
    * min/max exclude the range WITHOUT decompressing it (FwzStats; the
    * parquet row-group idea applied to compressed fixed-width), and the
    * oracle computes the same aggregate from the original parquet — so the
    * hash proves skipped frames were exactly the frames with zero matches.
    * FwzStatsSpec pins the skip COUNTS; this lane pins end-to-end value
    * fidelity at suite scale. */
  def q235(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fieldsOpt = FixedWidthOptions.renderFields(lineitemLayout)
    spark.read.format("fixedwidth").option("fields", fieldsOpt)
      .load(lineitemFwzStatsPath(spark, dir))
      .filter($"l_orderkey" <= 1000L && $"l_returnflag" === "R")
      .groupBy($"l_linestatus")
      .agg(count(lit(1)).as("n_lines"), dsum($"l_quantity").as("sum_qty"))
      .orderBy($"l_linestatus")
  }

  val q235Oracle: String =
    s"""SELECT l_linestatus, count(*) AS n_lines, ${dsumSql("l_quantity")} AS sum_qty
       |FROM lineitem
       |WHERE l_orderkey <= 1000 AND l_returnflag = 'R'
       |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  /** q241: the fwz ordered-frame BINARY-SEARCH skip under the oracle (r16,
    * SURVEY §7.5 open item 2 closed) — the same stats fixture as q235 is
    * written ordered by l_orderkey, so the writer PROVES frame-orderedness
    * at close and sets the v3 `ordered` flag; a TWO-SIDED key range then
    * resolves to a frame interval by binary search (O(log frames) bound
    * decodes per file instead of O(frames)) — the planning path that stays
    * flat past ~10^5 frames/file. The lane asserts the flag actually
    * round-tripped (no vacuous pass if the writer ever stops proving it)
    * and the oracle hash proves the interval dropped exactly the frames
    * with zero matches. FwzOrderedSpec pins binary ≡ linear decisions
    * frame-by-frame; this pins end-to-end value fidelity at suite scale. */
  def q241(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = lineitemFwzStatsPath(spark, dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val framed = new java.io.File(path).listFiles
      .filter(_.getName.endsWith(".fwz"))
    require(framed.nonEmpty, s"q241: no framed files under $path")
    framed.foreach { f =>
      val footer = graft.sources.fixedwidth.FwzFormat.readFooter(
        new org.apache.hadoop.fs.Path(f.getPath), f.length(), conf)
      val key = footer.stats.get.fields.find(_.name == "l_orderkey").get
      require(key.ordered,
        s"q241: ${f.getName} did not prove l_orderkey frame-ordered — " +
          "the binary-search path would silently degrade to linear")
    }
    val fieldsOpt = FixedWidthOptions.renderFields(lineitemLayout)
    spark.read.format("fixedwidth").option("fields", fieldsOpt)
      .load(path)
      .filter($"l_orderkey" >= 600L && $"l_orderkey" <= 1400L)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_lines"), dsum($"l_extendedprice").as("sum_price"))
      .orderBy($"l_returnflag")
  }

  val q241Oracle: String =
    s"""SELECT l_returnflag, count(*) AS n_lines, ${dsumSql("l_extendedprice")} AS sum_price
       |FROM lineitem
       |WHERE l_orderkey >= 600 AND l_orderkey <= 1400
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q238: global MIN/MAX answered from fwz FOOTER STATISTICS (r15) — the
    * min/max twin of the framed count(*) pushdown: over a stats-framed
    * compressed feed, `SELECT min(key), max(key), min(ts), max(ts),
    * count(*)` (the feed-freshness question) plans a one-row
    * FixedWidthCountScan that reads ONLY the memoized footers — zero
    * frames decompressed, zero data IO, at any feed size. The winning
    * records' raw field slices decode on the driver through the same
    * parsers a scan uses (FixedWidthTable.decodeField) and travel as the
    * scan's one decoded row, so the oracle's from-parquet aggregate must
    * hash-match bit-exactly. */
  def q238(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fieldsOpt = FixedWidthOptions.renderFields(lineitemLayout)
    spark.read.format("fixedwidth").option("fields", fieldsOpt)
      .load(lineitemFwzStatsPath(spark, dir))
      .agg(
        min($"l_orderkey").as("mn_key"), max($"l_orderkey").as("mx_key"),
        min($"l_shipdate").as("mn_ship"), max($"l_shipdate").as("mx_ship"),
        count(lit(1)).as("n"))
  }

  val q238Oracle: String =
    """SELECT min(l_orderkey) AS mn_key, max(l_orderkey) AS mx_key,
      |  min(l_shipdate) AS mn_ship, max(l_shipdate) AS mx_ship,
      |  count(*) AS n
      |FROM lineitem""".stripMargin

  /** q239: GROUPED min/max/count per partition directory from fwz footer
    * statistics (r15) — the per-partition feed-audit query: lineitem laid
    * out Hive-style by l_returnflag through the framed sink with
    * frameStats, then `SELECT l_returnflag, min(key), max(ts), count(*)
    * GROUP BY l_returnflag` plans a FixedWidthCountScan whose min/max come
    * from each group's footer envelopes — zero frames decompressed at any
    * feed size. Groups and extremes decode on the driver (directory values
    * through FixedWidthTable.groupByDirValues, footer slices through
    * FixedWidthTable.decodeField) and travel as one decoded row per group.
    * The oracle computes the identical grouped aggregate from the original
    * parquet. */
  def q239(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fieldsOpt = FixedWidthOptions.renderFields(lineitemLayout)
    val out = QueryRegistry.scratch(dir, "lineitem_fwz_stats_byflag")
    // format-versioned marker: a pre-v3 fixture surviving in scratch would
    // silently lack the stats features later lanes assert on
    val marker = new java.io.File(out,
      s"_graft_done_v${graft.sources.fixedwidth.FwzFormat.VersionStatsV3}")
    if (!marker.exists()) {
      QueryRegistry.table(spark, dir, "lineitem")
        .select(lineitemLayout.map(f => col(f.name)): _*)
        .write.format("fixedwidth").option("fields", fieldsOpt)
        .option("compression", "zstd").option("frameBytes", (64 * 1024).toString)
        .option("frameStats", "l_orderkey,l_shipdate")
        .partitionBy("l_returnflag")
        .mode("overwrite").save(out)
      marker.createNewFile()
    }
    spark.read.format("fixedwidth").option("fields", fieldsOpt).load(out)
      .groupBy($"l_returnflag")
      .agg(
        min($"l_orderkey").as("mn_key"), max($"l_orderkey").as("mx_key"),
        max($"l_shipdate").as("mx_ship"), count(lit(1)).as("n"))
      .orderBy($"l_returnflag")
  }

  val q239Oracle: String =
    """SELECT l_returnflag, min(l_orderkey) AS mn_key, max(l_orderkey) AS mx_key,
      |  max(l_shipdate) AS mx_ship, count(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  def all: Seq[Q] = Seq(
    Q("q01_fw_pricing_summary", q01, Some(q01Oracle)),
    Q("q233_fwz_compressed_roundtrip", q233, Some(q01Oracle)),
    Q("q235_fwz_stats_pruned_scan", q235, Some(q235Oracle)),
    Q("q241_fwz_ordered_binary_skip", q241, Some(q241Oracle)),
    Q("q238_fwz_stats_minmax", q238, Some(q238Oracle)),
    Q("q239_fwz_grouped_minmax", q239, Some(q239Oracle)),
    Q("q02_fw_raw_scan", q02, Some(q02Oracle)),
    Q("q03_fw_decimal_money", q03, Some(q03Oracle)),
    Q("q04_fw_permissive_corrupt", q04, Some(q04Oracle)),
    Q("q05_fw_dropmalformed", q05, Some(q05Oracle)),
    Q("q06_fw_partition_pruned", q06, Some(q06Oracle)),
    Q("q230_fw_bz2_partitioned", q230, Some(q230Oracle)),
    Q("q169_fw_source_file", q169, Some(q169Oracle)),
    Q("q07_fw_countstar_pushdown", q07, Some(q07Oracle)),
    Q("q08_fw_limit_offset", q08, Some(q08Oracle)),
    Q("q09_fw_grouped_count", q09, Some(q09Oracle)),
    Q("q36_fw_spj_join", q36, Some(q36Oracle)),
    Q("q37_fw_minmax_listing", q37, Some(q37Oracle)),
    Q("q94_csv_source", q94, Some(q94Oracle)),
    Q("q95_jsonl_source", q95, Some(q95Oracle)),
    Q("q117_orc_source", q117, Some(q117Oracle)),
    Q("q191_avro_source", q191, Some(q191Oracle)),
    Q("q198_schema_evolution", q198, Some(q198Oracle)),
    Q("q96_parquet_partition_pruned", q96, Some(q96Oracle)),
    Q("q97_bucketed_join", q97, Some(q97Oracle)))
}
