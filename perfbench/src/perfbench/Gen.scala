package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generation. Every cell is a pure function of its row index
  * and a salt through `xxhash64`, so the same arguments always give the
  * same rows, whatever the partitioning.
  */
object Gen {
  private def hash(c: Column, salt: Long): Column = xxhash64(c, lit(salt))
  private def pick(c: Column, salt: Long, n: Long): Column = pmod(hash(c, salt), lit(n))
  private def oneOf(c: Column, salt: Long, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (pick(c, salt, xs.size.toLong) + 1).cast(IntegerType))
  private def cents(c: Column, salt: Long, lo: Double, span: Long): Column =
    round(lit(lo) + pick(c, salt, span).cast(DoubleType) / 100.0, 2)

  private val dayMicros = 86400L * 1000 * 1000
  /** 1995-01-02T00:00Z in microseconds since the epoch. */
  private val shipEpochMicros = 788832000L * 1000 * 1000

  /** Column layout of the ingest inputs: sf0.1 `lineitem`, with the ship
    * date stored as a 64-bit integer (microseconds) — 70 bytes a row.
    */
  val strLens: Map[String, Int] = Map("l_returnflag" -> 1, "l_linestatus" -> 1)

  /** `rows` lineitem-shaped rows for file `file` of a seeded input set.
    * Row i holds base row (a·i + b) mod rows, a permutation the seed picks,
    * and each double cell is NaN with probability `nanPermille`/1000 at
    * places the seed picks, so the conversion chain's NaN→null branch runs.
    */
  def lineitem(spark: SparkSession, seed: Long, file: Int, rows: Long,
      nanPermille: Int, parts: Int): DataFrame = {
    require(rows > 0 && rows < (1L << 31), s"rows out of range: $rows")
    val rng = new scala.util.Random(seed * 7919 + file)
    val a = Iterator.continually(1L + rng.nextInt(1 << 20))
      .find(x => BigInt(x).gcd(BigInt(rows)) == 1).get
    val b = rng.nextInt(1 << 20).toLong
    val i = col("id")
    val k = lit(file.toLong * rows) + pmod(i * lit(a) + lit(b), lit(rows))
    val cell = hash(i, seed * 31 + file)
    def nanable(c: Column, salt: Long): Column =
      when(pmod(hash(cell, salt), lit(1000L)) < nanPermille, lit(Double.NaN))
        .otherwise(c)
    val qty = (pick(k, 3, 50) + 1).cast(DoubleType)
    spark.range(0, rows, 1, parts).select(
      (k / 4).cast(LongType).as("l_orderkey"),
      pick(k, 1, 20000).as("l_partkey"),
      pick(k, 2, 1000).as("l_suppkey"),
      (pmod(k, lit(7L)) + 1).cast(IntegerType).as("l_linenumber"),
      nanable(qty, 11).as("l_quantity"),
      nanable(round(qty * cents(k, 4, 900.0, 10100), 2), 12).as("l_extendedprice"),
      nanable(pick(k, 5, 11).cast(DoubleType) / 100.0, 13).as("l_discount"),
      nanable(pick(k, 6, 9).cast(DoubleType) / 100.0, 14).as("l_tax"),
      oneOf(k, 7, Seq("A", "N", "R")).as("l_returnflag"),
      oneOf(k, 8, Seq("F", "O")).as("l_linestatus"),
      (lit(shipEpochMicros) + pick(k, 9, 2497) * lit(dayMicros)).as("l_shipdate"))
  }

  private val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val partTypes = Seq("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
  private val adjectives = Seq("blue", "old", "red", "small", "new", "large", "hot", "cold")
  private val nouns = Seq("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Seq("click", "view", "error", "signup", "purchase")
  private val langs = Seq("en", "en", "en", "de", "es", "fr", "zh")
  private val vocab = Seq("join", "a", "value", "fast", "column", "sort", "scan", "small",
    "customer", "merge", "hash", "line", "spark", "part", "batch", "slow", "group", "row",
    "filter", "query", "key", "big", "window", "table", "stream", "order", "data",
    "vector", "agg", "the")

  private def ts(micros: Column): Column = timestamp_micros(micros)

  /** The ten sf0.1-shaped tables the operator inventory reads (same names,
    * column types, row counts and value domains as the repository's
    * sf0.1 fixture set), as lazily built single-partition frames keyed by
    * table name. Independent of the workload seed: the expected row counts
    * stored with the benchmark are computed over exactly these rows.
    */
  def opsTables(spark: SparkSession): Seq[(String, DataFrame)] = {
    def range(n: Long) = spark.range(0, n, 1, 1)
    val i = col("id")
    val region = range(5).select(i.cast(IntegerType).as("r_regionkey"),
      element_at(array(regions.map(lit): _*), (i + 1).cast(IntegerType)).as("r_name"))
    val nation = range(25).select(i.cast(IntegerType).as("n_nationkey"),
      concat(lit("NATION_"), i.cast(StringType)).as("n_name"),
      pmod(i, lit(5L)).cast(IntegerType).as("n_regionkey"))
    val customer = range(15000).select(i.as("c_custkey"),
      format_string("Customer#%09d", i).as("c_name"),
      pick(i, 21, 25).cast(IntegerType).as("c_nationkey"),
      cents(i, 22, -999.99, 1099980).as("c_acctbal"),
      oneOf(i, 23, segments).as("c_mktsegment"))
    val supplier = range(1000).select(i.as("s_suppkey"),
      format_string("Supplier#%09d", i).as("s_name"),
      pick(i, 31, 25).cast(IntegerType).as("s_nationkey"),
      cents(i, 32, -999.99, 1099980).as("s_acctbal"))
    val part = range(20000).select(i.as("p_partkey"),
      concat_ws(" ", oneOf(i, 41, adjectives), oneOf(i, 42, nouns)).as("p_name"),
      concat(lit("Brand#"), (pick(i, 43, 25) + 1).cast(StringType)).as("p_brand"),
      oneOf(i, 44, partTypes).as("p_type"),
      (pick(i, 45, 50) + 1).cast(IntegerType).as("p_size"),
      round(lit(900.0) + pmod(i, lit(1000L)).cast(DoubleType) / 10.0, 2).as("p_retailprice"))
    val orders = range(150000).select(i.as("o_orderkey"),
      pick(i, 51, 15000).as("o_custkey"),
      oneOf(i, 52, Seq("F", "O", "P")).as("o_orderstatus"),
      cents(i, 53, 1000.0, 49900000).as("o_totalprice"),
      ts(lit(788918400L * 1000000) + pick(i, 54, 2404) * lit(dayMicros)).as("o_orderdate"),
      oneOf(i, 55, priorities).as("o_orderpriority"))
    val qty = (pick(i, 63, 50) + 1).cast(DoubleType)
    val lineitem = range(600000).select(
      pick(i, 61, 150000).as("l_orderkey"),
      pick(i, 62, 20000).as("l_partkey"),
      pick(i, 64, 1000).as("l_suppkey"),
      (pick(i, 65, 7) + 1).cast(IntegerType).as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * cents(i, 66, 900.0, 10100), 2).as("l_extendedprice"),
      (pick(i, 67, 11).cast(DoubleType) / 100.0).as("l_discount"),
      (pick(i, 68, 9).cast(DoubleType) / 100.0).as("l_tax"),
      oneOf(i, 69, Seq("A", "N", "R")).as("l_returnflag"),
      oneOf(i, 70, Seq("F", "O")).as("l_linestatus"),
      ts(lit(shipEpochMicros) + pick(i, 71, 2497) * lit(dayMicros)).as("l_shipdate"))
    // ~26 s apart with sub-second jitter: 100k events span 2024-01-01..30
    val events = range(100000).select(i.as("event_id"),
      ts(lit(1704067200L * 1000000) + i * lit(25900000L) + pick(i, 81, 20000000)).as("ts"),
      pick(i, 82, 1500).as("user_id"),
      oneOf(i, 83, eventTypes).as("event_type"),
      cents(i, 84, 0.0, 56021).as("value"),
      format_string("{\"k\": %d}", pick(i, 85, 100)).as("props"))
    // 10–100 words each; the last 8 documents repeat an earlier text
    // exactly (the exact-dedup target)
    val src = col("src")
    val words = transform(sequence(lit(1), (pick(src, 91, 91) + 10).cast(IntegerType)),
      w => element_at(array(vocab.map(lit): _*),
        (pmod(xxhash64(src, w, lit(92L)), lit(vocab.size.toLong)) + 1).cast(IntegerType)))
    val documents = range(5000)
      .select(i.as("doc_id"), when(i >= 4992, i - 4892).otherwise(i).as("src"))
      .select(col("doc_id"), concat_ws(" ", words).as("text"),
        oneOf(col("doc_id"), 93, langs).as("lang"),
        concat(lit("src"), pmod(col("doc_id"), lit(20L)).cast(StringType)).as("source"))
      .withColumn("n_chars", length(col("text")).cast(LongType))
    // 64-dim unit vectors: components uniform in [-1, 1), then L2-normalized
    val raw = transform(sequence(lit(1), lit(64)),
      d => (pmod(xxhash64(i, d, lit(101L)), lit(2000001L)).cast(FloatType) - 1000000f) / 1000000f)
    val embeddings = range(2000)
      .select(i.as("vec_id"), raw.as("v"), pick(i, 102, 10).cast(IntegerType).as("label"))
      .select(col("vec_id"),
        transform(col("v"), x => (x / sqrt(aggregate(col("v"), lit(0.0),
          (acc, y) => acc + y * y))).cast(FloatType)).as("embedding"),
        col("label"))
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings)
  }
}
