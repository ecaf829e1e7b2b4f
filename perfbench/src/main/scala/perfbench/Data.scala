package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Seeded generator of the corpus tables `graft.Tables.registerViews`
  * reads (`<dir>/<name>.parquet`, the schemas in FIXTURES.md).
  *
  * Every value is a hash of (seed, salt, row), never `rand()`, so a seed
  * gives the same tables whatever the partitioning.
  */
final case class Scale(sf: Double) {
  private def n(perSf: Double, floor: Long): Long = math.max(floor, math.round(perSf * sf))
  val customers: Long = n(150000, 150)
  val suppliers: Long = n(10000, 10)
  val parts: Long = n(200000, 200)
  val orders: Long = n(1500000, 1500)
  val lineitems: Long = n(6000000, 6000)
  val events: Long = n(1000000, 1000)
  val documents: Long = n(50000, 500)
  val embeddings: Long = 500
  val users: Long = math.max(50, events / 20)
}

object Data {
  val eventTypes = Seq("view", "click", "cart", "purchase", "share")
  val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val langs = Seq("en", "de", "fr", "es")
  val sources = Seq("web", "books", "code")
  /** Event time origin; events are spread forward from it. */
  val epochSec = 1704067200L // 2024-01-01T00:00:00Z

  /** A fixed synthetic vocabulary: consonant-vowel syllables glued into
    * 2–3 syllable words. */
  val vocab: Seq[String] = {
    val cs = "bdfgklmnprstvz"; val vs = "aeiou"
    val syl = for (c <- cs; v <- vs) yield s"$c$v"
    (for (a <- syl; b <- syl) yield a + b).take(1400) ++
      (for (a <- syl.take(20); b <- syl.take(20); c <- syl.take(3)) yield a + b + c)
  }

  /** Write all ten tables under `dir`, three at a time. */
  def write(spark: SparkSession, dir: String, seed: Long, s: Scale): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try writeAll(spark, dir, seed, s) finally pool.shutdown()
  }

  private def writeAll(spark: SparkSession, dir: String, seed: Long, s: Scale)
      (implicit ec: ExecutionContext): Unit = {
    def rows(n: Long): DataFrame = spark.range(0, n).toDF("j")
    // uniform integer in [0, m) from (seed, salt, row)
    def h(salt: Int, m: Long, row: Column = col("j")): Column =
      pmod(xxhash64(lit(seed), lit(salt), row), lit(m))
    def pick(xs: Seq[String], salt: Int, row: Column = col("j")): Column =
      element_at(array(xs.map(lit): _*), (h(salt, xs.size.toLong, row) + 1).cast("int"))
    def money(salt: Int, lo: Int, hi: Int): Column =
      (h(salt, (hi - lo) * 100L) / 100.0 + lo).cast("double")
    def save(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")

    val region = spark.range(0, 5).toDF("id").select(
      col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name"))
    val nation = spark.range(0, 25).toDF("id").select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))
    val customer = rows(s.customers).select(
      col("j").as("c_custkey"),
      concat(lit("Customer#"), col("j")).as("c_name"),
      h(1, 25).cast("int").as("c_nationkey"),
      money(2, -999, 9999).as("c_acctbal"),
      pick(segments, 3).as("c_mktsegment"))
    val supplier = rows(s.suppliers).select(
      col("j").as("s_suppkey"),
      concat(lit("Supplier#"), col("j")).as("s_name"),
      h(4, 25).cast("int").as("s_nationkey"),
      money(5, -999, 9999).as("s_acctbal"))
    val part = rows(s.parts).select(
      col("j").as("p_partkey"),
      concat(lit("part "), pick(vocab.take(200), 6), lit(" "), pick(vocab.take(200), 7)).as("p_name"),
      concat(lit("Brand#"), h(8, 5) + 1, h(9, 5) + 1).as("p_brand"),
      pick(Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"), 10).as("p_type"),
      (h(11, 50) + 1).cast("int").as("p_size"),
      money(12, 900, 2000).as("p_retailprice"))
    val orders = rows(s.orders).select(
      col("j").as("o_orderkey"),
      h(13, s.customers).as("o_custkey"),
      pick(Seq("O", "F", "P"), 14).as("o_orderstatus"),
      money(15, 800, 500000).as("o_totalprice"),
      timestamp_seconds(lit(epochSec - 6L * 365 * 86400) + h(16, 6L * 365) * 86400)
        .as("o_orderdate"),
      pick(priorities, 17).as("o_orderpriority"))
    val lineitem = rows(s.lineitems).select(
      (col("j") / 4).cast("long").as("l_orderkey"),
      h(18, s.parts).as("l_partkey"),
      h(19, s.suppliers).as("l_suppkey"),
      (col("j") % 4 + 1).cast("int").as("l_linenumber"),
      (h(20, 50) + 1).cast("double").as("l_quantity"),
      money(21, 900, 100000).as("l_extendedprice"),
      (h(22, 11) / 100.0).as("l_discount"),
      (h(23, 9) / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), 24).as("l_returnflag"),
      pick(Seq("O", "F"), 25).as("l_linestatus"),
      timestamp_seconds(lit(epochSec - 6L * 365 * 86400) + h(26, 6L * 365) * 86400)
        .as("l_shipdate"))
    val docs = spark.createDataFrame(spark.sparkContext.parallelize(
      documents(seed, s), spark.sparkContext.defaultParallelism))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val embeddings = spark.range(0, s.embeddings).toDF("j").select(
      col("j").as("vec_id"),
      transform(sequence(lit(1), lit(16)),
        i => (pmod(xxhash64(lit(seed), lit(36), col("j"), i), lit(2000L)) / 1000.0 - 1.0)
          .cast("float")).as("embedding"),
      h(37, 10).cast("int").as("label"))
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events(spark, seed, s),
      "documents" -> docs, "embeddings" -> embeddings)
      .map { case (name, df) => Future(save(name, df)) }
      .foreach(Await.result(_, Duration.Inf))
  }

  /** Documents of 40–160 vocabulary words, made on the driver (a text
    * column built word by word is slow to plan in Spark). One doc in five
    * re-uses an earlier doc's content in upper case: an exact duplicate
    * once text is normalized. */
  def documents(seed: Long, s: Scale): Seq[(Long, String, String, String, Long)] = {
    def mix(xs: Long*): Long = xs.foldLeft(seed) { (h, x) =>
      var z = h + x * 0x9E3779B97F4A7C15L // splitmix64 finalizer per input
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def mod(x: Long, m: Long): Long = java.lang.Math.floorMod(x, m)
    (0L until s.documents).map { j =>
      val dup = j > 0 && mod(mix(30, j), 5) == 0
      val content = if (dup) mod(mix(31, j), j) else j
      val words = (1 to 40 + mod(mix(32, content), 120).toInt)
        .map(i => vocab(mod(mix(33, content, i), vocab.size).toInt))
      val body = words.mkString(" ")
      val text = if (dup) body.toUpperCase(java.util.Locale.ROOT) else body
      (j, text, langs(mod(mix(34, content), langs.size).toInt),
        sources(mod(mix(35, j), sources.size).toInt), text.length.toLong)
    }
  }

  /** The events table: a click stream at one event per 6 s on average,
    * ordered by event id. One row in fifty repeats the previous row
    * exactly (same id, time and payload) — the duplicates a
    * watermark dedup must drop. */
  def events(spark: SparkSession, seed: Long, s: Scale): DataFrame = {
    def h(salt: Int, m: Long, row: Column): Column =
      pmod(xxhash64(lit(seed), lit(salt), row), lit(m))
    spark.range(0, s.events).toDF("j")
      .withColumn("src", when(h(40, 50, col("j")) === 0 && col("j") > 0, col("j") - 1)
        .otherwise(col("j")))
      .select(
        col("src").as("event_id"),
        timestamp_seconds(lit(epochSec) + col("src") * 6 + h(41, 6, col("src"))).as("ts"),
        h(42, s.users, col("src")).as("user_id"),
        element_at(array(eventTypes.map(lit): _*), (h(43, eventTypes.size.toLong, col("src")) + 1)
          .cast("int")).as("event_type"),
        (h(44, 10000, col("src")) / 100.0).as("value"),
        to_json(struct(
          element_at(array(Seq("mobile", "desktop", "tablet").map(lit): _*),
            (h(45, 3, col("src")) + 1).cast("int")).as("device"),
          h(46, 100, col("src")).as("page"))).as("props"))
  }
}
