package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Test-corpus table access + oracle-determinism helpers. */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, table: String): DataFrame =
    if (table == "events") {
      // events.ts has shipped as parquet TIMESTAMP(NANOS) (which Spark's
      // vectorized reader rejects — [PARQUET_TYPE_ILLEGAL]) in some corpus
      // generations and as TIMESTAMP(MICROS) in others. Adapt by schema:
      //  - int64-nanos generation: read raw nanos (legacy conf) and
      //    floor-divide to µs — the truncation DuckDB (µs timestamps)
      //    applies, so oracle values line up.
      //  - µs generation: already what DuckDB sees; just normalize NTZ →
      //    session-TZ TimestampType (UTC here, value-preserving) so every
      //    downstream query and sink sees one ts type across generations.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$sfDir/$table.parquet")
      raw.withColumn("ts", expr(eventsTsSql(raw)))
    } else spark.read.parquet(s"$sfDir/$table.parquet")

  /** SQL expression normalizing the raw events `ts` column to session-TZ
    * TimestampType, whichever corpus generation is on disk (see [[load]]).
    * Exposed so config `derive` strings and streaming readers staging the
    * raw parquet can apply the identical normalization. */
  def eventsTsSql(raw: DataFrame): String =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => "timestamp_micros(ts div 1000)"
      case _                                   => "cast(ts as timestamp)"
    }

  /** Register all corpus tables as temp views so SQL-source specs
    * (`spark.sql`/`spark.table`) resolve by bare name — mirroring the
    * reference's Databricks-table source (`Optimus/megatron.py:63-65`)
    * and matching the DuckDB oracle's view names. */
  private val registeredDir =
    new java.util.WeakHashMap[SparkSession, String]()
  def registerViews(spark: SparkSession, sfDir: String): Unit = synchronized {
    // idempotent per (session, dir): re-reading 10 parquet footers before
    // every query is pure overhead (the query harness calls this
    // unconditionally). Temp views belong to one session, so another
    // session (`newSession()`) registers its own; the weak keys let a
    // stopped session's entry go with it.
    if (registeredDir.get(spark) != sfDir) {
      names.foreach(t => load(spark, sfDir, t).createOrReplaceTempView(t))
      // graft's text/vector functions ride along so config expr strings
      // and SQL sources can call them (lang_id, vector_cosine, ...)
      graft.functions.Registry.registerAll(spark)
      registeredDir.put(spark, sfDir)
    }
  }

  /** Deterministic double sum: per-row cast to DECIMAL(25,6) makes the sum
    * exact and order-insensitive (decimal addition is associative), then one
    * cast back to double. DuckDB mirror:
    * `CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DOUBLE)`.
    * A plain double sum is order-sensitive, and Spark's partial/final
    * aggregation order differs run to run → hash-compare would flake. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(25, 6))).cast("double")
  def dsumSql(x: String): String = s"CAST(SUM(CAST($x AS DECIMAL(25,6))) AS DOUBLE)"

  /** Deterministic double avg: exact decimal sum cast to double, divided by
    * count — double/long division of identical operands is identical.
    * DuckDB mirror: `CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DOUBLE)/COUNT(x)`. */
  def davg(c: Column): Column =
    sum(c.cast(DecimalType(25, 6))).cast("double") / count(c)
  def davgSql(x: String): String = s"${dsumSql(x)} / COUNT($x)"
}
