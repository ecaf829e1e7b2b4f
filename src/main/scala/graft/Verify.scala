package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = LocalConf(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Optional local-iteration filter: SPARK_GRAFT_ONLY=q64,q12 dumps only
    // the named queries (prefix match). Unset for the driver's full run.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.exists(name.startsWith)) }
    val failed = selected.flatMap { case (name, fn) =>
      val ok =
        try { fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name"); true }
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}"); false }
      // release any cache:true def stages the query's compile persisted
      graft.compile.Compiler.releaseAllCaches()
      if (ok) None else Some(name)
    }
    // A failed query is logged above and the loop goes on; this summary
    // keeps the failures from scrolling away. The exit code stays 0.
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} of ${selected.size} " +
        s"queries failed: ${failed.mkString(", ")}")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
