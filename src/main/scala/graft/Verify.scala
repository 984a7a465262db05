package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Writes each query in `selected` to `$outDir/<name>` as one parquet
    * file and returns the names of the queries that threw. Each query's
    * directory is deleted first, so a query that fails leaves no earlier
    * run's output behind for the oracle compare to pass. */
  private[graft] def dumpQueries(
      spark: SparkSession, sfDir: String, outDir: String,
      selected: Map[String, (SparkSession, String) => DataFrame]): Seq[String] =
    selected.toSeq.flatMap { case (name, fn) =>
      val dir = new java.io.File(s"$outDir/$name")
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
      val failed =
        try {
          fn(spark, sfDir).coalesce(1).write.parquet(dir.getPath)
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          org.apache.commons.io.FileUtils.deleteDirectory(dir) // no partial output
          Some(name)
        }
      // storage hygiene between queries: ~100 plans in one session would
      // otherwise accumulate stray persisted RDDs / cache entries
      graft.util.SessionHygiene.scrub(spark)
      failed
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional trailing args: run only the named queries (local iteration)
    val subset = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.util.Sessions.build("graft-verify", cpus)
    new java.io.File(outDir).mkdirs()
    val selected =
      if (subset.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => subset(n) }
    val failed = dumpQueries(spark, sfDir, outDir, selected)
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
    if (failed.nonEmpty) {
      System.err.println(s"[verify] FAIL: ${failed.size} of ${selected.size} queries threw: ${failed.sorted.mkString(",")}")
      sys.exit(2)
    }
  }
}
