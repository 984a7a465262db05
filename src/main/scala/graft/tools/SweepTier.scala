package graft.tools

import java.nio.file.{Files, Paths}

/** Dev sweep for derived big tiers (dev tooling — not part of the shipped
  * library). Executes every declared query against `sfDir`; outputs at or
  * under `cap` rows are dumped to parquet for the DuckDB hash compare
  * (with `oracle_sql.json` restricted to exactly those, so
  * `check_oracle_pandas.py` hashes the bounded set and nothing else);
  * larger outputs are recorded ROWS-ONLY in `sweep_rows.json` — hashing a
  * 60 M-row result proves nothing the standard tiers' hash checks don't,
  * and the single-threaded coalesce(1) dump of it dominates wall time.
  * Each query's single-run wall seconds (count action, like Bench's) is
  * recorded alongside — indicative timing, not a median-of-3 bench.
  *
  * Usage: runMain graft.tools.SweepTier <sfDir> <outDir> <cap> [--force] [names...]
  */
object SweepTier {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val cap = args(2).toLong
    // --force: time under queryExecution.toRdd.foreach instead of count().
    // count() column-prunes a pure-projection query to a scan row-count
    // (q_winnow measured 0.4 s counted vs 42.6 s forced at 100×) and can
    // drop the sort under a top-k limit — counted timings UNDERSTATE
    // map-only queries. Kept opt-in so sweep artifacts stay comparable
    // with earlier rounds' counted runs; new map-only SCALING numbers
    // should use --force.
    val force = args.drop(3).contains("--force")
    val subset = args.drop(3).toSet - "--force"
    val spark = graft.util.Sessions.build("graft-sweep",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    new java.io.File(outDir).mkdirs()
    val selected =
      if (subset.isEmpty) graft.SparkEntry.queries
      else graft.SparkEntry.queries.filter { case (n, _) => subset(n) }
    // append per query (not at exit) so a mid-sweep JVM death loses nothing
    def record(line: String): Unit =
      Files.writeString(Paths.get(s"$outDir/sweep_rows.jsonl"), line + "\n",
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    val written = scala.collection.mutable.ArrayBuffer[String]()
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val t0 = System.nanoTime()
        // forced mode: the timed window covers ONLY the forcing action;
        // the row count runs after (untimed) so non-map-only queries
        // aren't recorded at 2x their true wall time
        if (force) fn(spark, sfDir).queryExecution.toRdd.foreach(_ => ())
        val sec0 = (System.nanoTime() - t0) / 1e9
        val n = fn(spark, sfDir).count()
        val sec = if (force) sec0 else (System.nanoTime() - t0) / 1e9
        val mode0 = if (n <= cap) "hash" else "rows-only"
        val mode = if (force) mode0 + "-forced" else mode0
        if (n <= cap) {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          written += name
        }
        // Locale.ROOT, not the f-interpolator: on a comma-decimal locale
        // f"$sec%.2f" would emit `"sec":1,23` — invalid JSON
        val secStr = String.format(java.util.Locale.ROOT, "%.2f", Double.box(sec))
        record(s"""{"q":"$name","rows":$n,"sec":$secStr,"mode":"$mode"}""")
        println(s"[sweep] $name rows=$n sec=$secStr $mode")
      } catch { case e: Throwable =>
        record(s"""{"q":"$name","err":"${e.getClass.getSimpleName}"}""")
        System.err.println(s"[sweep] $name FAILED: ${e.getMessage}")
      }
      graft.util.SessionHygiene.scrub(spark)
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // include dirs written by earlier chunked invocations over this outDir
    val present = written.toSet ++
      Option(new java.io.File(outDir).listFiles).toSeq.flatten
        .filter(_.isDirectory).map(_.getName)
    val oracles = graft.SparkEntry.oracleSql
      .filter { case (k, _) => present.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracles)
    spark.stop()
  }
}
