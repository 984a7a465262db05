package graft.util

import org.apache.spark.sql.SparkSession

/** One place for the engine's session recipe — every CLI main builds
  * through here so the graft extensions (SQL `to_24h`, FoldTo24Hour rule)
  * and the parity-critical configs ship uniformly.
  */
object Sessions {
  def build(appName: String,
            cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // non-ANSI cast semantics: malformed casts yield NULL (reference
      // PySpark 3.5 behavior; oracle SQL phrased to match — SURVEY §7.4.3)
      .config("spark.sql.ansi.enabled", "false")
      // events.parquet carries TIMESTAMP(NANOS); Tables.events converts back
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // long-lived multi-query sessions: the default 100-entry generated-
      // class cache is smaller than one pass over this library's query
      // surface (~400 codegen stages), so a driver serving repeated query
      // batches Janino-recompiles every stage on every repeat. 2000
      // entries covers the full surface; cost is class metadata only.
      // (A/B on the 98-query bench showed the recompiles were NOT the
      // round-6 session tax — that was storage accumulation, fixed at the
      // source — but a repeat batch hitting warm classes is still the
      // right steady state for a resident driver.)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // Reliable checkpoints (Components snapshots when a checkpointDir is
      // set) are otherwise never deleted during the app; retired generations
      // are removed eagerly in Components.Snap.release(), and this lets the
      // GC-driven ContextCleaner reclaim the FINAL generation's files once
      // the caller drops the result (timing is GC-driven, not immediate).
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // file:// without client-side checksumming (r15, guide §6): Hadoop's
      // default LocalFileSystem wraps every local write in ChecksumFileSystem
      // — one .crc sidecar create+write+rename per file — which doubles the
      // fs ops on data the local disk already guarantees. It taxes exactly
      // the paths that are pure scratch here: streaming checkpoint WALs,
      // state-store delta files, sink _spark_metadata, snapshot/fixture
      // dirs. Measured on the streaming entries (OPTIMIZATION_r15.md,
      // median-of-5): hourly 1.63 → 1.40 s, stream-stream join 2.96 →
      // 2.55 s on top of the eager provider unload. On a real cluster the
      // checkpoint fs is HDFS/S3, where this conf is inert — it changes
      // local-scheme I/O only, never results (the ×3-tier oracle gate
      // re-proves it).
      .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      .withExtensions(new graft.expr.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
