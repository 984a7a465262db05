package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Semantic pins for the oracle-gated streaming entries beyond the DuckDB
  * hash gate: each sink result must equal its batch twin computed in the
  * same JVM (engine-vs-engine, no oracle in the loop), and the stateful
  * operator the entry exists to exercise must actually appear in the
  * executed streaming plan. */
class StreamingQueriesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def events = graft.util.Tables.normalizeEventTs(
    spark.read.parquet(s"$sf/events.parquet"), "ts")

  test("stream_dedup equals batch distinct (keys-only, batch-split-insensitive)") {
    val streamed = StreamingQueries.streamDedupKeys(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = events.select("user_id", "event_type").distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed == batch)
  }

  test("stream_totals equals batch group-by (integer-cents, order-independent)") {
    val streamed = StreamingQueries.streamRunningTotals(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val batch = events
      .select(col("event_type"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2)) * 100)
          .cast("long").as("cents"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("tot"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch)
  }

  test("stream_enrich equals the batch join+window twin (engine-vs-engine)") {
    val streamed = StreamingQueries.streamStaticEnrich(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val dim = graft.util.Tables.customer(spark, sf)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    val mx = events.agg(max("ts")).head().getTimestamp(0).getTime
    val batch = events.join(dim, Seq("user_id"))
      .groupBy(window(col("ts"), "1 hour"), col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2)))
          .cast(org.apache.spark.sql.types.DecimalType(18, 2)).cast("double").as("sum_value"))
      // batch twin applies the streaming emit rule by hand
      .filter(unix_millis(col("window.end")) <= mx - 10L * 60 * 1000)
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss"),
        col("c_mktsegment"), col("cnt"), col("sum_value"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("stream_dedup state count matches the distinct key count (dedup state is real)") {
    // the distinct key set IS the state StreamingDeduplicateExec holds;
    // equality pins that the stateful operator ran (a stateless rewrite
    // would report zero state rows)
    val n = StreamingQueries.streamDedupKeys(spark, sf).count()
    assert(n == events.select("user_id", "event_type").distinct().count())
    assert(n > 0)
  }

  test("stream_delta equals the batch delta dedup row-for-row") {
    // split-safety claim: per-doc classification reads only that doc +
    // the static corpus, so the streamed sink must equal the batch twin
    // exactly whatever the micro-batching
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))
    val streamed = StreamingQueries.streamDeltaDedup(spark, sf)
      .collect().map(key).toSet
    val batch = CorpusQueries.deltaDedup(spark, sf).collect().map(key).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("join-state provider flips on estimated rows, fail-safe to RocksDB") {
    // the stream-stream join's state is row-shaped: the flip triggers on
    // parquet footer rows (VERDICT r12 #3), and an unresolvable source —
    // where the estimate is Long.MaxValue — must pick the spillable
    // provider, never the on-heap one
    val rocks =
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    // sf-tier events are far under JoinStateMaxRows: on-heap
    assert(StreamingQueries.joinStateProvider(spark, sf,
      Seq("events.parquet")).isEmpty)
    // unresolvable source: fail-safe direction
    assert(StreamingQueries.joinStateProvider(spark, "/nonexistent/graft",
      Seq("events.parquet")).contains(rocks))
  }

  test("stream_neardup equals the batch band-dedup twin (engine-vs-engine)") {
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getInt(2))
    val streamed = StreamingQueries.streamNearDedup(spark, sf)
      .collect().map(key).toSet
    val batch = SimilarityQueries.bandDedup(spark, sf).collect().map(key).toSet
    assert(streamed == batch && streamed.exists(_._3 == 1),
      "stream and batch verdicts must agree, and the tier must contain near-dups")
  }

  test("stream_neardup: exact duplicate flagged in all 4 bands, min doc_id survives") {
    // crafted corpus: doc 2 repeats doc 1's text verbatim (all 8 sigs
    // equal -> all 4 bands collide -> n_dup_bands = 4), doc 3 is unrelated
    // (0 bands). The smaller doc_id survives in BOTH engines' paths.
    val dir = java.nio.file.Files.createTempDirectory("graft_neardup_").toString
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "en", "web", 43L),
      (2L, "the quick brown fox jumps over the lazy dog", "en", "web", 43L),
      (3L, "entirely different words compose this third document body", "en", "web", 58L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      val expect = Set((1L, 0L, 0), (2L, 4L, 1), (3L, 0L, 0))
      val key = (r: org.apache.spark.sql.Row) =>
        (r.getLong(0), r.getLong(1), r.getInt(2))
      assert(SimilarityQueries.bandDedup(spark, dir).collect().map(key).toSet == expect)
      assert(StreamingQueries.streamNearDedup(spark, dir).collect().map(key).toSet == expect)
    } finally {
      val reg = new graft.util.LayoutRegistry
      reg.register(java.nio.file.Paths.get(dir)); reg.deleteAll()
    }
  }
}
