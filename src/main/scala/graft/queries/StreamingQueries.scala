package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Declared, oracle-gated STREAMING queries — true readStream → watermark →
  * window → writeStream pipelines under `Trigger.AvailableNow`, whose final
  * sink contents are deterministic functions of the input table and hence
  * DuckDB-expressible (VERDICT r7 #5: the other streaming coverage runs
  * through specs or batch analogues; this family puts the streaming engine
  * itself inside the driver's hash gate).
  *
  * Determinism argument for the watermark rule: with AvailableNow the
  * final watermark is `max(event time) − delay` whatever the batch split,
  * and append mode emits exactly the windows whose END ≤ that watermark
  * (later windows stay in state and are discarded at query end — the
  * streaming contract, mirrored in the oracle's HAVING). Spark tracks the
  * watermark in whole milliseconds while the oracle compares in
  * microseconds — a divergence needs the max event time to land within
  * 1 ms ABOVE the exact boundary `window_end + delay`, measure-zero on
  * microsecond data and absent from the driver fixtures (verified at all
  * three tiers).
  *
  * SINGLE-BATCH pin: the oracle additionally assumes no event is DROPPED
  * mid-stream as late — true only while the whole file source is read in
  * one micro-batch (an event in batch k+1 older than the watermark batch k
  * advanced would be dropped by the engine yet counted by the oracle).
  * AvailableNow over a file source with `maxFilesPerTrigger` UNSET reads
  * everything in one batch; [[runAvailableNow]] ASSERTS that at most one
  * micro-batch carried rows, so a future split (someone setting the option,
  * or an engine default change) fails loudly here instead of silently
  * diverging the hash gate. */
object StreamingQueries {

  /** Raw events schema per tier path, memoized (VERDICT r9 #3a): every
    * declared entry needs the file source's explicit schema, and a bench
    * session invokes the six entries ×3 runs each — 18 full batch
    * `spark.read.parquet(...).schema` footer reads per capture when one
    * per tier suffices. Bounded (tier paths, not data); schema changes
    * require a new path in this repo's layout, so no staleness key is
    * needed. */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** Events table as a file STREAM with the batch reader's schema and ts
    * normalization. The file source needs an explicit schema and a
    * directory or glob — driver tiers store events.parquet as a single
    * file, so spell that case as a single-file-matching glob (derived
    * tiers are directories and pass through). */
  private def eventsStream(s: SparkSession, d: String): DataFrame = {
    if (schemaMemo.size() > 64) schemaMemo.clear()
    val rawSchema = schemaMemo.computeIfAbsent(s"$d/events.parquet",
      p => s.read.parquet(p).schema)
    val srcPath =
      if (graft.util.InputSize.isDirectory(s, s"$d/events.parquet")) s"$d/events.parquet"
      else s"$d/events.parque[t]"
    graft.util.Tables.normalizeEventTs(
      s.readStream.schema(rawSchema).parquet(srcPath), "ts")
  }

  /** State-store provider for the declared entries (VERDICT r9 #3b,
    * measured A/B in SCALING.md r10): None = Spark's default
    * HDFSBackedStateStoreProvider — chosen here because it holds every
    * key's state on-heap with zero native overhead and the declared
    * entries' state is small at every bench tier — while a REAL 100 TB
    * deployment with big-state queries (stream-stream joins, wide session
    * windows) should flip this to
    * `org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`
    * (spillable off-heap state, incremental snapshots; classloads and runs
    * hash-identical here — see the SCALING.md table for the measured cost
    * of each at two tiers). The choice is INPUT-SIZED: sources past ~64 MB
    * of parquet flip to RocksDB automatically. The flip threshold comes from a real
    * failure, not taste — the 100× full-surface sweep OOM'd
    * q_stream_sessions at a 183 MB source because EVERY HDFSBacked state
    * partition lives in the same local-mode heap (partition count cannot
    * help); under RocksDB the same entry completes in 28 s with state on
    * disk. Small sources keep the on-heap provider that won the measured
    * A/B (1.4-3.1× where state fits), so every bench-tier number is
    * unchanged. Sizing reads the STREAM'S OWN source tables through the
    * Hadoop FS API ([[graft.util.InputSize]] — recursive, any scheme,
    * unresolvable → Long.MaxValue → RocksDB, the fail-safe direction;
    * VERDICT r11 #2 + ADVICE r11 #3/#4). */
  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def stateStoreProvider(s: SparkSession, d: String,
                                 sources: Seq[String]): Option[String] = {
    val bytes = graft.util.InputSize.maxBytes(s, sources.map(t => s"$d/$t"))
    if (bytes > (64L << 20)) Some(RocksDbProvider) else None
  }

  /** Estimated join-state ROWS at or under this bound keep the on-heap
    * provider for the stream-stream join entry. Why rows, not bytes
    * (VERDICT r12 #3): a symmetric hash join buffers ONE state row per
    * input row inside the watermark horizon — under the single-batch
    * AvailableNow pin that is every filtered source row — so its state is
    * row-shaped, and the generic 64 MB byte trigger over-fires by the
    * parquet compression ratio. Measured (SCALING.md r13,
    * A/B): at the 100× tier (10 M source rows, 183 MB) the byte trigger
    * forced RocksDB at 25.3 s while on-heap runs 13.4 s — and on-heap
    * completes at the DEFAULT 8 GiB heap, not just the sweep's 64 GiB.
    * The bound sits 3× above that measured-safe tier and well under the
    * 1000× tier (100 M rows) where ~35 M buffered rows × ~200 B of
    * UnsafeRow+map overhead would crowd a default heap. Fail-safe: an
    * unresolvable source estimates `Long.MaxValue` rows → RocksDB. */
  val JoinStateMaxRows: Long = 32L * 1000 * 1000

  /** Row-estimated provider choice for the stream-stream join
    * ([[streamClickAttribution]]): like [[stateStoreProvider]], but the
    * trigger counts parquet footer rows
    * ([[graft.util.InputSize.parquetRows]]) instead of bytes. */
  private[queries] def joinStateProvider(s: SparkSession, d: String,
                                         sources: Seq[String]): Option[String] = {
    // cap: any count at or past the bound routes identically, so the
    // footer walk stops there instead of serially opening every footer
    // of a huge directory (ADVICE r13 #3)
    val rows = graft.util.InputSize.maxParquetRows(
      s, sources.map(t => s"$d/$t"), cap = JoinStateMaxRows + 1)
    if (rows > JoinStateMaxRows) Some(RocksDbProvider) else None
  }

  /** State-partition count for the declared streaming entries (VERDICT
    * r10 #5, measured in SCALING.md r11): a stateful operator materializes one state-store instance PER
    * shuffle partition PER micro-batch — store init, delta WAL file and
    * snapshot each — so on entry-sized state (hundreds of keys at every
    * bench tier) 32 partitions is 4× the fixed I/O of 8 for zero
    * parallelism gain. The count is pinned into the checkpoint at first
    * batch from the session conf; results are partition-count-invariant
    * (the driver hash gate re-proves it every round). SIZING, not
    * semantics: a real 100 TB stream carries millions of keys and wants
    * hundreds of state partitions, which the input-sized rule below gives.
    * Sizing through [[graft.util.InputSize]] over the stream's own
    * sources; an unresolvable path reports Long.MaxValue → 200 partitions
    * (the large-input plan — fail-safe, like the provider flip). */
  private def streamStateParts(s: SparkSession, d: String,
                               sources: Seq[String]): String = {
    // input-sized (the fixed default 8 was measured right for entry-sized
    // state at the bench tiers, but the 100x full-surface sweep OOM'd
    // q_stream_sessions: 8 partitions over a 183 MB source concentrates
    // ~25x more per-task session state than the tier the default was sized
    // on). One state partition per ~8 MB of source parquet, floor 8 (the
    // measured fixed-cost optimum), cap 200: sf0.1 (2 MB) -> 8 unchanged;
    // 100x (183 MB) -> 22; 1000x -> 200.
    val bytes = graft.util.InputSize.maxBytes(s, sources.map(t => s"$d/$t"))
    val perPart = bytes / (8L << 20) // MaxValue/8Mi still > 200 — no overflow
    math.min(200L, math.max(8L, perPart)).toString
  }

  /** Run a streaming aggregate to a parquet sink under AvailableNow and
    * read the sink back. Sink and checkpoint live in temp dirs registered
    * with [[graft.util.TempLayouts]] (deleted at JVM exit — VERDICT r8 #3:
    * a bench session invokes each streaming query 3×, and un-registered
    * dirs accumulated parquet + state-store WAL per invocation, forever).
    * Asserts the single-micro-batch assumption the oracles rest on (see
    * object doc). Shuffle partitions AND the state-store provider are
    * scoped to this stream's lifetime (both confs are read once at stream
    * start) and restored in the same finally — without the provider
    * restore, one RocksDB flip would stick to the shared session and make
    * every later stream's provider choice order-dependent (ADVICE r11
    * #2); the None branch explicitly unsets, so the engine default
    * applies regardless of what an earlier run left behind. `sources`
    * names the stream's own input tables for the size-routed knobs. */
  private def runAvailableNow(agg: DataFrame, s: SparkSession, d: String,
                              sources: Seq[String] = Seq("events.parquet"),
                              chooseProvider: (SparkSession, String, Seq[String]) => Option[String]
                                = stateStoreProvider): DataFrame = {
    val out = graft.util.TempLayouts.register(
      java.nio.file.Files.createTempDirectory("graft_stream_out")).toString
    val ckpt = graft.util.TempLayouts.register(
      java.nio.file.Files.createTempDirectory("graft_stream_ckpt")).toString
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val savedProvider = s.conf.getOption(providerKey)
    chooseProvider(s, d, sources) match {
      case Some(p) => s.conf.set(providerKey, p)
      case None => s.conf.unset(providerKey)
    }
    val partsKey = "spark.sql.shuffle.partitions"
    val savedParts = s.conf.get(partsKey)
    s.conf.set(partsKey, streamStateParts(s, d, sources))
    val q =
      try {
        val started = agg.writeStream
          .format("parquet")
          .option("path", out)
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        started.awaitTermination()
        started
      } finally {
        s.conf.set(partsKey, savedParts)
        savedProvider match {
          case Some(p) => s.conf.set(providerKey, p)
          case None => s.conf.unset(providerKey)
        }
      }
    // Eager provider unload (r15, guide §5 driver/memory hygiene): a
    // terminated AvailableNow stream leaves its state-store providers in
    // the JVM-global loadedProviders map until the 60 s maintenance tick
    // notices they are inactive — each holding its in-memory state maps,
    // each snapshotted by every maintenance pass until then, taxing
    // whatever runs next (measured: hourly 1.96 → 1.63 s, join 3.83 →
    // 2.96 s median-of-5, and it removes the multi-second drift across
    // back-to-back runs — OPTIMIZATION_r15.md). Correctness-neutral: a
    // provider unloaded under a live query is reloaded from its checkpoint
    // on the next batch; this query has terminated.
    org.apache.spark.sql.GraftBridge.unloadAllStateStores()
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    require(dataBatches <= 1,
      s"file source split into $dataBatches data batches — the oracle's " +
        "no-mid-stream-late-drop assumption no longer holds " +
        "(maxFilesPerTrigger must stay unset)")
    s.read.parquet(out)
  }

  /** readStream(events) → 10-min watermark → 1-hour tumbling windows per
    * event_type → parquet sink (AvailableNow), sink read back as the query
    * result. The streaming twin of [[WindowQueries.hourlyCounts]], minus
    * the windows the watermark never closes. */
  def streamHourlyCounts(s: SparkSession, d: String): DataFrame = {
    val agg = eventsStream(s, d)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("cnt"))
    runAvailableNow(agg, s, d).orderBy("window_start", "event_type")
  }

  /** readStream(events) → 10-min watermark → SLIDING 1-hour windows every
    * 15 minutes per event_type → parquet sink — the overlapping-window
    * mode the tumbling ([[streamHourlyCounts]]) and session
    * ([[streamSessionCounts]]) entries don't cover: each event lands in
    * 1 h / 15 min = 4 windows (state is 4× the tumbling entry's — the
    * sliding-window cost model at any scale), starts aligned to the
    * epoch 15-minute grid. Emit rule as the tumbling twin: append emits
    * windows whose END ≤ the final watermark. */
  def streamSlidingCounts(s: SparkSession, d: String): DataFrame = {
    val agg = eventsStream(s, d)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("cnt"))
    runAvailableNow(agg, s, d).orderBy("window_start", "event_type")
  }

  /** STREAM-STATIC dimension enrichment — the canonical production shape
    * the other entries don't cover: a watermarked event stream inner-joins
    * a BATCH dimension table (customer, keyed user_id = c_custkey) inside
    * the micro-batch, then aggregates hourly counts + value sums per
    * market segment. The static side is planned per micro-batch as an
    * ordinary batch join (broadcast-sized dim → BHJ inside the stream), so
    * at 100 TB/day the stream pays one broadcast per trigger and never
    * shuffles. Unmatched users drop (inner) — mirrored exactly by the
    * oracle's relational join; emit rule as [[streamHourlyCounts]]. Value
    * sums go through DECIMAL(12,2) so both engines sum exactly. */
  def streamStaticEnrich(s: SparkSession, d: String): DataFrame = {
    val dim = graft.util.Tables.customer(s, d)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    val agg = eventsStream(s, d)
      .withWatermark("ts", "10 minutes")
      .join(dim, Seq("user_id"))
      .groupBy(window(col("ts"), "1 hour"), col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2)))
          .cast(org.apache.spark.sql.types.DecimalType(18, 2)).cast("double")
          .as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("c_mktsegment"), col("cnt"), col("sum_value"))
    runAvailableNow(agg, s, d).orderBy("window_start", "c_mktsegment")
  }

  /** readStream(events) → 10-min watermark → per-user SESSION windows
    * (5-min gap) → parquet sink (AvailableNow), sink read back — the
    * second oracle-gated streaming entry (VERDICT r8 #4): dynamic
    * gap-closed windows exercise the stateful session-merge machinery a
    * tumbling window never touches. Session semantics: maximal event runs
    * where consecutive same-user gaps are < 5 min (an event at exactly
    * start + gap does NOT merge — Spark merges on strict window overlap);
    * window end = last event + gap; append emits sessions whose end ≤ the
    * final watermark. Outputs epoch-MICROSECOND session bounds: session
    * starts are raw event times (not whole-hour buckets like the tumbling
    * twin), so integer microseconds sidestep any format-vs-round risk
    * between engines. */
  def streamSessionCounts(s: SparkSession, d: String): DataFrame = {
    val agg = eventsStream(s, d)
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("session_end_us"),
        col("user_id"), col("cnt"))
    runAvailableNow(agg, s, d).orderBy("session_start_us", "user_id")
  }

  /** readStream(clicks) ⋈ readStream(purchases) — a watermarked
    * stream-stream INNER join (click → purchase attribution: same user,
    * purchase within 1 hour after the click) through
    * `StreamingSymmetricHashJoinExec`, the third oracle-gated streaming
    * entry: with q_stream_hourly (tumbling window) and q_stream_sessions
    * (session windows) this puts every implemented stateful streaming
    * operator family inside the driver's hash gate. Both watermarks plus
    * the two-sided time bound let the engine evict join state (without
    * them a stream-stream join buffers both sides forever — the 100 TB
    * concern); determinism needs NO emit-rule mirroring here: an INNER
    * join emits a pair exactly when both rows have arrived, so under the
    * single-batch AvailableNow read ([[runAvailableNow]]'s assertion) the
    * sink is the full join result whatever the watermark — the oracle is
    * the plain relational join. Epoch-micros outputs sidestep
    * format-vs-round risk, as in [[streamSessionCounts]]. */
  def streamClickAttribution(s: SparkSession, d: String): DataFrame = {
    val ev = eventsStream(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .withWatermark("ts", "10 minutes")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .withWatermark("ts", "10 minutes")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
    val joined = clicks.join(purchases, expr(
      """user_id = p_user AND
         purchase_ts >= click_ts AND
         purchase_ts <= click_ts + INTERVAL 1 HOUR"""))
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        unix_micros(col("click_ts")).as("click_us"),
        unix_micros(col("purchase_ts")).as("purchase_us"))
    // join state is ROW-shaped (one buffered row per in-horizon input
    // row), so this entry flips providers on estimated state rows, not
    // source bytes — see [[JoinStateMaxRows]] for the measured rationale
    runAvailableNow(joined, s, d, chooseProvider = joinStateProvider)
      .orderBy("click_id", "purchase_id")
  }

  /** readStream(events) → `dropDuplicates(user_id, event_type)` → parquet
    * sink — EXACT streaming dedup through `StreamingDeduplicateExec`, the
    * fourth stateful operator family in the hash gate. The projection keeps
    * only the dedup KEYS, so the sink is the distinct key set whatever
    * physical row arrived first (first-row nondeterminism never reaches the
    * output) and whatever the batch split — this entry needs neither the
    * single-batch pin nor an emit rule (dedup emits first occurrences
    * immediately; append mode needs no watermark). State is O(distinct
    * keys) — the exact-dedup contract; the horizon-bounded variant is the
    * declared [[streamDedupKeysWithinWatermark]] sibling; the raw-pipeline
    * (`dropDuplicatesWithinWatermark`, trading exactness past the horizon
    * for bounded state at 100 TB) is covered by
    * [[graft.streaming.StreamPipeline.dedupStream]]'s spec. */
  def streamDedupKeys(s: SparkSession, d: String): DataFrame = {
    val dedup = eventsStream(s, d)
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type")
    runAvailableNow(dedup, s, d).orderBy("user_id", "event_type")
  }

  /** readStream(events) → `dropDuplicatesWithinWatermark(user_id,
    * event_type)` → keys-only projection → parquet sink — the
    * HORIZON-BOUNDED dedup through `StreamingDeduplicateWithinWatermarkExec`
    * (VERDICT r9 #6): the variant a 100 TB stream actually runs, because
    * its state evicts keys older than the watermark instead of growing with
    * the distinct-key count forever ([[streamDedupKeys]]' exact sibling).
    * Determinism: the final select keeps only the dedup KEYS, so whichever
    * physical row arrived first per key, the sink is the distinct key set;
    * and under the single-batch pin ([[runAvailableNow]]'s assertion) no
    * key can expire mid-stream and re-emit — the initial watermark is 0
    * while the whole file is processed — so the oracle is plain DISTINCT,
    * exactly first-occurrence-per-key-within-horizon semantics. */
  def streamDedupKeysWithinWatermark(s: SparkSession, d: String): DataFrame = {
    val dedup = eventsStream(s, d)
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("event_type"), col("ts"))
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
    runAvailableNow(dedup, s, d).orderBy("user_id", "event_type")
  }

  /** readStream(events) → `flatMapGroupsWithState` running totals per
    * event_type → parquet sink — CUSTOM per-key state (the fifth stateful
    * family in the gate: user-authored state transition, not an engine
    * aggregate). Each micro-batch emits the key's updated running
    * (n_events, value_cents); under the single-batch AvailableNow read
    * ([[runAvailableNow]]'s assertion) that is exactly the final total per
    * key, so the oracle is the plain relational GROUP BY. Values are cast
    * to DECIMAL(12,2) then integer cents BEFORE summing — Long addition is
    * order-independent, so no double-sum accumulation order can diverge
    * the hash (the [[WindowQueries]] decimal discipline). State is
    * O(#event types) — bounded, no watermark needed. */
  def streamRunningTotals(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val ev = eventsStream(s, d)
      .select(col("event_type"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2)) * 100)
          .cast("long").as("cents"))
      .as[(String, Long)]
    val totals = ev.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(
        (k: String, rows: Iterator[(String, Long)], st: GroupState[(Long, Long)]) => {
          var (n, tot) = st.getOption.getOrElse((0L, 0L))
          rows.foreach { r => n += 1; tot += r._2 }
          st.update((n, tot))
          Iterator((k, n, tot))
        })
      .toDF("event_type", "n_events", "value_cents")
    runAvailableNow(totals, s, d).orderBy("event_type")
  }

  /** STREAMING ingest dedup — [[CorpusQueries.deltaClassify]] run the way
    * a production pipeline actually runs it: the delta batch arrives as a
    * STREAM of new documents and each micro-batch is classified against
    * the static corpus inside `foreachBatch` (the per-batch frame is a
    * plain batch DataFrame, so the classification's windows and
    * aggregates are legal; results append to the sink). Delta = the
    * stream of docs with `doc_id % 10 = 0`, corpus = the batch rest —
    * the exact q_delta_dedup semantics, so the ORACLE IS THE SAME SQL.
    *
    * Split-safety (stronger than the watermark entries' single-batch
    * pin): every classification reads only the one delta doc plus the
    * static corpus, so the sink contents are identical under ANY
    * micro-batch split — no assert needed; a maxFilesPerTrigger future
    * would not diverge this entry. At 100 TB the static corpus index
    * (md5 groups + band table) would be materialized once, not re-derived
    * per trigger; with AvailableNow here there is exactly one trigger. */
  def streamDeltaDedup(s: SparkSession, d: String): DataFrame = {
    if (schemaMemo.size() > 64) schemaMemo.clear()
    val rawSchema = schemaMemo.computeIfAbsent(s"$d/documents.parquet",
      p => s.read.parquet(p).schema)
    val srcPath =
      if (graft.util.InputSize.isDirectory(s, s"$d/documents.parquet")) s"$d/documents.parquet"
      else s"$d/documents.parque[t]"
    val deltaStream = s.readStream.schema(rawSchema).parquet(srcPath)
      .filter(col("doc_id") % 10 === 0)
      .select("doc_id", "text")
    val corp = graft.util.Tables.documents(s, d)
      .filter(col("doc_id") % 10 =!= 0)
      .select("doc_id", "text")
    val out = graft.util.TempLayouts.register(
      java.nio.file.Files.createTempDirectory("graft_stream_delta_out")).toString
    val ckpt = graft.util.TempLayouts.register(
      java.nio.file.Files.createTempDirectory("graft_stream_delta_ckpt")).toString
    val q = deltaStream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the classification references the micro-batch from SIX subtrees
        // (three broadcasts, exact/best, the final join) and an unpersisted
        // foreachBatch frame re-reads the source per reference — persist
        // for the batch's lifetime (the canonical foreachBatch idiom;
        // measured 170.3 -> 21.5 s at the 100x tier)
        batch.persist()
        try CorpusQueries.deltaClassify(batch, corp)
          .write.mode("append").parquet(out)
        finally { batch.unpersist(); () }
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // foreachBatch runs stateless (no state store), but unload keeps the
    // entry symmetric with [[runAvailableNow]] — a no-op when nothing is
    // loaded, and it drops whatever an earlier entry left behind
    org.apache.spark.sql.GraftBridge.unloadAllStateStores()
    s.read.parquet(out).orderBy("doc_id")
  }

  /** STREAMING banded-LSH near-dup dedup — the ingestion-time shape of
    * [[SimilarityQueries.bandDedup]] (same verdict, SAME ORACLE — the
    * q_stream_delta precedent): documents arrive as a stream, each doc's 8
    * arithmetic min-hashes fold map-side into 4 band keys, and a
    * `flatMapGroupsWithState` keyed on the band key holds ONE Long of
    * state per distinct band bucket — the smallest doc_id ever seen there.
    * A doc is a dup in a band iff the bucket's remembered min is smaller;
    * the post-sink batch rollup ORs the four band verdicts per doc.
    *
    * Why custom state and not `dropDuplicates`: the engine dedup keeps
    * whole KEYS and drops later rows — this entry must EMIT every row with
    * a verdict (curation pipelines audit what they drop) and needs the
    * min-id tie-break, a user-authored state transition.
    *
    * Determinism: batch rows are processed in ascending doc_id inside each
    * bucket (explicit sort of the group iterator — arrival order within a
    * micro-batch is partition-race nondeterministic), and the state
    * monotone min makes the verdict a pure function of the input SET
    * under the single-batch AvailableNow pin ([[runAvailableNow]]'s
    * assertion; a production multi-batch deployment gets first-ARRIVAL
    * semantics instead, the usual ingestion contract). Group sort is
    * bucket-sized — a true duplicate cluster, not the corpus.
    *
    * 100 TB: state is one Long per distinct band key (≤4×docs, bytes not
    * text); the sources-sized provider flip applies (documents past the
    * trigger → RocksDB), and a real deployment would add state TTL via a
    * watermark timeout once the dedup horizon is bounded. */
  def streamNearDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    if (schemaMemo.size() > 64) schemaMemo.clear()
    val rawSchema = schemaMemo.computeIfAbsent(s"$d/documents.parquet",
      p => s.read.parquet(p).schema)
    val srcPath =
      if (graft.util.InputSize.isDirectory(s, s"$d/documents.parquet")) s"$d/documents.parquet"
      else s"$d/documents.parque[t]"
    val sigs = s.readStream.schema(rawSchema).parquet(srcPath)
      .select(col("doc_id") +: graft.operators.Dedup.arithMinhashColumns(col("text")): _*)
    val bands = sigs.select(col("doc_id"), posexplode(array(
        (0 until 4).map(b =>
          concat_ws(":", lit(b), col(s"sig_${2 * b}"), col(s"sig_${2 * b + 1}"))): _*
      )).as(Seq("band", "bkey")))
      .as[(Long, Int, String)]
    val verdicts = bands.groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(
        (_: String, rows: Iterator[(Long, Int, String)], st: GroupState[Long]) => {
          val sorted = rows.toArray.sortBy(_._1)
          var minSeen = st.getOption.getOrElse(Long.MaxValue)
          val out = sorted.iterator.map { case (id, band, _) =>
            val dup = if (minSeen < id) 1 else 0
            if (id < minSeen) minSeen = id
            (id, band, dup)
          }.toVector
          st.update(minSeen)
          out.iterator
        })
      .toDF("doc_id", "band", "dup")
    runAvailableNow(verdicts, s, d, sources = Seq("documents.parquet"))
      .groupBy("doc_id")
      .agg(sum(col("dup")).cast("long").as("n_dup_bands"))
      .withColumn("is_neardup", (col("n_dup_bands") > 0).cast("int"))
      .orderBy("doc_id")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_delta" -> (streamDeltaDedup _),
    "q_stream_neardup" -> (streamNearDedup _),
    "q_stream_hourly" -> (streamHourlyCounts _),
    "q_stream_sliding" -> (streamSlidingCounts _),
    "q_stream_enrich" -> (streamStaticEnrich _),
    "q_stream_sessions" -> (streamSessionCounts _),
    "q_stream_join" -> (streamClickAttribution _),
    "q_stream_dedup" -> (streamDedupKeys _),
    "q_stream_dedup_wm" -> (streamDedupKeysWithinWatermark _),
    "q_stream_totals" -> (streamRunningTotals _))

  val oracle: Map[String, String] = Map(
    // streaming ingest twin: per-doc classification independent of the
    // micro-batch split, so the batch oracle applies verbatim
    "q_stream_delta" -> CorpusQueries.oracle("q_delta_dedup"),
    // streaming near-dup twin: the verdict is a pure function of the input
    // set (min-doc_id band rule), so the batch oracle applies verbatim
    "q_stream_neardup" -> SimilarityQueries.bandDedupOracleSql,
    // emit rule: window end (start + 1 h) ≤ max(ts) − 10 min — the final
    // watermark under AvailableNow; GROUP BY carries mx (constant) so the
    // HAVING can reference it
    "q_stream_hourly" ->
      """WITH m AS (SELECT max(CAST(ts AS TIMESTAMP)) AS mx FROM events),
              b AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ws, event_type
                    FROM events)
         SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
                event_type, count(*) AS cnt
         FROM b, m
         GROUP BY ws, event_type, mx
         HAVING ws + INTERVAL 1 HOUR <= mx - INTERVAL 10 MINUTE
         ORDER BY 1, 2""",
    // sliding windows: each event belongs to the 4 epoch-grid-aligned
    // 15-min-slide windows covering it (start = 900 s grid floor − k·900,
    // k = 0..3); same emit rule as the tumbling twin
    "q_stream_sliding" ->
      """WITH m AS (SELECT max(CAST(ts AS TIMESTAMP)) AS mx FROM events),
              b AS (SELECT to_timestamp(((epoch_us(CAST(ts AS TIMESTAMP)) // 900000000) - k.k) * 900)
                             AS ws, event_type
                    FROM events, (VALUES (0),(1),(2),(3)) k(k))
         SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
                event_type, count(*) AS cnt
         FROM b, m
         GROUP BY ws, event_type, mx
         HAVING ws + INTERVAL 1 HOUR <= mx - INTERVAL 10 MINUTE
         ORDER BY 1, 2""",
    // the stream-static join is the plain relational join; emit rule as
    // q_stream_hourly (window end ≤ max(ts) − 10 min)
    "q_stream_enrich" ->
      """WITH m AS (SELECT max(CAST(ts AS TIMESTAMP)) AS mx FROM events),
              b AS (SELECT date_trunc('hour', CAST(e.ts AS TIMESTAMP)) AS ws,
                           c.c_mktsegment,
                           CAST(e.value AS DECIMAL(12,2)) AS v
                    FROM events e JOIN customer c ON e.user_id = c.c_custkey)
         SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
                c_mktsegment, count(*) AS cnt,
                CAST(CAST(sum(v) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
         FROM b, m
         GROUP BY ws, c_mktsegment, mx
         HAVING ws + INTERVAL 1 HOUR <= mx - INTERVAL 10 MINUTE
         ORDER BY 1, 2""",
    // gaps-and-islands sessionization mirroring Spark's session_window
    // merge rule: a new session starts when the same-user gap is ≥ 5 min
    // (strict-overlap merge: equality does NOT merge); session end =
    // last event + gap; append emits sessions with end ≤ mx − 10 min
    "q_stream_sessions" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
              m AS (SELECT max(ts) AS mx FROM e),
              x AS (SELECT user_id, ts,
                           CASE WHEN lag(ts) OVER w IS NULL
                                  OR ts - lag(ts) OVER w >= INTERVAL 5 MINUTE
                                THEN 1 ELSE 0 END AS brk
                    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
              g AS (SELECT user_id, ts,
                           sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                    FROM x),
              sess AS (SELECT user_id, sid, min(ts) AS ws,
                              max(ts) + INTERVAL 5 MINUTE AS we,
                              count(*) AS cnt
                       FROM g GROUP BY user_id, sid)
         SELECT epoch_us(ws) AS session_start_us, epoch_us(we) AS session_end_us,
                user_id, CAST(cnt AS BIGINT) AS cnt
         FROM sess, m
         WHERE we <= mx - INTERVAL 10 MINUTE
         ORDER BY 1, 3""",
    // inner join: no emit rule to mirror (see streamClickAttribution doc)
    "q_stream_join" ->
      """WITH c AS (SELECT event_id AS click_id, user_id,
                           CAST(ts AS TIMESTAMP) AS click_ts
                    FROM events WHERE event_type = 'click'),
              p AS (SELECT event_id AS purchase_id, user_id,
                           CAST(ts AS TIMESTAMP) AS purchase_ts
                    FROM events WHERE event_type = 'purchase')
         SELECT c.click_id, p.purchase_id, c.user_id,
                epoch_us(c.click_ts) AS click_us,
                epoch_us(p.purchase_ts) AS purchase_us
         FROM c JOIN p ON c.user_id = p.user_id
          AND p.purchase_ts >= c.click_ts
          AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
         ORDER BY 1, 2""",
    // keys-only projection: distinct key set, no emit rule / batch-split
    // sensitivity (see streamDedupKeys doc)
    "q_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events ORDER BY 1, 2""",
    // horizon-bounded dedup, keys-only projection: under the single-batch
    // pin (initial watermark 0, nothing expires mid-stream) the emitted
    // first-occurrences-per-key are exactly the distinct key set
    "q_stream_dedup_wm" ->
      """SELECT DISTINCT user_id, event_type FROM events ORDER BY 1, 2""",
    // single-batch read → the emitted running totals ARE the final totals
    "q_stream_totals" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
                CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT)
                  AS value_cents
         FROM events GROUP BY event_type ORDER BY 1""")
}
