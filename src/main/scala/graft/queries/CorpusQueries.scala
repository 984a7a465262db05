package graft.queries

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.util.Tables._

/** Round-7 corpus-preparation surface: passage-granular exact dedup (the
  * relational form of the "remove repeated substrings" step from the
  * dedup-training-data literature), Bloom-pre-filtered benchmark
  * decontamination (the at-scale variant of q_decontam's broadcast
  * semi-join), and temperature-based language-mixture sampling (the
  * multilingual rebalancing step every pretraining mix runs). Each has a
  * full DuckDB oracle.
  */
object CorpusQueries {

  /** Passage-level exact dedup: each doc is cut into consecutive 10-word
    * passages (full windows only — the literature's minimum-match
    * granularity); a passage occurrence is a duplicate unless it is the
    * corpus-wide FIRST occurrence in (doc_id, pos) order. Output: per doc,
    * total passages and duplicated passages.
    *
    * Scale shape: passage hashing is map-side (16-byte md5 keys); the only
    * data-sized shuffles carry (hash, doc_id, pos) — never text. First-
    * occurrence ranking is a window over the hash (high-cardinality key,
    * no hot partitions); the per-doc rollup is a partial-aggregated
    * groupBy. Docs under 10 words are filtered before the explode —
    * sequence() would otherwise count DOWN from 0 to -1 and fabricate
    * passages. */
  def paraDedup(s: SparkSession, d: String): DataFrame = {
    // passage digests via the compiled byte-range pass (r14,
    // [[graft.expr.SpanMd5s]]): window w's digest = md5 of the original
    // character span of words w·10..w·10+9 — identical bytes to the former
    // split + slice + concat_ws + md5 spelling, no per-window span string.
    // posexplode's index IS the passage position (SpanMd5sSpec pins both).
    val p = documents(s, d)
      .select(col("doc_id"),
        posexplode(graft.expr.SpanMd5s.span_md5s(col("text"), 10, stride = 10))
          .as(Seq("pos", "h")))
    val w = Window.partitionBy("h").orderBy("doc_id", "pos")
    p.withColumn("rn", row_number().over(w))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_passages"),
        sum((col("rn") > 1).cast("long")).as("n_dup"))
      .orderBy("doc_id")
  }

  /** Sliding-window substring-duplication profile — the DETECTION step of
    * exact-substring dedup (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better"): where [[paraDedup]] hashes ALIGNED
    * 10-word blocks, this hashes the 10-gram at EVERY word position, so a
    * duplicated passage is caught at any offset (the suffix-array result at
    * fixed match length k, computed relationally). A position is
    * "duplicated" when its 10-gram occurs anywhere else in the corpus
    * (count > 1 — both copies count, unlike paraDedup's first-occurrence
    * exemption: the Lee et al. policy cuts ALL copies and re-splices, so
    * the per-doc duplicated-span mass is what matters). Output per doc:
    * sliding positions and duplicated positions.
    *
    * Scale shape: ~one row per corpus WORD (10× paraDedup's volume — the
    * price of offset-free detection), but each row is (16-byte md5,
    * doc_id, pos) — text never shuffles. One shuffle by hash (high-
    * cardinality, no hot keys) for the corpus-wide occurrence count, one
    * partial-agg rollup by doc_id. At 100 TB the k-gram stream is the
    * dominant term and is linear in corpus size; the md5 keys partial-agg
    * nothing (all distinct-ish) but compress the wire to 16B + 12B per
    * word. */
  def substringDedup(s: SparkSession, d: String): DataFrame = {
    // sliding 10-gram digests via the compiled byte-range pass (r14,
    // [[graft.expr.SpanMd5s]]) — one md5 per word position straight off
    // the text bytes; the rollup never used the position, so a plain
    // explode of the digest array replaces the sequence explode + slice +
    // concat_ws + md5 chain (SpanMd5sSpec pins digest equality).
    val g = documents(s, d)
      .select(col("doc_id"),
        explode(graft.expr.SpanMd5s.span_md5s(col("text"), 10)).as("h"))
    val w = Window.partitionBy("h")
    g.withColumn("c", count(lit(1)).over(w))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum((col("c") > 1).cast("long")).as("n_dup"))
      .orderBy("doc_id")
  }

  /** Exact-substring CUT — the REMOVAL step of Lee et al. 2022 that
    * [[substringDedup]] only detects: every word position covered by ANY
    * corpus-duplicated 10-gram is cut from the document and the
    * remainder re-spliced in order (the policy that removes ALL copies —
    * both occurrences of a duplicated passage go; re-splicing is what
    * distinguishes this from document-level dropping). Output per doc:
    * original and kept word counts and the md5 of the re-spliced text —
    * pinning the exact reconstruction cross-engine without shipping the
    * cleaned corpus through the hash gate.
    *
    * Scale shape (interval-merge form, VERDICT r10 #1): the gram stream
    * and its corpus-wide occurrence count are [[substringDedup]]'s (one
    * hash-keyed shuffle, 16-byte keys). After that, the only data that
    * moves is ONE (doc_id, gpos) row per duplicated gram — no ×10
    * position explode, no corpus-wide distinct, no per-word anti-join.
    * Duplicated gram starts roll up per doc (sorted set), fixed-length-10
    * covered spans are merged into disjoint intervals with index-lambda
    * HOFs (island start where the gap to the previous start exceeds the
    * gram width), and the cut itself is pure array arithmetic against the
    * document's own `ws` array after a doc-granular join: covered
    * positions = flatten of the merged interval sequences (≤ n_words
    * elements BY CONSTRUCTION — merging first is what bounds the
    * degenerate everything-duplicated corpus), kept positions =
    * array_except against the dense 0..n-1 range (hash-set, O(n)), kept
    * words = O(1) indexed lookups into ws. Docs under 10 words carry no
    * grams and survive whole; fully-cut docs drop (re-spliced corpora
    * drop empty docs — oracle matches). */
  def substringCut(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    // gram digests via the compiled byte-range pass (r14, see
    // [[substringDedup]]); gpos = posexplode index, cast back to the LONG
    // the interval arithmetic below expects
    val grams = documents(s, d)
      .select(col("doc_id"),
        posexplode(graft.expr.SpanMd5s.span_md5s(col("text"), 10))
          .as(Seq("pos", "h")))
      .select(col("doc_id"), col("pos").cast("long").as("gpos"), col("h"))
    val dupStarts = grams
      .withColumn("c", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("c") > 1)
      .groupBy("doc_id")
      .agg(array_sort(collect_set(col("gpos"))).as("gs"))
    docs.join(dupStarts, Seq("doc_id"), "left")
      .withColumn("gs", coalesce(col("gs"), expr("CAST(array() AS ARRAY<BIGINT>)")))
      // gs[i] starts span [g, g+9]; spans merge while the next start is
      // within gram width (gap ≤ 10 keeps coverage contiguous). Island
      // starts/ends via the previous/next element (1-based element_at;
      // nested IFs keep the boundary probes guarded).
      .withColumn("ivs", expr(
        """filter(transform(gs, (g, i) ->
             IF(i = 0, g, IF(g > element_at(gs, i) + 10, g, CAST(NULL AS BIGINT)))),
           x -> x IS NOT NULL)"""))
      .withColumn("ive", expr(
        """filter(transform(gs, (g, i) ->
             IF(i = size(gs) - 1, g + 9,
                IF(element_at(gs, i + 2) > g + 10, g + 9, CAST(NULL AS BIGINT)))),
           x -> x IS NOT NULL)"""))
      .withColumn("kept", expr(
        """array_except(sequence(0L, CAST(size(ws) - 1 AS BIGINT)),
                        flatten(zip_with(ivs, ive, (a, b) -> sequence(a, b))))"""))
      .filter(size(col("kept")) > 0)
      .select(col("doc_id"), size(col("ws")).cast("long").as("n_words"),
        size(col("kept")).cast("long").as("n_kept"),
        md5(concat_ws(" ", expr(
          "transform(kept, p -> element_at(ws, CAST(p + 1 AS INT)))")).cast("binary"))
          .as("cleaned_md5"))
      .orderBy("doc_id")
  }

  /** Cross-source n-gram leakage matrix: for every pair of sources, how
    * many DISTINCT 10-grams they share — the train/eval cross-contamination
    * audit run before splitting a corpus into training subsets and held-out
    * benchmarks (a source pair with heavy overlap cannot sit on opposite
    * sides of the split). Shares [[substringDedup]]'s sliding gram stream.
    *
    * Scale shape: one shuffle by gram hash (16-byte md5 + source tag —
    * text never moves); `collect_set(source)` per hash is bounded by the
    * CATALOG size (#sources — tens-to-hundreds, never data-sized), with
    * map-side partial aggregation collapsing each source's repeats of a
    * gram before the wire; the pair explode is |S_h|² ≤ #sources² per
    * hash and the final rollup has ≤ #sources² groups. Single-source
    * grams (the overwhelming mass) are dropped before the explode. */
  def sourceOverlap(s: SparkSession, d: String): DataFrame = {
    // sliding 10-gram digests via the compiled byte-range pass (r14, see
    // [[substringDedup]]; position was never used here)
    val g = documents(s, d)
      .select(col("source"),
        explode(graft.expr.SpanMd5s.span_md5s(col("text"), 10)).as("h"))
    g.groupBy("h").agg(sort_array(collect_set(col("source"))).as("ss"))
      .filter(size(col("ss")) >= 2)
      .select(explode(expr(
        "flatten(transform(ss, (x, i) -> transform(slice(ss, i + 2, size(ss)), " +
          "y -> struct(x AS source_a, y AS source_b))))")).as("p"))
      .select(col("p.source_a"), col("p.source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("source_a", "source_b")
  }

  /** Benchmark decontamination, Bloom-pre-filtered: q_decontam's broadcast
    * semi-join is the right shape while the benchmark's distinct-shingle
    * set broadcasts comfortably; when the eval suite grows past that, the
    * 100 TB play is a BLOOM FILTER pre-pass — a driver-bounded bitset
    * (sized from the actual benchmark cardinality, 3% fpp) shipped to
    * every task as a literal, probed by a codegen'd expression inside the
    * scan pipeline, so the overwhelmingly-clean corpus never reaches the
    * join at all. False positives are then removed by the exact join,
    * which now sees only the survivors — the output is bit-identical to
    * q_decontam (same oracle SQL, by construction).
    *
    * Build uses the public `stat.bloomFilter` tree-aggregate (both sides
    * key on xxhash64 of the 16-byte shingle md5); probe uses Catalyst's
    * `BloomFilterMightContain` — the same expression Spark's runtime
    * row-group filtering injects, so it stays codegen-compatible. */
  def decontamBloom(s: SparkSession, d: String): DataFrame = {
    // distinct 5-gram digests via the compiled byte-range pass (r14) —
    // see [[graft.queries.PipelineQueries.decontam]]'s note
    val sh = documents(s, d)
      .select(col("doc_id"),
        explode(graft.expr.SpanMd5s.span_md5s(col("text"), 5, distinct = true))
          .as("sh"))
    val bench = sh.filter(col("doc_id") % 20 === 0).select("sh").distinct()
    val expected = math.max(bench.count(), 1000L)
    val bloom = bench.select(xxhash64(col("sh")).as("hx"))
      .stat.bloomFilter("hx", expected, 0.03)
    val bytes = {
      val b = new java.io.ByteArrayOutputStream()
      bloom.writeTo(b)
      b.toByteArray
    }
    val mightContain = GraftBridge.column(BloomFilterMightContain(
      GraftBridge.expression(lit(bytes)),
      GraftBridge.expression(xxhash64(col("sh")))))
    sh.filter(col("doc_id") % 20 =!= 0)
      .filter(mightContain)
      .join(broadcast(bench), "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_overlap"))
      .orderBy("doc_id")
  }

  /** Temperature-based language-mixture sampling (α = 0.5): per-language
    * target weights ∝ √count renormalized — the standard multilingual
    * rebalance that upsamples tail languages relative to their raw share —
    * realised as a per-language keep-rate against a total budget of half
    * the corpus, selected by the deterministic affine permutation
    * q_sample_stratified uses.
    *
    * Cross-engine determinism: √count is IEEE-exact on both engines; it is
    * immediately floored into a scaled BIGINT (×1000), and EVERYTHING
    * downstream is integer arithmetic (DIV, not /), so no double sum or
    * decimal-division scale rule can diverge. Overflow bound: the widest
    * product is (n/2)·isq·10⁴ ≤ 5·10⁶·n^1.5 — safe through n ≈ 10⁸ docs
    * per mixture job. Scale shape: one partial-agg pass for counts (5-key
    * groupBy), thresholds broadcast back, selection map-only. */
  def langMixture(s: SparkSession, d: String): DataFrame = {
    val counts = documents(s, d).groupBy("lang").agg(count(lit(1)).as("c"))
      .select(col("lang"), col("c"),
        floor(sqrt(col("c").cast("double")) * 1000d).cast("long").as("isq"))
    val totals = counts.agg(sum("isq").as("s_isq"), sum("c").as("n"))
    val thresholds = counts.crossJoin(broadcast(totals))
      .select(col("lang"),
        expr("least(10000L, ((n div 2) * isq * 10000L) div (s_isq * c))").as("bp"))
    val perm = pmod(pmod(col("doc_id"), lit(2147483647L)) * lit(15485863L) + lit(17L),
      lit(2147483647L)) % 10000
    documents(s, d)
      .join(broadcast(thresholds), "lang")
      .filter(perm < col("bp"))
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }

  /** N-gram LM quality scoring (the perplexity-proxy filter of the CCNet /
    * quality-classifier lineage): an add-one-smoothed word-BIGRAM model is
    * fit on the corpus itself, and every document is scored by its total
    * and mean negative log-likelihood under that model — fluent text lands
    * low, boilerplate/gibberish lands high, and the score is the standard
    * sort key for perplexity-bucketed corpus filtering.
    *
    * Cross-engine determinism: the only floating-point step (one ln per
    * DISTINCT bigram — model-sized, not corpus-sized) is immediately
    * rounded into integer MICRO-NATS; everything aggregated afterwards is
    * BIGINT, so no accumulation-order or decimal-scale rule can diverge
    * between engines (the q_lang_mixture discipline). Residual boundary
    * risk (documented, not closed): Math.log and DuckDB's ln can differ in
    * the last ulp, and Spark's Round on doubles goes through BigDecimal
    * (shortest-decimal) while DuckDB rounds the binary double — a bigram
    * whose −ln(p)·10⁶ lands within ~1e-9 of a half-integer could round
    * apart. No alternative quantization removes the ln-ulp half of that
    * risk, the affected measure is ~1e-10 per distinct bigram, and every
    * oracle-checkable tier (through sf0.1's ~10⁵ distinct bigrams) is
    * hash-green; at oracle-free scale a flip would shift one doc's
    * nll_micro by 1, which no downstream perplexity bucketing can see.
    *
    * Scale shape: two partial-agg shuffles build the model (bigram counts,
    * head counts — both vocabulary-sized outputs); the vocabulary scalar is
    * one distinct-count; scoring joins occurrences to the model on the
    * bigram key (high-cardinality, no hot keys; AQE broadcasts the model
    * side when it fits) and the per-doc rollup partial-aggregates. The ln
    * runs once per model ROW before the occurrence join — never per token.
    *
    * The (doc_id, w1, w2) projection is materialized ONCE and shared by its
    * three consumers (c2, c1, scoring): measured at the 100× tier,
    * recomputing the explode per consumer costs 29.7 s vs 12.7 s
    * materialized (SCALING.md) — at 100 TB that is
    * three corpus scans vs one. Checkpoint mode follows the
    * [[graft.operators.Components]] snapshot policy (VERDICT r8 #6):
    * RELIABLE checkpoint when `sparkContext.getCheckpointDir` is set — the
    * right default for a multi-hour 100 TB run, where a localCheckpoint'd
    * block dies with its executor and fails the query (lineage is
    * truncated, there is no recompute path) — localCheckpoint otherwise
    * (single-box sessions, where executor loss means JVM loss anyway).
    * Not persist(): the materialized blocks are reclaimed by the
    * ContextCleaner as soon as the caller drops the returned frame
    * (reliable-mode files by the GC cleaner via
    * `spark.cleaner.referenceTracking.cleanCheckpoints`, set in
    * [[graft.util.Sessions]]), whereas a CacheManager entry would pin
    * executor storage until an explicit unpersist no library caller is
    * contracted to issue.
    *
    * ROUTING (VERDICT r12 #1): the declared surface is input-size-routed
    * via [[ngramLmScoresAuto]] — at or under [[LmSmallInputBytes]] it is
    * the uncapped model below (what the standard-tier oracles gate);
    * above, it is [[ngramLmScoresCapped]], whose state is bounded by
    * construction. A 100 TB user therefore gets the capped plan by
    * default; the uncapped estimator remains reachable directly via
    * [[ngramLmScores]]. */
  def ngramLm(s: SparkSession, d: String): DataFrame =
    ngramLmScoresAuto(s, d).orderBy("doc_id")

  /** [[ngramLm]] without the presentation sort — the composable form
    * ([[SelectionQueries.pplBuckets]] consumes the per-doc scores inside a
    * larger plan, where a subquery sort is dead weight). Same eager
    * materialization contract: constructing this frame snapshots the
    * (doc_id, w1, w2) projection (see the scaladoc above). */
  def ngramLmScores(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    // vocabulary scalar folded INTO the plan as a 1-row broadcast (r15,
    // guide §2.6 overlap / §1.2 fewer passes): the pre-r15 spelling ran
    // `distinct().count()` as a separate driver-blocking action — one
    // full corpus scan that everything else waited on. As a broadcast
    // subtree it executes inside the final action, concurrently with the
    // other exchanges. Value identity: count_distinct ≡ distinct-count
    // here (explode(split(...)) never yields null tokens), and the
    // smoothing arithmetic is unchanged — col("v") is the same BIGINT
    // lit(v) carried. The dsirWeights totals broadcast is the precedent.
    val vdf = docs.select(explode(split(col("text"), " ")).as("t"))
      .agg(count_distinct(col("t")).as("v"))
    // bigrams via zipped adjacent slices, NOT a positional explode: the
    // positional generator retains the full `ws` array alongside each
    // generated row until the element_at projection (O(doc_len) bytes per
    // bigram through the generator). Zipping the two slices builds them
    // once per doc and the generator emits 2-word structs — strictly less
    // row traffic (measured neutral at the decade tier, where the
    // snapshot/shuffle costs dominate — SCALING.md).
    val bi0 = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "arrays_zip(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1))")).as("p"))
      .select(col("doc_id"),
        col("p").getField("0").as("w1"),
        col("p").getField("1").as("w2"))
    val bi = graft.util.Snapshots.snap(bi0)
    val c2 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    // c1(w1) = Σ_w2 c2(w1, w2) EXACTLY (both count bigram occurrences by
    // head word) — the head counts roll up from c2 instead of a third
    // corpus-sized aggregation over the snapshot (the capped twin's r12
    // rewrite, applied here too; value identity is pinned by the ×3-tier
    // hash gate)
    val c1 = c2.groupBy("w1").agg(sum("c2").as("c1"))
    val model = c2.join(c1, "w1").crossJoin(broadcast(vdf))
      .select(col("w1"), col("w2"),
        round(-log((col("c2") + 1).cast("double") / (col("c1") + col("v")).cast("double"))
          * 1e6, 0).cast("long").as("nll"))
    bi.join(model, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll")).as("nll_micro"))
      .withColumn("avg_micro", expr("nll_micro div n_bigrams"))
  }

  /** [[ngramLmScores]] with a CAPPED vocabulary — the CCNet/KenLM pruning
    * discipline (VERDICT r11 #1): the LM's word domain is the top-K corpus
    * words by count (total order: cnt desc, word asc) plus one OOV bucket
    * every other token maps to; add-one smoothing divides by that BOUNDED
    * vocabulary size (min(K, distinct)+1), so the model table is bounded
    * BY CONSTRUCTION — at most (K+1)² bigram types, in practice far fewer
    * — instead of by the corpus's distinct-bigram count. The uncapped twin
    * measured 36× wall for 10× data on the cipher decade tier precisely
    * because adversarial text makes every bigram distinct; under the cap
    * that text collapses into OOV-dominated bigrams and the state stays
    * vocabulary-sized. At 100 TB a vocabulary-sized model BROADCASTS for
    * the scoring join; a corpus-sized one cannot.
    *
    * Plan shape: one extra bounded rollup for the top-K (TakeOrdered over
    * word counts — partial top-K per partition, never a full sort), the
    * ≤K-row vocab broadcast against the bigram stream twice (map-side, no
    * shuffle added) — and from that lookup on, every token is an INTEGER
    * vocab id (1..K in word order, OOV = 0): the materialized bigram
    * stream, both model aggregations and the scoring join carry
    * (long, int, int) rows instead of corpus strings. On the cipher
    * decade tier the string spelling measured 261 s; the id spelling cut
    * the materialization/shuffle bytes by the token width (SCALING.md r12
    * A/B). Ids are internal only — the id-keyed model is isomorphic to
    * the string-keyed one (the lookup is an exact join, not a hash), so
    * output values are unchanged; the OOV bucket is id 0, mirroring the
    * oracle's chr(1) token exactly. Same integer micro-nat determinism
    * contract as [[ngramLmScores]]. */
  def ngramLmScoresCapped(s: SparkSession, d: String, k: Int = 65536): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = documents(s, d)
    // control-character words (< 0x20) are excluded from the vocabulary
    // (ADVICE r12 #5): the oracle's OOV token is chr(1), so a corpus word
    // equal to a control char reaching the top-K would be conflated with
    // OOV by the string-keyed oracle but kept distinct by the id-keyed
    // engine. Excluding them routes such words to the OOV bucket on BOTH
    // sides — the isomorphism holds for any byte content, not just
    // control-free corpora. (Same convention as the BPE sentinels; the
    // driver generator never emits control chars, so standard-tier hashes
    // are unchanged.)
    val vocab = graft.util.Snapshots.snap(
      docs.select(explode(split(col("text"), " ")).as("w"))
        .filter(!col("w").rlike("[\\x00-\\x1f]"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w")).limit(k)
        .select("w"))
    // |vocab| + 1 (the OOV symbol) folded into the plan as a 1-row
    // broadcast off the materialized snapshot (r15) — the pre-r15
    // `vocab.count() + 1` was one more driver-blocking job per invocation
    val vSizeDf = vocab.agg((count(lit(1)) + 1L).as("vsz"))
    // ≤K rows — the single-partition window is bounded, then broadcast
    val vocabIds = vocab.withColumn("wid", row_number().over(Window.orderBy("w")))
    // bigrams via zipped adjacent slices, NOT a positional explode: the
    // positional generator retains the full `ws` array alongside each
    // generated row until the element_at projection (O(doc_len) bytes per
    // bigram through the generator). Zipping the two slices builds them
    // once per doc and the generator emits 2-word structs — strictly less
    // row traffic (measured neutral at the decade tier, where the
    // snapshot/shuffle costs dominate — SCALING.md).
    val bi0 = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "arrays_zip(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1))")).as("p"))
      .select(col("doc_id"),
        col("p").getField("0").as("w1"),
        col("p").getField("1").as("w2"))
    val v1 = broadcast(vocabIds.select(col("w").as("w1"), col("wid").as("id1")))
    val v2 = broadcast(vocabIds.select(col("w").as("w2"), col("wid").as("id2")))
    // NOT snapshotted: with c1 derived from c2 the mapped stream has two
    // consumers (c2, scoring), and the whole chain up to here is map-only
    // codegen (scan → split → zip-explode → two broadcast hash lookups) —
    // recomputing it twice is cheaper than an eager DISK_ONLY
    // serialize/write/re-read of the corpus-sized stream (the uncapped
    // twin's measured 29.7-vs-12.7 materialization win does not carry
    // over: its three consumers and string-keyed shuffles amortize the
    // write; this chain's don't — SCALING.md r12 A/B)
    val bi = bi0.join(v1, Seq("w1"), "left").join(v2, Seq("w2"), "left")
      .select(col("doc_id"),
        coalesce(col("id1"), lit(0)).as("id1"),
        coalesce(col("id2"), lit(0)).as("id2"))
    val c2 = bi.groupBy("id1", "id2").agg(count(lit(1)).as("c2"))
    // c1(id1) = Σ_id2 c2(id1, id2) EXACTLY (both count bigram occurrences
    // by head word), so the head counts roll up from the MODEL-SIZED c2
    // instead of a second corpus-wide aggregation — one fewer pass over
    // the bigram stream; the uncapped twin cannot do this cheaply because
    // its c2 is corpus-sized
    val c1 = c2.groupBy("id1").agg(sum("c2").as("c1"))
    val model = c2.join(c1, "id1").crossJoin(broadcast(vSizeDf))
      .select(col("id1"), col("id2"),
        round(-log((col("c2") + 1).cast("double") / (col("c1") + col("vsz")).cast("double"))
          * 1e6, 0).cast("long").as("nll"))
    bi.join(model, Seq("id1", "id2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll")).as("nll_micro"))
      .withColumn("avg_micro", expr("nll_micro div n_bigrams"))
  }

  /** Inputs at or under this many source bytes keep the faithful UNCAPPED
    * model; larger inputs route to the capped plan — the size-gated
    * routing discipline of [[graft.operators.ExactQuantiles.byGroupAuto]]
    * and the streaming state-store flip, applied to the LM surface
    * (VERDICT r12 #1: the uncapped twin carries corpus-sized LM state and
    * measured 36× wall for 10× data on adversarial distinct-heavy text;
    * the capped twin is bounded by construction). Unlike those flips this
    * one changes the MODEL, not just the plan — the capped LM is a
    * different (pruned) estimator — so the bound is set where the
    * uncapped model stops being a sane choice: past ~256 MB of raw text
    * the corpus-sized bigram table dwarfs any broadcast budget, and every
    * production pipeline at that scale prunes (CCNet/KenLM). At 100 TB
    * the capped plan is therefore the default BY CONSTRUCTION; the
    * fail-safe direction is capped too (an unresolvable input probes as
    * `Long.MaxValue` — "can't see it" must never pick the unbounded-state
    * plan). */
  val LmSmallInputBytes: Long = 256L << 20

  /** Input-size-routed per-doc LM scores: the surface a 100 TB user gets
    * by default. Probes the documents source with the fail-safe
    * [[graft.util.InputSize]] discipline and routes small inputs to
    * [[ngramLmScores]] (the faithful uncapped model the standard-tier
    * oracles gate), large ones to [[ngramLmScoresCapped]]. */
  def ngramLmScoresAuto(s: SparkSession, d: String): DataFrame =
    // probe the SAME frame the query reads — `Tables.documents` through the
    // plan's own FileIndex — so a cosmetic layout difference
    // (directory-of-parts, a future non-parquet documents source) can't
    // silently model-switch a tiny input (VERDICT r13 what's-wrong #3);
    // unresolvable still probes Long.MaxValue → capped, the fail-safe
    ngramLmScoresRouted(s, d, graft.util.InputSize.bytesOf(documents(s, d)))

  /** [[ngramLmScoresAuto]] with the probed size injected — the testable
    * seam ([[graft.operators.ExactQuantiles.byGroupAuto]]'s shape). */
  def ngramLmScoresRouted(s: SparkSession, d: String, inputBytes: Long): DataFrame =
    if (inputBytes <= LmSmallInputBytes) ngramLmScores(s, d)
    else ngramLmScoresCapped(s, d)

  /** Stupid-Backoff bigram LM on the capped vocabulary (Brants et al.
    * 2007, "Large Language Models in Machine Translation" — the score
    * used at web scale precisely because it needs NO normalization pass):
    * the bigram model is count-pruned (KenLM's pruning discipline —
    * singleton bigrams are dropped), retained bigrams score their raw
    * relative frequency S = c2/c1, and pruned ones BACK OFF to the
    * unigram estimate S = 0.4 · cu(w2)/N (cu = occurrences of w2 as a
    * bigram tail, N = total bigram occurrences; 0.4 is the paper's
    * backoff factor). This is the next CCNet-pipeline capability after
    * [[ngramLmScoresCapped]] (VERDICT r12 #7) and reuses its bounded
    * tables: c1 and cu both roll up from the model-sized c2, never from a
    * second corpus pass, and N is one driver scalar off c1.
    *
    * Scale shape: identical to the capped twin — the corpus is scanned
    * once into integer-id bigrams, the model tables are ≤(K+1)² rows by
    * construction (pruning makes them smaller still), the scoring join is
    * a left join against the pruned model plus a broadcast unigram
    * lookup. Per-doc output adds `n_backoff` (how many of the doc's
    * bigrams took the backoff path — the pruning-coverage audit column).
    * Same integer micro-nat determinism contract: one ln per MODEL row
    * (never per token), round-half-up to micro-nats before any sum. */
  def ngramLmScoresBackoff(s: SparkSession, d: String,
                           k: Int = 65536, minCount: Long = 2L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = documents(s, d)
    val vocab = graft.util.Snapshots.snap(
      docs.select(explode(split(col("text"), " ")).as("w"))
        .filter(!col("w").rlike("[\\x00-\\x1f]"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w")).limit(k)
        .select("w"))
    val vocabIds = vocab.withColumn("wid", row_number().over(Window.orderBy("w")))
    val bi0 = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "arrays_zip(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1))")).as("p"))
      .select(col("doc_id"),
        col("p").getField("0").as("w1"),
        col("p").getField("1").as("w2"))
    val v1 = broadcast(vocabIds.select(col("w").as("w1"), col("wid").as("id1")))
    val v2 = broadcast(vocabIds.select(col("w").as("w2"), col("wid").as("id2")))
    val bi = bi0.join(v1, Seq("w1"), "left").join(v2, Seq("w2"), "left")
      .select(col("doc_id"),
        coalesce(col("id1"), lit(0)).as("id1"),
        coalesce(col("id2"), lit(0)).as("id2"))
    // full (unpruned) bigram counts: c1/cu/N are fit on everything — only
    // the RETAINED model rows are pruned, per the KenLM convention
    val c2 = graft.util.Snapshots.snap(
      bi.groupBy("id1", "id2").agg(count(lit(1)).as("c2")))
    val c1 = c2.groupBy("id1").agg(sum("c2").as("c1"))
    val cu = c2.groupBy("id2").agg(sum("c2").as("cu"))
    // N folded into the plan as a 1-row broadcast off the snapshotted c2
    // (r15) — the pre-r15 spelling collected it with a driver-blocking
    // head(). This also retires the ADVICE-r13 empty-corpus NPE guard at
    // the root: with no driver unboxing there is nothing to NPE, and on a
    // corpus with no multi-word docs every table below (cu, model2, bi)
    // is empty, so the query yields the same empty frame the early return
    // produced (spec-pinned in CorpusQueriesSpec). The cu rows divide by
    // ntot only where cu exists, and cu nonempty ⇒ ntot > 0.
    val ntotDf = c1.agg(coalesce(sum("c1"), lit(0L)).as("ntot"))
    val model12 = c2.filter(col("c2") >= minCount).join(c1, "id1")
      .select(col("id1"), col("id2"),
        round(-log(col("c2").cast("double") / col("c1").cast("double"))
          * 1e6, 0).cast("long").as("nll12"))
    val model2 = broadcast(cu.crossJoin(ntotDf)
      .select(col("id2"),
        round(-log(lit(0.4) * col("cu").cast("double") / col("ntot").cast("double"))
          * 1e6, 0).cast("long").as("nll2")))
    bi.join(model12, Seq("id1", "id2"), "left")
      .join(model2, Seq("id2"))
      .select(col("doc_id"),
        coalesce(col("nll12"), col("nll2")).as("nll"),
        col("nll12").isNull.cast("long").as("backoff"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("nll")).as("nll_micro"),
        sum(col("backoff")).as("n_backoff"))
      .withColumn("avg_micro", expr("nll_micro div n_bigrams"))
      .select("doc_id", "n_bigrams", "n_backoff", "nll_micro", "avg_micro")
  }

  /** Token-count distribution in decimal-magnitude buckets (docs with
    * 1-9 tokens, 10-99, 100-999, …) — the first-look length histogram every
    * corpus intake runs (too-short and too-long tails are the first
    * filters any pretraining mix applies). The bucket key is the DIGIT
    * COUNT of the token count — pure integer/string arithmetic, so the
    * cross-engine result is exact by construction (no log10 ulp can move
    * a boundary doc). One partial-agg shuffle over ≤ ~20 bucket keys;
    * token counting is the codegen'd regexp count, map-side. */
  def tokenHist(s: SparkSession, d: String): DataFrame = {
    val n = TextFunctions.tokenCount(col("text")).cast("long")
    documents(s, d)
      .select(length(n.cast("string")).as("bucket_digits"), n.as("n"))
      .groupBy("bucket_digits")
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"),
        min(col("n")).as("min_tokens"), max(col("n")).as("max_tokens"))
      .orderBy("bucket_digits")
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS algorithm; reference repo has no analogue,
    * this is a training-data extension). Each doc's word-3-gram stream is
    * poly-hashed ([[graft.operators.Dedup.polyHash]], the q_minhash_arith
    * convention); every window of W=4 consecutive gram hashes selects its
    * minimum, ties broken RIGHTMOST (the paper's rule — it maximizes
    * window overlap so ~1 new selection per window boundary). The selected
    * set is the document's fingerprint: any shared substring of
    * ≥ W+K−1 = 6 words between two docs is GUARANTEED to share a selected
    * gram — the detection floor exact substring dedup ([[substringDedup]])
    * lacks (its fixed grams can straddle). Output per doc: gram count,
    * selection count (density → 2/(W+1) on random text) and an integer
    * checksum/min/max of the selected hashes, pinning the exact set.
    *
    * Determinism across engines: the (hash, position) pair is encoded into
    * one BIGINT — `h·2³¹ + (2³¹−1−pos)` — so a single `array_min` per
    * window implements min-hash-then-rightmost-pos exactly; h < 2³¹−1
    * (Mersenne-mod polyHash) keeps the product < 2⁶² and positions up to
    * 2³¹ collision-free. All arithmetic is BIGINT; no floats anywhere.
    *
    * Scale shape: winnowing is a purely LOCAL algorithm and the plan says
    * so — gram hashing, window minima, distinct and the checksum are all
    * array ops inside one projection: ZERO shuffles, zero explode (the
    * per-word row stream [[substringDedup]] pays is never materialized),
    * one corpus scan, whole-stage codegen end to end. At 100 TB this is
    * the cheapest per-doc fingerprint in the file — embarrassingly
    * parallel over documents. */
  def winnow(s: SparkSession, d: String): DataFrame =
    winnowSelections(documents(s, d))
      .select(col("doc_id"),
        size(col("gh")).cast("long").as("n_grams"),
        size(col("sel")).cast("long").as("n_selected"),
        expr("aggregate(selh, CAST(0 AS BIGINT), (a, x) -> a + x)")
          .as("fp_checksum"),
        array_min(col("selh")).as("fp_min"),
        array_max(col("selh")).as("fp_max"))
      .orderBy("doc_id")

  /** [[winnow]]'s per-doc selection arrays — the composable/testable
    * form: `gh` (positioned gram hashes), `sel` (the encoded selected
    * (hash, pos) pairs) and `selh` (the decoded selected hash set —
    * intersect two docs' `selh` to detect shared ≥6-word substrings).
    * One projection, zero shuffles. */
  def winnowSelections(docs: DataFrame): DataFrame = {
    val K = 3; val W = 4
    val Shift = 2147483648L // 2^31
    docs
      // gh via the compiled from-text pass (r14): one polyHash fold per
      // gram POSITION — identical values to the former split + transform +
      // concat_ws(slice(ws)) spelling (a consecutive word run re-joined
      // with ' ' is the original character span), with the winnowing
      // `< K words → empty` fallback. Pinned by ShingleHashesSpec.
      .select(col("doc_id"),
        graft.expr.ShingleHashes.shingle_hashes(col("text"), K,
          emptyIfShort = true).as("gh"))
      .withColumn("enc", transform(col("gh"),
        (h, i) => h * lit(Shift) + (lit(Shift - 1) - i)))
      .withColumn("sel",
        when(size(col("enc")) < W, array().cast("array<bigint>"))
          .otherwise(array_distinct(transform(
            sequence(lit(1), size(col("enc")) - (W - 1)),
            j => array_min(slice(col("enc"), j, lit(W)))))))
      .withColumn("selh", expr("transform(sel, x -> x div 2147483648)"))
      .select(col("doc_id"), col("gh"), col("sel"), col("selh"))
  }

  /** Winnowing-index similarity pairs — the MOSS use case: find the
    * most-overlapping document pairs from the SPARSE winnowing index
    * instead of the full gram stream. [[winnowSelections]] keeps
    * ~2/(W+1) of the grams with the ≥6-word detection guarantee, so the
    * inverted index this query joins on is ~2.5× smaller than
    * [[substringDedup]]'s per-word stream — winnowing's industrial
    * point. Docs are first collapsed to distinct texts (md5 — identical
    * docs share every fingerprint and would only report themselves);
    * pairs of reps sharing ≥ 2 selected gram hashes are scored by the
    * shared count and the top 50 reported (ties → lowest ids).
    *
    * Scale shape: the pair space is generated from the POSTING LISTS of
    * selected hashes only — one shuffle of (hash, rep) ids (the sparse
    * index), per-hash pair explode bounded by posting-list length, a
    * pair rollup, and a TakeOrdered top-50 (no global sort). Clone
    * families are collapsed before the index, so posting lists are
    * bounded by genuine cross-text repetition, not duplication; the
    * boilerplate-hot-hash hazard is the same one [[sourceOverlap]]
    * documents, bounded here by dropping hashes whose posting list
    * exceeds 64 reps (a standard MOSS-style stoplist: a fingerprint
    * shared by >64 distinct texts is boilerplate, not similarity —
    * dropping it bounds the explode at |list|² ≤ 4096 while keeping
    * every discriminating fingerprint). */
  def winnowPairs(s: SparkSession, d: String): DataFrame = {
    val reps = documents(s, d)
      .withColumn("m", md5(col("text").cast("binary")))
      .withColumn("rw", row_number().over(
        Window.partitionBy("m").orderBy("doc_id")))
      .filter(col("rw") === 1)
      .select(col("doc_id"), col("text"))
    // explode_outer, NOT explode: InferFiltersFromGenerate would add a
    // size(selh) > 0 filter whose pushdown INLINES the whole winnow
    // chain into the Filter (with the enc subtree triplicated) — each
    // doc then pays the selection ~5x. Measured: 97 s -> 2 s for this
    // stage at sf0.1. outer emits one null row per empty selection,
    // dropped on the generated attribute (not inferable away).
    val postings = winnowSelections(reps)
      .select(col("doc_id"), explode_outer(col("selh")).as("h"))
      .filter(col("h").isNotNull)
    val lists = postings.groupBy("h")
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")).between(2, 64))
    lists
      .select(explode(expr(
        "flatten(transform(ids, (x, i) -> transform(slice(ids, i + 2, size(ids)), " +
          "y -> struct(x AS id_a, y AS id_b))))")).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .orderBy(col("n_shared").desc, col("id_a"), col("id_b"))
      .limit(50)
  }

  /** Incremental (delta-vs-corpus) dedup — the recurring-INGEST shape: a
    * new batch arrives and must be deduplicated against the existing
    * corpus WITHOUT re-pairing the corpus with itself (the pairwise
    * families' job is the one-time backfill; this is the nightly run).
    * Delta = docs with `doc_id % 10 = 0` (the deterministic stand-in for
    * "yesterday's corpus + today's batch"); corpus = the rest. Each delta
    * doc is classified: `exact_dup` (byte-identical text exists in the
    * corpus — md5 match), `near_dup` (MinHash-LSH candidate whose exact
    * shingle Jaccard ≥ 0.5), or `unique`; with the best-matching corpus
    * doc (highest Jaccard, ties → lowest id) and the integer milli-Jaccard.
    *
    * Candidates come from the engine-portable arithmetic MinHash
    * ([[graft.operators.Dedup.arithMinhashColumns]], q_minhash_arith's 8
    * signatures) banded 4×2 — a delta doc and corpus doc are candidates
    * iff some band agrees on BOTH its signatures (band key =
    * `sig_{2i}·p + sig_{2i+1}`, collision-free: sigs < p = 2³¹−1).
    *
    * Scale shape — BROADCAST-DELTA: the corpus NEVER shuffles, not even
    * its keys. The delta batch is first collapsed to DISTINCT TEXTS
    * (md5-keyed — clone-heavy batches collapse before anything else;
    * every per-text column is a pure function of the text, so the dedup
    * is value-deterministic) and its md5 set, band table and shingle
    * arrays broadcast. The corpus scan then does everything map-side:
    * probes the md5 set (exact), probes the band table and verifies the
    * exact Jaccard against the broadcast shingles IN THE SAME SCAN, so
    * only ≥-threshold hits — (delta_text, cid, jac) triples — ever leave
    * an executor. Clone amplification is linear, not quadratic: each
    * corpus row pays one Jaccard per MATCHED DISTINCT delta text (≤4
    * band collisions), never per delta clone; hits fan back out to delta
    * members through a broadcast join at the end. The first cut of this
    * query materialized doc-level band-join candidates instead and the
    * clone-heavy 100× tier ran >10 min of quadratic verify before being
    * killed — the A/B is in SCALING.md. One corpus scan per pass (exact
    * + near = two), tiny hit-level shuffles only. */
  def deltaDedup(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    deltaClassify(docs.filter(col("doc_id") % 10 === 0),
      docs.filter(col("doc_id") % 10 =!= 0))
      .orderBy("doc_id")
  }

  /** [[deltaDedup]]'s classification core over explicit (doc_id, text)
    * frames — the composable form [[StreamingQueries]]'s per-micro-batch
    * ingest twin calls with the micro-batch as `deltaDocs`. Output is
    * per-delta-doc and independent of how the delta is batched (every
    * classification reads only that doc + the corpus), unsorted. */
  def deltaClassify(deltaDocs: DataFrame, corpDocs: DataFrame): DataFrame = {
    // hash each shingle ONCE; sigs and the verify set both derive from the
    // hash array. Verify runs on hashed-shingle SETS (array<long> — the
    // standard minhash-verify convention; primitive merge, cheap to carry
    // through the band explode), with the oracle computing the identical
    // hashed sets.
    val sigsOf = graft.expr.MinhashSigs.minhash_sigs(col("hsh"))
    // shingle_hashes (r14) skips wordShingles' string-level distinct: the
    // sigs are minima (duplicate-insensitive) and `sh` re-distincts by hash
    // value below — equal strings hash equal, so the set is unchanged
    // (pinned by ShingleHashesSpec)
    def prep(docs: DataFrame) = docs
      .withColumn("hsh", graft.expr.ShingleHashes.shingle_hashes(col("text"), 3))
      .select(
        (col("doc_id") +: md5(col("text").cast("binary")).as("m") +:
          array_sort(array_distinct(col("hsh"))).as("sh") +:
          (0 until 8).map(i => element_at(sigsOf, i + 1).as(s"sig_$i"))): _*)
    val delta = prep(deltaDocs)
    val corp = prep(corpDocs)
    // one row per distinct delta TEXT (sh/sigs identical within a family)
    val dTexts = delta.dropDuplicates("m")
    val bandsOf = (0 until 4).map(i =>
      struct(lit(i).as("bi"),
        (col(s"sig_${2 * i}") * lit(2147483647L) + col(s"sig_${2 * i + 1}"))
          .as("b")))
    val dBands = dTexts
      .select(col("m").as("d_m"), explode(array(bandsOf: _*)).as("db"))
      .select(col("d_m"), col("db.bi").as("bi"), col("db.b").as("b"))
    val dShingles = dTexts.select(col("m").as("d_m"), col("sh").as("dsh"))
    // exact: corpus probes the broadcast delta md5 set — map-side
    val exact = corp.join(broadcast(dTexts.select(col("m"))), "m")
      .groupBy("m").agg(min("doc_id").as("exact_match"))
    // near: band probe + Jaccard verify inside the corpus scan
    val hits = corp
      .select(col("doc_id").as("cid"), col("sh").as("csh"),
        explode(array(bandsOf: _*)).as("cb"))
      .select(col("cid"), col("csh"), col("cb.bi").as("bi"), col("cb.b").as("b"))
      .join(broadcast(dBands), Seq("bi", "b"))
      .join(broadcast(dShingles), "d_m")
      // allocation-free codegen two-pointer merge on pre-sorted arrays —
      // size(array_union(..)) built a hash set + output array PER PROBE
      // and dominated the clone-heavy 100x tier
      .withColumn("inter", graft.expr.SortedIntersectSize
        .sorted_intersect_size(col("dsh"), col("csh")).cast("long"))
      .withColumn("jac_milli",
        expr("inter * 1000 div (CAST(size(dsh) + size(csh) AS BIGINT) - inter)"))
      .filter(col("jac_milli") >= 500L)
      .select(col("d_m"), col("cid"), col("jac_milli"))
      .distinct() // a pair can hit in several bands; hit-level, tiny
    val bestW = Window.partitionBy("d_m")
      .orderBy(col("jac_milli").desc, col("cid"))
    val best = hits.withColumn("rw", row_number().over(bestW))
      .filter(col("rw") === 1)
      .select(col("d_m").as("m"), col("cid").as("near_match"), col("jac_milli"))
    delta.select("doc_id", "m")
      .join(broadcast(exact), Seq("m"), "left")
      .join(broadcast(best), Seq("m"), "left")
      .select(col("doc_id"),
        when(col("exact_match").isNotNull, "exact_dup")
          .when(col("near_match").isNotNull, "near_dup")
          .otherwise("unique").as("status"),
        coalesce(col("exact_match"), col("near_match")).as("matched_id"),
        when(col("exact_match").isNotNull, 1000L)
          .otherwise(col("jac_milli")).as("jac_milli"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_winnow"         -> (winnow _),
    "q_winnow_pairs"   -> (winnowPairs _),
    "q_substring_cut"  -> (substringCut _),
    "q_delta_dedup"    -> (deltaDedup _),
    "q_para_dedup"     -> (paraDedup _),
    "q_substring_dedup" -> (substringDedup _),
    "q_source_overlap" -> (sourceOverlap _),
    "q_decontam_bloom" -> (decontamBloom _),
    "q_lang_mixture"   -> (langMixture _),
    "q_ngram_lm"       -> (ngramLm _),
    "q_ngram_lm_capped" -> ((s: SparkSession, d: String) =>
      ngramLmScoresCapped(s, d).orderBy("doc_id")),
    "q_ngram_lm_backoff" -> ((s: SparkSession, d: String) =>
      ngramLmScoresBackoff(s, d).orderBy("doc_id")),
    "q_token_hist"     -> (tokenHist _),
  )

  val oracle: Map[String, String] = Map(
    // Winnowing-index pairs: rep-collapsed docs -> q_winnow's selection
    // chain -> distinct (doc, hash) postings, stoplisted at 64 -> pair
    // counts >= 2 -> top-50 (total order: n_shared desc, id_a, id_b)
    "q_winnow_pairs" ->
      """WITH reps AS (SELECT doc_id, text FROM (
             SELECT doc_id, text,
                    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rw
             FROM documents) WHERE rw = 1),
         t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM reps),
         g AS (SELECT doc_id,
                      CASE WHEN len(ws) < 3 THEN CAST([] AS BIGINT[])
                           ELSE list_transform(range(1, len(ws) - 1),
                                  j -> list_reduce(
                                         list_transform(string_split(array_to_string(ws[j:j+2], ' '), ''),
                                                        c -> CAST(ascii(c) AS BIGINT)),
                                         (h, c) -> (h * 31 + c) % 2147483647)) END AS gh
               FROM t),
         e AS (SELECT doc_id,
                      list_transform(range(1, len(gh) + 1),
                                     i -> gh[i] * 2147483648 + (2147483647 - (i - 1))) AS enc
               FROM g),
         s AS (SELECT doc_id,
                      CASE WHEN len(enc) < 4 THEN CAST([] AS BIGINT[])
                           ELSE list_distinct(list_transform(range(1, len(enc) - 2),
                                  j -> list_min(enc[j:j+3]))) END AS sel
               FROM e),
         post AS (SELECT DISTINCT doc_id, unnest(list_transform(sel, x -> x // 2147483648)) AS h
                  FROM s),
         keep AS (SELECT h FROM post GROUP BY h HAVING count(*) BETWEEN 2 AND 64),
         pairs AS (SELECT p1.doc_id AS id_a, p2.doc_id AS id_b
                   FROM post p1 JOIN post p2 USING (h) JOIN keep USING (h)
                   WHERE p1.doc_id < p2.doc_id)
       SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_shared
       FROM pairs GROUP BY id_a, id_b HAVING count(*) >= 2
       ORDER BY n_shared DESC, id_a, id_b LIMIT 50""",
    // Incremental dedup: delta (doc_id%10=0) vs corpus — exact md5 match,
    // else arith-MinHash 4x2 band candidates verified by exact shingle
    // Jaccard >= 0.5 (best match: highest jac, ties lowest id)
    "q_delta_dedup" ->
      """WITH sh AS (
           SELECT doc_id,
                  list_distinct(CASE WHEN len(string_split(text,' ')) < 3 THEN [text]
                       ELSE list_transform(range(1, len(string_split(text,' ')) - 1),
                              i -> array_to_string((string_split(text,' '))[i:i+2], ' ')) END) AS shingles
           FROM documents),
         hs AS (SELECT doc_id, shingles,
                  list_transform(shingles,
                    s -> list_reduce(list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT)),
                                     (h, c) -> (h * 31 + c) % 2147483647)) AS hashes
                FROM sh),
         sig AS (SELECT doc_id, hashes,
                  list_min(list_transform(hashes, h -> (h * 1299721 + 7) % 2147483647)) AS s0,
                  list_min(list_transform(hashes, h -> (h * 15485863 + 11) % 2147483647)) AS s1,
                  list_min(list_transform(hashes, h -> (h * 32452843 + 13) % 2147483647)) AS s2,
                  list_min(list_transform(hashes, h -> (h * 49979687 + 17) % 2147483647)) AS s3,
                  list_min(list_transform(hashes, h -> (h * 67867967 + 19) % 2147483647)) AS s4,
                  list_min(list_transform(hashes, h -> (h * 86028121 + 23) % 2147483647)) AS s5,
                  list_min(list_transform(hashes, h -> (h * 104395301 + 29) % 2147483647)) AS s6,
                  list_min(list_transform(hashes, h -> (h * 122949823 + 31) % 2147483647)) AS s7
                 FROM hs),
         bb AS (SELECT doc_id, list_distinct(hashes) AS hset,
                  s0 * 2147483647 + s1 AS b0, s2 * 2147483647 + s3 AS b1,
                  s4 * 2147483647 + s5 AS b2, s6 * 2147483647 + s7 AS b3
                FROM sig),
         delta AS (SELECT * FROM bb WHERE doc_id % 10 = 0),
         corp  AS (SELECT * FROM bb WHERE doc_id % 10 <> 0),
         ex AS (SELECT d.doc_id, min(c.doc_id) AS exact_match
                FROM (SELECT doc_id, md5(text) AS m FROM documents WHERE doc_id % 10 = 0) d
                JOIN (SELECT doc_id, md5(text) AS m FROM documents WHERE doc_id % 10 <> 0) c USING (m)
                GROUP BY d.doc_id),
         cand AS (SELECT d.doc_id, c.doc_id AS cid FROM delta d JOIN corp c ON d.b0 = c.b0
            UNION SELECT d.doc_id, c.doc_id FROM delta d JOIN corp c ON d.b1 = c.b1
            UNION SELECT d.doc_id, c.doc_id FROM delta d JOIN corp c ON d.b2 = c.b2
            UNION SELECT d.doc_id, c.doc_id FROM delta d JOIN corp c ON d.b3 = c.b3),
         jac AS (SELECT cand.doc_id, cand.cid,
                        (len(d.hset) + len(c.hset)
                          - len(list_distinct(d.hset || c.hset))) * 1000
                          // len(list_distinct(d.hset || c.hset)) AS jac_milli
                 FROM cand JOIN delta d ON cand.doc_id = d.doc_id
                           JOIN corp c ON cand.cid = c.doc_id),
         nb AS (SELECT doc_id, cid AS near_match, jac_milli,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY jac_milli DESC, cid) AS rw
                FROM jac WHERE jac_milli >= 500)
       SELECT dd.doc_id,
              CASE WHEN ex.exact_match IS NOT NULL THEN 'exact_dup'
                   WHEN nb.near_match IS NOT NULL THEN 'near_dup'
                   ELSE 'unique' END AS status,
              CAST(coalesce(ex.exact_match, nb.near_match) AS BIGINT) AS matched_id,
              CAST(CASE WHEN ex.exact_match IS NOT NULL THEN 1000
                        ELSE nb.jac_milli END AS BIGINT) AS jac_milli
       FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) dd
       LEFT JOIN ex USING (doc_id)
       LEFT JOIN (SELECT * FROM nb WHERE rw = 1) nb USING (doc_id)
       ORDER BY doc_id""",
    // Lee et al. cut/re-splice: positions covered by any corpus-duplicated
    // 10-gram are removed; output pins the re-spliced text via md5.
    // Fully-cut docs drop (a re-spliced corpus drops empty docs).
    "q_substring_cut" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT doc_id, unnest(range(0, len(ws) - 10 + 1)) AS gpos, ws
               FROM w WHERE len(ws) >= 10),
         gh AS (SELECT doc_id, gpos,
                       md5(array_to_string(ws[gpos+1:gpos+10], ' ')) AS h
                FROM g),
         dup AS (SELECT doc_id, gpos FROM (
                   SELECT doc_id, gpos, count(*) OVER (PARTITION BY h) AS c
                   FROM gh) WHERE c > 1),
         removed AS (SELECT DISTINCT doc_id, pos FROM (
                       SELECT doc_id, unnest(range(gpos, gpos + 10)) AS pos
                       FROM dup)),
         allw AS (SELECT doc_id, len(ws) AS n_words,
                         unnest(range(0, len(ws))) AS pos, ws
                  FROM w),
         kept AS (SELECT a.doc_id, a.n_words, a.pos, a.ws[a.pos + 1] AS word
                  FROM allw a LEFT JOIN removed r
                    ON a.doc_id = r.doc_id AND a.pos = r.pos
                  WHERE r.doc_id IS NULL)
       SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
              CAST(count(*) AS BIGINT) AS n_kept,
              md5(string_agg(word, ' ' ORDER BY pos)) AS cleaned_md5
       FROM kept GROUP BY doc_id, n_words ORDER BY doc_id""",
    // Winnowing: positioned word-3-gram polyHashes (the q_minhash_arith
    // fold), encoded h*2^31 + (2^31-1-pos) so one list_min per 4-window
    // is min-hash-then-rightmost-pos; rollup pins the selected set via
    // count/sum/min/max of the decoded hashes
    "q_winnow" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT doc_id,
                      CASE WHEN len(ws) < 3 THEN CAST([] AS BIGINT[])
                           ELSE list_transform(range(1, len(ws) - 1),
                                  j -> list_reduce(
                                         list_transform(string_split(array_to_string(ws[j:j+2], ' '), ''),
                                                        c -> CAST(ascii(c) AS BIGINT)),
                                         (h, c) -> (h * 31 + c) % 2147483647)) END AS gh
               FROM t),
         e AS (SELECT doc_id, gh,
                      list_transform(range(1, len(gh) + 1),
                                     i -> gh[i] * 2147483648 + (2147483647 - (i - 1))) AS enc
               FROM g),
         s AS (SELECT doc_id, len(gh) AS n_grams,
                      CASE WHEN len(enc) < 4 THEN CAST([] AS BIGINT[])
                           ELSE list_distinct(list_transform(range(1, len(enc) - 2),
                                  j -> list_min(enc[j:j+3]))) END AS sel
               FROM e),
         h AS (SELECT doc_id, n_grams, len(sel) AS n_selected,
                      list_transform(sel, x -> x // 2147483648) AS selh
               FROM s)
       SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
              CAST(n_selected AS BIGINT) AS n_selected,
              CAST(CASE WHEN n_selected = 0 THEN 0
                        ELSE list_reduce(selh, (a, b) -> a + b) END AS BIGINT) AS fp_checksum,
              CAST(list_min(selh) AS BIGINT) AS fp_min,
              CAST(list_max(selh) AS BIGINT) AS fp_max
       FROM h ORDER BY doc_id""",
    "q_para_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         p0 AS (SELECT doc_id, ws, unnest(range(0, len(ws) // 10)) AS pos
                FROM w WHERE len(ws) >= 10),
         p AS (SELECT doc_id, pos,
                      md5(array_to_string(ws[pos*10+1 : pos*10+10], ' ')) AS h
               FROM p0),
         r AS (SELECT doc_id, pos,
                      row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
               FROM p)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_passages,
              CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
       FROM r GROUP BY doc_id ORDER BY doc_id""",
    "q_substring_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         p0 AS (SELECT doc_id, ws, unnest(range(0, len(ws) - 10 + 1)) AS pos
                FROM w WHERE len(ws) >= 10),
         g AS (SELECT doc_id, pos,
                      md5(array_to_string(ws[pos+1 : pos+10], ' ')) AS h
               FROM p0),
         c AS (SELECT doc_id, count(*) OVER (PARTITION BY h) AS c FROM g)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
              CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
       FROM c GROUP BY doc_id ORDER BY doc_id""",
    "q_source_overlap" ->
      """WITH w AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
         p0 AS (SELECT source, ws, unnest(range(0, len(ws) - 10 + 1)) AS pos
                FROM w WHERE len(ws) >= 10),
         g AS (SELECT DISTINCT source,
                      md5(array_to_string(ws[pos+1 : pos+10], ' ')) AS h
               FROM p0)
       SELECT a.source AS source_a, b.source AS source_b,
              CAST(count(*) AS BIGINT) AS n_shared
       FROM g a JOIN g b ON a.h = b.h AND a.source < b.source
       GROUP BY 1, 2 ORDER BY 1, 2""",
    // bit-identical to q_decontam by construction (Bloom false positives
    // are removed by the exact confirm join) — same oracle text
    "q_decontam_bloom" -> PipelineQueries.oracle("q_decontam"),
    "q_lang_mixture" ->
      """WITH counts AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
         sc AS (SELECT lang, c, CAST(floor(sqrt(c) * 1000) AS BIGINT) AS isq
                FROM counts),
         tot AS (SELECT sum(isq) AS s_isq, sum(c) AS n FROM sc),
         thr AS (SELECT lang,
                        least(10000, ((n // 2) * isq * 10000) // (s_isq * c)) AS bp
                 FROM sc, tot)
       SELECT d.doc_id, d.lang
       FROM documents d JOIN thr USING (lang)
       WHERE (((doc_id % 2147483647) * 15485863 + 17) % 2147483647) % 10000 < bp
       ORDER BY doc_id""",
    "q_ngram_lm" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         wf AS (SELECT doc_id, ws FROM w WHERE len(ws) >= 2),
         p0 AS (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM wf),
         bi AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2 FROM p0),
         c2 AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY w1, w2),
         c1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY w1),
         vocab AS (SELECT count(DISTINCT t) AS v
                   FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)),
         model AS (SELECT w1, w2,
                          CAST(round(-ln((c2 + 1) / CAST(c1 + v AS DOUBLE)) * 1000000)
                               AS BIGINT) AS nll
                   FROM c2 JOIN c1 USING (w1), vocab)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
              CAST(sum(nll) AS BIGINT) AS nll_micro,
              CAST(sum(nll) // count(*) AS BIGINT) AS avg_micro
       FROM bi JOIN model USING (w1, w2)
       GROUP BY doc_id ORDER BY doc_id""",
    // capped twin: same chain over the top-65536+OOV word domain (the
    // q_ppl_buckets_capped vocabulary mirror), gating the per-doc scores
    // directly rather than through the bucket rollup
    "q_ngram_lm_capped" ->
      """WITH wc AS (SELECT word, count(*) AS cnt
                     FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
                     WHERE NOT regexp_matches(word, '[\x00-\x1f]')
                     GROUP BY word),
         vocab AS (SELECT word FROM wc ORDER BY cnt DESC, word LIMIT 65536),
         vn AS (SELECT CAST(count(*) + 1 AS BIGINT) AS v FROM vocab),
         w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         wf AS (SELECT doc_id, ws FROM w WHERE len(ws) >= 2),
         p0 AS (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM wf),
         bir AS (SELECT doc_id, ws[i] AS r1, ws[i+1] AS r2 FROM p0),
         bi AS (SELECT doc_id,
                       coalesce(va.word, chr(1)) AS w1,
                       coalesce(vb.word, chr(1)) AS w2
                FROM bir LEFT JOIN vocab va ON bir.r1 = va.word
                         LEFT JOIN vocab vb ON bir.r2 = vb.word),
         c2 AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY w1, w2),
         c1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY w1),
         model AS (SELECT w1, w2,
                          CAST(round(-ln((c2 + 1) / CAST(c1 + v AS DOUBLE)) * 1000000)
                               AS BIGINT) AS nll
                   FROM c2 JOIN c1 USING (w1), vn)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
              CAST(sum(nll) AS BIGINT) AS nll_micro,
              CAST(sum(nll) // count(*) AS BIGINT) AS avg_micro
       FROM bi JOIN model USING (w1, w2)
       GROUP BY doc_id ORDER BY doc_id""",
    // Stupid Backoff on the capped vocabulary: singleton bigrams pruned
    // from the model; retained ones score -ln(c2/c1); pruned ones back
    // off to -ln(0.4 * cu(w2) / N) (cu = tail occurrences, N = total
    // bigrams; c1/cu/N fit on the UNPRUNED counts)
    "q_ngram_lm_backoff" ->
      """WITH wc AS (SELECT word, count(*) AS cnt
                     FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
                     WHERE NOT regexp_matches(word, '[\x00-\x1f]')
                     GROUP BY word),
         vocab AS (SELECT word FROM wc ORDER BY cnt DESC, word LIMIT 65536),
         w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         wf AS (SELECT doc_id, ws FROM w WHERE len(ws) >= 2),
         p0 AS (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM wf),
         bir AS (SELECT doc_id, ws[i] AS r1, ws[i+1] AS r2 FROM p0),
         bi AS (SELECT doc_id,
                       coalesce(va.word, chr(1)) AS w1,
                       coalesce(vb.word, chr(1)) AS w2
                FROM bir LEFT JOIN vocab va ON bir.r1 = va.word
                         LEFT JOIN vocab vb ON bir.r2 = vb.word),
         c2 AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY w1, w2),
         c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY w1),
         cu AS (SELECT w2, sum(c2) AS cu FROM c2 GROUP BY w2),
         tot AS (SELECT sum(c1) AS n FROM c1),
         m12 AS (SELECT w1, w2,
                        CAST(round(-ln(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE))
                             * 1000000) AS BIGINT) AS nll12
                 FROM c2 JOIN c1 USING (w1) WHERE c2 >= 2),
         m2 AS (SELECT w2,
                       CAST(round(-ln(0.4 * CAST(cu AS DOUBLE) / CAST(n AS DOUBLE))
                            * 1000000) AS BIGINT) AS nll2
                FROM cu, tot)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
              CAST(sum(CASE WHEN nll12 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff,
              CAST(sum(coalesce(nll12, nll2)) AS BIGINT) AS nll_micro,
              CAST(sum(coalesce(nll12, nll2)) // count(*) AS BIGINT) AS avg_micro
       FROM bi LEFT JOIN m12 USING (w1, w2) JOIN m2 USING (w2)
       GROUP BY doc_id ORDER BY doc_id""",
    "q_token_hist" ->
      """WITH t AS (SELECT CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT) AS n
                    FROM documents)
       SELECT CAST(length(CAST(n AS VARCHAR)) AS INT) AS bucket_digits,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n) AS BIGINT) AS n_tokens,
              CAST(min(n) AS BIGINT) AS min_tokens,
              CAST(max(n) AS BIGINT) AS max_tokens
       FROM t GROUP BY 1 ORDER BY 1""",
  )
}
