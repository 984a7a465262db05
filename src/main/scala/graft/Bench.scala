package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  /** Is this query's timed action safe as `count()`, or must it be FORCED
    * (`toRdd.foreach`)? Decided on the OPTIMIZED LOGICAL plan, not the
    * physical one: under AQE (default-on) `executedPlan` is a leaf
    * AdaptiveSparkPlanExec wrapper, so collecting physical node names sees
    * nothing and every query looks map-only (the first r11 capture forced
    * all 142 rows — caught by the gate's mode-flip list being the whole
    * surface). The logical tree always carries the reducing operators.
    * Top-level Sorts are the presentation orderBy every declared query
    * ends in — count() prunes them (so they never contributed to counted
    * rows) and the forcing action executes them (the forced protocol
    * whose numbers SCALING.md carries); they are
    * stripped before the reducing-operator test, while a non-top Sort
    * stays reducing. Contract spec-pinned in BenchModeSpec. */
  private[graft] def isMapOnly(
      qe: org.apache.spark.sql.execution.QueryExecution): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
    @scala.annotation.tailrec
    def body(p: LogicalPlan): LogicalPlan = p match {
      case s: Sort => body(s.child)
      case other   => other
    }
    val reducing = Seq("Aggregate", "Join", "Sort", "Window", "Limit",
      "Expand", "CoGroup", "MapGroups", "FlatMapGroups", "Repartition",
      "Deduplicate", "Distinct", "Intersect", "Except", "Offset")
    !body(qe.optimizedPlan).collect { case p => p.getClass.getSimpleName }
      .exists(n => reducing.exists(n.contains))
  }

  /** One query's bench row: the median-of-3 seconds, or the error when
    * any run threw — a query that failed is never timed. */
  private[graft] final case class Timing(name: String, forced: Boolean,
                                         result: Either[String, Double])

  /** Times every query in `selected` (median of 3 runs each) on `spark`.
    * Median of 3: single-run numbers swing ±30% with machine load, which
    * is larger than most real plan differences.
    *
    * Forcing action (VERDICT r10 #2): count() lets Catalyst prune a
    * MAP-ONLY query (scan + project/filter/generate — no aggregate, join,
    * sort, window, or exchange anywhere in the physical plan) down to a
    * scan row-count, so its bench row measures the scan, not the
    * computation (q_winnow: 0.14 s counted vs 42.6 s forced at 100×).
    * Such plans are timed under queryExecution.toRdd.foreach instead —
    * every projected column is actually produced. Queries with any
    * reducing operator keep count() so rows stay comparable with every
    * prior round's artifact; their expensive operators sit below the
    * count and cannot be pruned away wholesale. */
  private[graft] def timeQueries(
      spark: SparkSession, sfDir: String,
      selected: Map[String, (SparkSession, String) => DataFrame],
      keepRdds: Set[Int]): Seq[Timing] =
    selected.toSeq.map { case (name, fn) =>
      // mode decided on the first run's own plan (inside its timed region,
      // where fn construction has always lived) — no extra fn() call:
      // several families materialize probe snapshots eagerly at
      // construction and an untimed extra build would double their wall
      var forced = false
      var error: Option[String] = None
      val times = scala.collection.mutable.ArrayBuffer[Double]()
      // stop at the first failure: the remaining runs would time a failure
      while (times.size < 3 && error.isEmpty) {
        val t0 = System.nanoTime()
        try {
          val df = fn(spark, sfDir)
          if (times.isEmpty) forced = isMapOnly(df.queryExecution)
          if (forced) df.queryExecution.toRdd.foreach(_ => ())
          else df.count(): Unit
          times += (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable => error = Some(s"${e.getClass.getName}: ${e.getMessage}") }
      }
      // Between queries (never inside a timed region): drop the scratch
      // state this query leaked so later queries aren't taxed by it —
      // round 6 measured untouched queries 2-4× slower late in the
      // 98-query session than standalone (VERDICT r6 finding 2).
      graft.util.SessionHygiene.scrub(spark, keepRdds, gc = true)
      error.foreach(e => System.err.println(s"[bench] $name status:error $e"))
      Timing(name, forced, error.toLeft(times.sorted.apply(1)))
    }

  // 4-decimal seconds: sub-0.1ms digits are noise and more than double the
  // line length, which is what got stdout captures truncated mid-JSON in
  // rounds 1-3 (BENCH parsed: null).
  private def fmt(v: Double): String =
    BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString

  private def jsonNames(names: Seq[String]): String =
    names.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")

  /** The full per-query record (the final stdout line). "forced": rows
    * timed under toRdd.foreach (map-only plans) — NOT comparable with a
    * prior round's counted row for the same query. "failed": queries that
    * threw; they carry no time and count toward no total. */
  private[graft] def resultJson(timings: Seq[Timing], calibration: Double,
                                sfDir: String): String = {
    val timed = timings.flatMap(t => t.result.toOption.map(t.name -> _))
    val qs = timed.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val forcedJson = jsonNames(timings.filter(t => t.forced && t.result.isRight).map(_.name))
    val failedJson = jsonNames(timings.filter(_.result.isLeft).map(_.name))
    s"""{"metric":"total","value":${fmt(timed.map(_._2).sum)},"unit":"sec","calibration":${fmt(calibration)},"forced":$forcedJson,"failed":$failedJson,"queries":$qs,"sf":"$sfDir"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // optional comma-separated subset for local iteration
    val subset = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    val spark = graft.util.Sessions.build("graft-bench", cpus)
    // Warm-up: touch every table once (FS metadata, codegen, JIT) so the
    // first measured query doesn't absorb one-time session costs.
    graft.util.Tables.all(spark, sfDir).values.foreach(df => df.count(): Unit)
    // Calibration (VERDICT r8 #5): a fixed CPU-bound workload — constant
    // in-memory aggregate, no I/O, no shuffle beyond the final partial
    // merge — timed median-of-3 at capture start. Two rounds running, the
    // artifact-to-artifact diff was dominated by uniform box-state shifts
    // (r7: 0.74x, r8: 1.39x); dividing per-query ratios by the calibration
    // ratio removes that mode so the regression gate can be tightened to
    // 1.25x on NORMALIZED time.
    val calibration = {
      val times = Seq.fill(3) {
        val t0 = System.nanoTime()
        spark.range(0L, 150000000L, 1L, 32)
          .selectExpr("sum(id % 7 + id * 3)").collect()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      times(1)
    }
    val keepRdds = graft.util.SessionHygiene.persistedIds(spark)
    val selected =
      if (subset.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => subset(n) }
    val timings = timeQueries(spark, sfDir, selected, keepRdds)
    val failed = timings.filter(_.result.isLeft).map(_.name)
    val results = timings.flatMap(t => t.result.toOption.map(t.name -> _)).toMap
    val forcedSet = timings.filter(_.forced).map(_.name).toSet
    val json = resultJson(timings, calibration, sfDir)
    // Persist the full record to a file so per-round comparisons never need
    // stdout forensics. Line order (r15, VERDICT r14 #2/what's-wrong #4):
    // the SHORT summary prints FIRST and the full per-query line LAST —
    // the driver parses the FINAL stdout line, and ending with the short
    // line cost round 14 its official per-query geomean (PERF_r14
    // n_common: 0, the long line truncated in capture, the short final
    // line carrying only the total). If the long line is ever truncated,
    // target/bench.json still holds the full record.
    Files.createDirectories(Paths.get("target"))
    Files.writeString(Paths.get("target/bench.json"), json + "\n")
    println(s"""{"metric":"total","value":${fmt(results.values.sum)},"unit":"sec","n_queries":${results.size},"n_failed":${failed.size},"sf":"$sfDir","queries_file":"target/bench.json"}""")
    println(json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[bench] FAIL: ${failed.size} quer${if (failed.size == 1) "y" else "ies"} threw: ${failed.sorted.mkString(",")}")
      sys.exit(2)
    }
    // Regression gate (VERDICT r7 #7, normalization r8 #5): with
    // SPARK_GRAFT_BENCH_REF set to a prior round's artifact, any common
    // query slower than its prior time by the gate factor (plus a 0.2 s
    // floor so sub-100 ms queries don't trip on noise) fails the capture
    // with a nonzero exit — a polluted or regressed run can no longer be
    // committed silently. When the reference carries a calibration number,
    // prior times are first scaled by calibration/priorCalibration (the
    // box-state ratio) and the gate tightens to 1.25x on normalized time;
    // without one it stays the raw 1.5x. The artifact is still written:
    // the gate blocks SHIPPING it, not inspecting it.
    sys.env.get("SPARK_GRAFT_BENCH_REF").foreach { ref =>
      val refText = Files.readString(Paths.get(ref))
      val prior = {
        val m = scala.collection.mutable.Map[String, Double]()
        val pat = java.util.regex.Pattern.compile("\"(q_[A-Za-z0-9_]+)\":([0-9.]+)")
        val mt = pat.matcher(refText)
        while (mt.find()) m(mt.group(1)) = mt.group(2).toDouble
        m
      }
      // a reference that shares no query names is the wrong file (a sweep
      // .jsonl, a truncated capture): failing loudly beats a gate that
      // passes vacuously over an empty prior map
      if (!results.keys.exists(prior.contains)) {
        System.err.println(
          s"[bench-gate] FAIL: reference $ref shares no query names with this capture — wrong artifact shape?")
        sys.exit(4)
      }
      val priorCalib = {
        val pc = java.util.regex.Pattern.compile("\"calibration\":([0-9.]+)").matcher(refText)
        if (pc.find()) Some(pc.group(1).toDouble).filter(_ > 0) else None
      }
      val (shift, bound) = priorCalib match {
        case Some(p) => (calibration / p, 1.25)
        case None    => (1.0, 1.5)
      }
      System.err.println(String.format(java.util.Locale.ROOT,
        "[bench-gate] calibration=%.4fs prior=%s shift=%.3f bound=%.2fx",
        Double.box(calibration), priorCalib.map(p => f"$p%.4fs").getOrElse("n/a"),
        Double.box(shift), Double.box(bound)))
      // prior artifacts record which rows were FORCED (toRdd.foreach on a
      // map-only plan); a query forced now but counted in the ref measured
      // different work then — its ratio is a mode flip, not a regression
      val priorForced: Set[String] = {
        val pf = java.util.regex.Pattern.compile("\"forced\":\\[([^\\]]*)\\]").matcher(refText)
        if (pf.find())
          pf.group(1).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty).toSet
        else Set.empty
      }
      val modeFlipped = forcedSet.toSet -- priorForced
      if (modeFlipped.nonEmpty)
        System.err.println(s"[bench-gate] mode-flipped (forced now, counted in ref — exempt): ${modeFlipped.toSeq.sorted.mkString(",")}")
      val regressed = results.toSeq.flatMap { case (name, sec) =>
        if (modeFlipped(name)) None
        else prior.get(name).filter(p => sec > p * shift * bound + 0.2).map(p => (name, p, sec))
      }
      regressed.foreach { case (name, p, sec) =>
        System.err.println(s"[bench-gate] $name regressed: ${fmt(p)} (norm ${fmt(p * shift)}) -> ${fmt(sec)} s")
      }
      if (regressed.nonEmpty) {
        System.err.println(s"[bench-gate] FAIL: ${regressed.size} quer${if (regressed.size == 1) "y" else "ies"} >${bound}x vs $ref")
        sys.exit(3)
      }
    }
  }
}
