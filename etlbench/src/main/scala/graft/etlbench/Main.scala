package graft.etlbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What one timed pass of a workload returns. `wallS` is the timed work,
  * `readS` the timed read-back that follows it (not part of `wallS`),
  * `unitsMs` the durations of the pass's units of work (micro-batches,
  * star-table loads, queries) and `errors` every operation that failed. */
final case class Pass(wallS: Double, readS: Double, unitsMs: Seq[Double],
                      ops: Int, errors: Seq[String], counts: Map[String, Any])

trait Workload {
  /** About how long one warm pass, read set included, takes on 4 cores. A
    * frozen figure: it sets the warm pass count from `--seconds`, so code
    * that runs faster still measures the same passes. */
  def nominalPassS: Double
  /** Copies the generated inputs to where the program reads them. */
  def stage(spark: SparkSession): Unit
  /** Touches the staged inputs once, untimed by any pass. */
  def warmup(spark: SparkSession): Unit
  def pass(spark: SparkSession, id: Int, tr: Tracer): Pass
  /** Traced runs only: per-layer figures from the passes and from probes
    * of their own. `warm` holds every warm pass, `traced` the traced ones. */
  def layers(spark: SparkSession, cold: Option[Pass], warm: Seq[Pass], traced: Seq[Pass]): Map[String, Double]
  /** Untimed output checks on the last pass's results. */
  def check(spark: SparkSession): Map[String, Any]
}

/** Benchmark JVM: set-up, one cold pass, a fixed number of warm passes,
  * output checks, then a JSON report for `run.py`.
  *
  *   Main --workload NAME --inputs DIR --work DIR --out FILE --seconds S
  *        --trace 0|1 --seed N --queries FILE
  */
object Main {
  private val Cpus = "4"
  /** Set-ups per run; the report keeps each, `run.py` takes the median. */
  private val Setups = 5
  /** At least this many warm passes; `run.py` leaves the first out of the
    * pass figures. A traced run needs two traced and two untraced ones. */
  private val MinWarm = 3
  private val MinWarmTraced = 4
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def toJson(v: Any): String = json.writeValueAsString(v)

  /** Exits explicitly, so no lingering non-daemon thread keeps the JVM up. */
  def main(args: Array[String]): Unit = {
    val code =
      try { run(args); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  def run(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    Files.createDirectories(Paths.get(work))
    val w: Workload = name match {
      case "batch_etl"     => new BatchEtl(opt("inputs"), work)
      case "stream_upsert" => new StreamUpsert(opt("inputs"), work)
      case "query_mix"     => new QueryMix(opt("inputs"), work, opt("queries"), opt("seed").toLong)
      case other           => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tr = new Tracer
    val report = mutable.LinkedHashMap[String, Any]("workload" -> name)

    // Set-up: session build + input staging + warm-up, repeated; run.py
    // reports the median, so the first, cold repetition does not set it.
    var spark: SparkSession = null
    val setupRows = (0 until Setups).map { _ =>
      if (spark != null) spark.stop()
      val t0 = Clock.ms()
      spark = graft.util.Sessions.build("etlbench", Cpus)
      val t1 = Clock.ms()
      w.stage(spark)
      val t2 = Clock.ms()
      w.warmup(spark)
      val t3 = Clock.ms()
      Map("session_s" -> (t1 - t0) / 1e3, "inputs_s" -> (t2 - t1) / 1e3, "warmup_s" -> (t3 - t2) / 1e3)
    }
    report("setup") = setupRows

    val probe = new ExecProbe(spark)
    if (trace) {
      probe.register()
      tr.planSink = probe.recordPlan
    }
    val passes = mutable.ArrayBuffer[(Int, Pass, Boolean)]()
    val records = mutable.ArrayBuffer[Map[String, Any]]()
    def runPass(id: Int, traced: Boolean): Unit = {
      tr.pass = id
      tr.active = traced
      val start = Clock.ms()
      val rec = try {
        val p = tr.span("pass")(w.pass(spark, id, tr))
        passes += ((id, p, traced))
        Map("id" -> id, "traced" -> traced, "wall_s" -> p.wallS, "read_s" -> p.readS,
          "units_ms" -> p.unitsMs, "ops" -> p.ops, "errors" -> p.errors, "counts" -> p.counts)
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[etlbench] pass $id failed: $e")
          e.printStackTrace()
          Map("id" -> id, "traced" -> traced, "ops" -> 1, "errors" -> Seq(s"pass threw: $e"))
      }
      if (traced) probe.open(start, Clock.ms())
      tr.active = false
      records += rec
    }

    // Cold pass: the first in this JVM. Then the warm passes: their count
    // depends on `--seconds` only, never on how fast the passes run. A
    // traced run alternates traced and untraced warm passes so the tracing
    // overhead is measured too.
    runPass(0, traced = false)
    val warm = math.max(if (trace) MinWarmTraced else MinWarm, math.round(seconds / w.nominalPassS).toInt)
    (1 to warm).foreach(id => runPass(id, traced = trace && id % 2 == 0))
    report("passes") = records.toSeq

    if (trace) {
      probe.drain()
      val layers = mutable.LinkedHashMap[String, Double]()
      val traced = passes.filter(_._3).map(_._2).toSeq
      val nTraced = math.max(1, traced.size)
      val totals = probe.totals
      totals.foreach { case (k, v) =>
        if (k.startsWith("max.")) layers(k.stripPrefix("max.")) = v else layers(k) = v / nTraced
      }
      val tracedWall = traced.map(_.wallS).sum
      layers("exec.busy_ratio") =
        if (tracedWall > 0) totals.getOrElse("exec.task_s", 0.0) / (tracedWall * Cpus.toDouble) else 0.0
      tr.selfTimesMs.foreach { case (layer, ms) => layers(s"self.${layer}_s") = ms / 1e3 / nTraced }
      probe.unregister()
      try layers ++= w.layers(spark, passes.find(_._1 == 0).map(_._2),
        passes.filter(_._1 > 0).map(_._2).toSeq, traced)
      catch { case NonFatal(e) => e.printStackTrace() } // the output checks fail too
      val heap = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      layers("jvm.peak_heap_mb") = {
        import scala.jdk.CollectionConverters._
        heap.asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
          .map(_.getPeakUsage.getUsed.toDouble).sum / (1 << 20)
      }
      report("layers") = layers
      tr.writeJsonl(s"$work/spans.jsonl")
    }

    report("check") =
      try w.check(spark)
      catch {
        case NonFatal(e) =>
          e.printStackTrace()
          Map("error" -> s"check threw: $e")
      }
    spark.stop()
    Files.writeString(Paths.get(opt("out")), toJson(report) + "\n")
  }

  /** Median of a non-empty sample. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def timeS[T](body: => T): (T, Double) = {
    val t0 = Clock.ms()
    val v = body
    (v, (Clock.ms() - t0) / 1e3)
  }

  /** Deletes a directory tree if it exists. */
  def rmTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
  }

  /** (bytes, files) of the data files under a directory. */
  def dataFiles(path: String): (Long, Int) = {
    import scala.jdk.CollectionConverters._
    val p = Paths.get(path)
    if (!Files.exists(p)) (0L, 0)
    else {
      val fs = Files.walk(p).iterator().asScala.filter(f =>
        Files.isRegularFile(f) && {
          val n = f.getFileName.toString
          !n.startsWith(".") && !n.startsWith("_")
        }).toSeq
      (fs.map(f => Files.size(f)).sum, fs.size)
    }
  }
}
