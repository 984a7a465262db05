package graft.etlbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution: spans
  * and Spark's own event timestamps (epoch ms) share one time axis. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One traced interval: `pass` groups the spans of one timed pass. */
final case class Span(id: Int, parent: Int, pass: Int, name: String,
                      startMs: Double, endMs: Double)

/** In-memory span recorder. Spans are kept only while `active` (the traced
  * passes of a `--trace 1` run) and written out when the run ends. Callbacks
  * on other threads (micro-batch bodies) name their parent explicitly. */
final class Tracer {
  @volatile var active = false
  @volatile var pass = -1
  private val ids = new AtomicInteger(0)
  private val done = mutable.ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  /** Receives the executed plans that Spark's plan listener never sees. */
  @volatile var planSink: QueryExecution => Unit = _ => ()

  def current: Int = stack.get.headOption.getOrElse(-1)

  /** Records the Catalyst phases of a plan run outside a Dataset action
    * (`queryExecution.toRdd`), which posts no plan-listener event. */
  def plan(qe: QueryExecution): Unit = if (active) planSink(qe)

  def span[T](name: String, parent: Option[Int] = None)(body: => T): T =
    if (!active) body
    else {
      val id = ids.incrementAndGet()
      val p = parent.getOrElse(current)
      val start = Clock.ms()
      stack.set(id :: stack.get)
      try body
      finally {
        stack.set(stack.get.tail)
        val s = Span(id, p, pass, name, start, Clock.ms())
        done.synchronized(done += s)
      }
    }

  def spans: Seq[Span] = done.synchronized(done.toList)

  /** Self time per layer (the span name up to its first '.'), summed over
    * all spans: a span's duration minus the part its children cover. */
  def selfTimesMs: Map[String, Double] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name.takeWhile(_ != '.')).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
          .filter { case (a, b) => b > a })
        (s.endMs - s.startMs) - covered
      }.sum
    }
  }

  private def union(iv: Seq[(Double, Double)]): Double =
    iv.sortBy(_._1).foldLeft((0.0, Double.NegativeInfinity)) { case ((acc, end), (a, b)) =>
      if (b <= end) (acc, end)
      else (acc + b - math.max(a, end), b)
    }._1

  def writeJsonl(path: String): Unit = {
    val lines = spans.map(s =>
      Main.toJson(Map("id" -> s.id, "parent" -> s.parent, "pass" -> s.pass, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}

/** Spark-side counters for the traced passes, read from Spark's public
  * listener interfaces. Events are buffered with their own timestamps and
  * attributed to the traced pass windows once the run is over, so events
  * the asynchronous listener bus delivers late still land in their pass. */
final class ExecProbe(spark: SparkSession) extends SparkListener {
  private val windows = mutable.ArrayBuffer[(Double, Double)]()
  /** (event time in epoch ms, metric, value) */
  private val events = mutable.ArrayBuffer[(Double, String, Double)]()
  private def add(t: Double, k: String, v: Double): Unit = events.synchronized(events += ((t, k, v)))
  @volatile private var lastJobEndMs = 0.0
  @volatile private var lastQeStartMs = 0.0

  def open(startMs: Double, endMs: Double): Unit = windows.synchronized(windows += ((startMs, endMs)))

  /** Sums per metric over the events inside a traced pass window; for
    * `max.` metrics the largest value instead. */
  def totals: Map[String, Double] = {
    val ws = windows.synchronized(windows.toList)
    val in = events.synchronized(events.toList).filter { case (t, _, _) => ws.exists { case (a, b) => t >= a && t <= b } }
    in.groupBy(_._2).map { case (k, es) =>
      k -> (if (k.startsWith("max.")) es.map(_._3).max else es.map(_._3).sum)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = add(e.time.toDouble, "exec.jobs", 1)

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    lastJobEndMs = math.max(lastJobEndMs, e.time.toDouble)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    e.stageInfo.completionTime.foreach(t => add(t.toDouble, "exec.stages", 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val t = e.taskInfo.finishTime.toDouble
      add(t, "exec.tasks", 1)
      add(t, "exec.task_s", m.executorRunTime / 1e3)
      add(t, "exec.cpu_s", m.executorCpuTime / 1e9)
      add(t, "exec.gc_s", m.jvmGCTime / 1e3)
      add(t, "exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
      add(t, "exec.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      add(t, "shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(t, "shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add(t, "spill.bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }

  /** Plans already recorded, so a plan reported both by the listener and
    * through `Tracer.plan` counts once. */
  private val seenPlans = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(new java.util.WeakHashMap[QueryExecution, java.lang.Boolean]))

  /** Catalyst phase times of one executed query plan. */
  def recordPlan(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    if (phases.nonEmpty && seenPlans.add(qe)) {
      val start = phases.values.map(_.startTimeMs).min.toDouble
      lastQeStartMs = math.max(lastQeStartMs, start)
      Seq("analysis", "optimization", "planning").foreach { p =>
        phases.get(p).foreach(s => add(start, s"plan.${p}_s", s.durationMs / 1e3))
      }
    }
  }

  /** Every plan run by a Dataset action. */
  val planListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = recordPlan(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = recordPlan(qe)
  }

  /** Micro-batch progress of every streaming query (trigger phases and
    * state-store figures). */
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      p.durationMs.forEach((k, v) => add(t, s"stream.trigger.${k}_ms", v.toDouble))
      if (p.stateOperators.nonEmpty) {
        add(t, "state.commit_ms", p.stateOperators.map(_.commitTimeMs.toDouble).sum)
        add(t, "max.state.memory_bytes", p.stateOperators.map(_.memoryUsedBytes.toDouble).sum)
        // the largest state any micro-batch left behind
        add(t, "max.state.rows_total", p.stateOperators.map(_.numRowsTotal.toDouble).sum)
      }
    }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until the asynchronous listener buses have delivered every event
    * up to now: runs one marker job and waits for its end and its plan. */
  def drain(): Unit = {
    val mark = Clock.ms()
    spark.range(1).count()
    val deadline = System.currentTimeMillis() + 15000
    while ((lastJobEndMs < mark || lastQeStartMs < mark) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(200) // the streams bus is a separate queue; its events are older than the marker
  }

  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }
}
