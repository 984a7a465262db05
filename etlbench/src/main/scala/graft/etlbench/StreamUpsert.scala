package graft.etlbench

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, sum}
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{StreamPipeline, StreamSchema}
import graft.streaming.StreamPipeline.KeyValueParquetSink

/** Times the per-epoch writes of the wrapped upsert sink and records any
  * write that throws: the pipeline's batch body logs and drops a failed
  * batch, so the failure would otherwise be invisible. */
final class TimingStreamSink(val inner: KeyValueParquetSink, tr: Tracer, parent: Int)
    extends StreamPipeline.StreamSink {
  val writeMs = mutable.ArrayBuffer[Double]()
  val errors = mutable.ArrayBuffer[String]()
  def write(df: DataFrame, epochId: Long): Unit = {
    val t0 = Clock.ms()
    try tr.span("sink.write", Some(parent))(inner.write(df, epochId))
    catch {
      case e: Throwable =>
        errors.synchronized(errors += s"epoch $epochId: $e")
        throw e
    }
    writeMs.synchronized(writeMs += Clock.ms() - t0)
  }
}

/** The stream pipeline: a staged JSON backlog replayed through `decode` and
  * `start` (file source, one file per micro-batch, available-now trigger)
  * into the key-value Parquet store, then the store's read set. */
final class StreamUpsert(inputs: String, work: String) extends Workload {
  private val source = s"$work/source"
  private var lastSink: Option[TimingStreamSink] = None
  private var lastDirs: Seq[String] = Nil
  /** Read sets per warm pass: one read set is mostly fixed per-job cost,
    * so each pass reports the median of several. */
  private val Reads = 3
  val nominalPassS = 5.0

  /** Backlog files get strictly increasing modification times, which fixes
    * the order the file source replays them in. */
  def stage(spark: SparkSession): Unit = {
    Main.rmTree(source)
    Files.createDirectories(Paths.get(source))
    val files = Files.list(Paths.get(s"$inputs/backlog")).iterator().asScala.toSeq.sortBy(_.toString)
    val base = System.currentTimeMillis() - 3600 * 1000L
    files.zipWithIndex.foreach { case (f, i) =>
      val dst = Paths.get(source).resolve(f.getFileName)
      Files.copy(f, dst)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(base + i * 1000L))
    }
  }

  def warmup(spark: SparkSession): Unit = spark.read.text(source).count(): Unit

  def pass(spark: SparkSession, id: Int, tr: Tracer): Pass = {
    val store = s"$work/store/p$id"
    val ckpt = s"$work/ckpt/p$id"
    Seq(store, ckpt).foreach(Main.rmTree)
    val t0 = Clock.ms()
    val (sink, query) = tr.span("stream.replay") {
      val sink = new TimingStreamSink(new KeyValueParquetSink(spark, store), tr, tr.current)
      val parsed = StreamPipeline.decode(
        spark.readStream.option("maxFilesPerTrigger", "1").text(source))
      val q = StreamPipeline.start(parsed, sink, ckpt, Trigger.AvailableNow())
      q.awaitTermination()
      (sink, q)
    }
    val wall = (Clock.ms() - t0) / 1e3
    query.exception.foreach(e => throw e)
    val progress = query.recentProgress.filter(_.numInputRows > 0).toSeq
    def phase(k: String) = progress.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))

    // The store's read set, `Reads` times; the cold pass only counts the
    // store, to check it.
    val kv = sink.inner
    val reads = (1 to (if (id > 0) Reads else 1)).map { _ =>
      val ((rows, snap), snapS) = Main.timeS(tr.span("store.snapshot") {
        val s = kv.snapshot()
        (StreamPipeline.countAll(s), s)
      })
      val (_, pointS) = Main.timeS(if (id > 0) tr.span("store.point_read")(StreamPipeline.pointRead(snap).collect()))
      val (_, typesS) = Main.timeS(if (id > 0) tr.span("store.call_type_counts")(StreamPipeline.callTypeCounts(snap).collect()))
      (rows, snapS, pointS, typesS)
    }
    def med(f: ((Long, Double, Double, Double)) => Double) = Main.median(reads.map(f))
    lastDirs.foreach(Main.rmTree)
    lastDirs = Seq(store, ckpt)
    lastSink = Some(sink)
    Pass(wall, med { case (_, a, b, c) => a + b + c }, phase("triggerExecution"), 1, sink.errors.toSeq,
      Map("store_rows" -> reads.map(_._1), "batches" -> progress.size,
        "records" -> progress.map(_.numInputRows).sum,
        "sink_write_ms" -> sink.writeMs.sum, "add_batch_ms" -> phase("addBatch").sum,
        "snapshot_s" -> med(_._2), "point_read_s" -> med(_._3), "call_type_counts_s" -> med(_._4)))
  }

  def layers(spark: SparkSession, cold: Option[Pass], warm: Seq[Pass], traced: Seq[Pass]): Map[String, Double] = {
    def avg(k: String) = traced.map(_.counts(k).toString.toDouble).sum / math.max(1, traced.size)
    def med(k: String) = Main.median(warm.map(_.counts(k).toString.toDouble))
    val kv = lastSink.get.inner
    Map(
      "stream.batches" -> avg("batches"),
      "stream.records" -> avg("records"),
      "stream.sink_write_ms" -> avg("sink_write_ms"),
      "stream.process_ms" -> (avg("add_batch_ms") - avg("sink_write_ms")),
      "stream.files_out" -> Main.dataFiles(lastDirs.head)._2.toDouble,
      "store.snapshot_s" -> med("snapshot_s"),
      "store.point_read_s" -> med("point_read_s"),
      "store.call_type_counts_s" -> med("call_type_counts_s"),
      "store.files_in" -> kv.snapshot().inputFiles.length.toDouble)
  }

  def check(spark: SparkSession): Map[String, Any] = {
    val kv = lastSink.getOrElse(throw new IllegalStateException("no pass completed")).inner
    val snap = kv.snapshot().cache()
    try {
      val durations = StreamSchema.durationColumns
      val aggs = durations.flatMap(c => Seq(sum(col(c)).cast("long"), count(col(c))))
      val row = snap.agg(aggs.head, aggs.tail: _*).head()
      Map(
        "store_rows" -> snap.count(),
        "distinct_keys" -> snap.select("cad_event_number").distinct().count(),
        "log_rows" -> spark.read.parquet(lastDirs.head).count(),
        "e8_sums" -> durations.zipWithIndex.map { case (c, i) =>
          c -> (if (row.isNullAt(2 * i)) 0L else row.getLong(2 * i)) }.toMap,
        "e8_nonnull" -> durations.zipWithIndex.map { case (c, i) => c -> row.getLong(2 * i + 1) }.toMap)
    } finally snap.unpersist()
  }
}
