package graft.etlbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.ops.{Extract, Load, Transform}
import graft.schema.CallDataSchema

/** Times each star-table load (write plus read-back verify) of the wrapped
  * sink. */
final class TimingTableSink(inner: Load.TableSink, tr: Tracer) extends Load.TableSink {
  val loadMs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  def write(df: DataFrame, tableName: String): Long = {
    val t0 = Clock.ms()
    val n = tr.span(s"load.$tableName")(inner.write(df, tableName))
    loadMs(tableName) = Clock.ms() - t0
    n
  }
}

/** The reference batch pipeline over a generated `Call_Data.csv`: CSV
  * extract, the 12-step transform and the six-table star-schema load. */
final class BatchEtl(inputs: String, work: String) extends Workload {
  private val landing = s"$work/landing"
  private val csv = s"$landing/Call_Data.csv"
  private def outDir(id: Int) = s"$work/out/p$id"
  private var lastOut: Option[String] = None
  private val tables = CallDataSchema.starTables.map(_._1)

  def stage(spark: SparkSession): Unit = {
    Main.rmTree(landing)
    Files.createDirectories(Paths.get(landing))
    Files.copy(Paths.get(s"$inputs/Call_Data.csv"), Paths.get(csv), StandardCopyOption.REPLACE_EXISTING)
  }

  def warmup(spark: SparkSession): Unit =
    Extract.readCsv(spark, csv, CallDataSchema.csvSchema).count(): Unit

  val nominalPassS = 4.4

  /** An untraced pass is one `Load.runBatch` call; its units are the spans
    * between successive star-table commits (each table's `_SUCCESS` time),
    * the first from the start of the pass. A traced pass runs the steps of
    * `runBatch` one by one, with the table sink wrapped so each star-table
    * load is timed. */
  def pass(spark: SparkSession, id: Int, tr: Tracer): Pass = {
    val out = outDir(id)
    Main.rmTree(out)
    val t0 = Clock.ms()
    val (counts, unitsMs, loadMs) =
      if (!tr.active) {
        val counts = Load.runBatch(spark, csv, out)
        val commits = tables.map(t => Files.getLastModifiedTime(Paths.get(s"$out/${t}_parquet/_SUCCESS"))
          .to(java.util.concurrent.TimeUnit.MICROSECONDS) / 1e3)
        val edges = t0 +: commits
        (counts, edges.sliding(2).map { case Seq(a, b) => b - a }.toSeq, Map.empty[String, Double])
      } else {
        val sink = new TimingTableSink(new Load.ParquetSink(spark, out), tr)
        val raw = tr.span("extract") {
          val df = Extract.readCsv(spark, csv, CallDataSchema.csvSchema)
          Extract.validate(df, CallDataSchema.requiredRawColumns)
          df
        }
        val transformed = tr.span("transform")(Transform.transformData(raw))
        val counts = tr.span("load")(Load.saveStarSchema(transformed, sink))
        (counts, sink.loadMs.values.toSeq, sink.loadMs.toMap)
      }
    val wall = (Clock.ms() - t0) / 1e3
    // Read-back of the written star schema, every column of every table;
    // warm passes only (the sink's own verify counts check every pass).
    val (_, readS) = Main.timeS(if (id > 0) tables.foreach { t =>
      tr.span(s"read.$t")(spark.read.parquet(s"$out/${t}_parquet").queryExecution.toRdd.count())
    })
    lastOut.foreach(Main.rmTree)
    lastOut = Some(out)
    Pass(wall, readS, unitsMs, 1, Nil, Map("star_rows" -> counts, "load_ms" -> loadMs))
  }

  /** The 12 public transform steps, in `Transform.transformData` order. */
  private val steps: Seq[(String, DataFrame => DataFrame)] = Seq(
    "processTimestamps" -> Transform.processTimestamps,
    "mergeResponseTimes" -> Transform.mergeResponseTimes,
    "dropAgencyColumns" -> Transform.dropAgencyColumns,
    "createUnitId" -> Transform.createUnitId,
    "renameColumns" -> Transform.renameColumns,
    "fillCallSignAtSceneTime" -> Transform.fillCallSignAtSceneTime,
    "fillMissingValues" -> Transform.fillMissingValues,
    "dropNullArrivalTimes" -> Transform.dropNullArrivalTimes,
    "filterEventsWithNullInServiceTime" -> Transform.filterEventsWithNullInServiceTime,
    "fillCallSignResponseTime" -> Transform.fillCallSignResponseTime,
    "fillFirstResponseTime" -> Transform.fillFirstResponseTime,
    "addSurrogateKeys" -> ((df: DataFrame) => Transform.addSurrogateKeys(df)))

  /** Every row and column of a frame produced, as (rows, seconds). */
  private def forced(df: DataFrame): (Long, Double) = Main.timeS(df.queryExecution.toRdd.count())

  def layers(spark: SparkSession, cold: Option[Pass], warm: Seq[Pass], traced: Seq[Pass]): Map[String, Double] = {
    val m = mutable.LinkedHashMap[String, Double]()
    val rowsIn = spark.read.text(csv).count() - 1
    // Forced prefixes: time(extract + steps 1..k) for k = 0..12, median of
    // three series; a step's time is the difference of successive prefixes.
    val series = (0 until 3).map { _ =>
      var df = Extract.readCsv(spark, csv, CallDataSchema.csvSchema)
      forced(df) +: steps.map { case (_, f) => df = f(df); forced(df) }
    }
    val prefixS = series.head.indices.map(k => Main.median(series.map(_(k)._2)))
    val prefixRows = series.head.map(_._1)
    m("extract.s") = prefixS(0)
    m("extract.rows_in") = rowsIn.toDouble
    m("extract.rows_dropped") = (rowsIn - prefixRows(0)).toDouble
    m("extract.bytes_in") = Files.size(Paths.get(csv)).toDouble
    steps.zipWithIndex.foreach { case ((nm, _), i) => m(s"transform.$nm.s") = prefixS(i + 1) - prefixS(i) }
    val anti = steps.indexWhere(_._1 == "filterEventsWithNullInServiceTime") + 1
    m("transform.rows_out") = prefixRows.last.toDouble
    m("transform.antijoin_removed") = (prefixRows(anti - 1) - prefixRows(anti)).toDouble

    m("load.persist_s") = Main.median((0 until 3).map { _ =>
      val t = Transform.transformData(Extract.readCsv(spark, csv, CallDataSchema.csvSchema))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try Main.timeS(t.count())._2 finally t.unpersist(blocking = true)
    })
    val out = lastOut.get
    tables.foreach { t =>
      val verify = Main.median((0 until 3).map(_ =>
        Main.timeS(spark.read.parquet(s"$out/${t}_parquet").count())._2))
      val load = Main.median(traced.map(_.counts("load_ms").asInstanceOf[collection.Map[String, Double]](t) / 1e3))
      m(s"load.$t.write_s") = load - verify
      m(s"load.$t.verify_s") = verify
    }
    val (bytes, files) = Main.dataFiles(out)
    m("load.bytes_out") = bytes.toDouble
    m("load.files_out") = files.toDouble
    m.toMap
  }

  def check(spark: SparkSession): Map[String, Any] = {
    val out = lastOut.getOrElse(throw new IllegalStateException("no pass completed"))
    val counts = tables.map(t => t -> spark.read.parquet(s"$out/${t}_parquet").count()).toMap
    val ids = Seq("dim_care_spd_id", "dim_co_response_id", "dim_cad_event_id",
      "dim_location_id", "dim_call_sign_id").map(col)
    val allEqual = ids.tail.map(c => ids.head <=> c).reduce(_ && _)
    val mismatched = spark.read.parquet(s"$out/fact_call_parquet").filter(!allEqual).count()
    Map("star_rows" -> counts, "dim_id_mismatch_rows" -> mismatched)
  }
}
