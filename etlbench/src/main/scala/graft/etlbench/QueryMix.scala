package graft.etlbench

import java.math.MathContext
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** A frozen list of `SparkEntry.queries` over generated tables. Each query
  * is timed in its frozen mode: `counted` runs `count()`, `forced` produces
  * every row (`queryExecution.toRdd`), as `graft.Bench` decides it; `auto`
  * (used only to freeze a new list) takes the mode `Bench` picks. The seed
  * fixes the order the queries run in. */
final class QueryMix(inputs: String, work: String, queriesFile: String, seed: Long) extends Workload {
  private val tables = s"$work/tables"
  /** (name, frozen mode), in this run's order. */
  private val mix: Seq[(String, String)] = {
    val listed = Files.readAllLines(Paths.get(queriesFile)).asScala.toSeq
      .map(_.trim).filter(_.nonEmpty).map { l =>
        val Array(n, m) = l.split("\\s+")
        require(Set("counted", "forced", "auto")(m), s"bad timing mode '$m' for $n")
        n -> m
      }
    new scala.util.Random(seed).shuffle(listed)
  }
  private lazy val fns = {
    val all = graft.SparkEntry.queries
    mix.map { case (n, _) => n -> all.getOrElse(n, throw new IllegalArgumentException(s"no query $n")) }.toMap
  }
  private val modes = mutable.Map[String, String]() ++ mix
  private var keep = Set.empty[Int]
  val nominalPassS = 4.2

  def stage(spark: SparkSession): Unit = {
    Main.rmTree(tables)
    Files.createDirectories(Paths.get(tables))
    Files.list(Paths.get(inputs)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(f => Files.copy(f, Paths.get(tables).resolve(f.getFileName)))
  }

  /** Opens every table (footers and schemas); no table is scanned. */
  def warmup(spark: SparkSession): Unit = {
    graft.util.Tables.all(spark, tables)
    keep = graft.util.SessionHygiene.persistedIds(spark)
  }

  def pass(spark: SparkSession, id: Int, tr: Tracer): Pass = {
    val errors = mutable.ArrayBuffer[String]()
    val perQuery = mutable.LinkedHashMap[String, Seq[Double]]()
    mix.foreach { case (name, frozen) =>
      try {
        val (df, buildS) = Main.timeS(tr.span("query.build")(fns(name)(spark, tables)))
        if (id == 0) {
          val actual = if (graft.Bench.isMapOnly(df.queryExecution)) "forced" else "counted"
          if (frozen == "auto") modes(name) = actual
          else if (actual != frozen) {
            val msg = s"$name: Bench.isMapOnly says $actual but the frozen timing mode is $frozen"
            System.err.println(s"[etlbench] TIMING MODE CHANGED: $msg")
            errors += msg
          }
        }
        val (rows, runS) = Main.timeS(tr.span("query.run") {
          if (modes(name) == "forced") df.queryExecution.toRdd.count() else df.count()
        })
        if (modes(name) == "forced") tr.plan(df.queryExecution)
        perQuery(name) = Seq(buildS, runS, rows.toDouble)
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[etlbench] $name failed: $e")
          errors += s"$name threw: $e"
      }
      // between queries, never inside a timed region (as graft.Bench does)
      graft.util.SessionHygiene.scrub(spark, keep)
    }
    // The unit of work is the whole round: a percentile over six unlike
    // queries falls between two of them and jumps with small shifts.
    val roundMs = perQuery.values.map(v => (v(0) + v(1)) * 1e3).sum
    val (_, readS) = Main.timeS(if (id > 0) graft.util.Tables.all(spark, tables).foreach { case (t, df) =>
      tr.span(s"read.$t")(df.queryExecution.toRdd.count())
    })
    Pass(roundMs / 1e3, readS, Seq(roundMs), mix.size, errors.toSeq, Map("queries" -> perQuery, "modes" -> modes.toMap))
  }

  def layers(spark: SparkSession, cold: Option[Pass], warm: Seq[Pass], traced: Seq[Pass]): Map[String, Double] = {
    def q(p: Pass) = p.counts("queries").asInstanceOf[collection.Map[String, Seq[Double]]]
    val coldQ = cold.map(q).getOrElse(Map.empty)
    val warmQ = warm.map(q)
    mix.flatMap { case (n, _) =>
      Seq(s"query.$n.build_s" -> coldQ.get(n).map(_(0)).getOrElse(0.0),
        s"query.$n.run_s" -> Main.median(warmQ.flatMap(_.get(n).map(_(1)))))
    }.toMap
  }

  /** Row count and order-insensitive hash of every query's full result. */
  def check(spark: SparkSession): Map[String, Any] =
    Map("queries" -> mix.map { case (n, _) =>
      n -> (try {
        val df = fns(n)(spark, tables)
        val (rows, hash) = QueryMix.digest(df)
        Map("rows" -> rows, "hash" -> hash)
      } catch { case NonFatal(e) => Map("error" -> e.toString) })
    }.toMap)
}

object QueryMix {
  /** (rows, hash): the hash is the sum modulo 2^64 of a 64-bit hash of each
    * row's canonical text, so row order and partitioning do not matter.
    * Doubles are compared to six significant digits. */
  def digest(df: DataFrame): (Long, String) = {
    val (n, h) = df.rdd.map(r => (1L, rowHash(r))).fold((0L, 0L)) { case ((a, x), (b, y)) => (a + b, x + y) }
    (n, f"$h%016x")
  }

  def rowHash(r: Row): Long = {
    val s = canon(r)
    (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) | (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
  }

  private val digits = new MathContext(6)

  def canon(v: Any): String = v match {
    case null                       => "∅"
    case d: Double                  => canonDouble(d)
    case f: Float                   => canonDouble(f.toDouble)
    case b: java.math.BigDecimal    => canonDouble(b.doubleValue)
    case b: Array[Byte]             => b.map(x => f"$x%02x").mkString
    case t: java.sql.Timestamp      => t.toInstant.toString
    case r: Row                     => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other                      => other.toString
  }

  private def canonDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(digits).stripTrailingZeros.toString
}
