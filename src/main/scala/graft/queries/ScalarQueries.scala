package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.expr.To24Hour.to_24h
import graft.util.Tables._

/** Scalar-expression operator surface from SURVEY.md §2.5 + row ops from §2.2,
  * each as its own oracle-checked query over the testdata tables.
  *
  * The testdata has no NULLs, so null-handling operators (P5/P6, E3) derive
  * nulls deterministically via `nullif`/CASE first — same rows in both engines.
  * Timestamp-derived output columns are formatted to strings: cross-engine
  * timestamp hashing is brittle (ns vs µs parquet physical types), strings are
  * not. All queries are single-pass projections — no shuffle except where the
  * operator itself is an aggregation.
  */
object ScalarQueries {

  /** P4 (`transform.py:61`): event_date = first 10 chars of the raw string. */
  def eventDate(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(substring(col("ts").cast("string"), 1, 10).as("event_date"))
      .groupBy("event_date")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("event_date")

  /** E1 (`transform.py:8-23`): AM/PM → 24h via the custom Catalyst expression
    * `graft.expr.To24Hour` (codegen-participating; the reference pays a
    * Python-worker round-trip per row here). */
  def to24Hour(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(
        col("event_id"),
        date_format(date_trunc("second", col("ts")), "MM/dd/yyyy hh:mm:ss a").as("raw_time"))
      .withColumn("time_24h", to_24h(col("raw_time")))
      .orderBy("event_id")

  /** E2 (`transform.py:43-68`): string → timestamp parse (round-tripped so the
    * oracle compares strings, not physical timestamps). */
  def tsParse(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select(date_format(col("l_shipdate"), "MM/dd/yyyy HH:mm:ss").as("raw"))
      .distinct()
      .select(
        col("raw"),
        date_format(to_timestamp(col("raw"), "MM/dd/yyyy HH:mm:ss"),
          "yyyy-MM-dd HH:mm:ss").as("parsed"))
      .orderBy("raw")

  /** E3 (`transform.py:71-97`): first-non-null merge of a column pair. */
  def coalescePair(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(
        col("event_id"),
        coalesce(expr("nullif(event_type, 'click')"), upper(col("event_type")))
          .as("merged"))
      .orderBy("event_id")

  /** E4/E5 (`transform.py:25-39,172-185`): multi-arm when/otherwise fill. */
  def whenChain(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(
        col("event_id"),
        when(col("value") > 150 && col("event_type") === "purchase", "big_purchase")
          .when(col("value") > 150, "big_other")
          .otherwise(col("event_type"))
          .as("label"))
      .orderBy("event_id")

  /** P6 (`transform.py:134-136`): fillna with per-column constants (over
    * deterministically derived nulls). */
  def nullFill(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("etype", expr("nullif(event_type, 'error')"))
      .withColumn("val2", when(col("value") < 50, lit(null)).otherwise(col("value")))
      .na.fill(Map("etype" -> "UNKNOWN", "val2" -> -1.0))
      .select("event_id", "etype", "val2")
      .orderBy("event_id")

  /** P5 (`transform.py:130-132`): dropna on a subset column. */
  def nullDrop(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("val2", when(col("value") < 50, lit(null)).otherwise(col("value")))
      .na.drop(Seq("val2"))
      .select("event_id", "val2")
      .orderBy("event_id")

  /** E6 (`transform.py:145-154,187-194`): duration as unix-seconds difference. */
  def tsDiff(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(
        col("l_orderkey"), col("l_linenumber"),
        (unix_timestamp(col("l_shipdate")) - unix_timestamp(col("o_orderdate")))
          .as("ship_delay_s"))
      .orderBy("l_orderkey", "l_linenumber")

  /** E7 (`transform.py:112-117`): strip the event number out of the
    * dispatch id. The faithful reference spelling is a regexp_replace
    * with a per-row COLUMN pattern (kept in
    * [[graft.ops.Transform.createUnitId]], the §2 parity surface) —
    * but a per-row pattern defeats Spark's last-regex compile cache, so
    * the forced plan spends its time in `Pattern.compile` (VERDICT r11
    * what's-wrong #3). The pattern here is a digit string by
    * construction — no regex metacharacters — so literal `replace` is
    * semantics-identical (both engines replace every occurrence,
    * left-to-right) and regex-free. Measured A/B at sf0.1 forced
    * (SCALING.md r12): regexp ~1.65-1.92 s steady-state vs replace
    * ~1.0-1.1 s — ~1.7× on the expression (the residual second is the
    * presentation sort + row production both plans share); the declared
    * query takes the literal plan. */
  def unitId(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        concat(col("l_orderkey").cast("string"), lit("-"),
          col("l_linenumber").cast("string")).as("dispatch_id"))
      .withColumn("unit_id",
        replace(col("dispatch_id"), col("l_orderkey").cast("string"), lit("")))
      .orderBy("l_orderkey", "l_linenumber")

  /** E8 (`consumer_cassandra.py:165-196`): strip non-digits + cast to int,
    * null-guarded without otherwise (empty string → null cast). */
  def digitsCast(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .select(
        col("p_partkey"),
        when(col("p_brand").isNotNull,
          trim(regexp_replace(col("p_brand"), "[^0-9]", "")).cast(IntegerType))
          .as("brand_num"),
        when(col("p_type").isNotNull,
          trim(regexp_replace(col("p_type"), "[^0-9]", "")).cast(IntegerType))
          .as("type_num"))
      .orderBy("p_partkey")

  /** E9 (`transform.py:197-208`) — deterministic variant (SURVEY §7.3): the
    * reference uses monotonically_increasing_id (partition-dependent); the
    * oracle-checkable surrogate key is rank-by-stable-key, minus 1.
    *
    * Distributed through [[graft.operators.Ids.denseIds]] (r15, VERDICT
    * r14 #3/#6): the pre-r15 `row_number().over(Window.orderBy(...))`
    * planned a single-partition global WindowExec — a hard scale-killer on
    * a fact-sized input. Values are identical: o_orderkey is unique, so
    * offset + local position = global rank − 1 whatever the sampled range
    * boundaries. The Int cast mirrors row_number's IntegerType domain (both
    * spellings assume < 2³¹ rows — a DIM table). */
  def surrogateId(s: SparkSession, d: String): DataFrame =
    graft.operators.Ids.denseIds(orders(s, d).select(col("o_orderkey")),
        Seq("o_orderkey"), idName = "dim_id",
        numPartitions = math.max(1, s.sparkContext.defaultParallelism))
      .select(col("dim_id").cast(IntegerType).as("dim_id"), col("o_orderkey"))
      .orderBy("dim_id")

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_event_date"   -> (eventDate _),
    "q_to24hour"     -> (to24Hour _),
    "q_ts_parse"     -> (tsParse _),
    "q_coalesce"     -> (coalescePair _),
    "q_when_chain"   -> (whenChain _),
    "q_null_fill"    -> (nullFill _),
    "q_null_drop"    -> (nullDrop _),
    "q_ts_diff"      -> (tsDiff _),
    "q_unit_id"      -> (unitId _),
    "q_digits_cast"  -> (digitsCast _),
    "q_surrogate_id" -> (surrogateId _),
  )

  val oracle: Map[String, String] = Map(
    "q_event_date" ->
      """SELECT substr(CAST(CAST(ts AS TIMESTAMP) AS VARCHAR), 1, 10) AS event_date, count(*) AS cnt
         FROM events GROUP BY 1 ORDER BY 1""",
    "q_to24hour" ->
      """SELECT event_id,
                strftime(date_trunc('second', CAST(ts AS TIMESTAMP)), '%m/%d/%Y %I:%M:%S %p') AS raw_time,
                strftime(date_trunc('second', CAST(ts AS TIMESTAMP)), '%m/%d/%Y %H:%M:%S') AS time_24h
         FROM events ORDER BY event_id""",
    "q_ts_parse" ->
      """SELECT raw, strftime(strptime(raw, '%m/%d/%Y %H:%M:%S'), '%Y-%m-%d %H:%M:%S') AS parsed
         FROM (SELECT DISTINCT strftime(l_shipdate, '%m/%d/%Y %H:%M:%S') AS raw FROM lineitem)
         ORDER BY raw""",
    "q_coalesce" ->
      """SELECT event_id, coalesce(nullif(event_type, 'click'), upper(event_type)) AS merged
         FROM events ORDER BY event_id""",
    "q_when_chain" ->
      """SELECT event_id,
                CASE WHEN value > 150 AND event_type = 'purchase' THEN 'big_purchase'
                     WHEN value > 150 THEN 'big_other'
                     ELSE event_type END AS label
         FROM events ORDER BY event_id""",
    "q_null_fill" ->
      """SELECT event_id,
                coalesce(nullif(event_type, 'error'), 'UNKNOWN') AS etype,
                coalesce(CASE WHEN value < 50 THEN NULL ELSE value END, -1.0) AS val2
         FROM events ORDER BY event_id""",
    "q_null_drop" ->
      """SELECT event_id, value AS val2 FROM events WHERE value >= 50 ORDER BY event_id""",
    "q_ts_diff" ->
      """SELECT l_orderkey, l_linenumber, date_diff('second', o_orderdate, l_shipdate) AS ship_delay_s
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         ORDER BY l_orderkey, l_linenumber""",
    "q_unit_id" ->
      """SELECT l_orderkey, l_linenumber,
                CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS dispatch_id,
                replace(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR),
                        CAST(l_orderkey AS VARCHAR), '') AS unit_id
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "q_digits_cast" ->
      """SELECT p_partkey,
                CAST(NULLIF(trim(regexp_replace(p_brand, '[^0-9]', '', 'g')), '') AS INTEGER) AS brand_num,
                CAST(NULLIF(trim(regexp_replace(p_type, '[^0-9]', '', 'g')), '') AS INTEGER) AS type_num
         FROM part ORDER BY p_partkey""",
    "q_surrogate_id" ->
      """SELECT row_number() OVER (ORDER BY o_orderkey) - 1 AS dim_id, o_orderkey
         FROM orders ORDER BY dim_id""",
  )
}
