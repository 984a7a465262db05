package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Scalable deterministic ID assignment (E9 at fact-table scale).
  *
  * Two tiers, by contract strength vs cost (SURVEY §7.3):
  *
  *   1. `monotonically_increasing_id` — unique, NOT dense, NOT reproducible
  *      across partitioning. O(1)/row, no shuffle. The reference's choice
  *      (`transform.py:197-208`).
  *   2. [[denseIds]] below — dense AND reproducible AND distributed:
  *      range-repartition by the sort key, sort within partitions, then
  *      zipWithIndex (which runs one lightweight count job to compute
  *      partition offsets — no data movement beyond the range shuffle).
  *      This is the 100 TB path: ~2 jobs, no global sort bottleneck, no
  *      single-task window. The one dense-id path: `q_surrogate_id` and
  *      [[graft.ops.Transform.addSurrogateKeys]]'s deterministic mode both
  *      call it.
  */
object Ids {

  /** Dense 0..n-1 ids, ordered by `sortCols`, distributed.
    * Determinism contract: `sortCols` must be a total order (unique key);
    * range partitioning + in-partition sort then make the global order —
    * and therefore every assigned id — independent of input layout. */
  def denseIds(df: DataFrame, sortCols: Seq[String],
               idName: String = "row_id", numPartitions: Int = 0): DataFrame = {
    val parts = if (numPartitions > 0) numPartitions
                else df.sparkSession.sessionState.conf.numShufflePartitions
    val sorted = df
      .repartitionByRange(parts, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
    val withIds = sorted.rdd.zipWithIndex().map { case (row, idx) =>
      Row.fromSeq(row.toSeq :+ idx)
    }
    df.sparkSession.createDataFrame(withIds,
      StructType(sorted.schema.fields :+ StructField(idName, LongType, nullable = false)))
  }
}
