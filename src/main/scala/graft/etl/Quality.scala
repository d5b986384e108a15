package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality profiling (reference DataQualityChecker, main.py:50-76).
  * The row count and the per-column null counts are aggregate
  * expressions ([[countExprs]]) that work both in `agg` and in
  * `Dataset.observe`, so the pipeline collects them on the pass that
  * writes the table. The distinct-row count cannot be observed
  * (`observe` takes no distinct aggregates) and needs a pass of its
  * own. The score is pure driver arithmetic on the counts.
  */
object Quality {

  /** The per-table profile the reference logs per load (main.py:57-66). */
  case class Profile(
      totalRows: Long,
      totalColumns: Int,
      nullCounts: Map[String, Long],
      duplicateRows: Long) {

    /** Quality score (main.py:68-74):
      * max(0, (cells − missing − dup_rows×ncols) / cells × 100), 2dp.
      * Reference divides by zero on an empty frame; we define 0.0. */
    def score: Double = {
      val cells = totalRows * totalColumns.toLong
      if (cells == 0L) 0.0
      else {
        val missing = nullCounts.values.sum
        val raw = (cells - missing - duplicateRows * totalColumns).toDouble / cells * 100.0
        math.max(0.0, math.rint(raw * 100) / 100)
      }
    }
  }

  /** Row count (`__rows`) and per-column null counts (`__nulls_<col>`):
    * plain aggregates, valid in `agg` and in `Dataset.observe`. */
  def countExprs(cols: Seq[String]): Seq[Column] =
    count(lit(1)).as("__rows") +: cols.map(c => count_if(col(c).isNull).as(s"__nulls_$c"))

  /** Count of distinct rows over `cols`. */
  def distinctRows(cols: Seq[String]): Column =
    count_distinct(struct(cols.map(col): _*)).as("__distinct")

  /** The profile from the values of [[countExprs]] and the distinct-row
    * count. */
  def fromCounts(counts: Map[String, Any], cols: Seq[String], distinct: Long): Profile = {
    val rows = counts("__rows").asInstanceOf[Long]
    Profile(
      totalRows = rows,
      totalColumns = cols.size,
      nullCounts = cols.map(c => c -> counts(s"__nulls_$c").asInstanceOf[Long]).toMap,
      duplicateRows = rows - distinct)
  }

  /** One-job profile of a frame: [[countExprs]] and [[distinctRows]] in a
    * single hash aggregate. */
  def profile(df: DataFrame): Profile = {
    val cols = df.columns.toSeq
    val row = df.agg(distinctRows(cols), countExprs(cols): _*).collect()(0)
    fromCounts(row.getValuesMap[Any](row.schema.fieldNames.toSeq), cols, row.getAs[Long]("__distinct"))
  }
}
