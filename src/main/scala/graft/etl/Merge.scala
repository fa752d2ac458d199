package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The unified MERGE INTO surface — ON DUPLICATE KEY UPDATE parity
  * (etlService.js:36-53) plus the delete clause, one API:
  *
  *   MERGE INTO target USING source ON keys
  *     WHEN MATCHED [AND deleteCond] THEN DELETE
  *     WHEN MATCHED THEN UPDATE            (updateMatched)
  *     WHEN NOT MATCHED THEN INSERT        (insertUnmatched)
  *
  * [[Upsert.merge]] (update+insert) and [[SnapshotDiff.applyChanges]]
  * (update+insert+delete) are both thin specializations, and
  * [[graft.sinks.KeyedParquetSink.mergeInto]] runs the same semantics
  * against a stored keyed table touching only the buckets the source
  * lands in.
  *
  * Spark shape: ONE shuffle — union source (priority 1) with target
  * (priority 0), then per-key window functions decide which row
  * survives. The two-join alternative (upsert + anti-join for deletes)
  * shuffles the 100 TB target twice; this shuffles it once. With
  * `clusterBy` (a subset of `keys`) that one shuffle is an explicit
  * hash repartition of the union on those columns: the windows'
  * clustering on `keys` is already satisfied by it, and a caller
  * writing `partitionBy(clusterBy)` reuses the same layout, so the
  * merge AND its partitioned write still cost one exchange
  * ([[graft.sinks.KeyedParquetSink.mergeInto]] clusters on its bucket
  * column this way).
  *
  * `deleteCond` is evaluated on SOURCE rows (before column alignment,
  * so it may reference source-only columns like a CDC `change` marker).
  * A delete whose key is absent from the target is a no-op, like SQL
  * MERGE. Among multiple source rows per key, `versionCols` descending
  * pick the winner.
  */
object Merge {

  def merge(target: DataFrame, source: DataFrame, keys: Seq[String],
            updateMatched: Boolean = true,
            insertUnmatched: Boolean = true,
            deleteCond: Option[Column] = None,
            versionCols: Seq[String] = Nil,
            clusterBy: Seq[String] = Nil): DataFrame = {
    val cols = target.columns.toSeq
    val s = source
      .withColumn("_graft_del",
        coalesce(deleteCond.getOrElse(lit(false)), lit(false)))
      .select((cols.map(col) :+ col("_graft_del")): _*)
      .withColumn("_graft_pri", lit(1))
    val t = target.select(cols.map(col): _*)
      .withColumn("_graft_del", lit(false))
      .withColumn("_graft_pri", lit(0))
    val wKey = Window.partitionBy(keys.map(col): _*)
    val desc = versionCols.map(col(_).desc)
    // source-first ordering picks the MERGE winner; target-first finds
    // the surviving target row when the matched clause keeps it
    val wSrcFirst = wKey.orderBy((col("_graft_pri").desc +: desc): _*)
    val wTgtFirst = wKey.orderBy((col("_graft_pri").asc +: desc): _*)
    val full = wSrcFirst.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)

    val hasT = max(lit(1) - col("_graft_pri")).over(wKey)
    val hasS = max(col("_graft_pri")).over(wKey)
    val topDel = first(col("_graft_del")).over(full) // winning source row's flag
    val srcWinner = col("_graft_pri") === 1 && col("_graft_rn_s") === 1
    val tgtFirst = col("_graft_pri") === 0 && col("_graft_rn_t") === 1

    val both = s.unionByName(t)
    (if (clusterBy.isEmpty) both else both.repartition(clusterBy.map(col): _*))
      .withColumn("_graft_rn_s", row_number().over(wSrcFirst))
      .withColumn("_graft_rn_t", row_number().over(wTgtFirst))
      .withColumn("_graft_keep",
        when(hasS === 1 && topDel, lit(false)) // DELETE drops the key
          .when(hasS === 1 && hasT === 1,
            if (updateMatched) srcWinner else tgtFirst)
          .when(hasS === 1 && hasT === 0, lit(insertUnmatched) && srcWinner)
          .otherwise(tgtFirst))                // target-only keys survive
      .where(col("_graft_keep"))
      .select(cols.map(col): _*)
  }
}
