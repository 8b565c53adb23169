package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Storage→storage migration jobs — the Spark twins of the reference's
  * convert CLI (reference src/topic_store/convert.py):
  *
  * - `migrate` ≙ `mongodb_to_mongodb_clone_fast` (convert.py:136-186):
  *   copy only documents missing from the destination. The reference pulls
  *   every destination id into a driver-side set and round-trips each
  *   document; here it is one distributed anti-join + one append write —
  *   the only shape that survives 100 TB.
  * - `exportByTopic` ≙ `mongodb_to_ros_bag` (convert.py:190-213): a bag is
  *   a per-topic time-ordered log; the columnar analog is a
  *   topic-partitioned, time-sorted parquet layout.
  */
object Convert {

  /** Incremental copy: append to `dstPath` the rows of `src` whose `key`
    * is not already present. Returns the number of rows copied.
    *
    * Only a destination that does not exist or holds no data files counts
    * as empty; any other failure to read it (no `key` column, an unreadable
    * file) propagates before anything is written — treating it as empty
    * would re-copy every row.
    *
    * Single source scan: the anti-join result is WRITTEN first, and the
    * copied-row count comes from the parquet footers of the newly created
    * files (metadata-only, executor-side with the session's Hadoop conf —
    * see FooterStats) — not a second `count()` job re-scanning the source.
    */
  def migrate(spark: SparkSession, src: DataFrame, dstPath: String, key: String): Long = {
    val existing = FooterStats.readIfPresent(spark, dstPath).map(_.select(key)).getOrElse(
      spark.emptyDataFrame.withColumn(key, org.apache.spark.sql.functions.lit(null).cast("long")))
    val missing = DocumentStore.cloneMissing(src, existing, key)
    val before = FooterStats.listDataFiles(spark, dstPath).toSet
    missing.write.mode("append").parquet(dstPath)
    val fresh = FooterStats.listDataFiles(spark, dstPath).filterNot(before)
    FooterStats.rowCount(spark, fresh)
  }

  /** Export as a per-topic, time-ordered log layout. */
  def exportByTopic(df: DataFrame, topicCol: String, tsCol: String, dstPath: String): Unit =
    df.repartition(org.apache.spark.sql.functions.col(topicCol))
      .sortWithinPartitions(topicCol, tsCol)
      .write.partitionBy(topicCol).mode("overwrite").parquet(dstPath)
}
