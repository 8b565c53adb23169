package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Forward-facing storage opener — the twin of `topic_store.load(path)`
  * (reference src/topic_store/api.py:66-77), which tries each storage
  * container until one accepts the path. Here the containers are: a
  * `.topic_store` log file/capture directory (the reference's native
  * format, via the V2 source), a parquet file/directory, or a catalog
  * table (incl. bucketed tables written by `store.Layout.writeBucketed`).
  *
  * A parquet path opens through `store.SkippingFileIndex`: Spark's own
  * listing (the file-sink log for a `Monitor.capture` store), with files
  * skipped whose footer min/max rule out an integral data filter.
  */
object Graft {
  def load(spark: SparkSession, path: String, requireExist: Boolean = true): DataFrame = {
    val f = new java.io.File(path)
    def isTopicStore =
      path.endsWith(".topic_store") ||
        (f.isDirectory && f.listFiles() != null &&
          f.listFiles().exists(_.getName.endsWith(".topic_store")))
    if (isTopicStore)
      spark.read.format("topicstore").load(path)
    else if (path.endsWith(".bag") && f.exists())
      graft.sources.RosBag.read(spark, path)
    else if (f.exists() || path.startsWith("file:") || path.contains("://"))
      graft.store.SkippingFileIndex.wrap(graft.Tables.readParquet(spark, path))
    else if (spark.catalog.tableExists(path))
      spark.table(path)
    else if (!requireExist)
      spark.emptyDataFrame
    else
      throw new IllegalArgumentException(
        s"'$path' is neither a parquet path nor a catalog table")
  }
}
