package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Documents

/** The document stream both store workloads capture: the `.topic_store`
  * logs in a directory, read by graft's `topicstore` source, parsed and
  * flattened (`_ts_meta.session` becomes `_ts_meta_session`), with the
  * capture time as a `ts` timestamp.
  */
object DocStream {
  private val Schema = StructType(Seq(
    StructField("_id", LongType),
    StructField("_ts_meta", StructType(Seq(
      StructField("session", LongType), StructField("sys_time", DoubleType)))),
    StructField("topic", StringType),
    StructField("seq", LongType),
    StructField("value", DoubleType),
    StructField("data", StringType)))

  def apply(spark: SparkSession, dir: String): DataFrame = {
    val raw = spark.readStream.format("topicstore").load(dir)
    Documents.flatten(raw.select(from_json(col("doc"), Schema).as("d")).select("d.*"))
      .withColumn("ts", col("_ts_meta_sys_time").cast("timestamp"))
  }
}
