package graft.store

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType, Type}
import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation, IntLogicalTypeAnnotation, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{INT32, INT64}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}

/** Serializable carrier for the session's Hadoop configuration.
  *
  * Executor-side metadata reads (parquet footers below) must see the SAME
  * filesystem configuration as the driver — object-store credentials,
  * endpoints, `spark.hadoop.*` overrides. A bare `new Configuration()` on
  * the executor works on local disk but silently mis-resolves S3/GCS/HDFS,
  * exactly the deployments the metadata-only paths exist for. Hadoop's
  * `Configuration` is `Writable` but not `Serializable` (and Spark's own
  * wrapper is `private[spark]`), so serialize via write/readFields.
  */
class SerializableHadoopConf(@transient var value: Configuration) extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

/** The value range of one column over a whole file, as its footer states
  * it. `kind` is the Spark type family the stored longs compare in: "int"
  * (every signed integral width), "date" (days), "ts" / "ts_ntz"
  * (microseconds). `bounds` is None when every value is null.
  */
final case class ColumnRange(kind: String, bounds: Option[(Long, Long)])

/** What a parquet footer says about one file: its row count, and the range
  * of every top-level column whose min/max can decide an integral
  * comparison. A column is absent when the file lacks it, when its type
  * cannot prune (float/double for NaN, strings, decimals, unsigned or
  * INT96 values), or when some row group carries no usable statistics.
  */
final case class Footer(rows: Long, ranges: Map[String, ColumnRange])

/** The one parquet footer reader: metadata only, no column data read. The
  * driver lists the files; executors each open a slice of the footers (a
  * 100 TB table has ~10^5 files — listing is cheap, opening every footer
  * from the driver is not).
  */
object FooterStats {

  /** Footer jobs started in this JVM, so the absence of one is testable. */
  private[graft] val jobs = new java.util.concurrent.atomic.AtomicLong

  /** Footers of `files` (qualified paths), read in ONE parallel job. */
  def read(spark: SparkSession, files: Seq[String]): Map[String, Footer] = {
    if (files.isEmpty) return Map.empty
    jobs.incrementAndGet()
    val conf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    spark.sparkContext
      .parallelize(files, math.min(files.size, spark.sparkContext.defaultParallelism))
      .mapPartitions { paths =>
        // options built from the session's conf: parquet's default options
        // construct a fresh Hadoop Configuration, and with it re-parse the
        // *-default.xml resources, for every file opened
        val options = HadoopReadOptions.builder(conf.value)
          .withRecordFilter(FilterCompat.NOOP).build()
        paths.map(p => p -> footer(p, conf.value, options))
      }
      .collect().toMap
  }

  def rowCount(spark: SparkSession, files: Seq[String]): Long =
    read(spark, files).valuesIterator.map(_.rows).sum

  private def footer(path: String, conf: Configuration, options: ParquetReadOptions): Footer = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf), options)
    val meta = try reader.getFooter finally reader.close()
    val blocks = meta.getBlocks.asScala.toSeq
    // dates and timestamps hold their read values only when the writer did
    // not rebase them to the hybrid Julian calendar (Spark < 3 or LEGACY
    // write mode); other writers' files follow the session's read mode, so
    // they keep their date/timestamp columns out too
    val kv = meta.getFileMetaData.getKeyValueMetaData
    val calendarSafe = Option(kv.get("org.apache.spark.version"))
      .exists(v => !v.startsWith("1.") && !v.startsWith("2.")) &&
      !kv.containsKey("org.apache.spark.legacyDateTime")
    val ranges = for {
      f <- meta.getFileMetaData.getSchema.getFields.asScala
      if f.isPrimitive && !f.isRepetition(Type.Repetition.REPEATED)
      k <- kind(f.asPrimitiveType, calendarSafe)
      b <- bounds(blocks, f.getName)
    } yield f.getName -> ColumnRange(k, b)
    Footer(blocks.map(_.getRowCount).sum, ranges.toMap)
  }

  private def kind(t: PrimitiveType, calendarSafe: Boolean): Option[String] =
    (t.getPrimitiveTypeName, t.getLogicalTypeAnnotation) match {
      case (INT32 | INT64, null) => Some("int")
      case (INT32 | INT64, i: IntLogicalTypeAnnotation) if i.isSigned => Some("int")
      case (INT32, _: DateLogicalTypeAnnotation) if calendarSafe => Some("date")
      case (INT64, ts: TimestampLogicalTypeAnnotation)
          if calendarSafe && ts.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS =>
        Some(if (ts.isAdjustedToUTC) "ts" else "ts_ntz")
      case _ => None
    }

  /** The range of column `name` over every row group: None (unknown) as
    * soon as one row group lacks min/max without being all-null,
    * Some(None) when every value is null.
    */
  private def bounds(blocks: Seq[BlockMetaData], name: String): Option[Option[(Long, Long)]] =
    blocks.foldLeft(Option(Option.empty[(Long, Long)])) { (acc, block) =>
      acc.flatMap { sofar =>
        val stats = block.getColumns.asScala
          .find(c => c.getPath.size == 1 && c.getPath.toArray()(0) == name)
          .flatMap(c => Option(c.getStatistics))
        stats match {
          case Some(s) if s.hasNonNullValue =>
            val lo = s.genericGetMin.asInstanceOf[Number].longValue
            val hi = s.genericGetMax.asInstanceOf[Number].longValue
            Some(Some(sofar.fold((lo, hi)) { case (l, h) => (math.min(l, lo), math.max(h, hi)) }))
          case Some(s) if s.isNumNullsSet && s.getNumNulls == block.getRowCount => Some(sofar)
          case _ => None
        }
      }
    }

  /** `path` read as parquet, or None when there is nothing to read: the
    * path does not exist or holds no data files. Any other failure — an
    * unreadable file, a transient filesystem error — propagates, so a
    * caller never mistakes a broken store for an empty one.
    */
  private[store] def readIfPresent(spark: SparkSession, path: String): Option[DataFrame] =
    try Some(spark.read.parquet(path))
    catch {
      case e: AnalysisException
          if Set("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA").contains(e.getCondition) => None
    }

  /** Data files under `path`: recursive, skipping the files and
    * directories Spark's own listing skips — `_SUCCESS`, `_spark_metadata/`,
    * `.crc` — but descending into `_col=value` partition directories.
    */
  def listDataFiles(spark: SparkSession, path: String): Seq[String] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hidden(name: String) = (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")
    def walk(dir: Path): Seq[String] = fs.listStatus(dir).toSeq.flatMap { s =>
      if (hidden(s.getPath.getName)) Nil
      else if (s.isDirectory) walk(s.getPath)
      else Seq(s.getPath.toString)
    }
    if (!fs.exists(root)) Seq.empty
    else {
      val top = fs.getFileStatus(root)
      if (top.isFile) Seq(top.getPath.toString) else walk(root)
    }
  }
}
