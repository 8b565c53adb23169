package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.{EqualTo, Filter, In, StringStartsWith}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.store.SerializableHadoopConf

/** DataSource V2 for the reference's `.topic_store` append-only pickle
  * logs (reference src/topic_store/filesystem.py:20-69) — the custom-source
  * tier of the Spark extension surface: `spark.read.format("topicstore")
  * .load(dir)` plans a native batch scan with column pruning, one input
  * partition per file (pickle streams carry no record framing, so the file
  * is the split unit — capture deployments produce many per-session logs,
  * which is the parallelism).
  *
  * Decoding is [[TopicStoreLog.decodeStream]] — the same protocol-2 subset
  * VM, skip-on-corrupt semantics identical to the reference's iterator.
  * Schema: (file string, pos long, doc string<canonical JSON>).
  */
class TopicStoreSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "topicstore"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = TopicStoreSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new TopicStoreTable(TopicStoreSource.paths(properties))
}

object TopicStoreSource {
  val Schema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("pos", LongType, nullable = false),
    StructField("doc", StringType, nullable = false)))

  /** `load(p)` arrives as `path`; `load(p1, p2, …)` as a JSON array in
    * `paths`. Quoted-string extraction covers the array form (log paths
    * with embedded quotes are not a thing this source supports).
    */
  private[sources] def paths(properties: util.Map[String, String]): Seq[String] = {
    val single = Option(properties.get("path")).toSeq
    val multi = Option(properties.get("paths")).toSeq.flatMap { arr =>
      "\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(arr).map(_.group(1)).toSeq
    }
    val all = single ++ multi
    require(all.nonEmpty, "topicstore source requires a path: .load(dir)")
    all
  }

  /** Every `.topic_store` log under `paths`, in path order: a missing
    * path lists nothing, a path that is itself a log lists itself. The
    * status's path string is the log's key in offsets and in the `file`
    * column.
    */
  private[graft] def listLogs(conf: Configuration, paths: Seq[String]): Seq[FileStatus] =
    paths.flatMap { p =>
      val root = new Path(p)
      FileWalk.files(root.getFileSystem(conf), root)
        .filter(_.getPath.getName.endsWith(".topic_store"))
    }
}

class TopicStoreTable(paths: Seq[String]) extends Table with SupportsRead {
  override def name(): String = s"topicstore(${paths.mkString(",")})"
  override def schema(): StructType = TopicStoreSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TopicStoreScanBuilder(paths,
      options.getLong("maxFileAgeMs", 7L * 24 * 3600 * 1000))
}

class TopicStoreScanBuilder(paths: Seq[String], maxFileAgeMs: Long = 7L * 24 * 3600 * 1000)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private var required: StructType = TopicStoreSource.Schema
  private var filePredicates: Seq[String => Boolean] = Seq.empty
  override def pruneColumns(requiredSchema: StructType): Unit = {
    // preserve source column order regardless of the requested order
    val names = requiredSchema.fieldNames.toSet
    required = StructType(TopicStoreSource.Schema.filter(f => names.contains(f.name)))
  }

  /** `file` predicates prune whole logs BEFORE any byte is read — the
    * point-lookup path for 10^5-file capture dirs. Every row of a file
    * shares its `file` value, so partition-level pruning is exact; the
    * filters are still reported as leftovers (Spark re-evaluates them
    * row-side, which is free) so correctness never rests on the pruning.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    filePredicates = filters.toSeq.collect {
      case EqualTo("file", v: String) => (p: String) => p == v
      case In("file", vs) =>
        val set = vs.collect { case s: String => s }.toSet
        (p: String) => set.contains(p)
      case StringStartsWith("file", prefix) => (p: String) => p.startsWith(prefix)
    }
    filters // all leftovers: row-side re-evaluation keeps semantics exact
  }
  override def pushedFilters(): Array[Filter] = Array.empty

  override def build(): Scan = new TopicStoreScan(paths, required, filePredicates, maxFileAgeMs)
}

class TopicStoreScan(paths: Seq[String], required: StructType,
                     filePredicates: Seq[String => Boolean] = Seq.empty,
                     maxFileAgeMs: Long = 7L * 24 * 3600 * 1000)
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Size = total log bytes (decoded JSON is the same order of magnitude)
    * — feeds the optimizer's join-side sizing so a small capture dir can
    * be broadcast instead of shuffled.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    private val bytes = partitions.map(_.asInstanceOf[TopicStoreInputPartition].length).sum
    override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
  }

  /** Listed once per scan: Spark asks for statistics and then plans. */
  private lazy val partitions: Array[InputPartition] =
    TopicStoreSource.listLogs(SparkSession.active.sparkContext.hadoopConfiguration, paths)
      .collect { case f if filePredicates.forall(_(f.getPath.toString)) =>
        TopicStoreInputPartition(f.getPath.toString, f.getLen): InputPartition
      }.toArray

  override def planInputPartitions(): Array[InputPartition] = partitions

  override def createReaderFactory(): PartitionReaderFactory =
    new TopicStoreReaderFactory(required,
      new SerializableHadoopConf(SparkSession.active.sparkContext.hadoopConfiguration))

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new TopicStoreMicroBatchStream(paths, required, maxFileAgeMs)
}

/** Offset = the set of ingested log files with the length each was
  * ingested at — the same immutable-once-visible contract as Spark's file
  * source: a `.topic_store` log becomes visible when the capture session
  * closes it, and appends after visibility are not re-read (resuming
  * mid-file is impossible anyway: pickle records carry no framing, so a
  * byte offset that cuts a record cannot be decoded past).
  */
case class TopicStoreOffset(files: Map[String, Long]) extends Offset {
  override def json(): String = {
    val m = new util.TreeMap[String, java.lang.Long]()
    files.foreach { case (k, v) => m.put(k, v) }
    new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(m)
  }
}

object TopicStoreOffset {
  def fromJson(json: String): TopicStoreOffset = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(json, classOf[util.Map[String, Number]])
    TopicStoreOffset(m.asScala.map { case (k, v) => k -> v.longValue() }.toMap)
  }
}

/** Micro-batch tail of a capture directory: each poll lists the current
  * `.topic_store` files; a batch is the files that appeared since the
  * previous offset (whole files — the file is the split unit in this
  * format). This is the "capture → storage" live path run with the same
  * decoder as the batch scan. A poll costs one `listStatus` per directory
  * under the watched paths and forks no process ([[FileWalk]]); Spark
  * polls on every trigger. The offset map is the frontier, bounded by
  * `maxFileAgeMs`; the listing is not, so at 10^5-file scale ingested
  * logs should be moved out of the watched directory, or capture
  * directories partitioned by date.
  */
class TopicStoreMicroBatchStream(paths: Seq[String], required: StructType,
                                 maxFileAgeMs: Long = 7L * 24 * 3600 * 1000)
    extends MicroBatchStream {
  private val conf = SparkSession.active.sparkContext.hadoopConfiguration
  private val serConf = new SerializableHadoopConf(conf)

  override def initialOffset(): Offset = TopicStoreOffset(Map.empty)

  /** The offset map is BOUNDED: files older than `maxFileAgeMs` relative
    * to the newest listed file fall out of the frontier — the same
    * compaction contract as Spark's file source (`maxFileAge`). A
    * just-aged-out file cannot re-enter as "new" because the age filter
    * excludes it from the candidate set too, so exactly-once holds while
    * the offset stays O(files-per-retention-window) at a 10^5-file-dir
    * deployment, not O(all files ever).
    */
  override def latestOffset(): Offset = {
    val now = TopicStoreSource.listLogs(conf, paths)
    val newest = if (now.isEmpty) 0L else now.map(_.getModificationTime).max
    val horizon = newest - maxFileAgeMs
    TopicStoreOffset(now.collect {
      case f if f.getModificationTime >= horizon => f.getPath.toString -> f.getLen
    }.toMap)
  }

  override def deserializeOffset(json: String): Offset = TopicStoreOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val seen = start.asInstanceOf[TopicStoreOffset].files.keySet
    val target = end.asInstanceOf[TopicStoreOffset].files
    target.iterator
      .filterNot { case (p, _) => seen.contains(p) }
      .map { case (p, len) => TopicStoreInputPartition(p, len): InputPartition }
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new TopicStoreReaderFactory(required, serConf)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class TopicStoreInputPartition(path: String, length: Long) extends InputPartition

class TopicStoreReaderFactory(required: StructType, conf: SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[TopicStoreInputPartition]
    new PartitionReader[InternalRow] {
      // whole-file read: the log is one unsplittable pickle stream, same
      // memory shape as the binaryFile source (files are session-capture
      // sized, not table-sized)
      private val records: Iterator[(Long, String)] = {
        require(p.length <= Int.MaxValue,
          s"${p.path} is ${p.length} bytes — a single pickle log cannot exceed 2 GiB " +
            "(unsplittable format, whole-file decode); split capture sessions instead")
        val fsPath = new Path(p.path)
        val fs = fsPath.getFileSystem(conf.value)
        val in = fs.open(fsPath)
        val bytes = try {
          val buf = new Array[Byte](p.length.toInt)
          in.readFully(0, buf)
          buf
        } finally in.close()
        TopicStoreLog.decodeStream(bytes).iterator.zipWithIndex
          .map { case (json, i) => (i.toLong, json) }
      }
      private val file = UTF8String.fromString(p.path)
      private var current: InternalRow = _
      override def next(): Boolean =
        if (!records.hasNext) false
        else {
          val (pos, json) = records.next()
          val values = required.fieldNames.map {
            case "file" => file
            case "pos" => java.lang.Long.valueOf(pos)
            case "doc" => UTF8String.fromString(json)
          }
          current = new GenericInternalRow(values.asInstanceOf[Array[Any]])
          true
        }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
