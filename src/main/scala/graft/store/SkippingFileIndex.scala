package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._

import graft.ops.OpCache

/** File-level data skipping for a parquet store: Spark's own file index
  * with every file dropped whose footer min/max proves that no row can
  * satisfy a data filter.
  *
  * Spark checks parquet statistics only per row group, after it has
  * planned a task for every file and opened each one; a point lookup on a
  * store of N files therefore opens N footers per query. This index
  * prunes before planning, from cached footers, so the lookup opens the
  * one file whose range holds the key.
  *
  * Listing stays with the wrapped index: a `Monitor.capture` store is read
  * through its file-sink log (`_spark_metadata`), so only committed files
  * are ever candidates, and `inputFiles` / `sizeInBytes` are unchanged.
  *
  * The rule: a file is dropped only when a data filter — `=`, `<`, `<=`,
  * `>`, `>=`, `IN`, and `AND` / `OR` of them, comparing a column with
  * literals — is false for every value range its footer allows. Only
  * INT32/INT64-backed columns take part (integral, date, microsecond
  * timestamp); a float/double (NaN) or string comparison never drops a
  * file. A file is kept when it lacks the column or a row group lacks
  * statistics.
  */
final class SkippingFileIndex(spark: SparkSession, underlying: FileIndex) extends FileIndex {
  import SkippingFileIndex._

  override def rootPaths: Seq[Path] = underlying.rootPaths
  override def inputFiles: Array[String] = underlying.inputFiles
  override def refresh(): Unit = underlying.refresh()
  override def sizeInBytes: Long = underlying.sizeInBytes
  override def partitionSchema: StructType = underlying.partitionSchema
  override def metadataOpsTimeNs: Option[Long] = underlying.metadataOpsTimeNs

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val listed = underlying.listFiles(partitionFilters, dataFilters)
    val partCols = partitionSchema.fieldNames.toSet
    val tests = dataFilters.flatMap(test(_, partCols))
    if (tests.isEmpty) listed
    else {
      val footers = cachedFooters(spark, listed.flatMap(_.files).map(key))
      listed.map { dir =>
        dir.copy(files = dir.files.filter(f => footers.get(key(f)).forall(ft => tests.forall(_(ft)))))
      }
    }
  }
}

object SkippingFileIndex {

  /** `df` with every parquet relation under it read through a
    * [[SkippingFileIndex]]; other relations pass through unchanged. A
    * relation whose listed files fit the driver budget on disk
    * (`graft.ops.OpCache.DriverBytes`) also reads through a
    * [[CachedParquetFileFormat]], so repeated scans replay decoded files,
    * unless an earlier scan of the same store at this size or smaller
    * found its decoded rows larger than the cache; otherwise it keeps
    * Spark's columnar, uncached scan.
    */
  def wrap(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val plan = df.queryExecution.analyzed.transform {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation if h.fileFormat.isInstanceOf[ParquetFileFormat] =>
          val store = h.location.rootPaths.map(_.toString).sorted.mkString(",")
          val bytes = h.location.sizeInBytes
          val format =
            if (h.fileFormat.getClass == classOf[ParquetFileFormat] && bytes <= OpCache.DriverBytes &&
                CachedParquetFileFormat.mayCache(store, bytes))
              new CachedParquetFileFormat(store, bytes, columnar = !CachedParquetFileFormat.holds(store))
            else h.fileFormat
          l.copy(relation = h.copy(location = new SkippingFileIndex(spark, h.location),
            fileFormat = format)(h.sparkSession))
        case _ => l
      }
    }
    org.apache.spark.sql.classic.GraftPlanBridge.ofRows(spark, plan)
  }

  /** A file as the cache knows it: a rewritten file is a new entry. */
  private[graft] final case class FileKey(path: String, length: Long, mtime: Long)

  private def key(f: FileStatusWithMetadata) =
    FileKey(f.getPath.toString, f.getLen, f.getModificationTime)

  /** Footers of every store this JVM has pruned, least recently used
    * dropped first past the driver budget in bytes; a deleted or rewritten
    * file's entry is never read again and ages out.
    */
  private[graft] val footers = new ByteLru[FileKey, Footer](OpCache.DriverBytes,
    (k, ft) => 2L * k.path.length + 96 + 160L * ft.ranges.size)

  /** Footers of `wanted`, reading the uncached ones in one job. */
  private def cachedFooters(spark: SparkSession, wanted: Seq[FileKey]): Map[FileKey, Footer] = {
    val known = wanted.flatMap(k => footers.get(k).map(k -> _)).toMap
    val missing = wanted.filterNot(known.contains)
    val read = FooterStats.read(spark, missing.map(_.path))
    val fresh = missing.flatMap(k => read.get(k.path).map(k -> _))
    fresh.foreach { case (k, ft) => footers.put(k, ft) }
    known ++ fresh
  }

  private def prunable(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def kindOf(t: DataType): String = t match {
    case DateType => "date"
    case TimestampType => "ts"
    case TimestampNTZType => "ts_ntz"
    case _ => "int"
  }

  /** A test that is false only when no row of a file can satisfy `e`, or
    * None when the footer ranges cannot decide `e` — then `e` never drops
    * a file and, when no filter is decidable, no footer is read at all.
    */
  private def test(e: Expression, partCols: Set[String]): Option[Footer => Boolean] = {
    // `column op value` for a data column of a prunable type and a
    // literal of the same type family; a NULL literal never matches
    def cmp(a: Expression, op: String, v: Expression): Option[Footer => Boolean] = (a, v) match {
      case (a: AttributeReference, Literal(value, lt)) if value != null && prunable(a.dataType) &&
          prunable(lt) && kindOf(lt) == kindOf(a.dataType) && !partCols.contains(a.name) =>
        val x = value.asInstanceOf[Number].longValue
        Some(ft => ft.ranges.get(a.name).filter(_.kind == kindOf(a.dataType)).forall(_.bounds.exists {
          case (lo, hi) => op match {
            case "=" => lo <= x && x <= hi
            case "<" => lo < x
            case "<=" => lo <= x
            case ">" => hi > x
            case _ => hi >= x
          }
        }))
      case _ => None
    }
    def anyOf(a: Expression, values: Seq[Any]): Option[Footer => Boolean] = {
      val eqs = values.filter(_ != null).map(v => cmp(a, "=", Literal(v, a.dataType)))
      if (eqs.isEmpty || eqs.exists(_.isEmpty)) None
      else Some(ft => eqs.exists(_.get(ft)))
    }
    e match {
      case And(l, r) => (test(l, partCols) ++ test(r, partCols)).reduceOption((x, y) => ft => x(ft) && y(ft))
      case Or(l, r) => for (x <- test(l, partCols); y <- test(r, partCols)) yield ft => x(ft) || y(ft)
      case In(a, list) if list.forall(_.isInstanceOf[Literal]) =>
        anyOf(a, list.map(_.asInstanceOf[Literal].value))
      case InSet(a, set) => anyOf(a, set.toSeq)
      case EqualTo(a, v) => cmp(a, "=", v).orElse(cmp(v, "=", a))
      case LessThan(a, v) => cmp(a, "<", v).orElse(cmp(v, ">", a))
      case LessThanOrEqual(a, v) => cmp(a, "<=", v).orElse(cmp(v, ">=", a))
      case GreaterThan(a, v) => cmp(a, ">", v).orElse(cmp(v, "<", a))
      case GreaterThanOrEqual(a, v) => cmp(a, ">=", v).orElse(cmp(v, "<=", a))
      case _ => None
    }
  }
}
