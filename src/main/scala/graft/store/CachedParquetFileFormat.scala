package graft.store

import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FileSourceOptions, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, JoinedRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.Platform

/** Parquet with a JVM-wide cache of decoded files: a split read twice is
  * served from memory afterwards, without opening the file again.
  *
  * Spark sets up a reader per file on every scan — footer, Hadoop task
  * context (a copy of the whole Hadoop conf), column readers — and on a
  * store of many small files that set-up, not the decoding, is most of a
  * scan. The files of a store are immutable once listed, so the decoded
  * rows of a split can be kept and replayed.
  *
  * A load of a store the cache holds nothing of (`columnar`) keeps
  * Spark's columnar scan, pruned to the required columns with the filters
  * pushed, so a store read once costs what it costs uncached; it only
  * leaves a marker per split it reads. A later load reads rows
  * (`supportBatch` is false) through one reader that decodes ALL the data
  * columns with no pushed filter (Spark keeps every data filter in a
  * `Filter` above the scan, so the rows a query returns do not change).
  * A marked split (one read before) is copied as it passes into one
  * byte buffer of `UnsafeRow`s and enters the cache only when that read
  * drains without error, so a LIMIT that stops early or a failed read
  * caches nothing; a split not read before leaves a marker. Decoded and
  * cached rows are projected to the required columns, followed by the
  * partition values.
  *
  * The cache key is the split (path, start, length) with the file's
  * modification time and size, so a rewritten file is read fresh, plus the
  * data schema, the read options and the session's SQL confs, so nothing
  * that changes decoding can return another decode's rows. A scan that
  * needs a column the data schema lacks (Spark's generated `row_index`,
  * a pruned nested struct) or that ignores corrupt files takes Parquet's
  * own reader and neither reads nor fills the cache: under
  * `ignoreCorruptFiles` a decode that fails part-way is a short file, and
  * decoding every column could fail where the pruned read would not.
  *
  * A store (its root paths, `store`) never evicts its own splits: a fill
  * that would take the store's share of the cache past the whole budget
  * is dropped, and the store is marked as larger than the cache at its
  * listed size (`listedBytes`). Its splits not yet cached are then read
  * without filling, and [[SkippingFileIndex.wrap]] no longer installs
  * this format on it at that size or larger; so a full scan never cycles
  * through the cache decoding every file.
  *
  * Memory: the cache holds at most the driver budget
  * (`graft.ops.OpCache.DriverBytes`) of decoded rows, markers of splits
  * read once, and keys. On top of it each running fill holds one buffer,
  * which starts at its split's size on disk, doubles as rows arrive and
  * is given up as soon as it would take its store's share past the
  * budget; a full buffer is kept as it is, one more than an eighth empty
  * is copied to its used length. The footer cache
  * ([[SkippingFileIndex.footers]]) is a second LRU of the same budget.
  */
private[graft] class CachedParquetFileFormat(store: String, listedBytes: Long, columnar: Boolean)
    extends ParquetFileFormat {
  import CachedParquetFileFormat._

  override def supportBatch(sparkSession: SparkSession, schema: StructType): Boolean =
    columnar && super.supportBatch(sparkSession, schema)

  override def buildReaderWithPartitionValues(
      sparkSession: SparkSession, dataSchema: StructType, partitionSchema: StructType,
      requiredSchema: StructType, filters: Seq[Filter], options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    def plain = super.buildReaderWithPartitionValues(sparkSession, dataSchema, partitionSchema,
      requiredSchema, filters, options, hadoopConf)
    val inData = requiredSchema.forall(f =>
      dataSchema.exists(d => d.name == f.name && d.dataType == f.dataType))
    if (!inData || new FileSourceOptions(options).ignoreCorruptFiles) plain
    else {
      // one reader per scan, as Spark builds it: each build broadcasts the
      // Hadoop conf
      val read = if (columnar) plain else super.buildReaderWithPartitionValues(sparkSession,
        dataSchema, new StructType(), dataSchema, Nil, options, hadoopConf)
      new CachedReader(read, columnar, store, listedBytes, dataSchema, partitionSchema, requiredSchema,
        decodeKey(sparkSession, dataSchema, options))
    }
  }
}

private[graft] object CachedParquetFileFormat {

  /** Splits served from the cache, splits read from disk (a first read or
    * a fill), and the bytes the cache holds, so that a read that skips the
    * disk is testable.
    */
  private[graft] val hits = new AtomicLong
  private[graft] val misses = new AtomicLong
  private[graft] def cachedBytes: Long = cache.bytes

  /** Per store, the smallest listed size at which its decoded rows were
    * found larger than the cache.
    */
  private val outgrown = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]

  /** Whether the cache holds anything of `store`, a marker at least. */
  private[graft] def holds(store: String): Boolean = cache.weighed(_.store == store) > 0

  /** Whether `store`, listed at `bytes` on disk, may still fit the cache. */
  private[graft] def mayCache(store: String, bytes: Long): Boolean =
    Option(outgrown.get(store)).forall(bytes < _)

  private def outgrow(store: String, bytes: Long): Unit =
    outgrown.merge(store, bytes, (a, b) => math.min(a, b))

  /** The heap a cache entry holds: its row bytes, 4 bytes a row for the
    * row ends, and its key.
    */
  private def entryBytes(k: SplitKey, bytes: Long, rows: Long): Long =
    bytes + 4 * rows + 2L * (k.path.length + k.store.length) + 160

  /** A split as the cache knows it; `decode` digests what else shapes its rows. */
  private final case class SplitKey(store: String, path: String, start: Long, length: Long,
                                    mtime: Long, size: Long, decode: String)

  /** A split's rows: row i is `data(ends(i - 1) until ends(i))`, ends(-1) = 0. */
  private final class Split(val data: Array[Byte], val ends: Array[Int])

  /** Each split read through the format: None once it has been read,
    * its rows once it has been read whole a second time.
    */
  private val cache = new ByteLru[SplitKey, Option[Split]](graft.ops.OpCache.DriverBytes, {
    case (k, Some(s)) => entryBytes(k, s.data.length, s.ends.length)
    case (k, None) => entryBytes(k, 0, 0)
  })

  /** SHA-256 of the data schema, the read options and every SQL conf the
    * session sets: one short string, equal exactly when all three are.
    * Whether the scan returns batches or rows does not change the rows, so
    * a columnar scan's markers count for the row scans after it.
    */
  private def decodeKey(spark: SparkSession, dataSchema: StructType,
                        options: Map[String, String]): String = {
    val read = options - FileFormat.OPTION_RETURNING_BATCH
    val text = (dataSchema.json +: read.toSeq.sorted.map(_.toString)) ++
      spark.sessionState.conf.getAllConfs.toSeq.sorted.map(_.toString)
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.mkString("\n").getBytes(StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
  }

  /** Per split of a `columnar` load: `read`'s rows or batches (Parquet's
    * own), leaving a marker. Per split of a later load: the cached rows,
    * or `read`'s rows of every data column, copied into a new entry as
    * they pass when the split was read before, else leaving a marker.
    * Rows are projected to `requiredSchema` followed by the partition
    * columns, by one projection per executor thread.
    */
  private final class CachedReader(read: PartitionedFile => Iterator[InternalRow], columnar: Boolean,
                                   store: String, listedBytes: Long,
                                   dataSchema: StructType, partitionSchema: StructType,
                                   requiredSchema: StructType, decodeKey: String)
      extends (PartitionedFile => Iterator[InternalRow]) with Serializable {

    @transient private lazy val projections = ThreadLocal.withInitial[(UnsafeProjection, UnsafeProjection)] { () =>
      val width = dataSchema.length
      val out = requiredSchema.map(f => BoundReference(dataSchema.fieldIndex(f.name), f.dataType, f.nullable)) ++
        partitionSchema.zipWithIndex.map { case (f, i) => BoundReference(width + i, f.dataType, f.nullable) }
      (UnsafeProjection.create(dataSchema), UnsafeProjection.create(out))
    }

    def apply(file: PartitionedFile): Iterator[InternalRow] = {
      val key = SplitKey(store, file.urlEncodedPath, file.start, file.length,
        file.modificationTime, file.fileSize, decodeKey)
      cache.get(key) match {
        case Some(Some(split)) if !columnar =>
          hits.incrementAndGet()
          val (_, project) = projections.get()
          val row = new JoinedRow(null, file.partitionValues)
          val data = new UnsafeRow(dataSchema.length)
          Iterator.range(0, split.ends.length).map { i =>
            val from = if (i == 0) 0 else split.ends(i - 1)
            data.pointTo(split.data, Platform.BYTE_ARRAY_OFFSET + from, split.ends(i) - from)
            project(row.withLeft(data))
          }
        case seen =>
          misses.incrementAndGet()
          val fits = mayCache(store, listedBytes)
          if (seen.isEmpty && fits && !cache.putWithin(key, None, _.store == store))
            outgrow(store, listedBytes)
          if (columnar) read(file) else decoded(file, if (seen.isDefined && fits) Some(key) else None)
      }
    }

    /** `file`'s rows; with a `fill` key, kept as a new entry when they all
      * pass and fit the store's share of the cache.
      */
    private def decoded(file: PartitionedFile, fill: Option[SplitKey]): Iterator[InternalRow] = {
      val (toUnsafe, project) = projections.get()
      val row = new JoinedRow(null, file.partitionValues)
      // decoded without partition columns; they are appended below
      val rows = read(file.copy(partitionValues = InternalRow.empty))
      val budget = graft.ops.OpCache.DriverBytes
      new Iterator[InternalRow] {
        private var buf =
          if (fill.isEmpty) null else new Array[Byte](math.min(budget, math.max(file.length, 1L << 16)).toInt)
        private var used = 0
        private val ends = Array.newBuilder[Int]

        def hasNext: Boolean = {
          val more = rows.hasNext
          if (!more && buf != null) {
            val data = if (used < buf.length - buf.length / 8) java.util.Arrays.copyOf(buf, used) else buf
            if (!cache.putWithin(fill.get, Some(new Split(data, ends.result())), _.store == store))
              outgrow(store, listedBytes)
            buf = null
          }
          more
        }

        def next(): InternalRow = {
          val data = toUnsafe(rows.next())
          if (buf != null) keep(data)
          project(row.withLeft(data))
        }

        /** Append `data`'s bytes, growing the buffer, or give the entry up
          * once the buffer would take the store's share past the budget.
          */
        private def keep(data: UnsafeRow): Unit = {
          val n = data.getSizeInBytes
          if (used + n > buf.length) {
            val grown = math.min(budget, math.max(used.toLong + n, 2L * buf.length))
            if (used.toLong + n > grown || cache.weighed(_.store == store) + grown > budget) {
              outgrow(store, listedBytes)
              buf = null
              return
            }
            buf = java.util.Arrays.copyOf(buf, grown.toInt)
          }
          data.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + used)
          used += n
          ends += used
        }
      }
    }
  }
}
