package graft.store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.FileWalk

/** Physical layout strategies for the 100 TB deployment (SURVEY.md §5).
  *
  * - Bucketed tables: co-partition fact tables on the join key at write
  *   time so repeated key joins (document ⋈ chunks, events ⋈ events) plan
  *   with NO shuffle exchange on either side.
  * - Session/date partitioned directories: session-scoped queries
  *   (find_by_session, incremental clone) prune entire partitions.
  * - Salted joins: a hot key (one session producing 1% of all events)
  *   would put its whole key group on one reducer; salting fans the hot
  *   side across `salt` sub-keys and replicates the small side.
  */
object Layout {

  /** Write bucketed+sorted by the join key. Readers joining two tables
    * bucketed the same way get a shuffle-free sort-merge join.
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.bucketBy(buckets, key).sortBy(key)
      .mode("overwrite").format("parquet").saveAsTable(table)

  /** Write partitioned by a low-cardinality scope column (session/date):
    * directory-level pruning for scoped reads.
    */
  def writePartitioned(df: DataFrame, path: String, scopeCol: String): Unit =
    df.write.partitionBy(scopeCol).mode("overwrite").parquet(path)

  /** Retention (TTL) enforcement on a [[writePartitioned]] layout:
    * drop every partition whose scope value sorts strictly below
    * `keepFrom` — a pure DIRECTORY operation on the partition listing
    * (delete `scope=<v>` dirs), never a data scan or rewrite, which is
    * the only retention shape that stays O(expired partitions) at
    * 100 TB. String comparison on the partition value matches Hive
    * layout semantics: ISO dates and zero-padded epochs sort
    * lexicographically = chronologically (the caller owns zero-padding
    * numeric scopes — asserted nowhere because a layout that violates
    * it already breaks range pruning). The cutoff compares the LOGICAL
    * scope value — directory names are Hive URL-escaped
    * (`ExternalCatalogUtils.unescapePathName`), so an escaped value
    * (`2024%2F01` for `2024/01`) expires by what it means, not by how
    * it is spelled on disk — and the `__HIVE_DEFAULT_PARTITION__`
    * NULL-scope directory never participates: NULL has no position in
    * the retention order, so it is always kept. Returns the dropped
    * partition values (unescaped); idempotent, crash-safe (a
    * half-finished run deleted some expired dirs — rerunning deletes
    * the rest).
    */
  def expirePartitions(spark: SparkSession, path: String, scopeCol: String,
                       keepFrom: String): Seq[String] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else {
      val prefix = s"$scopeCol="
      val expired = fs.listStatus(p).toSeq.map(_.getPath.getName)
        .filter(_.startsWith(prefix))
        .map(n => n -> ExternalCatalogUtils.unescapePathName(n.stripPrefix(prefix)))
        .filter { case (n, _) =>
          n.stripPrefix(prefix) != ExternalCatalogUtils.DEFAULT_PARTITION_NAME
        }
        .filter { case (_, v) => v < keepFrom }
      expired.foreach { case (name, _) =>
        fs.delete(new org.apache.hadoop.fs.Path(p, name), true)
      }
      expired.map(_._2).sorted
    }
  }

  /** Physical training-corpus delivery: pack documents into fixed-token
    * sequences, deal them round-robin into `numShards` shard directories
    * (`partitionBy(shard_id)` — one directory per shard, the unit a
    * training job claims), and return the manifest RE-AUDITED FROM DISK
    * (`TextAnalysis.shardRollup` over the written files), so the work
    * order a trainer checks describes what is actually on storage, not
    * what the writer intended. Shard assignment is the shardManifest
    * contract (`seq_id % numShards` over the hash-shuffled pack order —
    * token-balanced without bin packing).
    */
  def writeShards(df: DataFrame, path: String, idColName: String,
                  tokenCol: org.apache.spark.sql.Column,
                  capacity: Long, numShards: Int): DataFrame = {
    val packed = graft.ops.TextAnalysis
      .packSequences(df, idColName, tokenCol, capacity)
      .withColumn("shard_id", col("seq_id") % numShards)
    packed.write.partitionBy("shard_id").mode("overwrite").parquet(path)
    graft.ops.TextAnalysis.shardRollup(
      df.sparkSession.read.parquet(path), numShards)
  }

  /** Bulk-build of the cell-partitioned ANN index for a STATIC corpus —
    * the one-shot twin of the ingest-maintained layout
    * (`Monitor.maintainCellIndex`): assign every vector to its quantizer
    * cell against the FROZEN milli centroids (one broadcast scan),
    * repartition by cell so each cell's files are written by co-located
    * tasks (no small-file spray across writers), and land the `cell=`
    * directories `Monitor.probeCells` partition-prunes. Written as the
    * layout's batch 0; per the one-checkpoint-lineage contract a
    * maintenance STREAM must not adopt a foreign backfill — a stream
    * that needs history drains it itself as its own first batch
    * (AvailableNow), which is the same physical write.
    */
  def writeCellIndex(emb: DataFrame, centroids: Array[Array[Long]],
                     path: String, dims: Int = 64): Unit =
    graft.ops.Similarity.cellIndexRows(emb, centroids, dims)
      .withColumn("__batch_id", lit(0L))
      .repartition(col("cell"))
      .write.mode("overwrite")
      // STATIC overwrite on purpose: the bulk build replaces the WHOLE
      // layout. Under dynamic overwrite a rebuild with re-trained
      // centroids would only rewrite cells that receive vectors under
      // the new assignment — a cell populated by the old build but
      // empty under the new one would keep its stale vectors, and
      // probes would serve them from the wrong cell.
      .option("partitionOverwriteMode", "static")
      .partitionBy("__batch_id", "cell")
      .parquet(path)

  /** Z-order (Morton) clustering value over `k` long columns, each
    * normalized to `bits` bits against its global [min, max] and
    * bit-interleaved. Rows close in z-value are close in EVERY clustered
    * dimension, so after a range-repartition + sort on the z-value each
    * parquet row group carries a tight min/max bounding box on ALL the
    * clustered columns — predicates on any subset of them prune row
    * groups, where a single-column sort only serves its one column.
    * Pure codegen'd bit arithmetic (k·bits shift/mask terms).
    */
  def zValue(cols: Seq[Column], mins: Seq[Long], maxs: Seq[Long], bits: Int): Column = {
    require(cols.size * bits <= 63, "interleaved width must fit a long")
    val scaled = cols.zipWithIndex.map { case (c, i) =>
      val span = math.max(1L, maxs(i) - mins(i))
      val k = (1L << bits) - 1
      // (c - min) * k / span, clamped into [0, 2^bits). The long product
      // overflows once span > Long.Max / k (e.g. nanosecond timestamps
      // spanning > ~2 days at bits=16) — ANSI mode then fails the write at
      // runtime. Exact long math where the product provably fits; otherwise
      // scale in double (2^-53 relative error on a bucket index is
      // irrelevant to clustering quality).
      val raw =
        if (span <= Long.MaxValue / k) (c - lit(mins(i))) * lit(k) / lit(span)
        else floor((c - lit(mins(i))).cast("double") / lit(span.toDouble) * lit(k.toDouble))
      least(lit(k), greatest(lit(0L), raw)).cast("long")
    }
    val k = cols.size
    (for (i <- 0 until k; b <- 0 until bits) yield
      shiftleft(shiftright(scaled(i), b).bitwiseAND(lit(1L)), b * k + i))
      .reduce[Column](_ + _)
  }

  /** Write z-order-clustered parquet: one cheap min/max pass, then
    * range-repartition + sort within partitions on the z-value. `options`
    * pass through to the writer (e.g. a small `parquet.block.size` to get
    * more row groups per file for finer skipping granularity).
    */
  def writeZOrdered(df: DataFrame, path: String, zCols: Seq[String], bits: Int = 16,
                    options: Map[String, String] = Map.empty): Unit = {
    val aggs = zCols.flatMap(c => Seq(min(col(c)).cast("long"), max(col(c)).cast("long")))
    val stats = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val mins = zCols.indices.map(i => stats.getLong(2 * i))
    val maxs = zCols.indices.map(i => stats.getLong(2 * i + 1))
    val z = zValue(zCols.map(col), mins.toSeq, maxs.toSeq, bits)
    df.withColumn("__z", z)
      .repartitionByRange(col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.options(options).mode("overwrite").parquet(path)
  }

  /** Write parquet with BLOOM FILTERS on the named columns — the point-
    * lookup lever at 100 TB: a `find_by_id` over a 10^5-file table can
    * min/max-skip row groups only if ids are clustered (see
    * [[writeZOrdered]]); bloom filters skip row groups on ARBITRARY
    * high-cardinality membership probes (id, session hash) even in
    * unsorted append data, at ~1 byte/row cost. NDV defaults to the row
    * count per group; pass explicit ndv for very wide groups.
    */
  def writeWithBloom(df: DataFrame, path: String, bloomCols: Seq[String],
                     ndv: Long = 100000L,
                     options: Map[String, String] = Map.empty): Unit = {
    val bloomOpts = bloomCols.flatMap { c =>
      Seq(s"parquet.bloom.filter.enabled#$c" -> "true",
        s"parquet.bloom.filter.expected.ndv#$c" -> ndv.toString)
    }.toMap
    df.write.options(bloomOpts ++ options).mode("overwrite").parquet(path)
  }

  /** Outcome of a [[compact]] run. */
  case class CompactStats(groups: Int, filesIn: Int, filesOut: Int, bytesIn: Long)

  /** Small-file compaction — the maintenance job every long-lived 100 TB
    * table needs: streaming/append ingest (insertAppend, migrate, the
    * foreachBatch sink) accretes files far below the optimal scan size, and
    * a 10^6-file table pays footer-open and task-schedule cost per file.
    *
    * Files smaller than `targetBytes / 2` are grouped BY PARENT DIRECTORY
    * (so Hive-style `partitionBy` layouts compact within, never across,
    * partitions), each group is rewritten into ceil(groupBytes/targetBytes)
    * files, the rewrites move in, and only then are the originals deleted.
    * Crash mid-run therefore never loses rows; a crash between move-in and
    * delete leaves temporary duplicates (re-running the job converges) —
    * the same non-transactional contract as Hive compaction. Files already
    * at-or-above half the target are left untouched: no rewrite churn on a
    * healthy table. `_`/`.` directories are not entered, as Spark's reader
    * skips them. A streaming file-sink store (a `Monitor.capture` store,
    * whose `_spark_metadata` log lists the files a read may see) is refused
    * with an `IllegalArgumentException` before any file is touched.
    */
  def compact(spark: SparkSession, path: String, targetBytes: Long = 128L << 20): CompactStats = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sinkLog = new org.apache.hadoop.fs.Path(root, "_spark_metadata")
    require(!fs.exists(sinkLog),
      s"$path is a streaming file-sink store: its log $sinkLog names every data file, " +
        "so compacting them would leave the log naming deleted files")
    val small = FileWalk.dataFiles(fs, root).filter(_.getLen < targetBytes / 2)
      .map(f => (f.getPath.getParent.toString, f.getPath.toString, f.getLen))
    // a lone small file per directory is already as compact as it gets
    val groups = small.groupBy(_._1).filter(_._2.size > 1)
    var filesOut = 0
    groups.foreach { case (parent, files) =>
      val bytes = files.map(_._3).sum
      val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      val tmp = new org.apache.hadoop.fs.Path(parent, s".compact_${java.util.UUID.randomUUID()}")
      spark.read.parquet(files.map(_._2).toSeq: _*)
        .repartition(n)
        .write.mode("overwrite").parquet(tmp.toString)
      val moved = fs.listStatus(tmp).filter { s =>
        val nm = s.getPath.getName
        s.isFile && !nm.startsWith("_") && !nm.startsWith(".")
      }
      moved.foreach { s =>
        fs.rename(s.getPath, new org.apache.hadoop.fs.Path(parent, s"compacted_${s.getPath.getName}"))
      }
      filesOut += moved.length
      files.foreach { case (_, p, _) => fs.delete(new org.apache.hadoop.fs.Path(p), false) }
      fs.delete(tmp, true)
    }
    CompactStats(groups.size, groups.valuesIterator.map(_.size).sum, filesOut,
      groups.valuesIterator.flatMap(_.map(_._3)).sum)
  }

  /** Skew-safe equi-join: fan the (big, possibly skewed) left side over
    * `salt` sub-keys derived from a unique column, replicate the small
    * right side across all sub-keys, join on (key, salt). Output equals
    * the plain join; the hot key's rows now spread over `salt` reducers.
    * (AQE skew-join handles moderate skew automatically; explicit salting
    * is for the pathological keys AQE splits can't fix, e.g. one key
    * bigger than executor memory.)
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 uniqueCol: String, salt: Int): DataFrame = {
    val saltedBig = big.withColumn("__salt", pmod(hash(col(uniqueCol)), lit(salt)))
    val saltedSmall = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    saltedBig.join(saltedSmall, Seq(key, "__salt")).drop("__salt")
  }
}
