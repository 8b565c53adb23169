package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Documents
import graft.ops.Dedup
import graft.store.{Convert, DocumentStore}

/** Semantic checks for the round-2 store/dedup surface: generic updates,
  * cascade delete, footer-stats count, content-sniffing coercion, capped
  * shingles, bucketed embedding pairs, guarded spread.
  */
class StoreOpsSpec extends AnyFunSuite {
  import TestSession._

  private def ev = Tables.events(spark, sf)

  test("updateWhere rewrites every matching row and nothing else") {
    val out = DocumentStore.updateWhere(ev,
      col("event_type") === "click", Map("value" -> lit(-1.0)))
    assert(out.filter(col("event_type") === "click" && col("value") =!= -1.0).count() === 0)
    assert(out.filter(col("event_type") =!= "click" && col("value") === -1.0).count() === 0)
  }

  test("updateFirst rewrites exactly the minimum-id match") {
    val pred = col("event_type") === "purchase"
    val firstId = ev.filter(pred).agg(min("event_id")).collect()(0).getLong(0)
    val out = DocumentStore.updateFirst(ev, "event_id", pred, Map("value" -> lit(-7.0)))
    val changed = out.filter(col("value") === -7.0).select("event_id").collect().map(_.getLong(0))
    assert(changed.toSeq === Seq(firstId))
  }

  test("deleteWhere keeps rows where the predicate is NULL") {
    import spark.implicits._
    val df = Seq((1L, Some(5.0)), (2L, None), (3L, Some(0.5))).toDF("id", "v")
    val kept = DocumentStore.deleteWhere(df, col("v") < 1.0)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 2L), "NULL predicate must mean 'not matched', not 'deleted'")
  }

  test("deleteCascade leaves no orphaned chunk rows") {
    val files = Tables.documents(spark, sf).filter(col("doc_id") < 10)
    val chunks = DocumentStore.chunk(files, col("doc_id"), col("text"), 64)
    val (files2, chunks2) =
      DocumentStore.deleteCascade(files, chunks, "doc_id", col("doc_id").isin(3L, 5L))
    assert(files2.filter(col("doc_id").isin(3L, 5L)).count() === 0)
    val orphans = chunks2.join(files2.select(col("doc_id").as("files_id")),
      Seq("files_id"), "left_anti")
    assert(orphans.count() === 0, "chunks must not outlive their file document")
  }

  test("countEstimate from footers equals the exact count") {
    val exact = spark.read.parquet(s"$sf/events.parquet").count()
    assert(DocumentStore.countEstimate(spark, s"$sf/events.parquet") === exact)
  }

  test("coerceBinary sniffs UTF-8 vs binary on nested leaves") {
    import spark.implicits._
    val df = Seq(("ok", 1), ("bad", 2)).toDF("tag", "n")
      .select(struct(
        when(col("tag") === "ok", encode(lit("héllo"), "UTF-8"))
          .otherwise(concat(encode(lit("x"), "UTF-8"), unhex(lit("FF")))).as("payload"),
        col("n").as("n")).as("doc"), col("tag"))
    val out = Documents.coerceBinary(df)
    val ok = out.filter(col("tag") === "ok").select("doc.payload.*").collect()(0)
    assert(ok.getAs[String]("text") === "héllo" && ok.getAs[Array[Byte]]("raw") === null)
    val bad = out.filter(col("tag") === "bad").select("doc.payload.*").collect()(0)
    assert(bad.getAs[String]("text") === null && bad.getAs[Array[Byte]]("raw") != null)
    // non-binary sibling leaf untouched
    assert(out.select("doc.n").collect().map(_.getInt(0)).toSet === Set(1, 2))
  }

  test("coerceReverse restores the original bytes after coerceBinary (round trip)") {
    import spark.implicits._
    val df = Seq(("ok", 1), ("bad", 2)).toDF("tag", "n")
      .select(struct(
        when(col("tag") === "ok", encode(lit("héllo"), "UTF-8"))
          .otherwise(concat(encode(lit("x"), "UTF-8"), unhex(lit("FF")))).as("payload"),
        col("n").as("n")).as("doc"), col("tag"))
    val back = Documents.coerceReverse(Documents.coerceBinary(df))
    // schema restored: the union leaf folds back to one binary column
    assert(back.schema.simpleString === df.schema.simpleString)
    // bytes restored exactly on BOTH branches (text re-encode and raw)
    val diff = df.select(col("tag"), hex(col("doc.payload")).as("h"), col("doc.n"))
      .except(back.select(col("tag"), hex(col("doc.payload")).as("h"), col("doc.n")))
    assert(diff.count() === 0, "coerceReverse . coerceBinary must be the identity")
    // a frame without union leaves passes through untouched
    val plain = Seq((1L, "t")).toDF("id", "s")
    assert(Documents.coerceReverse(plain).collect().toSeq ===
      plain.collect().toSeq)
  }

  test("binary GridFS round trip: chunk and reassemble raw bytes exactly") {
    import spark.implicits._
    // payloads containing invalid-UTF8 bytes (0xFF) — a string path would
    // corrupt them; lengths straddle the chunk size (7, 16, 17 bytes)
    val blobs = Seq(
      (1L, "FF00FF00FF00FF"),
      (2L, "DEADBEEF" * 4),
      (3L, "AB" * 16 + "CD")).toDF("doc_id", "hex")
      .select(col("doc_id"), unhex(col("hex")).as("payload"))
    val chunks = DocumentStore.chunk(blobs, col("doc_id"), col("payload"), 16)
    assert(chunks.filter(call_function("octet_length", col("data")) > 16).count() === 0)
    val back = DocumentStore.reassembleBinary(chunks)
      .withColumnRenamed("files_id", "doc_id")
      .withColumnRenamed("payload", "payload_r")
    val bad = blobs.join(back, "doc_id")
      .filter(md5(col("payload")) =!= md5(col("payload_r")) ||
        call_function("octet_length", col("payload")) =!=
          call_function("octet_length", col("payload_r")))
    assert(bad.count() === 0, "byte-exact round trip required")
  }

  test("reassemble size guard drops oversized blobs before the collect") {
    import spark.implicits._
    val chunks = Seq(
      (1L, 0, "aa"), (1L, 1, "bb"),          // 4 bytes — under limit
      (2L, 0, "cccccc"), (2L, 1, "dddddd"))  // 12 bytes — over limit
      .toDF("files_id", "n", "data")
    val out = DocumentStore.reassemble(chunks, maxPayloadBytes = Some(8L))
    val rows = out.collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(rows === Map(1L -> "aabb"))
  }

  test("hot-shingle cap bounds candidates on a boilerplate-heavy corpus") {
    import spark.implicits._
    // 30 docs all sharing one boilerplate sentence; disjoint unique tails
    val boiler = "terms of service apply to every part of this document text"
    val docs = (0 until 30).map { i =>
      (i.toLong, s"$boiler unique$i word${i}a word${i}b word${i}c word${i}d word${i}e")
    }.toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 0.1, None)
    assert(uncapped.count() === 30L * 29 / 2, "shared boilerplate links every pair")
    val capped = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 0.1, Some(10))
    assert(capped.count() === 0, "capped shingles must kill boilerplate-only pairs")
  }

  test("bucketed embedding pairs are a subset of exact pairs with equal cosines") {
    val emb = Tables.embeddings(spark, sf)
    val exact = Dedup.embeddingCosinePairs(emb, 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Dedup.embeddingCosinePairsBucketed(emb, 0.45, planes = 3, tables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(lsh.nonEmpty)
    lsh.foreach { case (pair, cos) =>
      assert(exact.contains(pair), s"bucketed pair $pair not in exact set")
      assert(exact(pair) === cos, s"cosine mismatch for $pair")
    }
  }

  test("spread leaves an already-wide scan untouched") {
    val wide = ev.repartition(spark.sparkContext.defaultParallelism + 3)
    assert(graft.ops.Dedup.spread(wide).rdd.getNumPartitions ===
      spark.sparkContext.defaultParallelism + 3)
    val narrow = ev.coalesce(1)
    assert(graft.ops.Dedup.spread(narrow).rdd.getNumPartitions ===
      spark.sparkContext.defaultParallelism)
  }

  test("spread passes a shuffle-wide plan through untouched (no materialization)") {
    // a joined input is already shuffle.partitions wide; spread must return
    // it as-is — crucially WITHOUT touching df.rdd, which under AQE would
    // execute the join just to read a partition count that is then discarded
    val joined = ev.join(ev.select("event_id"), "event_id")
    assert(graft.ops.Dedup.spread(joined) eq joined)
    val agged = ev.groupBy("event_type").count()
    assert(graft.ops.Dedup.spread(agged) eq agged)
  }

  test("migrate writes once and reports the copied-row count from footers") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_migrate").toString + "/dst"
    val src = ev.select("event_id", "event_type")
    val n1 = Convert.migrate(spark, src.filter(col("event_id") < 100), tmp, "event_id")
    assert(n1 === src.filter(col("event_id") < 100).count())
    // second run: only the new ids copy
    val n2 = Convert.migrate(spark, src.filter(col("event_id") < 150), tmp, "event_id")
    assert(n2 === src.filter(col("event_id") >= 100 && col("event_id") < 150).count())
    assert(spark.read.parquet(tmp).count() === n1 + n2)
  }

  test("migrate refuses a destination it cannot read, and leaves it unchanged") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_migrate_bad").toString
    val src = ev.select("event_id", "event_type").limit(10)
    // a destination without the key column is not an empty destination
    val dst = s"$tmp/nokey"
    spark.range(10).toDF("other").write.parquet(dst)
    val files = graft.store.FooterStats.listDataFiles(spark, dst)
    intercept[org.apache.spark.sql.AnalysisException](Convert.migrate(spark, src, dst, "event_id"))
    assert(graft.store.FooterStats.listDataFiles(spark, dst) === files)
    assert(spark.read.parquet(dst).count() === 10)
    // a directory with no data files is empty: everything copies
    val empty = new java.io.File(s"$tmp/empty"); empty.mkdirs()
    assert(Convert.migrate(spark, src, empty.getPath, "event_id") === 10)
  }

  test("TopicStoreLog reads py3 and py2 pickle records, skips the truncated tail") {
    val dir = new java.io.File(getClass.getResource("/sample.topic_store").toURI).getParent
    val rows = graft.sources.TopicStoreLog.read(spark, dir)
      .orderBy("pos").collect()
    assert(rows.length === 3, "3 whole records; the truncated 4th must be skipped")
    val docs = rows.map(_.getAs[String]("doc"))
    assert(docs(0).contains("\"session\":\"s01\"") && docs(0).contains("\"x\":1.5"))
    assert(docs(0).contains("\"topics\":[\"/camera/raw\",\"/gps\"]"))
    assert(docs(1).contains("\"count\":123456789012"), "LONG1 ints decode")
    assert(docs(2) === """{"_id":3,"name":"py2-str"}""", "py2 SHORT_BINSTRING decodes")
    // records open with from_json + schema like any JSON document column
    val parsed = graft.sources.TopicStoreLog.read(spark, dir)
      .select(get_json_object(col("doc"), "$._ts_meta.session").as("session"))
      .filter(col("session").isNotNull)
    assert(parsed.count() === 2)
  }

  test("topicstore V2 source: format() scan, column pruning, per-file splits") {
    val dir = new java.io.File(getClass.getResource("/sample.topic_store").toURI).getParent
    val df = spark.read.format("topicstore").load(dir)
    assert(df.schema.fieldNames.toSeq === Seq("file", "pos", "doc"))
    assert(df.count() === 3)
    // projection must prune at the scan: a doc-only read reports a
    // doc-only ReadSchema in the V2 scan node
    val pruned = df.select("doc")
    val scanLine = pruned.queryExecution.executedPlan.toString
      .split("\n").find(_.contains("BatchScan")).getOrElse("")
    assert(scanLine.contains("doc") && !scanLine.contains("pos"),
      s"expected doc-only scan schema, got: $scanLine")
    assert(pruned.collect().map(_.getString(0)).exists(_.contains("\"session\":\"s01\"")))
  }

  test("topicstore file predicates prune whole logs from the scan") {
    val fixture = new java.io.File(getClass.getResource("/sample.topic_store").toURI)
    val dir = java.nio.file.Files.createTempDirectory("graft_tsprune").toString
    val a = java.nio.file.Paths.get(dir, "a.topic_store")
    java.nio.file.Files.copy(fixture.toPath, a)
    java.nio.file.Files.copy(fixture.toPath, java.nio.file.Paths.get(dir, "b.topic_store"))
    val all = spark.read.format("topicstore").load(dir)
    assert(all.rdd.getNumPartitions === 2)
    val one = all.filter(col("file") === s"file:$a")
    // pruned to ONE input partition — the other log is never opened
    assert(one.rdd.getNumPartitions === 1)
    assert(one.count() === 3)
  }

  test("topicstore write/read round-trips canonical JSON records") {
    val dir = new java.io.File(getClass.getResource("/sample.topic_store").toURI).getParent
    val docs = spark.read.format("topicstore").load(dir).select("doc")
    val out = java.nio.file.Files.createTempDirectory("graft_tswrite").toString
    graft.sources.TopicStoreLog.write(docs, out)
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".topic_store"))
    assert(files.nonEmpty, "write must produce .topic_store files")
    val back = spark.read.format("topicstore").load(out).select("doc")
    assert(back.collect().map(_.getString(0)).sorted.toSeq ===
      docs.collect().map(_.getString(0)).sorted.toSeq)
  }

  test("rosbag write/read round-trips documents with topics and timestamps") {
    import spark.implicits._
    val docs = Seq(
      ("/camera/meta", 100L, """{"_id":1,"w":640}"""),
      ("/camera/meta", 101L, """{"_id":2,"w":640}"""),
      ("/gps/fix", 100L, """{"_id":3,"lat":52.5}"""),
      ("/gps/fix", 103L, """{"_id":4,"lat":52.6}""")).toDF("topic", "t_sec", "doc")
    val out = java.nio.file.Files.createTempDirectory("graft_bag").toString
    graft.sources.RosBag.write(docs.coalesce(1), out)
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".bag"))
    assert(files.length === 1, "coalesce(1) writes one bag")
    // the container is the public v2.0 layout: magic + 4096-byte padded
    // bag header record (op=0x03 first header field)
    val head = java.nio.file.Files.readAllBytes(files.head.toPath).take(32)
    assert(new String(head.take(13), "US-ASCII") === "#ROSBAG V2.0\n")

    val back = graft.sources.RosBag.read(spark, out)
    assert(back.count() === 4)
    assert(back.select("msg_type").distinct().collect().map(_.getString(0)).toSeq ===
      Seq("std_msgs/String"))
    val got = back.select("topic", "t_sec", "doc").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).sorted.toSeq
    val want = docs.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(got === want, "every topic/timestamp/document must survive the bag round-trip")
  }

  test("rosbag bz2 and lz4 chunks round-trip; corrupt chunk bodies skip") {
    import spark.implicits._
    val docs = Seq(
      ("/camera/meta", 100L, """{"_id":1,"w":640}"""),
      ("/gps/fix", 103L, """{"_id":2,"lat":52.6}"""),
      ("/gps/fix", 104L, """{"_id":3,"lat":52.7}""")).toDF("topic", "t_sec", "doc")
    val want = docs.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).sorted.toSeq
    Seq("bz2", "lz4").foreach { codec =>
      val out = java.nio.file.Files.createTempDirectory(s"graft_bag_$codec").toString
      graft.sources.RosBag.write(docs.coalesce(1), out, codec)
      val bag = new java.io.File(out).listFiles()
        .filter(_.getName.endsWith(".bag")).head
      val bytes = java.nio.file.Files.readAllBytes(bag.toPath)
      // the chunk record header must declare the codec (wire parity with
      // `rosbag record -j` / `--lz4`, not a private container format)
      assert(new String(bytes, "ISO-8859-1").contains(s"compression=$codec"),
        s"$codec chunk must be declared in the chunk record header")
      val back = graft.sources.RosBag.read(spark, out).collect()
        .map(r => (r.getString(1), r.getLong(3), r.getString(5))).sorted.toSeq
      assert(back === want, s"every message must survive the $codec round-trip")
      // corrupt the first byte of the compressed chunk BODY (the codec
      // magic — deterministically undecodable): that chunk's messages
      // are lost, but the reader returns cleanly instead of throwing.
      // layout: 13B magic, 4096B padded bag-header record, then the
      // chunk record as u32 hlen | header | u32 dlen | data
      def u32(at: Int) = java.nio.ByteBuffer.wrap(bytes, at, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      val chunkPos = 13 + 4096
      val dataStart = chunkPos + 4 + u32(chunkPos) + 4
      val broken = bytes.clone()
      broken(dataStart) = (broken(dataStart) ^ 0x5a).toByte
      new java.io.File(out).listFiles()
        .filter(_.getName.endsWith(".crc")).foreach(_.delete())
      java.nio.file.Files.write(bag.toPath, broken)
      val n = graft.sources.RosBag.read(spark, out).count()
      assert(n === 0L, s"a corrupt $codec chunk skips (got $n rows)")
    }
  }

  test("rosbag reader skips truncated tails and unknown-codec chunks, never throws") {
    import spark.implicits._
    val docs = Seq(("/t", 1L, """{"_id":1}"""), ("/t", 2L, """{"_id":2}"""))
      .toDF("topic", "t_sec", "doc")
    val out = java.nio.file.Files.createTempDirectory("graft_bagbad").toString
    graft.sources.RosBag.write(docs.coalesce(1), out)
    val bag = new java.io.File(out).listFiles().filter(_.getName.endsWith(".bag")).head
    val bytes = java.nio.file.Files.readAllBytes(bag.toPath)
    // drop the Hadoop checksum sidecar: these edits bypass fs.create
    new java.io.File(out).listFiles().filter(_.getName.endsWith(".crc")).foreach(_.delete())
    // truncate mid-index: messages (inside the chunk) still decode
    java.nio.file.Files.write(bag.toPath, bytes.dropRight(10))
    assert(graft.sources.RosBag.read(spark, out).count() === 2,
      "chunk records precede the index; truncation there loses nothing")
    // an UNKNOWN codec (same-width in-place patch none→zstd) skips the
    // chunk rather than guessing or throwing
    val patched = new String(bytes, "ISO-8859-1")
      .replace("compression=none", "compression=zstd")
      .getBytes("ISO-8859-1")
    assert(patched.length === bytes.length)
    java.nio.file.Files.write(bag.toPath, patched)
    assert(graft.sources.RosBag.read(spark, out).count() === 0,
      "unknown chunk codec must skip, not misparse")
    // garbage after the magic: decodes to zero rows, no exception
    java.nio.file.Files.write(bag.toPath,
      "#ROSBAG V2.0\n".getBytes("US-ASCII") ++ Array.fill[Byte](64)(-1))
    assert(graft.sources.RosBag.read(spark, out).count() === 0)
  }

  test("schema drift: new nested fields NULL-backfill, numerics widen, junk rejects") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val store = Seq((1L, 10, ("a", 1.0f)), (2L, 20, ("b", 2.0f)))
      .toDF("doc_id", "count", "meta")
      .select(col("doc_id"), col("count"),
        col("meta").cast("struct<tag:string,score:float>"))
    // the drifted batch: count widened int→long, meta grew a nested
    // field, and a brand-new top-level column appeared
    val batch = Seq((2L, 200L, ("b2", 2.5, "eu-1"), "fresh"))
      .toDF("doc_id", "count", "meta", "note")
      .select(col("doc_id"), col("count"),
        col("meta").cast("struct<tag:string,score:double,region:string>"),
        col("note"))
    val out = graft.store.DocumentStore.upsertBatchAligned(store, batch, "doc_id")
    assert(out.schema("count").dataType === LongType, "int widens to long")
    assert(out.schema("meta").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq === Seq("tag", "score", "region"),
      "store field order first, new nested field appended")
    assert(out.schema("meta").dataType.asInstanceOf[StructType]("score")
      .dataType === DoubleType, "float widens to double")
    val rows = out.orderBy("doc_id").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    val r1 = rows(0); val r2 = rows(1)
    // untouched store row: old values survive, new fields read as NULL —
    // the schemaless semantics (a field missing on an old document)
    assert(r1.getLong(1) === 10L)
    assert(r1.getStruct(2).getString(0) === "a" &&
      r1.getStruct(2).getDouble(1) === 1.0 && r1.getStruct(2).isNullAt(2))
    assert(r1.isNullAt(3), "new top-level column NULL-backfills old rows")
    // upserted row: batch values land, including the new fields
    assert(r2.getLong(1) === 200L && r2.getStruct(2).getString(2) === "eu-1" &&
      r2.getString(3) === "fresh")
    // incompatible drift (string vs long) rejects LOUDLY with the path
    val bad = Seq((3L, "not-a-number")).toDF("doc_id", "count")
    val e = intercept[IllegalArgumentException](
      graft.store.DocumentStore.upsertBatchAligned(store, bad, "doc_id"))
    assert(e.getMessage.contains("count") &&
      e.getMessage.contains("schema drift rejected"))
    // decimal-vs-fractional drift rejects LOUDLY too (decimal→double
    // silently loses precision past 2^53) — it never widens to double
    val dec = Seq((2L, BigDecimal("42.123456")))
      .toDF("doc_id", "count")
      .select(col("doc_id"), col("count").cast("decimal(38,6)"))
    val storeDbl = store.select(col("doc_id"),
      col("count").cast("double").as("count"), col("meta"))
    val eDec = intercept[IllegalArgumentException](
      graft.store.DocumentStore.upsertBatchAligned(storeDbl, dec, "doc_id"))
    assert(eDec.getMessage.contains("count") &&
      eDec.getMessage.contains("schema drift rejected"))
    val eDec2 = intercept[IllegalArgumentException](
      graft.store.DocumentStore.upsertBatchAligned(dec, storeDbl
        .select(col("doc_id"), col("count")), "doc_id"))
    assert(eDec2.getMessage.contains("schema drift rejected"),
      "decimal store vs double batch rejects in the other direction too")
    // a NULL struct stays NULL after alignment, never a struct of NULLs
    val nulls = Seq((4L, 5L)).toDF("doc_id", "count")
      .withColumn("meta",
        lit(null).cast("struct<tag:string,score:float>"))
    val aligned = graft.store.DocumentStore
      .upsertBatchAligned(store, nulls, "doc_id")
      .filter(col("doc_id") === 4L).collect().head
    assert(aligned.isNullAt(2), "NULL struct identity preserved")
  }

  test("schema drift: a maintained log that grew a field reads as the union") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_drift_log").toString
    // batch 0 writes the original shape, batch 1 the drifted one — the
    // exactly-once writer lands each in its own __batch_id partition
    Seq((1L, "a")).toDF("k", "v").withColumn("__batch_id", lit(0L))
      .write.mode("append").partitionBy("__batch_id").parquet(dir)
    Seq((2L, "b", 9L)).toDF("k", "v", "extra").withColumn("__batch_id", lit(1L))
      .write.mode("append").partitionBy("__batch_id").parquet(dir)
    val log = graft.streaming.Monitor.readLog(spark, dir)
    assert(log.columns.toSeq.sorted === Seq("extra", "k", "v"),
      "the log reads the UNION schema, not one sampled footer")
    val byK = log.collect().map(r => r.getAs[Long]("k") ->
      (if (r.isNullAt(r.fieldIndex("extra"))) None
       else Some(r.getAs[Long]("extra")))).toMap
    assert(byK === Map(1L -> None, 2L -> Some(9L)),
      "pre-drift rows NULL-backfill the new field")
  }

  test("byteSizes totals leaf bytes: fixed widths plus octet lengths") {
    import spark.implicits._
    val df = Seq((1L, "abc", Some(2.0)), (2L, "é", None)).toDF("id", "s", "v")
    val m = Documents.byteSizes(df).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("id") === 16L)       // 2 non-null longs
    assert(m("s") === 5L)         // "abc" (3) + "é" (2 bytes UTF-8)
    assert(m("v") === 8L)         // one non-null double
  }

  test("session stats: exact means and a NULL gap for single-session users") {
    import spark.implicits._
    // user 1: sessions [0,100] and [10000,10050] → durations 100+50,
    // mean 75, one gap 10000−100 = 9900; user 2: one session, gap NULL
    val evs = Seq((1L, 0L), (1L, 100L), (1L, 10000L), (1L, 10050L), (2L, 5L))
      .zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
      .toDF("user_id", "ts_sec", "event_id")
    val out = DocumentStore.sessionStats(evs, col("user_id"), col("ts_sec"),
        col("event_id"), 600L).collect()
      .map(r => r.getLong(0) -> r).toMap
    val u1 = out(1L)
    assert(u1.getLong(1) === 2L && u1.getLong(2) === 4L)
    assert(u1.getLong(3) === 75L && u1.getLong(4) === 9900L)
    val u2 = out(2L)
    assert(u2.getLong(1) === 1L && u2.getLong(3) === 0L && u2.isNullAt(4))
  }

  test("native session_window membership equals the composition sessionizer") {
    import spark.implicits._
    // boundary case included: events exactly gap seconds apart stay one
    // session under both forms (session_window merges touching windows)
    val evs = Seq((1L, 0L), (1L, 100L), (1L, 100L + 600L), // 600 = gap → same session
      (1L, 100L + 600L + 601L), (2L, 50L)) // 601 > gap → new session
      .zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
      .toDF("user_id", "ts_sec", "event_id")
    val composed = DocumentStore.sessionize(evs, col("user_id"), col("ts_sec"),
        col("event_id"), 600L)
      .select("user_id", "start_sec", "end_sec", "n_events")
      .collect().map(_.toSeq).toSet
    val native = DocumentStore.sessionizeNative(evs, col("user_id"),
        timestamp_seconds(col("ts_sec")), 600L)
      .collect().map(_.toSeq).toSet
    assert(native === composed)
    // and on real data
    val e = Tables.events(spark, sf)
    val c2 = DocumentStore.sessionize(e, col("user_id"),
        Documents.tsSec(col("ts")), col("event_id"), 7200L)
      .select("user_id", "start_sec", "end_sec", "n_events")
      .collect().map(_.toSeq).toSet
    val n2 = DocumentStore.sessionizeNative(e, col("user_id"),
        timestamp_seconds(Documents.tsSec(col("ts"))), 7200L)
      .collect().map(_.toSeq).toSet
    assert(n2 === c2)
  }

  test("tsMs and humanReadableSize mirror the reference utilities") {
    import spark.implicits._
    val ms = Seq(java.sql.Timestamp.valueOf("2024-01-01 00:00:00.250"))
      .toDF("ts").select(Documents.tsMs(col("ts"))).collect()(0).getLong(0)
    assert(ms % 1000 === 250L, "millisecond fraction must survive")
    assert(Documents.humanReadableSize(512) === "512 B")
    assert(Documents.humanReadableSize(1536) === "1.5 KiB")
    assert(Documents.humanReadableSize(3L << 30) === "3.0 GiB")
  }

  test("findWithMeta forces meta columns into a narrow projection") {
    val stamped = Documents.stampMeta(ev, col("event_id"), col("user_id"), col("ts"))
    val out = DocumentStore.findWithMeta(stamped, col("value") > 70, Seq("event_type"))
    assert(out.columns.toSet === Set("_id", "session", "sys_time_sec", "event_type"))
  }

  test("interval overlaps emit each intersecting pair exactly once") {
    import spark.implicits._
    // overlapping, touching, disjoint, nested, and multi-bin-spanning
    // intervals; binSec = 10 so several pairs share many bins
    val iv = Seq(
      (1L, 0L, 25L), (2L, 20L, 40L), (3L, 40L, 45L), (4L, 50L, 60L),
      (5L, 5L, 8L), (6L, 100L, 200L), (7L, 150L, 160L)
    ).toDF("id", "lo", "hi")
    val got = DocumentStore.intervalOverlaps(iv, binSec = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    val rows = Seq((1L, 0L, 25L), (2L, 20L, 40L), (3L, 40L, 45L), (4L, 50L, 60L),
      (5L, 5L, 8L), (6L, 100L, 200L), (7L, 150L, 160L))
    val brute = (for {
      (a, al, ah) <- rows; (b, bl, bh) <- rows
      if a < b && al <= bh && bl <= ah
    } yield (a, b, math.max(al, bl), math.min(ah, bh))).sorted
    assert(got === brute)
    // every pair appears exactly once despite sharing multiple bins
    assert(got.map(p => (p._1, p._2)).distinct.size === got.size)
  }

  test("column profiler counts nulls, distincts, and the modal value") {
    import spark.implicits._
    val df = Seq(
      (Some("a"), 1L), (Some("a"), 2L), (Some("b"), 2L), (None, 2L), (None, 3L)
    ).toDF("s", "x")
    val p = DocumentStore.profileColumns(df, Seq("s", "x")).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5)))
      .toMap
    assert(p("s") === ((5L, 2L, 2L, 2L, "a")))
    // modal tie between x=2 (count 3)… no tie: 2 appears 3 times
    assert(p("x") === ((5L, 0L, 3L, 3L, "2")))
    // deterministic tie-break: equal counts pick the LARGER value string
    val tie = Seq("p", "q").toDF("v")
    val t = DocumentStore.profileColumns(tie, Seq("v")).collect()(0)
    assert(t.getString(5) === "q")
  }

  test("forward as-of takes the earliest right row at or after, per key") {
    import spark.implicits._
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (1L, 35L, "c"), (2L, 5L, "d"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 20L, 100L), (1L, 30L, 200L)).toDF("k", "t", "p")
    val got = DocumentStore.asofJoinForward(left, right, "k", "t", Seq("p"))
      .collect().map(r => r.getString(2) ->
        (if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    // t=10 → first right ≥ 10 is t=20; t=20 → inclusive match at 20;
    // t=35 → nothing follows; key 2 has no right rows at all
    assert(got === Map("a" -> 100L, "b" -> 100L, "c" -> -1L, "d" -> -1L))
  }

  test("nearest as-of picks the closer side, backward on ties") {
    import spark.implicits._
    val left = Seq((1L, 10L, "a"), (1L, 24L, "b"), (1L, 26L, "c"),
      (1L, 25L, "tie"), (2L, 5L, "d")).toDF("k", "t", "tag")
    val right = Seq((1L, 20L, 100L), (1L, 30L, 200L)).toDF("k", "t", "p")
    val got = DocumentStore.asofJoinNearest(left, right, "k", "t", Seq("p"))
      .collect().map(r => r.getString(2) ->
        ((if (r.isNullAt(3)) -1L else r.getLong(3)),
         (if (r.isNullAt(4)) -1L else r.getLong(4)))).toMap
    // t=10: only backward? no — 20 is FORWARD of 10 (dt 10), no backward → 100
    // t=24: back 20 (dt 4) beats fwd 30 (dt 6); t=26: fwd 30 (dt 4) wins
    // t=25: dt 5 both sides → backward wins the tie
    // key 2: no right rows at all → null match, null dt
    assert(got === Map(
      "a" -> ((100L, 10L)), "b" -> ((100L, 4L)), "c" -> ((200L, 4L)),
      "tie" -> ((100L, 5L)), "d" -> ((-1L, -1L))))
  }

  test("twap matches a brute driver-side hold-until-next computation") {
    val rows = Tables.events(spark, sf)
      .select(col("event_type"), col("ts").cast("long"), col("event_id"),
        expr("cast(round(value * 1000000.0D) as bigint)"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expected = rows.groupBy(_._1).map { case (et, rs) =>
      val s = rs.sortBy(r => (r._2, r._3))
      val segs = s.zip(s.tail).map { case (a, b) => (b._2 - a._2, a._4) }
      val sdt = segs.map(_._1).sum
      (et, sdt, segs.map { case (dt, vm) => dt * vm }.sum / sdt)
    }.toSet
    val got = graft.ops.Analytics.twap(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected)
  }
}
