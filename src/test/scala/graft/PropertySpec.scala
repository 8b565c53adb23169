package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.store.DocumentStore
import graft.ops.Dedup

/** Property-based invariants on generated data (ScalaCheck). Small
  * generated datasets, run through the real engine.
  */
class PropertySpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  /** Generator of canonical-JSON document trees (the value domain
    * `TopicStore.dict` payloads inhabit: maps/lists/strings/longs/doubles/
    * bools/null, finite depth).
    */
  private def jsonGen(depth: Int): Gen[String] = {
    val scalar = Gen.oneOf(
      Gen.const("null"),
      Gen.oneOf("true", "false"),
      Gen.choose(Long.MinValue / 2, Long.MaxValue / 2).map(_.toString),
      Gen.choose(-1e6, 1e6).map(d =>
        graft.sources.TopicStoreLog.toJson(d)), // canonical double form
      Gen.alphaNumStr.map(s => "\"" + s.take(12) + "\""))
    if (depth == 0) scalar
    else Gen.frequency(
      3 -> scalar,
      1 -> Gen.listOfN(3, jsonGen(depth - 1)).map(_.mkString("[", ",", "]")),
      1 -> Gen.listOfN(3, Gen.zip(Gen.identifier.map(_.take(8)), jsonGen(depth - 1)))
        .map(kvs => kvs.toMap.toSeq.sortBy(_._1)
          .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")))
  }

  test("property: pickle encode→decode round-trips canonical JSON documents") {
    forAll(Gen.listOfN(8, jsonGen(3)), n = 10) { docs =>
      val bytes = docs.map(graft.sources.TopicStoreLog.encodeOne).reduceLeft(_ ++ _)
      val back = graft.sources.TopicStoreLog.decodeStream(bytes)
      assert(back === docs.toSeq)
    }
  }

  /** Drive a generator deterministically (seeded) for n samples. */
  private def forAll[A](gen: Gen[A], n: Int = 5)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      body(gen.apply(Gen.Parameters.default, Seed(42L + i))
        .getOrElse(fail(s"generator produced no value for seed ${42 + i}")))
    }

  private val textGen: Gen[String] =
    Gen.nonEmptyListOf(Gen.oneOf("alpha", "beta", "gamma", "delta", "x1", "y2"))
      .map(_.mkString(" "))

  test("chunk + reassemble is the identity for any payload and chunk size") {
    forAll(Gen.zip(Gen.nonEmptyListOf(textGen), Gen.choose(1, 37))) {
      case (texts: List[String], chunkSize: Int) =>
        val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        val back = DocumentStore.reassemble(
            DocumentStore.chunk(df, col("doc_id"), col("text"), chunkSize))
          .withColumnRenamed("files_id", "doc_id")
        val bad = df.join(back, "doc_id").filter(col("text") =!= col("payload")).count()
        assert(bad === 0)
        assert(back.count() === df.count())
    }
  }

  test("asofJoin: every match is the latest right row at or before the left row") {
    val rowsGen = Gen.nonEmptyListOf(for {
      k <- Gen.choose(0L, 2L)
      t <- Gen.choose(0L, 50L)
    } yield (k, t))
    forAll(Gen.zip(rowsGen, rowsGen)) { case (l: List[(Long, Long)], r: List[(Long, Long)]) =>
      val left = l.distinct.zipWithIndex
        .map { case ((k, t), i) => (k, t, i.toLong) }.toDF("k", "t", "lid")
      val right = r.distinct.groupBy(identity).keys.toSeq.zipWithIndex
        .map { case ((k, t), i) => (k, t, i.toLong + 1000) }
        .groupBy(x => (x._1, x._2)).values.map(_.head).toSeq // unique (k, t)
        .toDF("k", "t", "rid")
      val got = DocumentStore.asofJoin(left, right, "k", "t", Seq("rid"))
        .collect().map(row => (row.getLong(0), row.getLong(1), row.getLong(2),
          Option(row.get(3)).map(_.asInstanceOf[Long]))).toSet
      val rightRows = right.collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
      val expected = left.collect().map { row =>
        val (k, t, lid) = (row.getLong(0), row.getLong(1), row.getLong(2))
        val cands = rightRows.filter(x => x._1 == k && x._2 <= t)
        val best = if (cands.isEmpty) None
          else Some(cands.maxBy(x => (x._2, x._3))._3)
        (k, t, lid, best)
      }.toSet
      assert(got === expected)
    }
  }

  test("asofJoinExec: the custom physical operator satisfies the same property") {
    val rowsGen = Gen.nonEmptyListOf(for {
      k <- Gen.choose(0L, 2L)
      t <- Gen.choose(0L, 50L)
    } yield (k, t))
    forAll(Gen.zip(rowsGen, rowsGen)) { case (l: List[(Long, Long)], r: List[(Long, Long)]) =>
      val left = l.distinct.zipWithIndex
        .map { case ((k, t), i) => (k, t, i.toLong) }.toDF("k", "t", "lid")
      val right = r.distinct
        .groupBy(x => (x._1, x._2)).values.map(_.head).toSeq.zipWithIndex
        .map { case ((k, t), i) => (k, t, i.toLong + 1000) } // unique (k, t)
        .toDF("k", "t", "rid")
      val got = DocumentStore.asofJoinExec(left, right, "k", "t", Seq("rid"))
        .collect().map(row => (row.getLong(0), row.getLong(1), row.getLong(2),
          Option(row.get(3)).map(_.asInstanceOf[Long]))).toSet
      val rightRows = right.collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
      val expected = left.collect().map { row =>
        val (k, t, lid) = (row.getLong(0), row.getLong(1), row.getLong(2))
        val cands = rightRows.filter(x => x._1 == k && x._2 <= t)
        val best = if (cands.isEmpty) None else Some(cands.maxBy(_._2)._3)
        (k, t, lid, best)
      }.toSet
      assert(got === expected)
    }
  }

  test("sessionize: events within a session are gap-bounded, sessions are disjoint") {
    val evGen = Gen.nonEmptyListOf(for {
      k <- Gen.choose(0L, 2L); t <- Gen.choose(0L, 1000L)
    } yield (k, t))
    forAll(Gen.zip(evGen, Gen.choose(5L, 100L))) { case (evs: List[(Long, Long)], gap: Long) =>
      val df = evs.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
        .toDF("k", "t", "id")
      val sessions = DocumentStore.sessionize(df, col("k"), col("t"), col("id"), gap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      // session count per key equals 1 + number of gaps > gap in sorted times
      evs.groupBy(_._1).foreach { case (k, kevs) =>
        val ts = kevs.map(_._2).sorted
        val expectedSessions = 1 + ts.zip(ts.tail).count { case (a, b) => b - a > gap }
        assert(sessions.count(_._1 == k) === expectedSessions)
      }
      // sessions of one key never overlap and cover all events
      sessions.groupBy(_._1).values.foreach { ss =>
        val sorted = ss.sortBy(_._4)
        sorted.zip(sorted.tail).foreach { case (a, b) => assert(a._5 < b._4) }
      }
      assert(sessions.map(_._3).sum === evs.length)
    }
  }

  test("connected components: labels are the min id of each true component") {
    val edgeGen = Gen.listOf(for {
      a <- Gen.choose(0L, 15L); b <- Gen.choose(0L, 15L) if a != b
    } yield (math.min(a, b), math.max(a, b)))
    // both paths: the driver-side rounds, then the distributed ones
    for ((path, run) <- Seq[(String, (=> Array[Row]) => Array[Row])](
        "driver" -> (f => f), "distributed" -> (f => distributed(f))))
    forAll(edgeGen.suchThat(_.nonEmpty)) { (edges: List[(Long, Long)]) =>
      val pairs = edges.distinct.toDF("id1", "id2")
      val got = run(Dedup.connectedComponents(pairs).collect())
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      // reference union-find
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r } }
      edges.distinct.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
      val expected = parent.keys.map(x => x -> find(x)).toMap
      assert(got === expected.map { case (k, v) => k -> math.min(v, k) }.map {
        case (k, _) => k -> find(k) }, s"$path path")
    }
  }

  test("property: pageRank and kCore give the same rows on the driver and distributed") {
    // multigraphs: duplicate pairs, reversed pairs and self-loops, each
    // counted by the driver-side rounds as the distributed explode counts it
    val pairGen = Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 12L), Gen.choose(0L, 12L)))
      .map(ps => ps ++ ps.take(3) ++ ps.take(3).map(_.swap))
    forAll(pairGen) { (ps: List[(Long, Long)]) =>
      val pairs = ps.toDF("src", "dst")
      def both(name: String)(op: => org.apache.spark.sql.DataFrame): Unit = {
        val (local, dist) = (op, distributed(op))
        def onDriver(df: org.apache.spark.sql.DataFrame) =
          df.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])
        assert(onDriver(local) && !onDriver(dist), s"$name did not take both paths")
        assert(local.schema.map(f => (f.name, f.dataType)) ===
          dist.schema.map(f => (f.name, f.dataType)), name)
        assert(local.collect().map(_.toSeq).sortBy(_.toString).toSeq ===
          distributed(dist.collect()).map(_.toSeq).sortBy(_.toString).toSeq,
          s"$name differs between the driver and distributed paths on $ps")
      }
      both("pageRank")(ops.Graph.pageRank(pairs, iters = 3))
      for (k <- 1 to 3) both(s"kCore k=$k")(ops.Graph.kCore(pairs, k))
    }
  }

  test("driver-side results past the broadcast size are column slices with the same rows") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.LogicalRDD
    // a 1-byte broadcast size keeps the driver path (only a negative one
    // turns it off) and puts every result past it
    val pairs = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (3L, 4L), (5L, 6L), (6L, 6L),
      (4L, 7L), (7L, 3L)).toDF("src", "dst")
    def sliced(df: DataFrame) = df.queryExecution.analyzed.collectLeaves().exists {
      case r: LogicalRDD => r.rdd.toDebugString.contains("LocalGraph.scala")
      case _ => false
    }
    val runs = Seq[(String, () => DataFrame)](
      "connectedComponents" -> (() => Dedup.connectedComponents(
        pairs.select(col("src").as("id1"), col("dst").as("id2")))),
      "pageRank" -> (() => ops.Graph.pageRank(pairs, iters = 3)),
      "kCore k=2" -> (() => ops.Graph.kCore(pairs, 2)))
    for ((name, op) <- runs) {
      val (local, rows) = ops.OpCache.withConf(spark, "spark.sql.autoBroadcastJoinThreshold", "1") {
        val df = op()
        (df, df.collect().map(_.toSeq).toSeq)
      }
      val dist = distributed(op())
      assert(sliced(local) && !sliced(dist), s"$name did not take both paths")
      assert(local.schema.map(f => (f.name, f.dataType)) ===
        dist.schema.map(f => (f.name, f.dataType)), name)
      val want = distributed(dist.collect()).map(_.toSeq).toSeq
      // k-core rows come in node order on both paths
      if (name.startsWith("kCore")) assert(rows === want, name)
      else assert(rows.sortBy(_.toString) === want.sortBy(_.toString), name)
    }
  }

  test("property: bloom filters never produce a false negative") {
    import graft.functions.BloomImpl
    forAll(Gen.zip(
      Gen.nonEmptyListOf(Gen.choose(Long.MinValue, Long.MaxValue)),
      Gen.choose(1, 8)), n = 10) { case (hashes, k) =>
      val f = BloomImpl.create(1024, k)
      hashes.foreach(BloomImpl.put(f, _))
      assert(hashes.forall(BloomImpl.mightContain(f, _)),
        "a member probe returned false")
    }
  }

  test("property: bloom merge is commutative and equals bulk insertion") {
    import graft.functions.BloomImpl
    forAll(Gen.zip(
      Gen.listOfN(20, Gen.choose(Long.MinValue, Long.MaxValue)),
      Gen.listOfN(20, Gen.choose(Long.MinValue, Long.MaxValue))), n = 10) {
      case (as, bs) =>
        def filt(xs: Seq[Long]) = {
          val f = BloomImpl.create(4096, 3); xs.foreach(BloomImpl.put(f, _)); f
        }
        val whole = filt(as ++ bs)
        val ab = filt(as); BloomImpl.mergeInto(ab, filt(bs))
        val ba = filt(bs); BloomImpl.mergeInto(ba, filt(as))
        assert(java.util.Arrays.equals(whole, ab) && java.util.Arrays.equals(ab, ba))
    }
  }

  test("property: Misra-Gries never drops an item above the n/(k+1) bound") {
    import graft.functions.MgImpl
    import scala.collection.mutable
    // skewed streams: few hot items + noise tail, random arrival order
    val streamGen = for {
      hotCount <- Gen.choose(50, 200)
      noise <- Gen.listOfN(300, Gen.choose(0, 5000).map(i => s"n$i"))
      order <- Gen.choose(0, 3)
    } yield {
      val hot = List.fill(hotCount)("hot1") ++ List.fill(hotCount / 2)("hot2")
      order match {
        case 0 => hot ++ noise
        case 1 => noise ++ hot
        case 2 => hot.zipAll(noise, "hot1", "pad").flatMap(t => List(t._1, t._2))
        case _ => (hot ++ noise).sorted
      }
    }
    forAll(Gen.zip(streamGen, Gen.choose(8, 32)), n = 10) { case (stream, k) =>
      // split the stream in two, sketch each half, merge — the distributed path
      val (l, r) = stream.splitAt(stream.length / 2)
      val ml = mutable.HashMap.empty[String, Long]
      val mr = mutable.HashMap.empty[String, Long]
      l.foreach(MgImpl.add(ml, _, k))
      r.foreach(MgImpl.add(mr, _, k))
      MgImpl.mergeInto(ml, mr, k)
      val n = stream.length
      val trueCounts = stream.groupBy(identity).view.mapValues(_.size.toLong)
      trueCounts.foreach { case (item, c) =>
        if (c > n.toLong / (k + 1))
          assert(ml.contains(item),
            s"item $item with count $c > $n/(${k + 1}) was dropped")
      }
    }
  }

  test("qsketch: serialization round-trips and any split-merge equals the direct sketch") {
    import graft.functions.QSketchImpl
    import org.apache.spark.unsafe.types.UTF8String
    val rowsGen = for {
      n <- Gen.choose(1, 200)
      vals <- Gen.listOfN(n, Gen.choose(-1e6, 1e6))
    } yield vals.zipWithIndex.map { case (v, i) => (s"id$i", v) }
    forAll(Gen.zip(rowsGen, Gen.choose(16, 64), Gen.choose(1, 199)), n = 15) {
      case (rows, k, splitAtRaw) =>
        def build(part: Seq[(String, Double)]): QSketchImpl.Buf = {
          val b = new QSketchImpl.Buf(k)
          part.foreach { case (id, v) =>
            b.add(QSketchImpl.rankOf(UTF8String.fromString(id)), v)
          }
          b
        }
        val direct = build(rows)
        // distributed path: two partials merged
        val (l, r) = rows.splitAt(splitAtRaw % rows.length)
        val merged = build(l)
        merged.mergeFrom(build(r).sortedPairs)
        val a = QSketchImpl.serialize(k, direct.sortedPairs)
        val b = QSketchImpl.serialize(k, merged.sortedPairs)
        assert(java.util.Arrays.equals(a, b),
          "split-merge must be byte-identical to the direct sketch")
        // serialization round-trip preserves the pairs exactly
        val (k2, pairs) = QSketchImpl.deserialize(a)
        assert(k2 == k && pairs.toSeq == direct.sortedPairs.toSeq)
        // the kept set is exactly the bottom-k of the full ranked list
        val expected = rows
          .map { case (id, v) => (QSketchImpl.rankOf(UTF8String.fromString(id)), v) }
          .sorted.take(k)
        assert(pairs.toSeq == expected)
    }
  }

  test("property: margin mining always yields a one-to-one matching above the bar") {
    val embGen = Gen.listOfN(12,
      Gen.listOfN(64, Gen.choose(-1.0f, 1.0f)).map(_.toArray))
    forAll(embGen, n = 5) { vecs =>
      val rows = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      val a = rows.filter(_._1 % 2 == 0).toDF("vec_id", "embedding")
      val b = rows.filter(_._1 % 2 == 1).toDF("vec_id", "embedding")
      val got = graft.ops.Similarity.marginPairs(a, b, k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      graft.ops.Dedup.unpersistShared()
      // mutual argmax is structurally a partial matching
      assert(got.map(_._1).distinct.length === got.length, "a_id repeats")
      assert(got.map(_._2).distinct.length === got.length, "b_id repeats")
      got.foreach { case (_, _, m) => assert(m >= 1000000L, "below the margin bar") }
    }
  }

  test("property: bpe merges never increase token count and encode conserves words") {
    forAll(Gen.nonEmptyListOf(textGen).map(_.take(6)), n = 5) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val merges = graft.ops.TextAnalysis.bpeTrain(docs, col("text"), rounds = 4)
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      // counts are monotone non-increasing as more merges apply; words conserved
      val byRounds = (0 to merges.length).map { r =>
        graft.ops.TextAnalysis.bpeEncode(docs, col("doc_id"), col("text"),
            merges.take(r))
          .collect().map(row => row.getLong(0) -> (row.getLong(1), row.getLong(2))).toMap
      }
      byRounds.sliding(2).foreach {
        case Seq(prev, next) =>
          prev.keys.foreach { id =>
            assert(next(id)._1 <= prev(id)._1, s"merge grew doc $id")
            assert(next(id)._2 === prev(id)._2, s"word count changed for doc $id")
          }
        case _ => ()
      }
      // zero merges: BPE tokens == characters of the words
      val chars = texts.zipWithIndex.map { case (t, i) =>
        i.toLong -> t.split("\\s+").filter(_.nonEmpty).map(_.length.toLong).sum
      }.toMap
      byRounds.head.foreach { case (id, (tok, _)) =>
        assert(tok === chars(id), s"char baseline mismatch for doc $id")
      }
    }
  }

  test("property: interval-union sweep equals brute timeline coverage") {
    val ivGen = Gen.listOfN(24, for {
      k <- Gen.oneOf("a", "b", "c")
      s <- Gen.choose(0L, 100L)
      len <- Gen.choose(-5L, 40L) // negatives exercise the degenerate clamp
    } yield (k, s, s + len))
    forAll(ivGen, n = 8) { ivs =>
      val got = graft.ops.Analytics
        .intervalUnionLength(ivs.toDF("key", "start_sec", "end_sec"))
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      val brute = ivs.groupBy(_._1).map { case (k, rs) =>
        k -> rs.flatMap { case (_, s, e) => s until math.max(s, e) }
          .toSet.size.toLong
      }
      assert(got === brute)
    }
  }

  test("property: motif census equals the brute sliding-window count") {
    val width = 3
    val tblGen = Gen.listOfN(40, for {
      s <- Gen.oneOf("a", "b")
      h <- Gen.choose(0L, 25L) // collisions + gaps by construction
      x <- Gen.choose(-50L, 50L)
    } yield (s, h, x)).map(_.distinctBy(t => (t._1, t._2)))
    forAll(tblGen, n = 8) { rows =>
      val got = graft.ops.Analytics
        .motifsFromHourly(rows.toDF("series", "h", "x"),
          width = width, deadbandPermille = 200L, k = 1000)
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      // brute: per series, symbols over sorted buckets; windows of
      // `width` consecutive-hour symbols only
      val brute = rows.groupBy(_._1).toSeq.flatMap { case (s, rs) =>
        val by = rs.map(t => t._2 -> t._3).toMap
        val hs = by.keys.toSeq.sorted
        def sym(h: Long): Option[String] = by.get(h + 1).map { x1 =>
          val x = by(h)
          if ((x1 - x) * 1000L > math.abs(x) * 200L) "U"
          else if ((x - x1) * 1000L > math.abs(x) * 200L) "D" else "F"
        }
        hs.flatMap { h =>
          val syms = (0 until width).map(j =>
            if (by.contains(h + j)) sym(h + j) else None)
          if (syms.forall(_.isDefined)) Some((s, syms.flatten.mkString))
          else None
        }
      }
      val bruteCensus = brute.groupBy(_._2).map { case (shape, occ) =>
        shape -> (occ.size.toLong, occ.map(_._1).distinct.size.toLong)
      }
      assert(got === bruteCensus)
    }
  }

  test("property: cusum closed form equals the sequential recurrence") {
    val xsGen = Gen.listOfN(30, Gen.choose(0.0, 200.0))
    forAll(xsGen, n = 8) { xs =>
      val rows = xs.zipWithIndex.map { case (v, h) =>
        (h * 3600L, "A", v)
      }.toDF("t", "event_type", "value")
        .select(col("t").cast("timestamp").as("ts"), col("event_type"), col("value"))
      val ref = 5
      val got = graft.ops.Analytics.cusum(rows, refBuckets = ref, slackPermille = 50L)
        .collect().map(r => (r.getLong(1), r.getLong(4)))
      // driver-side recurrence on the same micro-rounded bucket means
      val micro = xs.map(v => math.round(v * 1e6))
      val mu0 = micro.take(ref).sum / ref
      val k = mu0 * 50L / 1000L
      var s = 0L
      val expected = micro.drop(ref).zipWithIndex.map { case (x, i) =>
        s = math.max(0L, s + x - mu0 - k)
        ((ref + i).toLong, s)
      }
      assert(got.toSeq === expected)
    }
  }

  test("property: acf of a noisy series matches the brute definition") {
    val xsGen = Gen.listOfN(20, Gen.choose(0.0, 100.0))
    forAll(xsGen, n = 6) { xs =>
      val rows = xs.zipWithIndex.map { case (v, h) =>
        (h * 3600L, "A", v)
      }.toDF("t", "event_type", "value")
        .select(col("t").cast("timestamp").as("ts"), col("event_type"), col("value"))
      val got = graft.ops.Analytics.acf(rows, maxLag = 3)
        .collect().map(r => r.getInt(1) -> (r.getLong(3), r.getLong(4))).toMap
      val micro = xs.map(v => math.round(v * 1e6))
      val n = micro.size
      val sx = micro.sum
      val d = micro.map(x => n * x - sx)
      def pm(a: Long, b: Long): Long =
        math.round(a.toDouble * b.toDouble / (1e6 * n * n))
      val den = d.map(v => pm(v, v)).sum
      (1 to 3).foreach { lag =>
        val num = (0 until n - lag).map(i => pm(d(i), d(i + lag))).sum
        assert(got(lag) === ((num, den)), s"lag $lag")
      }
    }
  }

  test("chunkOverlap: token coverage, multiplicity bound, and stride-window reconstruction") {
    import graft.ops.TextAnalysis
    val docGen = Gen.zip(
      Gen.nonEmptyListOf(Gen.choose(0, 999)).map(_.map(t => s"t$t")),
      Gen.choose(1, 12)).flatMap { case (toks, stride) =>
        Gen.choose(stride, 16).map(window => (toks, window, stride)) }
    forAll(docGen, n = 10) { case (toks: List[String], window: Int, stride: Int) =>
      val df = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
      val chunks = TextAnalysis.chunkOverlap(df, col("doc_id"), col("text"), window, stride)
        .orderBy("chunk_id").collect()
      val n = toks.length
      // every token index is covered, and no index appears in more than
      // ceil(window/stride) chunks
      val covered = Array.fill(n)(0)
      chunks.foreach { r =>
        val s = r.getAs[Long]("start").toInt
        val got = r.getAs[String]("chunk_text")
        val want = toks.slice(s, s + window).mkString(" ")
        assert(got === want, s"window at $s mismatch (w=$window, s=$stride)")
        (s until math.min(s + window, n)).foreach(covered(_) += 1)
      }
      assert(covered.forall(_ >= 1), s"uncovered token (n=$n, w=$window, s=$stride)")
      val maxMult = (window + stride - 1) / stride
      assert(covered.forall(_ <= maxMult),
        s"multiplicity ${covered.max} > $maxMult (n=$n, w=$window, s=$stride)")
      // stride == window: concatenation reconstructs the document
      val flat = TextAnalysis.chunkOverlap(df, col("doc_id"), col("text"), window, window)
        .orderBy("chunk_id").collect().map(_.getAs[String]("chunk_text"))
        .filter(_.nonEmpty).mkString(" ")
      assert(flat === toks.mkString(" "))
    }
  }

  test("property: holt-winters equals the driver recurrence on gappy series") {
    // random values AND random missing buckets: gaps must not shift the
    // hour-of-day seasonal slot alignment (slot = h % period, not rank)
    val gen = Gen.listOfN(40, Gen.zip(Gen.choose(-100.0, 100.0),
      Gen.prob(0.7)))
    forAll(gen, n = 8) { marks =>
      val kept = marks.zipWithIndex.collect { case ((v, true), h) => (h, v) }
      if (kept.size >= 2) {
        val rows = kept.map { case (h, v) => (h * 3600L, "A", v) }
          .toDF("t", "event_type", "value")
          .select(col("t").cast("timestamp").as("ts"), col("event_type"),
            col("value"))
        val got = graft.ops.Analytics.holtWinters(rows, period = 24).collect()
          .map(r => (r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5)))
        val seas = Array.fill(24)(0L)
        var l = 0L; var b = 0L; var first = true
        val expected = kept.map { case (h, v) =>
          val vm = math.round(v * 1e6)
          val slot = h % 24
          val sp = seas(slot)
          if (first) { l = vm; b = 0L; first = false }
          else { val l2 = (vm - sp + l + b) >> 1; b = (l2 - l + 3L * b) >> 2; l = l2 }
          seas(slot) = (vm - l + 3L * sp) >> 2
          (h.toLong, l, b, seas(slot))
        }
        assert(got.toSeq === expected)
      }
    }
  }

  test("property: skipgram pair matrix is symmetric and volume-exact") {
    val docsGen = Gen.listOfN(6,
      Gen.listOfN(12, Gen.choose(0, 6).map(t => s"w$t")))
    forAll(docsGen, n = 8) { docs =>
      val df = docs.zipWithIndex.map { case (ws, i) =>
        (i.toLong, ws.mkString(" ")) }.toDF("doc_id", "text")
      val out = graft.ops.TextAnalysis.skipgramPairs(df, col("text")).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      // both orientations of every co-occurrence are counted
      out.foreach { case ((a, c), n0) =>
        assert(out((c, a)) === n0, s"asymmetric pair ($a,$c)") }
      // total pair volume: 2 * (2L - 3) forward pairs per doc of length L
      val want = docs.map(_.length).filter(_ >= 2)
        .map(len => 2L * ((len - 1).toLong + math.max(0, len - 2).toLong)).sum
      assert(out.values.sum === want)
    }
  }

  test("property: sorted-merge intersect kernels equal array_intersect on sorted distinct arrays") {
    graft.functions.SortedArrayFunctions.register(spark)
    val arrGen = Gen.listOf(Gen.choose(-50L, 50L)).map(_.distinct.sorted)
    forAll(Gen.listOfN(12, Gen.zip(arrGen, arrGen)), n = 10) { pairs =>
      val df = pairs.zipWithIndex
        .map { case ((a, b), i) => (i.toLong, a, b) }.toDF("id", "a", "b")
      val out = df.select(col("id"),
          array_intersect(col("a"), col("b")).as("ref"),
          expr("graft_sorted_intersect(a, b)").as("fast"),
          expr("graft_sorted_inter_size(a, b)").as("sz"))
        .collect()
      out.foreach { r =>
        val ref = r.getSeq[Long](1)
        assert(r.getSeq[Long](2) === ref, s"intersect diverged at id=${r.getLong(0)}")
        assert(r.getInt(3) === ref.size, s"size diverged at id=${r.getLong(0)}")
      }
    }
  }

  test("property: negative-sampling weights match c^(3/4) and the CDF is sound") {
    val docGen = Gen.listOfN(60, Gen.choose(0, 9).map(t => s"w$t"))
    forAll(docGen, n = 8) { toks =>
      val df = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
      val out = graft.ops.TextAnalysis.negSamplingTable(df, col("text")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val counts = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
      var cum = 0L
      out.foreach { case (tok, cnt, w, c) =>
        assert(cnt === counts(tok))
        val cd = cnt.toDouble
        assert(w === math.round(1e6 * math.sqrt(math.sqrt(cd * cd * cd))))
        cum += w
        assert(c === cum, s"prefix broken at $tok")
      }
      assert(out.map(_._1).toSeq === out.map(_._1).toSeq.sorted)
    }
  }
}
