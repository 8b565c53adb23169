package perfbench

import scala.collection.mutable
import scala.util.Random

/** One robot-session document, shaped like the reference's captured
  * messages: `_id`, `_ts_meta.{session, sys_time}`, a topic, numeric
  * fields and a payload string whose size depends on the topic.
  * `valueMilli` keeps `value` an exact multiple of 1/1000, so the
  * expected integer aggregates are exact.
  */
final case class Doc(id: Long, session: Long, sysTimeMs: Long, topic: String,
                     seq: Long, valueMilli: Int, data: String) {
  def value: Double = valueMilli / 1000.0
  def tsSec: Long = Math.floorDiv(sysTimeMs, 1000L)
  def valueMicro: Long = valueMilli * 1000L
}

/** A curation-corpus document. `group` is the planted duplicate group it
  * belongs to (exact copies or a near-duplicate chain), or -1.
  */
final case class TextDoc(id: Long, text: String, group: Int)

/** Seeded input generators. Each is a pure function of its seed and sizes:
  * the same seed gives the same inputs. graft receives only their output.
  */
object Gen {

  /** A topic and the size of the ROS message it carries: `payload`
    * bytes, plus `extra` bytes for each of 0 to `maxRepeat` repeated
    * elements (see README.md for the field-by-field sizes).
    */
  final case class Topic(name: String, payload: Int, extra: Int = 0, maxRepeat: Int = 0)

  /** Five topics in equal shares, as sf0.1 `events` has five event types in
    * equal shares; payloads are the ROS1 wire sizes of each topic's message.
    */
  val Topics: Seq[Topic] = Seq(
    Topic("/battery_state", 96), // sensor_msgs/BatteryState, 4 cells
    Topic("/tf", 93, 89, 2), // tf2_msgs/TFMessage, 1 to 3 transforms
    Topic("/imu", 320), // sensor_msgs/Imu
    Topic("/odom", 713), // nav_msgs/Odometry
    Topic("/scan", 2937)) // sensor_msgs/LaserScan, 360 beams with intensities

  /** Documents per session: sf0.1 `events` has 1500 users with 45 to 99
    * events each, mean 66.7 and standard deviation 8.2, which a Poisson
    * law with that mean matches.
    */
  val SessionMean = 66.7

  /** The window every session's documents fall in, at uniform random
    * times: sf0.1 `events` spans 30 days and each user's events spread
    * over all of it (gaps exponential with mean 10.6 h, as uniform times
    * give).
    */
  val WindowStartMs = 1709251200000L
  val WindowMs = 30L * 24 * 3600 * 1000

  private val PayloadChars =
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/"

  /** Sampler over ranks 0 until n with P(r) proportional to 1/(r+1)^s. */
  final class Zipf(n: Int, s: Double) {
    private val cum = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    }
    def sample(rng: Random): Int = {
      val i = java.util.Arrays.binarySearch(cum, rng.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Poisson sample by Knuth's product of uniforms. */
  def poisson(rng: Random, mean: Double): Int = {
    val limit = math.exp(-mean)
    var k = 0
    var p = rng.nextDouble()
    while (p > limit) { k += 1; p *= rng.nextDouble() }
    k
  }

  /** One session of `n` documents in time order, ids consecutive from
    * `firstId`.
    */
  def session(rng: Random, n: Int, firstId: Long, sessionId: Long): Vector[Doc] = {
    val seqs = mutable.Map.empty[String, Long]
    val times = Vector.fill(n)(WindowStartMs + (rng.nextDouble() * WindowMs).toLong).sorted
    times.zipWithIndex.map { case (t, i) =>
      val topic = Topics(rng.nextInt(Topics.size))
      val seq = seqs.getOrElse(topic.name, 0L)
      seqs(topic.name) = seq + 1
      val len = topic.payload + topic.extra * rng.nextInt(topic.maxRepeat + 1)
      val data = new String(Array.fill(len)(PayloadChars(rng.nextInt(PayloadChars.length))))
      Doc(firstId + i, sessionId, t, topic.name, seq, rng.nextInt(100000), data)
    }
  }

  /** Sessions one after another, without end; like sf0.1's users, they
    * overlap in time.
    */
  def sessions(seed: Long): Iterator[Vector[Doc]] = {
    val rng = new Random(seed)
    var nextId = 1L
    Iterator.from(1).map { s =>
      val docs = session(rng, math.max(1, poisson(rng, SessionMean)), nextId, s.toLong)
      nextId += docs.size
      docs
    }
  }

  // ---- curation corpus -------------------------------------------------

  private val Stop = Seq("the", "a", "of")

  /** A first-order Markov language over `vocab` words: each word has eight
    * successors with skewed weights, so in-language text scores high under
    * a bigram model and uniformly random text scores low.
    */
  final class Language(rng: Random, vocab: Int) {
    val words: Vector[String] = (0 until vocab).map { i =>
      val sb = new StringBuilder
      var v = i
      do { sb += ('a' + v % 26).toChar; v /= 26 } while (v > 0)
      sb += "xq".charAt(i % 2)
      sb.toString
    }.toVector
    private val succ = Vector.fill(vocab)(Vector.fill(8)(rng.nextInt(vocab)))
    private val weights = Array(40, 20, 12, 10, 8, 5, 3, 2)
    private def next(rng: Random, w: Int): Int = {
      var r = rng.nextInt(100)
      var k = 0
      while (r >= weights(k)) { r -= weights(k); k += 1 }
      succ(w)(k)
    }
    def fluent(rng: Random, n: Int): Seq[String] = {
      var w = rng.nextInt(vocab)
      (0 until n).flatMap { _ =>
        w = next(rng, w)
        if (rng.nextInt(10) == 0) Seq(Stop(rng.nextInt(Stop.size)), words(w)) else Seq(words(w))
      }.take(n)
    }
    def noise(rng: Random, n: Int): Seq[String] = Seq.fill(n)(words(rng.nextInt(vocab)))
  }

  /** Curation corpus. Of `nBase` original documents, a tenth are noise (a
    * random word salad), a twentieth are too short, `exactGroups` get one
    * to three exact copies (re-cased, re-spaced), and `chains` seed a
    * near-duplicate chain of `chainLen` documents, each two word
    * substitutions from the one before (Jaccard of 3-word shingles at
    * least 0.72 for neighbours, about 0.6 two steps apart). Ids are a
    * seeded permutation, so chain order is not id order.
    */
  def corpus(seed: Long, nBase: Int, exactGroups: Int, chains: Int,
             chainLen: Int): Vector[TextDoc] = {
    val rng = new Random(seed)
    val lang = new Language(new Random(seed ^ 0x5eed), 400)
    val base = (0 until nBase).map { i =>
      val n = 50 + rng.nextInt(61)
      if (i % 20 == 7) lang.fluent(rng, 10 + rng.nextInt(9))
      else if (i % 10 == 3) lang.noise(rng, n)
      else lang.fluent(rng, n)
    }
    val texts = mutable.ArrayBuffer.empty[(Seq[String], Int, Boolean)] // words, group, exact copy
    base.foreach(w => texts += ((w, -1, false)))
    val fluentIdx = base.indices.filter(i => i % 20 != 7 && i % 10 != 3)
    val picked = rng.shuffle(fluentIdx).take(exactGroups + chains)
    picked.take(exactGroups).zipWithIndex.foreach { case (i, g) =>
      texts(i) = (base(i), g, false)
      (0 to rng.nextInt(3)).foreach(_ => texts += ((base(i), g, true)))
    }
    picked.drop(exactGroups).zipWithIndex.foreach { case (i, c) =>
      val g = exactGroups + c
      texts(i) = (base(i), g, false)
      var cur = base(i).toVector
      (1 until chainLen).foreach { _ =>
        val pos = rng.shuffle(cur.indices.toVector).take(2)
        cur = pos.foldLeft(cur)((v, p) => v.updated(p, lang.words(rng.nextInt(lang.words.size))))
        texts += ((cur, g, false))
      }
    }
    val ids = rng.shuffle((1L to texts.size.toLong).toVector)
    texts.zip(ids).map { case ((words, g, copy), id) =>
      val text =
        if (!copy) words.mkString(" ")
        else words.map(w => if (rng.nextBoolean()) w.capitalize else w)
          .mkString(if (rng.nextBoolean()) "  " else " \t ")
      TextDoc(id, text, g)
    }.sortBy(_.id).toVector
  }

  // ---- graph -----------------------------------------------------------

  /** Holme-Kim graph: preferential attachment with `m` edges per new node,
    * each later edge closing a triangle with probability `pTriad`. Degrees
    * are power-law skewed and triangles are plentiful. Node ids are a
    * seeded permutation of 1..n. Edges are (smaller id, larger id), each
    * once.
    */
  def graph(seed: Long, n: Int, m: Int, pTriad: Double): Vector[(Long, Long)] = {
    val rng = new Random(seed)
    val adj = Array.fill(n)(mutable.LinkedHashSet.empty[Int])
    val ends = mutable.ArrayBuffer.empty[Int]
    def link(a: Int, b: Int): Unit = { adj(a) += b; adj(b) += a; ends += a; ends += b }
    for (a <- 0 to m; b <- a + 1 to m) link(a, b)
    for (v <- m + 1 until n) {
      var last = ends(rng.nextInt(ends.size))
      link(v, last)
      var added = 1
      var guard = 0
      while (added < m && guard < 50) {
        guard += 1
        val cand =
          if (rng.nextDouble() < pTriad) {
            val nb = adj(last).toVector
            nb(rng.nextInt(nb.size))
          } else ends(rng.nextInt(ends.size))
        if (cand != v && !adj(v).contains(cand)) { link(v, cand); last = cand; added += 1 }
      }
    }
    val ids = rng.shuffle((1L to n.toLong).toVector)
    (for (a <- 0 until n; b <- adj(a) if a < b) yield {
      val (x, y) = (ids(a), ids(b))
      (math.min(x, y), math.max(x, y))
    }).sorted.toVector
  }

  /** The largest k whose k-core is non-empty. */
  def degeneracy(edges: Seq[(Long, Long)]): Int = {
    val adj = mutable.Map.empty[Long, mutable.Set[Long]]
    edges.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, mutable.Set.empty) += b
      adj.getOrElseUpdate(b, mutable.Set.empty) += a
    }
    var k = 0
    while (adj.nonEmpty) {
      k += 1
      var low = adj.keys.filter(adj(_).size < k + 1).toVector
      while (low.nonEmpty) {
        low.foreach { v => adj.remove(v).foreach(_.foreach(u => adj.get(u).foreach(_ -= v))) }
        low = adj.keys.filter(adj(_).size < k + 1).toVector
      }
    }
    k
  }

  // ---- .topic_store encoding --------------------------------------------

  /** One document as a pickle protocol-2 record with sorted keys, the
    * record format of the reference's `.topic_store` logs.
    */
  def pickle(d: Doc): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(256 + d.data.length)
    def i4(v: Int): Unit = { out.write(v); out.write(v >> 8); out.write(v >> 16); out.write(v >> 24) }
    def str(s: String): Unit = { val b = s.getBytes("UTF-8"); out.write('X'); i4(b.length); out.write(b) }
    def long(v: Long): Unit =
      if (v >= 0 && v < 256) { out.write('K'); out.write(v.toInt) }
      else if (v >= Int.MinValue && v <= Int.MaxValue) { out.write('J'); i4(v.toInt) }
      else { val raw = BigInt(v).toByteArray.reverse; out.write(0x8a); out.write(raw.length); out.write(raw) }
    def dbl(v: Double): Unit = {
      out.write('G')
      val bits = java.lang.Double.doubleToLongBits(v)
      (7 to 0 by -1).foreach(k => out.write((bits >> (8 * k)).toInt & 0xff))
    }
    out.write(0x80); out.write(2)
    out.write('}'); out.write('(')
    str("_id"); long(d.id)
    str("_ts_meta"); out.write('}'); out.write('(')
    str("session"); long(d.session)
    str("sys_time"); dbl(d.sysTimeMs / 1000.0)
    out.write('u')
    str("data"); str(d.data)
    str("seq"); long(d.seq)
    str("topic"); str(d.topic)
    str("value"); dbl(d.value)
    out.write('u')
    out.write('.')
    out.toByteArray
  }

  /** A `.topic_store` log: the records back to back. */
  def topicStoreBytes(docs: Seq[Doc]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    docs.foreach(d => out.write(pickle(d)))
    out.toByteArray
  }
}
