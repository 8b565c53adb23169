package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Lower
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GraftLower, TextKernels}
import graft.ops.{OpCache, TextAnalysis}

/** `TextKernels.lower` against Spark's `lower`, and `TextKernels.charGrams`
  * against `substring`, byte for byte.
  */
class TextKernelsSpec extends AnyFunSuite {
  import TestSession._

  /** Code points whose case mappings differ across engines and modes:
    * Latin-1, Greek (final sigma), Turkish dotted/dotless i, capital
    * sharp s, 4-byte code points with (Deseret) and without case, and
    * capitals newer than the JDK's Unicode tables (U+A7C0, Vithkuqi
    * U+10570), which only ICU lowercases.
    */
  private val pools: Seq[Seq[Int]] = Seq(
    ('a'.toInt to 'z') ++ ('A'.toInt to 'Z') ++ Seq(' ', ' ', '\t', '.', '\n').map(_.toInt),
    0xC0 to 0xFF,
    Seq(0x03A3, 0x03C3, 0x03C2, 0x0391, 0x0392, 0x039F, 0x0394),
    Seq(0x0130, 0x0131, 'I'.toInt, 'i'.toInt),
    Seq(0x1E9E, 0x00DF),
    Seq(0x1F600, 0x1F44D, 0x10400, 0x10428, 0x1D400),
    Seq(0xA7C0, 0x10570))

  private val codePoint: Gen[Int] = Gen.oneOf(pools).flatMap(Gen.oneOf(_))
  private val textGen: Gen[String] = Gen.choose(0, 24).flatMap(n =>
    Gen.listOfN(n, codePoint).map(cps => new String(cps.toArray, 0, cps.length)))
  private val bytesGen: Gen[Array[Byte]] = Gen.choose(0, 24).flatMap(n =>
    Gen.listOfN(n, Gen.choose(0, 255)).map(_.map(_.toByte).toArray))

  private def sample[A](gen: Gen[A], n: Int, seed: Long): Seq[A] =
    (0 until n).map(i => gen.apply(Gen.Parameters.default, Seed(seed + i))
      .getOrElse(fail(s"generator produced no value for seed ${seed + i}")))

  private val fixed = Seq("ΟΔΟΣ ΣΑΣ Σ.", "İSTANBUL ıi Iİ", "STRASSE ẞ ß", "😀AB 𐐀𐐨", "", "ABC def")

  /** Valid strings, invalid UTF-8 (raw bytes cast from binary) and a null;
    * each row keeps its bytes so results compare byte for byte.
    */
  private lazy val inputs: Seq[Option[Array[Byte]]] =
    (fixed ++ sample(textGen, 150, 1000L)).map(s => Some(s.getBytes(UTF_8))) ++
      sample(bytesGen, 60, 2000L).map(Some(_)) :+ None

  /** The inputs as a parallelized frame (projections run codegen'd) or as
    * a local relation (the optimizer folds projections, interpreted).
    */
  private def frame(codegen: Boolean): DataFrame = {
    import spark.implicits._
    val rows = inputs.zipWithIndex.map { case (b, i) => (i.toLong, b.orNull) }
    val df = if (codegen) spark.sparkContext.parallelize(rows, 3).toDF("id", "b")
             else rows.toDF("id", "b")
    df.select(col("id"), col("b").cast("string").as("text"))
  }

  /** Asserts `ours` equals `spark0` on every row; returns Spark's bytes. */
  private def sameBytes(df: DataFrame, ours: org.apache.spark.sql.Column,
                        spark0: org.apache.spark.sql.Column,
                        what: String): Seq[Option[Seq[Byte]]] = {
    val q = df.select(col("id"), ours.as("ours"), spark0.as("spark"))
    assert(q.schema("ours").dataType === q.schema("spark").dataType, what)
    val rows = q.select(col("id"), col("ours").cast("binary"), col("spark").cast("binary"))
      .collect()
    assert(rows.length === inputs.length, what)
    rows.sortBy(_.getLong(0)).toSeq.map { r =>
      val a = Option(r.getAs[Array[Byte]](1)).map(_.toSeq)
      val b = Option(r.getAs[Array[Byte]](2)).map(_.toSeq)
      assert(a === b, s"$what, row ${r.getLong(0)}")
      b
    }
  }

  test("lower equals Spark's lower: ICU on and off, codegen and interpreted, UTF8_LCASE") {
    val before = spark.conf.getOption("spark.sql.icu.caseMappings.enabled")
    val byMode = for (icu <- Seq("true", "false")) yield
      OpCache.withConf(spark, "spark.sql.icu.caseMappings.enabled", icu) {
        val out = for (codegen <- Seq(true, false)) yield {
          val df = frame(codegen)
          val lcase = collate(col("text"), "UTF8_LCASE")
          sameBytes(df, TextKernels.lower(lcase), lower(lcase),
            s"UTF8_LCASE icu=$icu codegen=$codegen")
          sameBytes(df, TextKernels.lower(col("text")), lower(col("text")),
            s"icu=$icu codegen=$codegen")
        }
        out.head
      }
    // the inputs tell the two case-mapping modes apart, so both were tested
    assert(byMode(0) !== byMode(1))
    assert(spark.conf.getOption("spark.sql.icu.caseMappings.enabled") === before)
  }

  test("lower casts non-string input the way Spark's lower does") {
    val df = spark.range(3).select(col("id"), (col("id") * 7).as("n"))
    val got = df.select(TextKernels.lower(col("n"))).collect().map(_.getString(0))
    assert(got.toSeq === Seq("0", "7", "14"))
  }

  test("exactDedup and tokens plan graft's lower, never Spark's Lower") {
    val docs = Tables.documents(spark, sf)
    val plans = Seq(
      TextAnalysis.exactDedup(docs, col("doc_id"), col("text")),
      docs.select(TextAnalysis.tokens(col("text")).as("words")))
      .map(_.queryExecution.analyzed)
    plans.foreach { p =>
      val exprs = p.collect { case n => n.expressions }.flatten
      assert(!exprs.exists(_.exists(_.isInstanceOf[Lower])), p.treeString)
      assert(exprs.exists(_.exists(_.isInstanceOf[GraftLower])), p.treeString)
    }
  }

  test("charGrams equals substring at every position, codegen and interpreted") {
    // a truncated sequence at the very end makes substring copy past the
    // string's end (see TextKernelsImpl.charGrams), so those inputs are
    // left to DataOpsSpec's byte-level brute check
    def truncatedTail(b: Array[Byte]): Boolean = {
      var i = 0
      while (i < b.length)
        i += org.apache.spark.unsafe.types.UTF8String.numBytesForFirstByte(b(i))
      i > b.length
    }
    for (k <- Seq(1, 2, 5); codegen <- Seq(true, false)) {
      val q = frame(codegen).select(col("id"),
        TextKernels.charGrams(col("text"), k).as("ours"),
        when(length(col("text")) >= k, expr(
          s"transform(sequence(1, length(text) - ${k - 1}), p -> substring(text, p, $k))"))
          .otherwise(array().cast("array<string>")).as("spark"))
      val rows = q.select(col("id"), col("ours").cast("array<binary>"),
        col("spark").cast("array<binary>")).collect()
      rows.foreach { r =>
        val id = r.getLong(0).toInt
        if (!inputs(id).exists(truncatedTail)) {
          def grams(i: Int) = Option(r.getSeq[Array[Byte]](i)).map(_.map(_.toSeq))
          val ours = grams(1)
          assert(ours === (if (inputs(id).isEmpty) None else grams(2)),
            s"k=$k codegen=$codegen row $id")
        }
      }
    }
  }
}
