package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, Lower}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import graft.functions.{MarkerHits, MinhashBands, NormalizeWords, WordNgrams}
import graft.operators.{Curation, Dedup}

/** Parity of the native text kernels (`graft.functions`) with the
  * higher-order-function compositions they replaced. The compositions
  * live only here, as the reference. Each property runs a random batch
  * through one Spark job (an RDD scan, so whole-stage codegen runs the
  * native side) and through the interpreted `eval` of the same
  * expression, and asks for equal values from all three.
  */
object TextKernelProps extends Properties("TextKernels") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = SparkSpec.session

  // ---- reference compositions ----------------------------------------------

  private def normalizeHof(text: Column): Column =
    filter(split(trim(regexp_replace(lower(text), "[^a-z0-9]+", " ")), " "),
      x => x =!= "")

  private def ngramsHof(words: Column, n: Int): Column =
    when(size(words) >= n,
      transform(sequence(lit(1), size(words) - (n - 1)),
        i => concat_ws(" ",
          (0 until n).map(o => element_at(words, i + lit(o))): _*)))
      .otherwise(array().cast("array<string>"))

  private def bandsHof(sh: Column, bands: Int, rowsPerBand: Int): Column = {
    val p = lit(Dedup.MinhashP)
    val hv = transform(sh, x =>
      conv(substring(md5(x), 1, 8), 16, 10).cast("long") % p)
    val sigs = (0 until bands * rowsPerBand).map(h =>
      aggregate(hv, p, (acc, v) =>
        least(acc, (lit(Dedup.minhashA(h)) * v + lit(Dedup.minhashB(h))) % p)))
    array((0 until bands).map(b =>
      concat_ws("|", sigs.slice(b * rowsPerBand, (b + 1) * rowsPerBand): _*)): _*)
  }

  private def markerHitsHof(words: Column, markers: Seq[String]): Column =
    size(filter(words, x => array_contains(array(markers.map(lit): _*), x)))

  // ---- inputs --------------------------------------------------------------

  /** Pieces that stress lowercasing and the word-run scan: İ (lowercases
    * to two chars), the Kelvin sign (to ASCII k), ß, combining marks,
    * a supplementary char, digit and punctuation runs, whitespace.
    */
  private val piece: Gen[String] = Gen.frequency(
    6 -> Gen.choose(1, 6).flatMap(k =>
      Gen.listOfN(k, Gen.alphaChar).map(_.mkString)),
    3 -> Gen.choose(1, 4).flatMap(k =>
      Gen.listOfN(k, Gen.numChar).map(_.mkString)),
    3 -> Gen.oneOf(" ", "  ", "\t", "\n", "-", "...", "!?", "'s", "__", "#"),
    4 -> Gen.oneOf("\u0130", "\u212A", "\u00DF", "e\u0301", "I\u0307",
      "\u0131", "\u03A3", "\uD83D\uDE00", "\u00C9t\u00C9", "\u212AELVIN1"),
    2 -> Gen.oneOf("Table", "ROW", "scan", "key", "the", "a"))

  private val textGen: Gen[String] = Gen.frequency(
    1 -> Gen.const(null),
    1 -> Gen.const(""),
    12 -> Gen.choose(1, 30).flatMap(k =>
      Gen.listOfN(k, piece).map(_.mkString(" "))),
    4 -> Gen.choose(1, 12).flatMap(k =>
      Gen.listOfN(k, piece).map(_.mkString)))

  private val word: Gen[String] = Gen.frequency(
    1 -> Gen.const(null),
    1 -> Gen.const(""),
    6 -> Gen.oneOf("table", "row", "scan", "key", "join", "the", "a", "x"),
    4 -> piece)

  /** A words array: null, empty, 1–3 elements, or longer; null elements. */
  private val wordsGen: Gen[Seq[String]] = Gen.frequency(
    1 -> Gen.const(null),
    1 -> Gen.const(Seq.empty[String]),
    3 -> Gen.choose(1, 3).flatMap(Gen.listOfN(_, word)),
    6 -> Gen.choose(4, 20).flatMap(Gen.listOfN(_, word)))

  private def batch[T](g: Gen[T]): Gen[List[T]] = Gen.listOfN(24, g)

  // ---- harness -------------------------------------------------------------

  private def frame(rows: Seq[Any], t: DataType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row(_)), 2),
      StructType(Seq(StructField("x", t))))

  private def plain(v: Any): Any = v match {
    case null => null
    case s: UTF8String => s.toString
    case a: ArrayData =>
      a.toArray[UTF8String](StringType).toSeq.map(s =>
        if (s == null) null else s.toString)
    case s: scala.collection.Seq[_] => s.toSeq
    case o => o
  }

  /** Rows of (x, native, reference) from one codegen'd job, each checked
    * against the interpreted `eval` of `interp(x)` too.
    */
  private def agree(rows: Seq[Any], t: DataType, native: Column,
                    reference: Column, interp: Any => Expression): Boolean = {
    val df = frame(rows, t).select(col("x"), native.as("nat"),
      reference.as("ref"))
    val typesAgree =
      df.schema("nat").dataType == df.schema("ref").dataType
    typesAgree && df.collect().forall { r =>
      val nat = plain(r.get(1))
      nat == plain(r.get(2)) && nat == plain(interp(r.get(0)).eval())
    }
  }

  private def stringLit(s: Any): Expression =
    Literal.create(s, StringType)

  private def wordsLit(w: Any): Expression = Literal.create(
    Option(w).map(_.asInstanceOf[scala.collection.Seq[String]].toArray)
      .orNull, ArrayType(StringType))

  // ---- properties ----------------------------------------------------------

  property("NormalizeWords(lower(t)) == the regexp/split/filter form") =
    forAll(batch(textGen)) { texts =>
      agree(texts, StringType, Dedup.normalizeWords(col("x")),
        normalizeHof(col("x")),
        t => new NormalizeWords(Lower(stringLit(t))))
    }

  property("WordNgrams == the when/transform/concat_ws form, n in 1,3,8,13") =
    forAll(batch(wordsGen), Gen.oneOf(1, 3, 8, 13)) { (ws, n) =>
      agree(ws, ArrayType(StringType), Curation.wordNgrams(col("x"), n),
        ngramsHof(col("x"), n), w => new WordNgrams(wordsLit(w), n))
    }

  property("MinhashBands == the md5/conv transform + aggregate form") =
    forAll(batch(wordsGen),
      Gen.oneOf((4, 3), (1, 1), (2, 5), (6, 2))) { case (sh, (b, r)) =>
      agree(sh, ArrayType(StringType), MinhashBands(col("x"), b, r),
        bandsHof(col("x"), b, r), s => new MinhashBands(wordsLit(s), b, r))
    }

  property("MarkerHits == size(filter(array_contains)) over each profile") =
    forAll(batch(wordsGen), Gen.oneOf(
      graft.operators.TextStats.LangProfiles.map(_._2) :+
        graft.operators.TextStats.StopWords :+ Seq.empty[String])) {
      (ws, markers) =>
        agree(ws, ArrayType(StringType), MarkerHits(col("x"), markers),
          markerHitsHof(col("x"), markers),
          w => new MarkerHits(wordsLit(w), markers))
    }

  /** The stream gate's words before the kernel: a Java regex over the
    * `Locale.ROOT`-lowercased text.
    */
  private def localWordsRegex(t: String): Seq[String] =
    (if (t == null) "" else t).toLowerCase(java.util.Locale.ROOT)
      .replaceAll("[^a-z0-9]+", " ").trim.split(" ").filter(_.nonEmpty).toSeq

  /** The stream gate's shingle hash before the kernel: md5's first 8 hex
    * chars parsed as an integer, mod p.
    */
  private def shingleHashHex(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map(b => f"${b & 0xff}%02x").mkString,
      16) % Dedup.MinhashP
  }

  property("stream side: normalizeWordsLocal == the Locale.ROOT regex form") =
    forAll(textGen)(t => Dedup.normalizeWordsLocal(t).toSeq == localWordsRegex(t))

  property("stream side: shingleHash == the md5-hex-prefix form") =
    forAll(Gen.listOfN(5, piece).map(_.mkString(" "))) { s =>
      MinhashBands.shingleHash(UTF8String.fromString(s)) == shingleHashHex(s)
    }
}
