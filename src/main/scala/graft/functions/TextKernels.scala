package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The curate path's text kernels as native Catalyst expressions.
  *
  * Spark's higher-order functions (`transform`, `filter`, `aggregate`)
  * are `CodegenFallback`: inside a generated stage they are interpreted
  * per element, lambda variable by lambda variable. Each expression here
  * replaces one such composition with the SAME values, in the
  * [[CosineSim]] pattern: its companion holds one JVM body, which
  * `nullSafeEval`/`eval` and the generated code both call, and which the
  * streaming gates call directly on their executor-side strings.
  */
private[functions] object TextKernels {
  def arrayOfStrings(t: DataType): Boolean = t match {
    case ArrayType(_: StringType, _) => true
    case _ => false
  }

  def typeCheck(name: String, t: DataType, ok: Boolean, want: String)
      : TypeCheckResult =
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires a $want argument, got ${t.simpleString}")

  /** `Obj.method(...)` prefix for generated code calling a companion body. */
  def module(o: AnyRef): String = o.getClass.getName + ".MODULE$"
}

/** Words of already-lowercased text: its maximal `[a-z0-9]` runs.
  *
  * Equal to `filter(split(trim(regexp_replace(t, "[^a-z0-9]+", " ")),
  * " "), x -> x != "")` on every string (null in, null out). The scan
  * works on UTF-8 bytes: `[a-z0-9]` are single-byte code points and no
  * byte of a multi-byte sequence falls in that range, so a run of word
  * bytes is a run of word characters. The child carries the lowercasing
  * (Spark's `lower` on the batch side, `Locale.ROOT` on the stream side).
  */
case class NormalizeWords(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TextKernels.typeCheck(prettyName, child.dataType,
      child.dataType.isInstanceOf[StringType], "string")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "normalize_words"

  override protected def nullSafeEval(s: Any): Any =
    NormalizeWords.words(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      s => s"${TextKernels.module(NormalizeWords)}.words($s)")

  override protected def withNewChildInternal(c: Expression): NormalizeWords =
    copy(child = c)
}

object NormalizeWords {
  /** Column face: `lowered` must already be lowercased. */
  def apply(lowered: Column): Column =
    Bridge.column(new NormalizeWords(Bridge.expression(lowered)))

  @inline private def wordByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')

  /** The maximal `[a-z0-9]` runs of `s`, in order. */
  def runs(s: UTF8String): Array[UTF8String] = {
    val b = s.getBytes
    val out = Array.newBuilder[UTF8String]
    val n = b.length
    var i = 0
    while (i < n) {
      while (i < n && !wordByte(b(i))) i += 1
      val start = i
      while (i < n && wordByte(b(i))) i += 1
      if (i > start) out += UTF8String.fromBytes(b, start, i - start)
    }
    out.result()
  }

  def words(s: UTF8String): ArrayData =
    new GenericArrayData(runs(s).asInstanceOf[Array[Any]])
}

/** Word n-grams: the `" "`-joined windows of `n` consecutive elements,
  * nulls skipped inside a window (`concat_ws` semantics). Fewer than `n`
  * elements, or a null array, gives an empty array, never `[null]`.
  * Equal to the `when(size(w) >= n, transform(sequence(1, size(w) - n +
  * 1), i -> concat_ws(" ", w[i], …, w[i+n-1]))).otherwise(array())`
  * composition, including its `array<string>` type.
  */
case class WordNgrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"WordNgrams needs n >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult =
    TextKernels.typeCheck(prettyName, child.dataType,
      TextKernels.arrayOfStrings(child.dataType), "array<string>")
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "word_ngrams"

  override def eval(input: InternalRow): Any =
    WordNgrams.ngrams(child.eval(input).asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  ${TextKernels.module(WordNgrams)}.ngrams(
      |    ${c.isNull} ? null : ${c.value}, $n);""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): WordNgrams =
    copy(child = c)
}

object WordNgrams {
  def apply(words: Column, n: Int): Column =
    Bridge.column(new WordNgrams(Bridge.expression(words), n))

  private val Space = UTF8String.fromString(" ")
  private val Empty = new GenericArrayData(Array.empty[Any])

  def ngrams(words: ArrayData, n: Int): ArrayData =
    if (words == null || words.numElements() < n) Empty
    else {
      val out = new Array[Any](words.numElements() - n + 1)
      val window = new Array[UTF8String](n)
      var i = 0
      while (i < out.length) {
        var o = 0
        while (o < n) {
          window(o) =
            if (words.isNullAt(i + o)) null else words.getUTF8String(i + o)
          o += 1
        }
        out(i) = UTF8String.concatWs(Space, window: _*)
        i += 1
      }
      new GenericArrayData(out)
    }
}

/** MinHash/LSH band keys of a shingle array, in band order.
  *
  * Each non-null shingle is hashed once: its md5's first 4 bytes, read as
  * an unsigned 32-bit integer, mod `Dedup.MinhashP` (what
  * `conv(substring(md5(x), 1, 8), 16, 10) % p` computes). Signature `h`
  * is the least `(minhashA(h)·v + minhashB(h)) mod p` over the hashes (p
  * for none); band `b`'s key joins signatures `b·r … b·r + r − 1` with
  * `'|'`. Equal to the `transform` + `bands·rowsPerBand` `aggregate`
  * passes + `concat_ws` it replaces, also for the inputs no caller
  * passes: an empty array gives keys of p, a null array `bands` empty
  * keys (`concat_ws` over null signatures).
  */
case class MinhashBands(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression {
  require(bands >= 1 && rowsPerBand >= 1,
    s"MinhashBands needs bands, rowsPerBand >= 1, got $bands, $rowsPerBand")

  override def checkInputDataTypes(): TypeCheckResult =
    TextKernels.typeCheck(prettyName, child.dataType,
      TextKernels.arrayOfStrings(child.dataType), "array<string>")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "minhash_bands"

  override def eval(input: InternalRow): Any =
    MinhashBands.bandKeys(child.eval(input).asInstanceOf[ArrayData],
      bands, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  ${TextKernels.module(MinhashBands)}.bandKeys(
      |    ${c.isNull} ? null : ${c.value}, $bands, $rowsPerBand);""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): MinhashBands =
    copy(child = c)
}

object MinhashBands {
  import graft.operators.Dedup.{MinhashP, minhashA, minhashB}

  def apply(shingles: Column, bands: Int, rowsPerBand: Int): Column =
    Bridge.column(new MinhashBands(Bridge.expression(shingles), bands,
      rowsPerBand))

  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** One shingle's base hash, in [0, p). */
  def shingleHash(s: UTF8String): Long = {
    val d = md5.get.digest(s.getBytes)
    (((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)) % MinhashP
  }

  /** Base hashes of the non-null shingles, in order. */
  def hashes(shingles: ArrayData): Array[Long] = {
    val out = Array.newBuilder[Long]
    var i = 0
    while (i < shingles.numElements()) {
      if (!shingles.isNullAt(i)) out += shingleHash(shingles.getUTF8String(i))
      i += 1
    }
    out.result()
  }

  /** The `bands` keys of a base-hash set. */
  def keys(hv: Array[Long], bands: Int, rowsPerBand: Int): Array[UTF8String] = {
    val sb = new java.lang.StringBuilder
    Array.tabulate(bands) { b =>
      sb.setLength(0)
      var r = 0
      while (r < rowsPerBand) {
        val h = b * rowsPerBand + r
        val a = minhashA(h)
        val c = minhashB(h)
        var sig = MinhashP
        var i = 0
        while (i < hv.length) {
          sig = math.min(sig, (a * hv(i) + c) % MinhashP)
          i += 1
        }
        if (r > 0) sb.append('|')
        sb.append(sig)
        r += 1
      }
      UTF8String.fromString(sb.toString)
    }
  }

  def bandKeys(shingles: ArrayData, bands: Int, rowsPerBand: Int): ArrayData =
    new GenericArrayData(
      (if (shingles == null) Array.fill(bands)(UTF8String.EMPTY_UTF8)
      else keys(hashes(shingles), bands, rowsPerBand)).asInstanceOf[Array[Any]])
}

/** Count of the non-null words that are in the marker set; null words
  * give null (`size(filter(w, x -> array_contains(markers, x)))` under
  * ANSI `size`).
  */
case class MarkerHits(child: Expression, markers: Seq[String])
    extends UnaryExpression {
  @transient private lazy val set: java.util.Set[UTF8String] =
    MarkerHits.setOf(markers)

  override def checkInputDataTypes(): TypeCheckResult =
    TextKernels.typeCheck(prettyName, child.dataType,
      TextKernels.arrayOfStrings(child.dataType), "array<string>")
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "marker_hits"

  override protected def nullSafeEval(w: Any): Any =
    MarkerHits.count(w.asInstanceOf[ArrayData], set)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = ctx.addReferenceObj("markers", set, "java.util.Set")
    defineCodeGen(ctx, ev,
      w => s"${TextKernels.module(MarkerHits)}.count($w, $s)")
  }

  override protected def withNewChildInternal(c: Expression): MarkerHits =
    copy(child = c)
}

object MarkerHits {
  def apply(words: Column, markers: Seq[String]): Column =
    Bridge.column(new MarkerHits(Bridge.expression(words), markers))

  def setOf(markers: Seq[String]): java.util.Set[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    markers.foreach(m => s.add(UTF8String.fromString(m)))
    s
  }

  def count(words: ArrayData, markers: java.util.Set[UTF8String]): Int = {
    var hits = 0
    var i = 0
    while (i < words.numElements()) {
      if (!words.isNullAt(i) && markers.contains(words.getUTF8String(i)))
        hits += 1
      i += 1
    }
    hits
  }
}
