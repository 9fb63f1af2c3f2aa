package graft.functions

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing-style document fingerprint: the minimum 64-bit polynomial
  * rolling hash over all character k-grams of the input string
  * (Karp-Rabin rolling hash; Schleimer et al., SIGMOD 2002 winnowing).
  * Strings shorter than k hash their full contents. Deterministic,
  * partition-local, O(n) per row; codegen via doGenCode so it stays
  * inside WholeStageCodegen.
  */
case class RollingMinHash(child: Expression, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes() =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"rolling_min_hash expects STRING, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    java.lang.Long.valueOf(RollingMinHash.minHash(bytes, k))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.RollingMinHash.minHash($c.getBytes(), $k)")

  override protected def withNewChildInternal(newChild: Expression): RollingMinHash =
    copy(child = newChild)
}

object RollingMinHash {
  final val B = 1000000007L // polynomial base

  /** Min rolling hash over k-byte windows (full-string hash if shorter). */
  def minHash(bytes: Array[Byte], k: Int): Long = {
    val n = bytes.length
    if (n == 0) return 0L
    val kk = math.min(k, n)
    // precompute B^(kk-1) for the rolling subtract
    var pow: Long = 1L
    var i = 1
    while (i < kk) { pow *= B; i += 1 }
    var h: Long = 0L
    i = 0
    while (i < kk) { h = h * B + (bytes(i) & 0xffL); i += 1 }
    var min = h
    i = kk
    while (i < n) {
      h = (h - (bytes(i - kk) & 0xffL) * pow) * B + (bytes(i) & 0xffL)
      if (h < min) min = h
      i += 1
    }
    min
  }
}

/** Winnowing fingerprint selection (Schleimer et al., SIGMOD'03 —
  * the MOSS algorithm) over the WORD alphabet: polynomial hashes of
  * k-word grams, sampled by keeping the minimum of every t
  * consecutive gram hashes (rightmost minimum on ties). GUARANTEE:
  * any run of ≥ k + t − 1 words shared verbatim by two texts
  * contributes at least one fingerprint selected at the same
  * position inside the shared span in BOTH texts — the property
  * `dedup_substring`'s recall gate and planted-span spec pin. Used
  * by the operator (executor-side) and the quality gates
  * (driver-side recompute) so the two can never drift. */
object Winnowing {
  val WordGram = 4   // words per hashed k-gram (token-level winnowing)
  val WordBlock = 10 // k-grams per block; guarantee = 4+10-1 = 13 words

  /** Window-min selection over a precomputed hash sequence —
    * the shared core of the byte and word variants. O(m·t): t is a
    * small constant; a monotone deque would be O(m) but adds no
    * value at this t. Fewer than `t` hashes yield the global min. */
  private def select(hs: Array[Long], t: Int): Array[(Long, Int)] = {
    val m = hs.length
    if (m == 0) return Array.empty
    if (m <= t) {
      var best = 0
      var j = 1
      while (j < m) { if (hs(j) <= hs(best)) best = j; j += 1 }
      return Array((hs(best), best))
    }
    val out = Array.newBuilder[(Long, Int)]
    var last = -1
    var j = 0
    while (j + t <= m) {
      var best = j
      var k = j + 1
      while (k < j + t) { if (hs(k) <= hs(best)) best = k; k += 1 }
      if (best != last) { out += ((hs(best), best)); last = best }
      j += 1
    }
    out.result()
  }

  /** FNV-1a 64 over a word's UTF-16 code units — the per-word hash
    * the k-gram polynomial rolls over (64-bit so the df-cap groupBy
    * never merges distinct words by collision at corpus vocab sizes). */
  private def wordHash(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h = (h ^ (s.charAt(i) & 0xffffL)) * 0x100000001b3L
      i += 1
    }
    h
  }

  /** Token-level winnowing: (hash, word offset) of the selected
    * word k-gram fingerprints, consecutive duplicates collapsed.
    * GUARANTEE (same theorem, word alphabet): any run of ≥ k + t − 1
    * words shared verbatim by two texts co-selects a fingerprint at
    * the same in-span position in both. Word-level sampling is
    * invariant under any per-word bijection — the property that
    * keeps duplicate-pair structure exactly proportional when a
    * corpus is replicated with word-salting (byte windows are not:
    * salting inflates bytes-per-word, silently shortening the
    * effective guarantee and blowing up candidate pairs ~270×
    * per copy at the 100× sweep). */
  def wordFingerprints(words: Array[String], k: Int = WordGram,
      t: Int = WordBlock): Array[(Long, Int)] = {
    val n = words.length
    if (n < k) return Array.empty
    val wh = new Array[Long](n)
    var i = 0
    while (i < n) { wh(i) = wordHash(words(i)); i += 1 }
    val m = n - k + 1
    val hs = new Array[Long](m)
    var j = 0
    while (j < m) {
      var h = 0L
      var x = 0
      while (x < k) { h = h * RollingMinHash.B + wh(j + x); x += 1 }
      hs(j) = h
      j += 1
    }
    select(hs, t)
  }
}

/** JPEG dimension extraction by walking the marker-segment chain —
  * the variable-OFFSET parse that [[graft.operators.MultimodalOps]]'
  * fixed-offset hex-slice expressions cannot express: a JPEG's SOF
  * marker sits behind APP0/COM/DQT segments of data-dependent length,
  * so the parser must hop `2 + big-endian-u16` per segment until it
  * hits SOF0/1/2. Returns `(width << 32) | height` packed in a LONG
  * (split with shiftright / bitwise-and in the projection), or -1 if
  * the blob is not a JPEG or has no SOF segment. O(#segments) per
  * row, partition-local, codegen'd via doGenCode so it stays inside
  * WholeStageCodegen.
  */
case class JpegDims(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.types.BinaryType

  override def dataType: DataType = LongType
  override def checkInputDataTypes() =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"jpeg_dims expects BINARY, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(JpegDims.dims(input.asInstanceOf[Array[Byte]]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.JpegDims.dims($c)")

  override protected def withNewChildInternal(newChild: Expression): JpegDims =
    copy(child = newChild)
}

object JpegDims {
  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def be16(b: Array[Byte], i: Int): Int =
    (u8(b, i) << 8) | u8(b, i + 1)

  /** Walk the segment chain to SOF0/1/2; -1 when absent/invalid. */
  def dims(b: Array[Byte]): Long = {
    val n = b.length
    if (n < 4 || u8(b, 0) != 0xff || u8(b, 1) != 0xd8) return -1L
    var pos = 2
    while (pos + 3 < n) {
      if (u8(b, pos) != 0xff) return -1L
      val m = u8(b, pos + 1)
      if (m == 0xc0 || m == 0xc1 || m == 0xc2) {
        // SOF: len(2) precision(1) height(2) width(2)
        if (pos + 8 >= n) return -1L
        val h = be16(b, pos + 5)
        val w = be16(b, pos + 7)
        return (w.toLong << 32) | h.toLong
      } else if (m == 0xd8 || m == 0x01 || (m >= 0xd0 && m <= 0xd7)) {
        pos += 2 // standalone markers carry no length field
      } else if (m == 0xd9) {
        return -1L // EOI before any SOF
      } else {
        pos += 2 + be16(b, pos + 2)
      }
    }
    -1L
  }
}

/** MP4/ISO-BMFF movie metadata (timescale, duration) by walking the
  * box tree — the NESTED variable-offset parse one step beyond
  * [[JpegDims]]' flat marker chain: the mvhd box sits inside moov,
  * which itself hides behind top-level ftyp/free/mdat boxes of
  * data-dependent size, so the parser must (a) hop top-level boxes by
  * their big-endian u32 size fields — including the size==1
  * 64-bit-largesize and size==0 to-end-of-file forms — to find moov,
  * then (b) repeat the walk over moov's CHILDREN to find mvhd, whose
  * timescale/duration offsets depend on its version byte (v0: u32
  * duration at payload+16; v1: 64-bit times push the u64 duration to
  * payload+24). Returns `(timescale << 32) | duration` packed in a
  * LONG, or -1 when the blob is not an MP4 (no leading ftyp), the box
  * tree is malformed, moov/mvhd is absent, timescale is zero, or the
  * duration exceeds u32 (packing would alias). O(#boxes) per row,
  * partition-local, codegen'd via doGenCode so it stays inside
  * WholeStageCodegen.
  */
case class Mp4Meta(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.types.BinaryType

  override def dataType: DataType = LongType
  override def checkInputDataTypes() =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"mp4_meta expects BINARY, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(Mp4Meta.meta(input.asInstanceOf[Array[Byte]]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Mp4Meta.meta($c)")

  override protected def withNewChildInternal(newChild: Expression): Mp4Meta =
    copy(child = newChild)
}

object Mp4Meta {
  private def u8(b: Array[Byte], i: Int): Long = (b(i) & 0xff).toLong
  private def be32(b: Array[Byte], i: Int): Long =
    (u8(b, i) << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
  private def be64(b: Array[Byte], i: Int): Long =
    (be32(b, i) << 32) | be32(b, i + 4)
  private def fourcc(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
      ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
  private def cc(s: String): Int = {
    val c = s.getBytes("US-ASCII")
    ((c(0) & 0xff) << 24) | ((c(1) & 0xff) << 16) | ((c(2) & 0xff) << 8) | (c(3) & 0xff)
  }
  private val Ftyp = cc("ftyp")
  private val Moov = cc("moov")
  private val Mvhd = cc("mvhd")

  /** Walk boxes in b[from, to); return payload range of the first box
    * of `target` type packed as (start << 32) | end, or -1. Handles
    * compact u32 sizes, the size==1 u64 largesize form, and the
    * size==0 extends-to-`to` form. */
  private def findBox(b: Array[Byte], from: Long, to: Long, target: Int): Long = {
    var pos = from
    while (pos + 8 <= to) {
      val sz32 = be32(b, pos.toInt)
      var hdr = 8L
      var size = sz32
      if (sz32 == 1L) {
        if (pos + 16 > to) return -1L
        size = be64(b, pos.toInt + 8)
        hdr = 16L
      } else if (sz32 == 0L) {
        size = to - pos
      }
      if (size < hdr || pos + size > to) return -1L
      if (fourcc(b, pos.toInt + 4) == target)
        return ((pos + hdr) << 32) | (pos + size)
      pos += size
    }
    -1L
  }

  /** (timescale << 32) | duration, or -1 (see [[Mp4Meta]] doc). */
  def meta(b: Array[Byte]): Long = {
    val n = b.length.toLong
    // an MP4 leads with an ftyp box
    if (n < 12 || fourcc(b, 4) != Ftyp) return -1L
    val moov = findBox(b, 0L, n, Moov)
    if (moov < 0) return -1L
    val mvhd = findBox(b, moov >>> 32, moov & 0xffffffffL, Mvhd)
    if (mvhd < 0) return -1L
    val p = (mvhd >>> 32).toInt
    val end = (mvhd & 0xffffffffL).toInt
    if (end - p < 20) return -1L
    val version = (b(p) & 0xff)
    val (ts, dur) =
      if (version == 0) (be32(b, p + 12), be32(b, p + 16))
      else if (version == 1 && end - p >= 32) (be32(b, p + 20), be64(b, p + 24))
      else return -1L
    if (ts == 0L || dur < 0L || dur > 0xffffffffL) return -1L
    (ts << 32) | dur
  }
}

/** Column-level entry points for graft's custom expressions. */
/** Fixed-order dot product of two ARRAY<DOUBLE> columns — the
  * similarity hot loop as a native codegen'd expression. The
  * equivalent higher-order-function form
  * `aggregate(zip_with(a, b, *), 0.0, +)` is evaluated INTERPRETED
  * (Spark's HOFs have no doGenCode): every row pays lambda-variable
  * boxing and breaks the surrounding WholeStageCodegen span, which is
  * exactly where ANN re-rank scoring spends its time. Summation is the
  * same i-ascending left fold as the HOF form and the mapPartitions
  * twins, so cosines are bit-identical everywhere. Array elements must
  * be non-null (embedding vectors are); arrays of unequal length fold
  * over the shorter prefix. */
case class DotProduct(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.types.{ArrayType, DoubleType}

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes() = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"dot_product expects two ARRAY<DOUBLE>, got " +
          s"${left.dataType} and ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Double.valueOf(DotProduct.dot(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.DotProduct.dot($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** i-ascending left-fold Σ a(i)·b(i) over the common prefix. */
  def dot(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }
}


/** Word n-grams of a text: the words of `split(text, ' ')` (the same
  * `UTF8String.split` call, so empty words from doubled, leading or
  * trailing spaces are kept), every window of `n` consecutive words
  * joined by one space, in order; with `distinct`, each gram once, at
  * its first occurrence. A text of fewer than `n` words is one gram,
  * its whole word list; NULL and '' both give `[""]`. Equal, on every
  * input, to the higher-order-function form
  * `transform(sequence(1, greatest(size(ws) - n + 1, 1)),
  * i -> concat_ws(' ', slice(ws, i, n)))` (under `array_distinct` for
  * `distinct`), which Spark evaluates interpreted (`transform` has no
  * doGenCode) and which therefore splits the surrounding
  * WholeStageCodegen stage. This one compiles via doGenCode into the
  * stage. */
case class WordNgrams(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, FalseLiteral}
  import org.apache.spark.sql.catalyst.expressions.codegen.Block._
  import org.apache.spark.sql.types.ArrayType

  require(n >= 1, s"word_ngrams needs n >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "word_ngrams"
  override def checkInputDataTypes() =
    if (child.dataType.isInstanceOf[StringType])
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"word_ngrams expects STRING, got ${child.dataType}")

  override def eval(input: InternalRow): Any =
    WordNgrams.grams(child.eval(input).asInstanceOf[UTF8String], n, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = graft.functions.WordNgrams.grams(
        ${c.isNull} ? null : ${c.value}, $n, $distinct);""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): WordNgrams =
    copy(child = newChild)
}

object WordNgrams {
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.unsafe.Platform

  private val Space = UTF8String.fromString(" ")

  /** The grams of `text`; NULL reads as '', whose one gram is "". */
  def grams(text: UTF8String, n: Int, distinct: Boolean): ArrayData = {
    val ws = if (text == null) Array(UTF8String.EMPTY_UTF8) else text.split(Space, -1)
    val m = ws.length
    val count = math.max(m - n + 1, 1)
    val out = new Array[Any](count)
    val seen = if (distinct) new java.util.HashSet[UTF8String](count * 2) else null
    var kept = 0
    var i = 0
    while (i < count) {
      val end = math.min(i + n, m)
      var len = end - i - 1 // separators
      var j = i
      while (j < end) { len += ws(j).numBytes; j += 1 }
      val bytes = new Array[Byte](len)
      var pos = Platform.BYTE_ARRAY_OFFSET
      j = i
      while (j < end) {
        if (j > i) { Platform.putByte(bytes, pos, ' '.toByte); pos += 1 }
        ws(j).writeToMemory(bytes, pos)
        pos += ws(j).numBytes
        j += 1
      }
      val g = UTF8String.fromBytes(bytes)
      if (seen == null || seen.add(g)) { out(kept) = g; kept += 1 }
      i += 1
    }
    new GenericArrayData(if (kept == count) out else out.take(kept))
  }
}

object functions {
  private def toCol(e: Expression): Column = GraftShim.column(e)
  private def expr(c: Column): Expression = GraftShim.expression(c)

  /** Codegen'd fixed-fold dot product over two ARRAY<DOUBLE>s. */
  def dot_product(a: Column, b: Column): Column =
    toCol(DotProduct(expr(a), expr(b)))

  /** Winnowing-style min rolling-hash fingerprint over char k-grams. */
  def rolling_min_hash(c: Column, k: Int): Column =
    toCol(RollingMinHash(expr(c), k))

  /** JPEG (width << 32 | height) via the marker-chain walk; -1 when
    * the blob is not a JPEG or carries no SOF segment. */
  def jpeg_dims(c: Column): Column =
    toCol(JpegDims(expr(c)))

  /** MP4 (timescale << 32 | duration) via the nested box-tree walk;
    * -1 when the blob is not an MP4 or carries no moov/mvhd. */
  def mp4_meta(c: Column): Column =
    toCol(Mp4Meta(expr(c)))

  /** Codegen'd word n-grams of a STRING column (see [[WordNgrams]]);
    * `distinct` keeps each gram's first occurrence only. */
  def word_ngrams(text: Column, n: Int, distinct: Boolean = false): Column =
    toCol(WordNgrams(expr(text), n, distinct))
}
